"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts Spark and runs a traced sf0.001 pass (about a
minute); the others are pure Python and DuckDB.
"""

from __future__ import annotations

import contextlib
import filecmp
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from layers import parse_metric, self_times  # noqa: E402
from oracle import Oracle, TemplateDrift, discovery_sql, result_key, scan_signals_sql, tables_read  # noqa: E402

SF = 0.001


# ----------------------------------------------------------- generator


def _tables(tmp_path, name, seed):
    d = tmp_path / name
    gen.write_tables(str(d), seed, SF)
    gen.split_events(str(d), str(d / "splits"), seed, 2, 2)
    return d


def _same_tree(a, b) -> bool:
    files = sorted(os.path.relpath(os.path.join(r, f), a) for r, _, fs in os.walk(a) for f in fs)
    other = sorted(os.path.relpath(os.path.join(r, f), b) for r, _, fs in os.walk(b) for f in fs)
    return files == other and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _same_tree(_tables(tmp_path, "a", 7), _tables(tmp_path, "b", 7))


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _tables(tmp_path, "a", 7), _tables(tmp_path, "b", 8)
    for t in ("documents", "embeddings", "events", "lineitem"):
        assert not filecmp.cmp(a / f"{t}.parquet", b / f"{t}.parquet", shallow=False)


def test_request_streams_follow_the_seed():
    assert gen.audience_requests(3, 4) == gen.audience_requests(3, 4)
    assert gen.audience_requests(3, 4) != gen.audience_requests(4, 4)
    # every round holds the whole mix, whatever the seed
    n = len(gen.AUDIENCE_MIX)
    reqs = gen.audience_requests(5, 3)
    for i in range(3):
        rnd = reqs[i * n : (i + 1) * n]
        kinds = sorted("registry" if r["kind"] in gen.REGISTRY_REQUESTS else r["kind"] for r in rnd)
        assert kinds == sorted(gen.AUDIENCE_MIX)
        scans = [r for r in rnd if r["kind"] == "scan_signals"]
        assert len({r["time_filter"] for r in scans}) == len(scans)
    assert {r["kind"] for r in reqs} >= set(gen.REGISTRY_REQUESTS)


def test_documents_keep_unique_keys_and_fixture_layout(tmp_path):
    import pyarrow.parquet as pq

    d = _tables(tmp_path, "a", 1)
    docs = pq.read_table(d / "documents.parquet").to_pydict()
    assert len(set(docs["doc_id"])) == len(docs["doc_id"])
    assert all(s == f"src{i % 20}" for i, s in zip(docs["doc_id"], docs["source"]))
    assert all(n == len(t) for n, t in zip(docs["n_chars"], docs["text"]))


# --------------------------------------------------------------- oracle


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = tmp_path_factory.mktemp("oracle")
    gen.write_tables(str(d), 11, SF)
    o = Oracle(str(d), gen.ALL_TABLES)
    yield o
    o.close()


def test_mutated_result_row_is_flagged(oracle):
    sql = oracle.sql["quality_signals"]
    rows = oracle.query(sql)
    assert result_key(rows) == oracle.expected(sql)
    mutated = rows.copy()
    mutated.loc[mutated.index[0], "n_tokens"] += 1
    assert result_key(mutated) != oracle.expected(sql)
    dropped = rows.iloc[1:]
    assert result_key(dropped) != oracle.expected(sql)


def test_key_ignores_row_order_and_numeric_type(oracle):
    rows = oracle.query(oracle.sql["pack_documents"])
    shuffled = rows.sample(frac=1.0, random_state=0)
    shuffled["n_tokens"] = shuffled["n_tokens"].astype("float64")
    assert result_key(shuffled) == result_key(rows)


def test_templates_parametrize(oracle):
    month = oracle.sql["signal_scan_month"]
    # the registry's own parameters reproduce its oracle exactly
    same = scan_signals_sql(
        month, ["r/src1", "src2", "src3", "src4", "src5"], ["spark", "vector", "dup", "slow merge"], "month"
    )
    assert same == month
    day = scan_signals_sql(month, ["src3"], ["zebra"], "day")
    assert "IN ('src3')" in day and "(1, 'zebra')" in day and "- 86400)" in day
    assert "created_ts >=" not in scan_signals_sql(month, ["src3"], ["a"], "all")
    assert oracle.query(day).shape[0] == 0  # a word the corpus never contains
    disc = discovery_sql(oracle.sql["community_discovery"], ["window", "src4"])
    assert "(1, 'src4'), (2, 'window')" in disc
    assert oracle.query(disc).shape[0] > 0


def test_tables_read_skips_keywords(oracle):
    # a keyword phrase that spells a join names no table the op reads
    sql = scan_signals_sql(oracle.sql["signal_scan_month"], ["src1"], ["join customer", "from part"], "week")
    assert tables_read(sql) == ("documents",)
    assert tables_read("SELECT 'it''s' FROM orders o JOIN lineitem l ON 1 = 1") == ("lineitem", "orders")


def test_template_drift_fails_loudly(oracle):
    with pytest.raises(TemplateDrift):
        scan_signals_sql("SELECT 1", ["src1"], ["a"], "all")
    with pytest.raises(TemplateDrift):  # two keyword lists: which one is the parameter?
        discovery_sql(oracle.sql["community_discovery"] * 2, ["a"])
    with pytest.raises(TemplateDrift):  # the time window no longer in the template
        scan_signals_sql(oracle.sql["signal_scan"], ["src1"], ["a"], "week")


# ---------------------------------------------------------------- spans


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": 1}


def test_self_time_subtracts_children():
    spans = [
        _span(0, "bench.op", 0.0, 10.0),
        _span(1, "queries.build", 1.0, 3.0, 0),
        _span(2, "exec.action", 3.0, 8.0, 0),
        _span(3, "sources.readback", 4.0, 6.0, 2),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"bench": 3.0, "queries": 2.0, "exec": 3.0, "sources": 2.0})
    # self times add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children_and_clips():
    spans = [
        _span(0, "bench.op", 0.0, 10.0),
        _span(1, "exec.action", 2.0, 6.0, 0),
        _span(2, "exec.action", 5.0, 7.0, 0),
        _span(3, "exec.action", 9.0, 12.0, 0),  # runs past its parent
    ]
    assert self_times(spans)["bench"] == pytest.approx(10.0 - 5.0 - 1.0)


def test_parse_sql_metrics():
    assert parse_metric("1,234") == 1234
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)") == 2048
    assert parse_metric("total (min, med, max)\n1.5 s (0 ms, 1 ms, 2 ms)") == 1500


# ------------------------------------------------- per-layer record schema


def test_traced_run_reports_every_per_layer_metric(monkeypatch):
    """A traced sf0.001 run reports exactly BENCHMARK.json's per-layer
    names, all finite, and its ops are correct."""
    import run
    import workloads

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cwd = os.getcwd()
    monkeypatch.setattr(workloads.AudienceInteractive, "sf", SF)
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            code = run.main(["--workload", "audience_interactive", "--seed", "3", "--seconds", "1", "--trace", "1"])
    finally:
        os.chdir(cwd)
    assert code == 0
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = [m["name"] for m in spec["per_layer"]]
    assert sorted(result["metrics"]) == sorted(names)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert m["value"] == m["value"] and abs(m["value"]) != float("inf")
    assert result["metrics"]["exec.jobs"]["value"] > 0
    assert result["metrics"]["sources.write_jsonl_s"]["value"] == 0.0

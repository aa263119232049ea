"""Seeded input and request generator.

Everything a run consumes is a pure function of the workload seed:

- ``write_tables`` writes any of the ten fixture tables (one
  single-row-group parquet file each, the layout ``session.load_table``
  reads) with the
  schemas and value distributions of the repository's fixture data, at a
  chosen scale factor. Keys are unique; every 20th document is a planted
  near-duplicate (an earlier document plus the word ``dup``) and one in
  500 an exact copy, as in the fixtures.
- ``split_events`` cuts ``events`` into disjoint seeded samples of a few
  files each, one micro-batch per file, for the streaming ops.
- ``audience_requests`` builds the request stream of audience_interactive.

The same seed gives byte-identical files and equal request lists; the
tests in ``test_perfbench.py`` pin that.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
# words the corpus never contains: requests with them must return no rows
ABSENT_WORDS = ["zebra", "quasar", "marmot", "fjord"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
TIME_FILTERS = ["day", "week", "month", "year", "all"]

# fixture row counts at sf=1 (TESTDATA.md lists sf0.001 / sf0.01 / sf0.1)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
USERS_PER_SF = 15_000
EMBED_DIM = 64
_DAY_MS = 86_400_000


def _ts_ms(day_lo: int, day_hi: int, n: int, rng) -> pa.Array:
    """Midnight timestamps (ms) for days drawn from [day_lo, day_hi)."""
    days = rng.integers(day_lo, day_hi, n).astype("int64")
    return pa.array(days * _DAY_MS, type=pa.timestamp("ms"))


def _days(date: str) -> int:
    return int(np.datetime64(date, "D").astype("int64"))


def _documents(n: int, rng) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[at : at + k]]))
        at += k
    ids = np.arange(n)
    for i in ids[(ids % 20 == 11) & (ids > 0)]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in ids[(ids % 500 == 250)]:
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(n: int, rng) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype("float32")
    ids = np.arange(n)
    near = ids[(ids % 20 == 7) & (ids > 0)]
    src = (rng.random(len(near)) * near).astype("int64")
    vecs[near] = vecs[src] + 0.01 * rng.standard_normal((len(near), EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def _events(n: int, n_users: int, rng) -> pa.Table:
    span_us = 30 * _DAY_MS * 1000
    ts = np.sort(rng.integers(0, span_us, n)) + _days("2024-01-01") * _DAY_MS * 1000
    etypes = np.array(["view", "click", "signup", "purchase", "error"])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
            "event_type": pa.array(rng.choice(etypes, n)),
            "value": pa.array(np.round(rng.exponential(80.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _tpch(rows: dict[str, int], rng) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o, n_l = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"], rows["lineitem"]
    )
    t = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c), type=pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype("int32")),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
                "c_mktsegment": pa.array(
                    rng.choice(
                        np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]),
                        n_c,
                    )
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s), type=pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype("int32")),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_s), 2)),
            }
        ),
    }
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p), type=pa.int64()),
            "p_name": pa.array(
                np.char.add(np.char.add(rng.choice(adj, n_p), " "), rng.choice(noun, n_p))
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str))),
            "p_type": pa.array(
                rng.choice(np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]), n_p)
            ),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype("int32")),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), type=pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_o)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_o), 2)),
            "o_orderdate": _ts_ms(_days("1995-01-01"), _days("2001-08-02"), n_o, rng),
            "o_orderpriority": pa.array(
                rng.choice(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_o
                )
            ),
        }
    )
    qty = rng.integers(1, 51, n_l).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype("int32")),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_l)),
            "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_l)),
            "l_shipdate": _ts_ms(_days("1995-01-02"), _days("2001-11-05"), n_l, rng),
        }
    )
    return t


def table_rows(sf: float, emb_sf: float | None = None) -> dict[str, int]:
    """Row counts per table; ``emb_sf`` scales embeddings apart from the rest."""
    rows = {k: max(1, int(round(v * sf))) for k, v in ROWS_PER_SF.items()}
    rows["embeddings"] = max(1, int(round(ROWS_PER_SF["embeddings"] * (emb_sf or sf))))
    return rows


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")


def n_users(sf: float) -> int:
    return max(1, int(USERS_PER_SF * sf))


def write_tables(
    out_dir: str,
    seed: int,
    sf: float,
    emb_sf: float | None = None,
    tables: tuple[str, ...] = ALL_TABLES,
) -> dict[str, int]:
    """Write ``tables`` under ``out_dir``; returns rows per table written.
    Each of the four table groups (TPC-H, documents, embeddings, events)
    has its own child generator, so a table's content does not depend on
    which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(sf, emb_sf)
    seeds = np.random.SeedSequence(seed).spawn(4)
    out: dict[str, pa.Table] = {}
    if set(tables) & set(TPCH_TABLES):
        out.update(_tpch(rows, np.random.default_rng(seeds[0])))
    if "documents" in tables:
        out["documents"] = _documents(rows["documents"], np.random.default_rng(seeds[1]))
    if "embeddings" in tables:
        out["embeddings"] = _embeddings(rows["embeddings"], np.random.default_rng(seeds[2]))
    if "events" in tables:
        out["events"] = _events(rows["events"], n_users(sf), np.random.default_rng(seeds[3]))
    for name in tables:
        tbl = out[name]
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tbl) or 1)
    return {name: len(out[name]) for name in tables}


def split_events(
    sf_dir: str, out_root: str, seed: int, n_splits: int, files_per_split: int
) -> list[list[str]]:
    """Cut ``events`` into ``n_splits`` disjoint seeded samples, each as
    ``files_per_split`` parquet files (one micro-batch per file). Returns
    the file paths per split; split ``i`` lives in ``out_root/split{i}``."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    order = rng.permutation(len(events))
    chunks = np.array_split(order, n_splits * files_per_split)
    out = []
    for s in range(n_splits):
        d = os.path.join(out_root, f"split{s}")
        os.makedirs(d, exist_ok=True)
        paths = []
        for f in range(files_per_split):
            idx = np.sort(chunks[s * files_per_split + f])
            p = os.path.join(d, f"part-{f:03d}.parquet")
            pq.write_table(events.take(pa.array(idx)), p)
            paths.append(p)
        out.append(paths)
    return out


# ---------------------------------------------------------------- requests

# one round of audience_interactive: a seeded permutation of 4 signal
# scans, 1 community discovery and 1 repeat of a registry query (the three
# registry queries take turns, round by round). With the scans the bulk of
# the mix, the median op is a scan whatever the order
AUDIENCE_MIX = ("scan_signals",) * 4 + ("discover_communities", "registry")
REGISTRY_REQUESTS = ("signal_scan", "signal_scan_month", "community_discovery")

# curation_batch and ingest_export run their ops in this fixed order: a
# heavy op leaves cleanup and garbage for the next one, so a seeded order
# would make each op's time depend on the seed. The seed varies their data
CURATION_QUERIES = (
    "source_overlap",  # stateful: checkpointed shingle index built at plan time
    "semantic_dedup",  # FlatMapGroupsInPandas
    "pack_documents",  # MapInPandas
)


def _keywords(rng, n: int) -> list[str]:
    """``n`` distinct keywords: mostly corpus words, sometimes a two-word
    phrase or a word the corpus never contains (a zero-hit keyword)."""
    out: list[str] = []
    while len(out) < n:
        r = rng.random()
        if r < 0.15:
            kw = str(rng.choice(ABSENT_WORDS))
        elif r < 0.35:
            a, b = rng.choice(VOCAB, 2, replace=False)
            kw = f"{a} {b}"
        else:
            kw = str(rng.choice(VOCAB))
        if kw not in out:
            out.append(kw)
    return out


def audience_requests(seed: int, rounds: int) -> list[dict]:
    """``rounds`` rounds of ``AUDIENCE_MIX``; each request is a dict with
    ``kind`` and, for the parametrized kinds, its arguments. Request sizes
    are fixed (3 subreddits, 3 keywords, 3 discovery queries) and the
    scans of a round use 4 different time filters, so rounds cost alike
    whatever the seed; the seed picks which ones."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    registry = list(rng.permutation(REGISTRY_REQUESTS))
    reqs = []
    for r in range(rounds):
        filters = iter(rng.choice(TIME_FILTERS, AUDIENCE_MIX.count("scan_signals"), replace=False))
        for kind in rng.permutation(AUDIENCE_MIX):
            kind = str(kind)
            req: dict = {"kind": kind}
            if kind == "registry":
                req["kind"] = str(registry[r % len(registry)])
            elif kind == "scan_signals":
                subs = sorted(f"src{i}" for i in rng.choice(N_SOURCES, 3, replace=False))
                # the reference's input list may carry 'r/' prefixes
                req["subreddits"] = [f"r/{s}" if rng.random() < 0.3 else s for s in subs]
                req["keywords"] = _keywords(rng, 3)
                req["time_filter"] = str(next(filters))
            else:
                qs = _keywords(rng, 3)
                if rng.random() < 0.5:  # a community name hits the direct-search leg
                    qs[-1] = f"src{int(rng.integers(0, N_SOURCES))}"
                req["queries"] = sorted(set(qs))
            reqs.append(req)
    return reqs


# ingest_export's writers, each followed by a streaming drain
SINK_OPS = (
    "write_parquet_partitioned",
    "write_jsonl",
    "write_training_shards",
    "compact_parquet",
    "write_zordered",
)

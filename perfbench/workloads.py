"""The three workloads: what one op runs, how it is checked, and what it
leaves behind.

Every op is a call sequence into the package's public API; each call goes
through ``Context.call`` so the traced run can put a span and a pair of
Spark counter marks around it. ``run`` is the timed part of an op and
returns an ``OpResult``. Outside the timed region ``finish`` sizes what
the op wrote, ``check`` compares its output with the DuckDB oracle, and
``cleanup`` deletes whatever the op wrote.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
from dataclasses import dataclass, field

import gen
from oracle import discovery_sql, result_key, scan_signals_sql


@dataclass
class OpResult:
    kind: str
    pdf: object = None  # the rows the op returned (pandas), when it returns rows
    expected_sql: str | None = None
    rows_in: int = 0
    bytes_in: int = 0
    bytes_written: int = 0  # everything the op wrote, checkpoints included
    bytes_stored: int = 0  # data files left on disk by the op
    files_written: int = 0  # data files a sink wrote
    batches: int = 0  # micro-batches a stream drained
    out_dirs: list = field(default_factory=list)
    meta: dict = field(default_factory=dict)  # what check() needs beyond pdf


def dir_stats(path: str, data_only: bool = False) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``data_only`` skips Spark's
    ``_SUCCESS`` markers and ``.crc`` checksums."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if data_only and (f.startswith(("_", ".")) or f.endswith(".crc")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    name = ""
    tables: tuple[str, ...] = ()  # generated, and resolved at set-up
    round_s = 5.0  # nominal seconds per round: a run times seconds / round_s rounds
    sf = 0.1
    emb_sf: float | None = None  # embeddings scale, when not sf

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        """Extra inputs beyond the ten tables (untimed)."""

    def warmup(self) -> list:
        """One op of every kind, run before timing."""
        raise NotImplementedError

    def rounds(self):
        """Yields lists of ops; each list is one round holding the whole mix."""
        raise NotImplementedError

    def expected_sqls(self, rounds: list) -> list[str]:
        """Oracle SQL the ops of ``rounds`` are checked against."""
        raise NotImplementedError

    def run(self, op) -> OpResult:
        raise NotImplementedError

    def finish(self, res: OpResult) -> None:
        """Untimed bookkeeping after an op: sizes of what it wrote."""

    def check(self, res: OpResult) -> bool:
        got, want = result_key(res.pdf), self.ctx.oracle.expected(res.expected_sql)
        if got != want:
            print(f"mismatch in {res.kind}: got {got} want {want}", file=sys.stderr)
        return got == want

    def cleanup(self, res: OpResult | None) -> None:
        for d in res.out_dirs if res else ():
            shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------- audience_interactive


class AudienceInteractive(Workload):
    """The paper's two queries as an analyst issues them: seeded
    ``scan_signals`` / ``discover_communities`` requests plus repeats of
    the registry's memoized ``signal_scan``, ``signal_scan_month`` and
    ``community_discovery``."""

    name = "audience_interactive"
    tables = ("documents",)

    def warmup(self):
        seen, out = set(), []
        # its own seed: the timed requests are not repeats of the warm-up
        for req in gen.audience_requests(self.ctx.seed + 1_000_003, len(gen.REGISTRY_REQUESTS)):
            if req["kind"] not in seen:
                seen.add(req["kind"])
                out.append(req)
        return out

    def rounds(self):
        # round i of the seeded stream whose first n rounds audience_requests(seed, n) gives
        size = len(gen.AUDIENCE_MIX)
        for i in itertools.count():
            yield gen.audience_requests(self.ctx.seed, i + 1)[i * size:]

    def expected_sqls(self, rounds):
        return [self.expected_sql(req) for rnd in rounds for req in rnd]

    def expected_sql(self, req) -> str:
        sql, kind = self.ctx.oracle.sql, req["kind"]
        if kind == "scan_signals":
            return scan_signals_sql(
                sql["signal_scan_month"], req["subreddits"], req["keywords"], req["time_filter"]
            )
        if kind == "discover_communities":
            return discovery_sql(sql["community_discovery"], req["queries"])
        return sql[kind]

    def run(self, req) -> OpResult:
        from audience_finder_pro_spark.plans.audience import discover_communities, scan_signals
        from audience_finder_pro_spark.queries import QUERIES

        ctx, kind = self.ctx, req["kind"]
        if kind == "scan_signals":
            df = ctx.call(
                "queries.build", scan_signals, ctx.spark, ctx.sf_dir,
                req["subreddits"], req["keywords"], time_filter=req["time_filter"],
            )
        elif kind == "discover_communities":
            df = ctx.call("queries.build", discover_communities, ctx.spark, ctx.sf_dir, req["queries"])
        else:
            df = ctx.call("queries.build", QUERIES[kind], ctx.spark, ctx.sf_dir)
            ctx.note_memo(kind, df)
        pdf = ctx.call("exec.action", df.toPandas)
        return ctx.result(kind, pdf, self.expected_sql(req))


# ------------------------------------------------------------ curation_batch


class CurationBatch(Workload):
    """Oracle-backed curation queries, each built fresh
    (the registry's memo is bypassed: a batch run builds its plans once),
    with every stateful plan's checkpoints freed after its action."""

    name = "curation_batch"
    tables = ("documents", "embeddings")
    emb_sf = 0.05

    def warmup(self):
        return list(gen.CURATION_QUERIES)

    def rounds(self):
        return itertools.repeat(list(gen.CURATION_QUERIES))

    def expected_sqls(self, rounds):
        return [self.ctx.oracle.sql[q] for rnd in rounds for q in rnd]

    def run(self, name) -> OpResult:
        from audience_finder_pro_spark.caching import free_checkpoint
        from audience_finder_pro_spark.queries import QUERIES

        ctx = self.ctx
        fn = QUERIES[name]
        fn = getattr(fn, "__wrapped__", fn)  # memoized plans: build fresh
        df = ctx.call("queries.build", fn, ctx.spark, ctx.sf_dir)
        pdf = ctx.call("exec.action", df.toPandas)
        ctx.call("caching.free_checkpoint", free_checkpoint, df)
        return ctx.result(name, pdf, ctx.oracle.sql[name])


# ------------------------------------------------------------- ingest_export

# sink op -> (table it exports, readback filter); the filter is valid in
# both Spark SQL and DuckDB and prunes partitions / z-ordered files
SINKS = {
    "write_parquet_partitioned": ("events", "event_type = 'click'"),
    "write_jsonl": ("documents", "doc_id < 500"),
    "write_training_shards": ("documents", "shard = 0"),
    "compact_parquet": ("orders", "o_orderstatus = 'F'"),
    "write_zordered": ("events", "user_id < {q_users} AND value < 150.0"),
}
STREAM_SPLITS = 4
FILES_PER_SPLIT = 2


class IngestExport(Workload):
    """Each sink op exports a table through one ``sources`` writer and
    reads it back with a pruning filter; after each sink op, a streaming
    op drains a seeded split of ``events`` as per-file micro-batches
    through ``run_stream_incremental_rollup`` and reads
    ``latest_rollup_state``."""

    name = "ingest_export"
    tables = ("documents", "events", "orders")
    round_s = 10.0

    def prepare(self):
        import pyarrow.parquet as pq

        ctx = self.ctx
        self.splits = []
        for paths in gen.split_events(
            ctx.sf_dir, os.path.join(ctx.tmp, "event_splits"), ctx.seed, STREAM_SPLITS, FILES_PER_SPLIT
        ):
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
            self.splits.append((os.path.dirname(paths[0]), rows, sum(map(os.path.getsize, paths))))
        self._n = 0

    def warmup(self):
        return [(op, 0) for op in gen.SINK_OPS] + [("stream_rollup", 0)]

    def rounds(self):
        n = len(gen.SINK_OPS)
        for i in itertools.count():
            yield [
                op
                for j, sink in enumerate(gen.SINK_OPS)
                for op in ((sink, 0), ("stream_rollup", (i * n + j) % STREAM_SPLITS))
            ]

    def expected_sqls(self, rounds):
        return [self._rollup_sql(src) for src, _rows, _size in self.splits]

    @staticmethod
    def _rollup_sql(src: str) -> str:
        return (
            "SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS sum_value, "
            "min(CAST(value AS DECIMAL(18,4))) AS min_value, max(CAST(value AS DECIMAL(18,4))) AS max_value "
            f"FROM read_parquet('{src}/*.parquet') GROUP BY event_type"
        )

    def _out(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.ctx.tmp, "out", f"{self._n:05d}-{tag}")

    def run(self, op) -> OpResult:
        kind, split = op
        return self._stream(split) if kind == "stream_rollup" else self._sink(kind)

    def _sink(self, kind: str) -> OpResult:
        from audience_finder_pro_spark.caching import free_checkpoint
        from audience_finder_pro_spark.session import load_table
        from audience_finder_pro_spark.sources import sinks, warehouse

        ctx = self.ctx
        table, pred = SINKS[kind]
        pred = pred.format(q_users=ctx.n_users // 4)
        df = load_table(ctx.spark, ctx.sf_dir, table)
        out = self._out(kind)
        res = ctx.result(kind, None, f"SELECT * FROM {table}")
        res.out_dirs.append(out)
        res.meta = {"table": table, "columns": df.columns, "out": out, "pred": pred, "json": False}
        if kind == "write_parquet_partitioned":
            ctx.call("sources." + kind, sinks.write_parquet_partitioned, df, out, ["event_type"])
        elif kind == "write_jsonl":
            ctx.call("sources." + kind, sinks.write_jsonl, df, out, max_records_per_file=1000)
            res.meta["json"] = True
        elif kind == "write_training_shards":
            # documents carry a character count: the shard budget here
            manifest = ctx.call(
                "sources." + kind, sinks.write_training_shards, df, out,
                shard_tokens=200_000, token_col="n_chars",
            )
            # the manifest is kept beside the export; then its packing
            # checkpoint is freed
            res.meta["manifest"] = ctx.call("exec.action", manifest.toPandas)
            ctx.call("caching.free_checkpoint", free_checkpoint, manifest)
            res.meta["json"] = True
        elif kind == "compact_parquet":
            small = out + "-small"
            res.out_dirs.append(small)
            ctx.call(
                "sources.write_parquet_partitioned", sinks.write_parquet_partitioned,
                df, small, ["o_orderstatus"], max_records_per_file=5000,
            )
            ctx.call("sources." + kind, sinks.compact_parquet, ctx.spark, small, out, target_mb=2)
        else:  # write_zordered
            ctx.call(
                "sources." + kind, warehouse.write_zordered, df, out, ["user_id", "value"],
                {"user_id": (0, ctx.n_users), "value": (0.0, 600.0)}, n_files=8,
            )
        reader = ctx.spark.read.json if res.meta["json"] else ctx.spark.read.parquet
        res.meta["back"] = ctx.call("sources.readback", lambda: reader(out).filter(pred).toPandas())
        return res

    def _stream(self, split: int) -> OpResult:
        from audience_finder_pro_spark.streaming.jobs import (
            EVENTS_SCHEMA,
            latest_rollup_state,
            run_stream_incremental_rollup,
        )

        ctx = self.ctx
        src, rows, size = self.splits[split]
        state, ck = self._out("rollup-state"), self._out("rollup-ck")
        stream = ctx.spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        q = ctx.call(
            "streaming.drain", run_stream_incremental_rollup, stream, ["event_type"], "value", state, ck
        )
        pdf = ctx.call("streaming.read_state", lambda: latest_rollup_state(ctx.spark, state).toPandas())
        res = OpResult(
            "stream_rollup", pdf, self._rollup_sql(src), rows_in=rows, bytes_in=size, out_dirs=[state, ck]
        )
        res.meta = {"query": q, "state": state}
        return res

    def finish(self, res: OpResult) -> None:
        meta = res.meta
        res.bytes_written = sum(dir_stats(d)[1] for d in res.out_dirs)
        if res.kind == "stream_rollup":  # state files are not sink output
            res.bytes_stored = res.bytes_written
            res.batches = len(meta["query"].recentProgress)
        else:
            res.files_written, res.bytes_stored = dir_stats(meta["out"], data_only=True)

    def check(self, res: OpResult) -> bool:
        if res.kind == "stream_rollup":
            return super().check(res)
        oracle, meta = self.ctx.oracle, res.meta
        files = self._files_sql(meta["out"], meta["json"], res.kind)
        cols = ", ".join(f'"{c}"' for c in meta["columns"])
        back = meta["back"]
        back_cols = ", ".join(f'"{c}"' for c in back.columns)
        oracle.con.register("readback", back)
        try:
            # DuckDB's read of the written files equals the exported table,
            # and Spark's filtered read-back equals DuckDB's filtered read
            ok = {
                "files": oracle.same_rows(f"SELECT {cols} FROM {files}", f"SELECT {cols} FROM {meta['table']}"),
                "readback": oracle.same_rows(
                    f"SELECT {back_cols} FROM readback",
                    f"SELECT {back_cols} FROM {files} WHERE {meta['pred']}",
                ),
            }
        finally:
            oracle.con.unregister("readback")
        if res.kind == "write_training_shards":
            manifest = result_key(meta["manifest"])
            ok["manifest"] = manifest == result_key(oracle.query(
                "SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_tokens "
                f"FROM {files} GROUP BY shard"
            ))
        for what, good in ok.items():
            if not good:
                print(f"mismatch in {res.kind}: {what}", file=sys.stderr)
        return all(ok.values())

    @staticmethod
    def _files_sql(out: str, json: bool, kind: str) -> str:
        if json:
            return (
                f"read_json_auto('{out}/**/part-*.json.gz', hive_partitioning = true, "
                "format = 'newline_delimited')"
            )
        hive = "true" if kind == "write_parquet_partitioned" else "false"
        return f"read_parquet('{out}/**/*.parquet', hive_partitioning = {hive})"


WORKLOADS = {w.name: w for w in (AudienceInteractive, CurationBatch, IngestExport)}

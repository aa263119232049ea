#!/usr/bin/env python3
"""Layered benchmark of audience_finder_pro_spark.

    python3 perfbench/run.py --workload audience_interactive --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: the next op starts when the
previous one has returned. The run generates its inputs from ``--seed``
under a temporary directory inside the checkout, starts Spark through
``session.get_spark`` with host-sized settings, resolves the tables, runs
one warm-up op of every kind, then times ``--seconds / round_s`` rounds
(at least one) of the workload's op mix, ``round_s`` being the length of
one round on the reference host. Every op's output is checked
against DuckDB outside the timed region; a wrong result counts as a
failed op.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs every
timed op twice, untraced and then traced (or the other way round, in
turns), with spans and Spark status-store counters around every call into
a layer, and reports the per-layer metrics and the tracing overhead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "audience_finder_pro_spark"
MAX_WALL_S = 150  # stop starting rounds past this, to exit within 180 s
SPANS_DIR = os.path.join(HERE, "runs")  # traced runs leave their span logs here


# ----------------------------------------------------------------- launch


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def launch_env(tmp: str) -> dict[str, str]:
    """Environment the program runs with: every core this process may use,
    a driver heap of a quarter of RAM (1-4 GiB), spill and shuffle files
    under the run's temporary root, and the package on the Python
    workers' path (Arrow UDFs import it there)."""
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gib = max(1, min(4, mem_kib // (4 << 20)))
    old = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
    }


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (JVM, Python daemon and workers)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants, sampled
    every ``interval`` seconds; the process tree (a walk over all of
    ``/proc``) is refreshed every ``tree_every`` samples."""

    def __init__(self, interval: float = 0.1, tree_every: int = 10):
        super().__init__(daemon=True)
        self.interval, self.tree_every = interval, tree_every
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me, tree, n = os.getpid(), [], 0
        while not self._stop_evt.is_set():
            if n % self.tree_every == 0:
                tree = [me, *descendants(me)]
            n += 1
            self.peak_kib = max(self.peak_kib, sum(rss_kib(p) for p in tree))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# ----------------------------------------------------------------- context


class Context:
    """What ops share: the session, inputs, oracle, spans and counters.
    ``call`` is the single seam between the benchmark and the package."""

    def __init__(self, sf_dir, tmp, seed, rows, spans):
        self.spark = None
        self.sf_dir, self.tmp, self.seed = sf_dir, tmp, seed
        self.rows = rows
        self.file_bytes = {t: os.path.getsize(f"{sf_dir}/{t}.parquet") for t in rows}
        self.n_users = 0
        self.spans = spans
        self.counters = None  # layers.SparkCounters while tracing
        self.oracle = None
        # (name, seconds, mark before, mark after, rows returned) per call of the current op
        self.calls: list = []
        self.memo_calls = 0
        self.memo_hits = 0
        self._last_frame: dict = {}

    def call(self, name: str, fn, *args, **kwargs):
        counters = self.counters if self.spans.enabled else None
        with self.spans.span(name):
            m0 = counters.mark() if counters else None
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            m1 = counters.mark() if counters else None
        rows = len(out) if isinstance(out, pd.DataFrame) else None  # rows a read handed back
        self.calls.append((name, dt, m0, m1, rows))
        return out

    def note_memo(self, name: str, df) -> None:
        """A memoized registry call is a hit when it hands back the very
        DataFrame the previous call for that query returned (held here, so
        its id cannot be reused)."""
        self.memo_calls += 1
        self.memo_hits += self._last_frame.get(name) is df
        self._last_frame[name] = df

    def result(self, kind: str, pdf, sql: str):
        from oracle import tables_read
        from workloads import OpResult

        tables = tables_read(sql)
        return OpResult(
            kind, pdf, sql,
            rows_in=sum(self.rows[t] for t in tables),
            bytes_in=sum(self.file_bytes[t] for t in tables),
        )


# ------------------------------------------------------------- op records


class Recorder:
    """Per-op measurements of one pass, and their end-to-end summary."""

    def __init__(self, ctx, traced: bool, check: bool = True):
        self.ctx, self.traced, self.check = ctx, traced, check
        self.lat: list[float] = []
        self.attempted = self.failed = self.wrong = 0
        self.wall = 0.0
        self.bench_s = 0.0  # untimed checking and cleanup
        self.rows_in = self.bytes_in = self.bytes_written = self.bytes_stored = 0
        self.layer: dict[str, float] = defaultdict(float)
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.memo_calls = self.memo_hits = 0

    def op(self, wl, op) -> None:
        ctx = self.ctx
        self.attempted += 1
        ctx.calls = []
        ctx.spans.enabled = self.traced
        ctx.spans.op = self.attempted if self.traced else None
        if self.traced:
            ctx.counters.skip_executions()
        res = None
        memo0 = ctx.memo_calls, ctx.memo_hits
        t0 = time.perf_counter()
        try:
            with ctx.spans.span("bench.op"):
                res = wl.run(op)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        self.memo_calls += ctx.memo_calls - memo0[0]
        self.memo_hits += ctx.memo_hits - memo0[1]
        self.wall += dt
        print(f"op {self.attempted} {dt:.3f}s {op}", file=sys.stderr)
        try:
            if res is None:
                self.failed += 1
                return
            self.lat.append(dt)
            if self.traced:
                self._layers(dt)
            try:
                wl.finish(res)
                ok = wl.check(res) if self.check else True
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                self.wrong += 1
                print(f"wrong result: {res.kind} {op}", file=sys.stderr)
            self.rows_in += res.rows_in
            self.bytes_in += res.bytes_in
            self.bytes_written += res.bytes_written
            self.bytes_stored += res.bytes_stored
            if self.traced:
                self.layer["sources.files_written"] += res.files_written
                self.layer["sources.bytes_stored"] += res.bytes_stored if res.files_written else 0
                self.layer["streaming.batches"] += res.batches
        finally:
            wl.cleanup(res)
            if self.traced:
                self.layer["caching.storage_bytes_after_op"] += ctx.counters.storage_bytes()
            gc.collect()  # the driver's garbage from this op is not the next op's
            self.bench_s += time.perf_counter() - t0 - dt

    def _layers(self, op_wall: float) -> None:
        """Status-store deltas for each call of the op just run."""
        ctx, L = self.ctx, self.layer
        busy_ms = 0.0
        for name, dt, m0, m1, rows in ctx.calls:
            self.calls[name].append(dt)
            st = ctx.counters.stage_totals(m0, m1)
            busy_ms += st["executorRunTime"]
            if rows is not None:  # a read: rows scanned per row returned
                L["exec.read_input_records"] += st["inputRecords"]
                L["exec.read_rows_out"] += rows
            if name == "queries.build":
                L["queries.build_s"] += dt
                L["queries.build_jobs"] += st["jobs"]
                continue
            if name == "exec.action":
                L["exec.action_s"] += dt
            L["exec.jobs"] += st["jobs"]
            L["exec.stages"] += st["stages"]
            L["exec.tasks"] += st["numTasks"]
            L["exec.failed_tasks"] += st["numFailedTasks"]
            L["exec.task_cpu_ms"] += st["executorCpuTime"] / 1e6
            L["exec.gc_ms"] += st["jvmGcTime"]
            L["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            L["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
            L["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        L["exec.busy_ms"] += busy_ms
        L["exec.op_wall_ms"] += op_wall * 1000
        py = ctx.counters.python_totals()
        L["functions.python_rows"] += py["python_rows"]
        L["functions.python_bytes"] += py["python_bytes"]

    def e2e(self, setup_s: float, peak_kib: int) -> dict[str, float]:
        wall = max(self.wall, 1e-9)
        lat = sorted(self.lat) or [float("nan")]
        return {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "op_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0],
            "ops_per_s": len(self.lat) / wall,
            "rows_in_per_s": self.rows_in / wall,
            "written_mb_per_s": self.bytes_written / 1e6 / wall,
            "stored_bytes_per_input_byte": self.bytes_stored / max(self.bytes_in, 1),
            "error_rate": (self.failed + self.wrong) / max(self.attempted, 1),
            "peak_rss_mb": peak_kib / 1024,
        }


E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "rows_in_per_s": "rows/s",
    "written_mb_per_s": "MB/s",
    "stored_bytes_per_input_byte": "ratio",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer(rec: Recorder, untraced: Recorder, spans, setup_calls: dict, cores: int, e2e: dict) -> dict:
    """The traced pass's per-layer metrics, per op unless a ratio, plus
    the timed pass's end-to-end figures that are not graded."""
    from layers import self_times

    n = max(len(rec.lat), 1)
    L = rec.layer
    out = {
        "session.get_spark_s": setup_calls["session.get_spark"],
        "session.catalog_s": setup_calls["session.catalog"],
        "queries.plan_memo_hit_ratio": rec.memo_hits / max(rec.memo_calls, 1),
        "exec.core_busy_ratio": L["exec.busy_ms"] / max(L["exec.op_wall_ms"] * cores, 1e-9),
        "exec.scan_rows_per_output_row": L["exec.read_input_records"] / max(L["exec.read_rows_out"], 1),
        "sources.mean_file_mb": L["sources.bytes_stored"] / 1e6 / max(L["sources.files_written"], 1),
    }
    for k in (
        "queries.build_s", "queries.build_jobs", "exec.action_s", "exec.jobs", "exec.stages",
        "exec.tasks", "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.failed_tasks",
        "functions.python_rows", "functions.python_bytes", "caching.storage_bytes_after_op",
        "sources.files_written", "streaming.batches",
    ):
        out[k] = L[k] / n
    # mean seconds per call of each writer / reader (0 when never called)
    for name in (
        "caching.free_checkpoint", "sources.write_parquet_partitioned", "sources.write_jsonl",
        "sources.write_training_shards", "sources.compact_parquet", "sources.write_zordered",
        "sources.readback", "streaming.drain",
    ):
        times = rec.calls.get(name, [])
        out[name + "_s"] = statistics.fmean(times) if times else 0.0
    drains = rec.calls.get("streaming.drain", [])
    out["streaming.s_per_batch"] = sum(drains) / max(L["streaming.batches"], 1)
    # span self time per layer, per op
    op_spans = [r for r in spans.records if r["op"] is not None]
    selfs = self_times(op_spans)
    for layer in ("bench", "queries", "exec", "caching", "sources", "streaming"):
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n
    out["trace.untraced_ops_per_s"] = len(untraced.lat) / max(untraced.wall, 1e-9)
    out["trace.traced_ops_per_s"] = len(rec.lat) / max(rec.wall, 1e-9)
    out["trace.overhead_ratio"] = out["trace.untraced_ops_per_s"] / max(out["trace.traced_ops_per_s"], 1e-9)
    for k in ("op_p90_s", "written_mb_per_s", "stored_bytes_per_input_byte", "error_rate", "peak_rss_mb"):
        out["e2e." + k] = e2e[k]
    return out


# -------------------------------------------------------------------- run


def run(args, tmp: str) -> int:
    import gen
    from layers import SparkCounters, Spans
    from workloads import WORKLOADS

    env = launch_env(tmp)
    os.environ.update(env)
    os.chdir(tmp)  # spark-warehouse, derby.log and metastore_db land here
    sys.path.insert(0, ROOT)

    from oracle import Oracle

    wl_cls = WORKLOADS[args.workload]
    sf_dir = os.path.join(tmp, "data")
    spans = Spans(enabled=bool(args.trace))
    t0 = time.perf_counter()
    rows = gen.write_tables(sf_dir, args.seed, wl_cls.sf, wl_cls.emb_sf, wl_cls.tables)
    ctx = Context(sf_dir, tmp, args.seed, rows, spans)
    ctx.n_users = gen.n_users(wl_cls.sf)
    ctx.oracle = Oracle(sf_dir, wl_cls.tables)
    wl = wl_cls(ctx)
    wl.prepare()
    # every run of a workload times the same number of whole rounds
    rounds = list(itertools.islice(wl.rounds(), max(1, round(args.seconds / wl.round_s))))
    # their expected results are computed while the JVM starts
    prefetch = ctx.oracle.prefetch(wl.expected_sqls(rounds))
    gen_s = time.perf_counter() - t0

    sampler = RssSampler()
    sampler.start()
    from audience_finder_pro_spark.session import get_spark, load_table

    setup_calls = {}
    t0 = time.perf_counter()
    with spans.span("session.get_spark"):
        spark = get_spark("perfbench")
    setup_calls["session.get_spark"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    try:
        t0 = time.perf_counter()
        with spans.span("session.catalog"):
            for table in wl.tables:
                load_table(spark, sf_dir, table)
        setup_calls["session.catalog"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        prefetch.join()
        wait_s = time.perf_counter() - t0

        warm = Recorder(ctx, traced=False, check=False)
        for op in wl.warmup():
            warm.op(wl, op)
        setup_s = process_age_s() - gen_s - wait_s - warm.bench_s
        if warm.failed:
            print(f"warm-up: {warm.failed} of {warm.attempted} ops failed", file=sys.stderr)

        phases = {"gen_s": gen_s, **setup_calls, "oracle_wait_s": wait_s, "warmup_s": warm.wall}
        deadline = time.perf_counter() + MAX_WALL_S - process_age_s()
        main = Recorder(ctx, traced=False)
        recs = [warm, main]
        order = ((main,), (main,))
        if args.trace:
            # every timed op runs twice, untraced and traced, alternating
            # which goes first: the overhead compares like with like
            ctx.counters = SparkCounters(spark)
            traced = Recorder(ctx, traced=True)
            recs.append(traced)
            order = ((main, traced), (traced, main))
        ops = (op for rnd in rounds for op in rnd)
        for i, op in enumerate(itertools.takewhile(lambda _: time.perf_counter() < deadline, ops)):
            for rec in order[i % 2]:
                rec.op(wl, op)

        e2e = main.e2e(setup_s, sampler.peak_kib)
        if args.trace:
            metrics = per_layer(traced, main, spans, setup_calls, int(env["SPARK_GRAFT_CPUS"]), e2e)
            os.makedirs(SPANS_DIR, exist_ok=True)
            spans.write(os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
            units = PER_LAYER_UNITS
        else:
            metrics = {k: e2e[k] for k in END_TO_END}
            units = E2E_UNITS
        # the warm-up and the traced ops must be correct too
        attempted = sum(r.attempted for r in recs)
        failed = sum(r.failed + r.wrong for r in recs)
        phases.update(timed_s=main.wall, check_s=main.bench_s)
    finally:
        sampler.stop()
        t0 = time.perf_counter()
        stop_spark(spark)
    phases["stop_s"] = time.perf_counter() - t0
    print("phases " + json.dumps(phases))
    print("config " + json.dumps({"workload": args.workload, "seed": args.seed, "env": env,
                                  "rows": rows, "ops": main.attempted}))
    print("end_to_end " + json.dumps({k: [v, E2E_UNITS[k]] for k, v in e2e.items()}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


# the end-to-end metrics the final line reports (BENCHMARK.json's list);
# the others (zero on some workloads, or too noisy to bound) are printed
# and go to the traced run as e2e.*
END_TO_END = ("setup_s", "op_p50_s", "op_p90_s", "ops_per_s", "rows_in_per_s")


# every per-layer metric of the traced run, with its unit
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.catalog_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.plan_memo_hit_ratio": "ratio",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_ratio": "ratio",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.scan_rows_per_output_row": "ratio",
    "exec.failed_tasks": "count",
    "functions.python_rows": "count",
    "functions.python_bytes": "bytes",
    "caching.free_checkpoint_s": "s",
    "caching.storage_bytes_after_op": "bytes",
    "sources.write_parquet_partitioned_s": "s",
    "sources.write_jsonl_s": "s",
    "sources.write_training_shards_s": "s",
    "sources.compact_parquet_s": "s",
    "sources.write_zordered_s": "s",
    "sources.files_written": "count",
    "sources.mean_file_mb": "MB",
    "sources.readback_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.s_per_batch": "s",
    "bench.self_s": "s",
    "queries.self_s": "s",
    "exec.self_s": "s",
    "caching.self_s": "s",
    "sources.self_s": "s",
    "streaming.self_s": "s",
    "trace.untraced_ops_per_s": "1/s",
    "trace.traced_ops_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
    "e2e.op_p90_s": "s",
    "e2e.written_mb_per_s": "MB/s",
    "e2e.stored_bytes_per_input_byte": "ratio",
    "e2e.error_rate": "ratio",
    "e2e.peak_rss_mb": "MB",
}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = descendants(os.getpid())
    try:
        spark.stop()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like Ctrl-C, so the temporary root is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        return run(args, tmp)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

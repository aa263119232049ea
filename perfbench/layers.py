"""Span recorder and Spark status-store counters for the traced run.

Spans are kept in memory as plain dicts (name, start, end, parent, op)
and written out once at exit. A layer's self time is its spans'
durations minus the part of each interval covered by child spans.

``SparkCounters`` reads Spark's own status stores, which work with the UI
disabled: the DAG scheduler's job/stage id counters bracket a call, the
core ``AppStatusStore`` gives per-stage task metrics, and the SQL status
store gives per-operator metrics (used for the Python/Arrow plan nodes).
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# ------------------------------------------------------------------ spans


class Spans:
    """In-memory span log. With ``enabled=False`` every method is a no-op,
    so the untraced run pays one attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.records),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.records:
                f.write(json.dumps(rec) + "\n")


def layer_of(name: str) -> str:
    """Span names are ``<layer>.<call>``; the layer is the prefix."""
    return name.split(".", 1)[0]


def self_times(records: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the union of its
    children's intervals (clipped to the parent), summed by layer."""
    children: dict[int, list[dict]] = defaultdict(list)
    for r in records:
        if r["parent"] is not None:
            children[r["parent"]].append(r)
    out: dict[str, float] = defaultdict(float)
    for r in records:
        lo, hi = r["start"], r["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[r["id"]], key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[layer_of(r["name"])] += (hi - lo) - covered
    return dict(out)


# ------------------------------------------------------- status-store reads

STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputRecords",
)

# physical operators that run Python/Arrow code in Python workers
PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonUDTF|EvalPython"
)
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "ns": 1e-6,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: a plain count (``"1,234"``) or the
    total of a size/timing metric (``"total (min, med, max ...)\\n12.0 KiB
    (...)"``) in bytes or ms."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([-\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SparkCounters:
    """Deltas of Spark's job/stage/SQL counters around a call."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty_tasks = jvm.java.util.Collections.emptyList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._last_exec = self._newest_execution()

    def mark(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def _drain(self) -> None:
        # the status stores are fed by the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def stage_totals(self, start: tuple[int, int], end: tuple[int, int]) -> dict[str, float]:
        """Jobs started and per-stage metrics summed over the stages
        created between two ``mark()``s; skipped stages are not counted."""
        self._drain()
        out = {f: 0 for f in STAGE_FIELDS}
        out["jobs"] = end[0] - start[0]
        out["stages"] = 0
        for sid in range(start[1], end[1]):
            try:
                attempts = self._store.stageData(sid, False, self._empty_tasks, False, self._no_quantiles)
            except Py4JJavaError:  # stage id allocated but never submitted
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += getattr(st, f)()
        return out

    def _newest_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def skip_executions(self) -> None:
        """Forget SQL executions so far (those of untimed checks)."""
        self._last_exec = max(self._last_exec, self._newest_execution())

    def python_totals(self) -> dict[str, float]:
        """Rows out of and bytes through the Python-evaluation plan nodes of
        every SQL execution since the previous call."""
        self._drain()
        out = {"python_rows": 0.0, "python_bytes": 0.0}
        newest = self._newest_execution()
        n = int(self._sql.executionsCount())
        k = min(n, max(0, newest - self._last_exec))
        execs = self._sql.executionsList(n - k, k) if k else None
        for i in range(k):
            eid = execs.apply(i).executionId()
            if eid <= self._last_exec:
                continue
            values = None
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not PYTHON_NODE.search(node.name()):
                    continue
                if values is None:
                    values = dict(self._as_java(self._sql.executionMetrics(eid)))
                metrics = node.metrics()
                for m in range(metrics.size()):
                    met = metrics.apply(m)
                    name, val = met.name(), values.get(met.accumulatorId())
                    if val is None:
                        continue
                    if name == "number of output rows":
                        out["python_rows"] += parse_metric(val)
                    elif name.startswith("data sent to Python") or name.startswith(
                        "data returned from Python"
                    ):
                        out["python_bytes"] += parse_metric(val)
        self._last_exec = max(self._last_exec, newest)
        return out

    def storage_bytes(self) -> int:
        """Memory + disk bytes of every RDD block the executors still hold."""
        infos = self._sc.getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

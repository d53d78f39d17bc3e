"""Per-layer spans for the traced benchmark run.

A span wraps one or a few public calls of ``alligator_spark``; the caller
forces their output inside the span, which runs under its own Spark job
group. When the span ends, its cost is read back from Spark's status
stores, which are populated with ``spark.ui.enabled=false`` too:

* the core store (jobs of the group -> their stages): jobs, completed
  tasks, executor CPU seconds and shuffle bytes written;
* the SQL store (the SQL executions started during the span -> their plan
  graph node metrics): rows that crossed into Python, the time tasks
  spent starting Python workers, and the row counts around the dedup
  verify predicates.

The SQL store renders node metrics as display strings; ``parse_sql_metric``
turns them back into numbers.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_UNIT_SCALE = {
    "": 1.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "PiB": 1024.0**5,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Number in one SQL-metric display string: bytes for sizes, seconds
    for durations, the plain count otherwise.

    Sums read ``"100,000"``, sizes ``"784.0 KiB"``, durations ``"11.8 s"``
    or ``"345 ms"``. A metric with several task values reads
    ``"total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)"``;
    its total is returned.
    """
    s = text.strip()
    if s.startswith("total ("):
        s = s.split("\n", 1)[1].split(" (", 1)[0].strip()
    m = _VALUE.fullmatch(s)
    if m is None or m.group(2) not in _UNIT_SCALE:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


ROWS = "number of output rows"
PY_SENT = "data sent to Python workers"
PY_START = "time to start Python workers"
# The dedup operators' verify steps, as they appear in the physical plan:
# the MinHash Jaccard and SimHash Hamming predicates end up in a join
# condition; the embedding cosine is a Python UDF under a Filter.
VERIFY_EXPRS = ("array_intersect(", "bit_count(")
VERIFY_UDF = "[cos("


class Tracer:
    """Records named spans; ``spans[name]`` holds each span's fields."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: dict[str, dict] = {}
        self._seq = 0

    def _drain(self) -> None:
        """Wait until the listener bus delivered every event so far, so
        the stores hold the finished span's jobs and executions."""
        self._bus.waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        """Run the body under a fresh job group and record its cost.
        The body may add fields (``rows_out``, ratios) to the yielded dict
        after the span closed; they are kept with the span."""
        self._drain()
        group = f"perfbench-{self._seq}-{name}"
        self._seq += 1
        first_exec = int(self._sql.executionsCount())
        rec: dict = {}
        self.sc.setJobGroup(group, name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            wall = time.monotonic() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            t1 = time.monotonic()
            self._drain()
            rec.update(wall_s=wall, **self._stage_cost(group))
            rec.update(self._sql_cost(first_exec))
            rec["read_s"] = time.monotonic() - t1
            self.spans[name] = rec

    def _stage_cost(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = cpu_ns = shuffle_w = 0
        for sid in stage_ids:
            try:
                st = self._core.lastStageAttempt(sid)
            except Py4JJavaError:  # not in the store
                continue
            tasks += st.numCompleteTasks()
            cpu_ns += st.executorCpuTime()
            shuffle_w += st.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle_w / 1e6,
        }

    def _sql_cost(self, first_exec: int) -> dict:
        """Python-node and verify-predicate row counts over the SQL
        executions the span started. Only plans whose text names a Python
        node or a verify step are walked node by node (each node costs
        gateway round trips). A plan graph may list one physical node
        twice (a cached plan under two parents); metrics are deduped by
        accumulator id within an execution."""
        last = int(self._sql.executionsCount())
        out = dict.fromkeys(("py_rows", "py_scalar_rows", "py_start_s", "verified", "candidates"), 0.0)
        for ex in self._conv.asJava(self._sql.executionsList(first_exec, last - first_exec)):
            plan = ex.physicalPlanDescription() or ""
            if "Python" in plan or any(e in plan for e in VERIFY_EXPRS):
                self._walk(ex.executionId(), out)
        return out

    def _walk(self, eid: int, out: dict) -> None:
        values = self._conv.asJava(self._sql.executionMetrics(eid))
        graph = self._sql.planGraph(eid)
        nodes = {n.id(): n for n in self._conv.asJava(graph.allNodes())}
        children: dict[int, list[int]] = {}
        for e in self._conv.asJava(graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())
        seen: set[int] = set()

        def metrics(node) -> dict:
            return {
                pm.name(): (pm.accumulatorId(), values.get(pm.accumulatorId()))
                for pm in self._conv.asJava(node.metrics())
            }

        def counted_input(nid):
            # the node's first input (the streamed side of a join) that
            # counts its output rows, looking through projections
            kids = children.get(nid, [])
            while kids:
                m = metrics(nodes[kids[0]])
                if ROWS in m:
                    return nodes[kids[0]], m[ROWS]
                kids = children.get(kids[0], [])
            return None, (None, None)

        for nid, node in nodes.items():
            name = node.name()
            if "Python" in name or "InPandas" in name or "InArrow" in name:
                m = metrics(node)
                acc, sent = m.get(PY_SENT, (None, None))
                if sent is None or acc in seen:
                    continue
                seen.add(acc)
                rows = m.get(ROWS, (None, None))[1]
                start = m.get(PY_START, (None, None))[1]
                n_rows = parse_sql_metric(rows) if rows else 0.0
                out["py_rows"] += n_rows
                if name in ("ArrowEvalPython", "BatchEvalPython"):
                    out["py_scalar_rows"] += n_rows
                out["py_start_s"] += parse_sql_metric(start) if start else 0.0
            elif name == "Filter" or "Join" in name:
                desc = node.desc() or ""
                in_cond = any(e in desc for e in VERIFY_EXPRS)
                if not (in_cond or (name == "Filter" and "pythonUDF" in desc)):
                    continue
                below, (_, into) = counted_input(nid)
                if below is None or not (in_cond or VERIFY_UDF in (below.desc() or "")):
                    continue
                acc, rows = metrics(node).get(ROWS, (None, None))
                if rows is not None and into is not None and acc not in seen:
                    seen.add(acc)
                    out["verified"] += parse_sql_metric(rows)
                    out["candidates"] += parse_sql_metric(into)

"""Span recorder for the traced run, plus readers of Spark's own counters.

Spans are recorded only here, around calls into the package: the package
itself is not instrumented.  Each op runs under its own Spark job group, so
after the op the status store gives its jobs, stages, tasks, executor time,
shuffle and spill, and the SQL status store gives the metrics of its plan
nodes (``MapInPandas``, ``ArrowEvalPython``, scans, joins).  Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL-metric display string as a number: seconds, bytes or a count.

    Metrics summed over tasks read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value after the header line.
    """
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Tracer:
    """Records spans and per-op Spark counters; a no-op when disabled."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self._op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        """One op under its own job group; yields a dict that receives its counters."""
        rec: dict = {"name": name}
        if not self.enabled:
            yield rec
            return
        self._op_id += 1
        group = f"perfbench-{self._op_id}"
        sc = self.spark.sparkContext
        sql = self.spark._jsparkSession.sharedState().statusStore()
        first_exec = sql.executionsCount()
        sc.setJobGroup(group, name)
        start = time.time()
        try:
            with self.span(name):
                yield rec
        finally:
            wall = time.time() - start
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            rec.update(op=self._op_id, wall_s=wall)
            rec.update(self._job_counters(sc.statusTracker().getJobIdsForGroup(group), start, wall))
            rec["nodes"] = self._sql_nodes(sql, first_exec)
            self.ops.append(rec)

    def _job_counters(self, job_ids, start: float, wall: float) -> dict:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jvm, gw = self.spark._jvm, self.spark.sparkContext._gateway
        out = dict(jobs=len(job_ids), stages=0, tasks=0, run_s=0.0, cpu_s=0.0,
                   shuffle_write_bytes=0, spill_bytes=0)
        busy = []
        for jid in job_ids:
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                busy.append((job.submissionTime().get().getTime() / 1e3,
                             job.completionTime().get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), False, jvm.java.util.ArrayList(),
                                           False, gw.new_array(jvm.double, 0))
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["run_s"] += s.executorRunTime() / 1e3
                    out["cpu_s"] += s.executorCpuTime() / 1e9
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["driver_only_s"] = max(0.0, wall - _union(busy, start, start + wall))
        return out

    @staticmethod
    def _sql_nodes(sql, first_exec: int) -> list[tuple[str, dict]]:
        """(node name, {metric: value}) for every plan node of the op's SQL executions."""
        nodes = []
        execs = sql.executionsList(first_exec, sql.executionsCount() - first_exec)
        for e in range(execs.size()):
            eid = execs.apply(e).executionId()
            values = sql.executionMetrics(eid)
            graph_nodes = sql.planGraph(eid).allNodes()
            for n in range(graph_nodes.size()):
                node = graph_nodes.apply(n)
                ms = node.metrics()
                metrics = {}
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nodes.append((node.name(), metrics))
        return nodes

    def self_times(self) -> dict[int, float]:
        """Span index -> duration less the part covered by its child spans."""
        children: dict[int, list] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {i: (s["end"] - s["start"]) - _union(children.get(i, []), s["start"], s["end"])
                for i, s in enumerate(self.spans)}

    def write(self, path, extra: dict) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0, self_s=selfs[i])
                 for i, s in enumerate(self.spans)]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": spans, "ops": self.ops, **extra}, indent=1))


def node_metric(rec: dict, node_prefix: str, metric: str) -> float:
    """Sum of one metric over the op's plan nodes whose name starts with ``node_prefix``."""
    return sum(m.get(metric, 0.0) for name, m in rec.get("nodes", []) if name.startswith(node_prefix))


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

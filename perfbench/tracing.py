"""Spans recorded by the benchmark around its calls into the engine, and the
Spark SQL metrics of the executions each span caused.

A span has a name, start, end, parent and run id. Spans stay in memory and
are written out once, when the run ends. Each span tags the Spark jobs it
starts with its own job group; after the run the per-node SQL metrics of
those executions are read back from the session's SQL status store, which
records them even with the UI disabled.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
import uuid

_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1,
}
_NUM = r"([\d.,]+)\s*([A-Za-z]*)"
_VALUE_RX = re.compile(
    _NUM + r"(?:\s*\(\s*" + _NUM + r",\s*" + _NUM + r",\s*" + _NUM + r")?"
)

_ROWS = "number of output rows"
# the only metrics read back (each read is a round trip to the JVM)
_WANTED = {_ROWS, "time to run Python workers",
           "data returned from Python workers", "shuffle bytes written",
           "spill size", "duration"}
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
            "PythonMapInArrow", "FlatMapGroupsInPandas")


def parse_metric(text: str):
    """A status-store metric string -> (total, min, med, max), in bytes or
    seconds. The per-task triple is None when Spark printed only a total;
    the result is None for a string that is not a metric value."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RX.match(body.strip())
    if not m:
        return None
    g = m.groups()

    def val(num, unit):
        return float(num.replace(",", "")) * _UNIT.get(unit, 1)

    total = val(g[0], g[1])
    if g[2] is None:
        return total, None, None, None
    return total, val(g[2], g[3]), val(g[4], g[5]), val(g[6], g[7])


class Tracer:
    """In-memory spans; ``span()`` is a context manager."""

    def __init__(self, spark, run_id: str | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list = []
        self.sql: dict = {}
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._tag(self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _tag(self, rec) -> None:
        self.sc.setJobGroup(
            "perfbench-{0}-{1}".format(self.run_id, rec["id"]),
            "span:{0}:{1}:{2}".format(self.run_id, rec["id"], rec["name"]))

    @staticmethod
    def duration(rec) -> float:
        return rec["end"] - rec["start"]

    def find(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    # ------------------------------------------------------- spark metrics

    def collect_sql(self) -> dict:
        """span id -> list of executions, each a dict with its jobs, task
        count, submission time and per-node metrics
        [(node, metric, (total, min, med, max))]."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        tracker = self.sc.statusTracker()
        prefix = "span:{0}:".format(self.run_id)
        out: dict = {}
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            desc = e.description() or ""
            if not desc.startswith(prefix):
                continue
            sid = int(desc.split(":", 3)[2])
            eid = e.executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            metrics = []
            for i in range(nodes.size()):
                node = nodes.apply(i)
                nname = node.name()
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    mname = m.name()
                    if mname not in _WANTED or (
                            mname == _ROWS and nname not in PY_NODES):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    parsed = parse_metric(v.get())
                    if parsed is not None:
                        metrics.append((nname, mname, parsed))
            jobs = [int(j) for j in _scala_keys(e.jobs())]
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else []):
                    sinfo = tracker.getStageInfo(st)
                    tasks += sinfo.numTasks if sinfo else 0
            out.setdefault(sid, []).append({
                "execution": eid, "jobs": jobs, "tasks": tasks,
                "submitted_ms": e.submissionTime(), "metrics": metrics,
            })
        self.sql = out
        return out

    def write(self, path: str) -> None:
        """Spans and the SQL metrics read back for them, as JSON."""
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "sql": self.sql}, f, indent=1, default=str)


def _scala_keys(scala_map) -> list:
    keys, it = [], scala_map.keys().iterator()
    while it.hasNext():
        keys.append(it.next())
    return keys


class SqlSummary:
    """Sums of the SQL metrics of a set of executions."""

    def __init__(self, executions: list):
        self.executions = executions

    def _rows(self, metric: str, nodes=None):
        for e in self.executions:
            for node, name, val in e["metrics"]:
                if name == metric and (nodes is None or node in nodes):
                    yield val

    def total(self, metric: str, nodes=None) -> float:
        return sum(v[0] for v in self._rows(metric, nodes))

    @property
    def jobs(self) -> int:
        return sum(len(e["jobs"]) for e in self.executions)

    @property
    def tasks(self) -> int:
        return sum(e["tasks"] for e in self.executions)

    @property
    def py_worker_s(self) -> float:
        return self.total("time to run Python workers")

    @property
    def py_rows(self) -> float:
        return self.total(_ROWS, nodes=PY_NODES)

    @property
    def shuffle_bytes(self) -> float:
        return self.total("shuffle bytes written")

    @property
    def spill_bytes(self) -> float:
        return self.total("spill size")

    def task_skew(self, min_total_s: float = 0.05) -> float:
        """Worst max/median per-task ratio over the timing metrics that
        carry per-task figures (code-generated stage durations and Python
        worker time); timings under ``min_total_s`` in total are ignored as
        noise. 1.0 means perfectly even tasks."""
        worst = 1.0
        for e in self.executions:
            for node, name, (total, _mn, med, mx) in e["metrics"]:
                if med is None or total < min_total_s or med <= 0:
                    continue
                if name in ("duration", "time to run Python workers"):
                    worst = max(worst, mx / med)
        return worst


def summary(by_span: dict, spans) -> SqlSummary:
    """SqlSummary over every execution caused by ``spans`` (span dicts)."""
    ids = {s["id"] for s in spans}
    return SqlSummary([e for sid, es in by_span.items() if sid in ids
                       for e in es])


def jvm_gc_seconds(spark) -> float:
    """Cumulative garbage-collection time of the driver JVM, which in
    local mode hosts every task thread."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()) / 1000.0


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default

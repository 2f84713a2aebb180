"""Spans and Spark-side counters for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into the engine's
public functions (name, start, end, parent, run id), kept in memory and
written once when the run ends. Counters are read from outside the engine,
from Spark's own status stores, so the engine code is never modified:

- jobs, stages and tasks: ``SparkContext.statusTracker()`` (jobs of a job
  group) plus the core status store's per-stage records;
- shuffle bytes and task-time quantiles: the core status store
  (``AppStatusStore.stageData`` / ``taskSummary``);
- the Python/Arrow boundary, broadcasts and filter outputs: the SQL status
  store (``sharedState().statusStore()``) plan graphs and metric values.

All of them work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans nest through a stack; each span keeps
    its parent's index so self time can be derived when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, rec) -> float:
        return rec["end"] - rec["start"]

    def self_times(self):
        """Span duration minus the time covered by its direct children
        (children run sequentially inside their parent)."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return [
            (rec["end"] - rec["start"]) - child[i] if rec["end"] else None
            for i, rec in enumerate(self.spans)
        ]

    def write(self, path: str):
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for i, rec in enumerate(self.spans):
            r = dict(rec)
            r["id"] = i
            r["start"] = rec["start"] - t0
            r["end"] = (rec["end"] - t0) if rec["end"] is not None else None
            r["self_s"] = selfs[i]
            out.append(r)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out}, f, indent=1)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string -> number (bytes, seconds or count).

    Spark formats task-aggregated metrics as ``"total (min, med, max ...)
    \\n<total> (<min>, ...)"`` and single-task ones as ``"<total>"``."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"
ROWS = "number of output rows"


class SparkCounters:
    """Per-operator counters read from Spark's status stores.

    ``begin(group)`` tags every job the calling thread starts with a job
    group; ``end(group)`` waits for the listener bus to drain, then sums the
    group's jobs, stages, tasks, shuffle bytes and Python-boundary metrics.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = self._max_exec_id() + 1

    def _max_exec_id(self) -> int:
        n = self._sql.executionsCount()
        last = _seq(self._sql.executionsList(n - 1, 1)) if n else []
        return last[0].executionId() if last else -1

    def begin(self, group: str):
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "task_max_s": 0.0,
               "task_median_s": 0.0}
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        store = self._jsc.statusStore()
        no_status = self._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self._jvm.double, 0)
        q = self.sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        heaviest = None
        out["jobs"] = len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                for d in _seq(store.stageData(sid, False, no_status, False, no_q)):
                    if str(d.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numTasks()
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    run = d.executorRunTime()
                    if heaviest is None or run > heaviest[0]:
                        heaviest = (run, sid, d.attemptId())
        if heaviest is not None:
            summ = store.taskSummary(heaviest[1], heaviest[2], q)
            if summ.isDefined():
                dur = summ.get().duration()
                out["task_median_s"] = dur.apply(0) / 1000.0
                out["task_max_s"] = dur.apply(1) / 1000.0
        out.update(self._sql_metrics())
        return out

    def _sql_metrics(self) -> dict:
        """Python-boundary and broadcast metrics of the SQL executions
        started since the previous call."""
        out = {"python_rows_in": 0, "python_bytes_in": 0,
               "python_bytes_out": 0, "python_run_s": 0.0,
               "refine_rows_in": 0, "refine_rows_matched": 0,
               "broadcast_rows": 0, "broadcast_bytes": 0}
        # executions are listed in id order: walk back from the newest
        first = self._next_exec
        new = []
        end = self._sql.executionsCount()
        while end > 0:
            start = max(0, end - 64)
            ids = [e.executionId() for e in _seq(self._sql.executionsList(start, end - start))]
            new = [i for i in ids if i >= first] + new
            if ids and ids[0] < first:
                break
            end = start
        for eid in new:
            self._one_execution(eid, out)
        if new:
            self._next_exec = new[-1] + 1
        return out

    def _one_execution(self, eid, out):
        values = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid)
        nodes = {}
        for nd in _seq(graph.allNodes()):
            ms = {}
            for m in _seq(nd.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = parse_metric(v.get())
            nodes[nd.id()] = (nd.name(), ms)
        children, parent = {}, {}
        for ed in _seq(graph.edges()):
            children.setdefault(ed.toId(), []).append(ed.fromId())
            parent[ed.fromId()] = ed.toId()

        def rows_below(nid):
            # nearest descendant that counts rows (Project/Sort nodes
            # forward rows unchanged and carry no row metric)
            for c in children.get(nid, []):
                name, ms = nodes[c]
                for key in (ROWS, "records read"):
                    if key in ms:
                        return ms[key]
                got = rows_below(c)
                if got is not None:
                    return got
            return None

        for nid, (name, ms) in nodes.items():
            if name == "BroadcastExchange":
                out["broadcast_rows"] += int(ms.get(ROWS, 0))
                out["broadcast_bytes"] += int(ms.get("data size", 0))
            if PY_SENT not in ms:
                continue
            rows_in = rows_below(nid) or 0
            out["python_rows_in"] += int(rows_in)
            out["python_bytes_in"] += int(ms.get(PY_SENT, 0))
            out["python_bytes_out"] += int(ms.get(PY_RECV, 0))
            out["python_run_s"] += ms.get(PY_TIME, 0.0)
            if name == "ArrowEvalPython":
                # a refine UDF used as a predicate: the Filter right above
                # it keeps the rows the UDF accepted
                p = parent.get(nid)
                if p is not None and nodes[p][0] == "Filter":
                    out["refine_rows_in"] += int(rows_in)
                    out["refine_rows_matched"] += int(nodes[p][1].get(ROWS, 0))


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM heap's old generation, in MB: what the
    JVM kept past young collections (broadcasts, cached relations) plus
    old garbage not yet collected."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            return pool.getPeakUsage().getUsed() / 2.0 ** 20
    raise RuntimeError("no old-generation memory pool")

"""Measurement helpers that observe the program from outside the package:
in-memory spans, a process-tree RSS and CPU sampler, an executed-plan
walk, a Spark event-log parser and a reader of the SQL status store.

A plan node is ``{"name", "desc", "metrics": {metric: value}}`` whichever
source it comes from. Timing metrics are converted to seconds and the
rest (bytes, row counts) are kept as they are.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


# --- spans ----------------------------------------------------------------

class Tracer:
    """Spans kept in memory: name, start, end, parent. When enabled, each
    span also becomes the Spark job group of the calling thread, so that
    event-log jobs can be attributed to the public call that ran them."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(name, f"{name}#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(outer["name"], f"{outer['name']}#{outer['id']}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out


# --- process tree ---------------------------------------------------------

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields after the command name) of ``root`` and all its
    descendants: this process, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(d)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in stats:
            out.append((p, stats[p]))
        todo.extend(children.get(p, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    # field 22 of stat (index 21 after the name) is rss in pages
    return sum(int(f[21]) for _, f in _tree(root)) * _PAGE_KB


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used by the process tree: user and system time of each
    live member plus that of the children it has reaped."""
    tree = _tree(os.getpid() if root is None else root)
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for _, f in tree) * _TICK_S


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) on a background thread; ``peak_mb`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


# --- executed plan ------------------------------------------------------

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _metric_value(value, mtype: str):
    return value * _TIME_SCALE[mtype] if mtype in _TIME_SCALE else value


def plan_nodes(df) -> list[dict]:
    """Walk the executed plan of ``df``'s own QueryExecution — call after
    an action on ``df`` itself (``collect``), never after ``df.write``,
    which runs a new QueryExecution. Adaptive plans are unwrapped to their
    final plan and query stages to the plan they wrap."""
    nodes: list[dict] = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        n = todo.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
            continue
        metrics = {}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[kv._1()] = _metric_value(m.value(), m.metricType())
        nodes.append({"name": n.nodeName(), "desc": n.simpleString(400), "metrics": metrics})
        if cls.endswith("QueryStageExec"):
            todo.append(n.plan())
        ch = n.children()
        for i in range(ch.size()):
            todo.append(ch.apply(i))
    return nodes


# --- event log ------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    """Jobs, tasks and SQL executions parsed from a Spark event log
    directory (read after the SparkContext has stopped). The log carries
    task metrics but not the per-node SQL metrics: those come from
    ``sql_store_nodes`` while the session is alive."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        jid = e["Job ID"]
                        self.jobs[jid] = {
                            "id": jid,
                            "start": e["Submission Time"] / 1e3,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "call_site": props.get("callSite.short", ""),
                            "execution": int(props["spark.sql.execution.id"])
                            if props.get("spark.sql.execution.id") else None,
                        }
                        for sid in e["Stage IDs"]:
                            self.stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        if e["Job ID"] in self.jobs:
                            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        self._task(e)
                    elif kind == _SQL + "SparkListenerSQLExecutionStart":
                        self.executions[e["executionId"]] = {
                            "id": e["executionId"],
                            "start": e["time"] / 1e3,
                            "end": None,
                            "details": e.get("details", ""),
                            "plan_text": e.get("physicalPlanDescription", ""),
                        }
                    elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                        if e["executionId"] in self.executions:
                            self.executions[e["executionId"]]["plan_text"] = e.get(
                                "physicalPlanDescription", "")
                    elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                        if e["executionId"] in self.executions:
                            self.executions[e["executionId"]]["end"] = e["time"] / 1e3

    def _task(self, e: dict) -> None:
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
        run = m.get("Executor Run Time", 0)
        overhead = (
            m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0)
        )
        sw = m.get("Shuffle Write Metrics") or {}
        self.tasks.append({
            "job": self.stage_job.get(e["Stage ID"]),
            "launch": launch / 1e3,
            "finish": finish / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "scheduler_delay_s": max(0, finish - launch - run - overhead) / 1e3,
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        })

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted inside the wall-clock window [t0, t1]."""
        return [j for j in self.jobs.values() if t0 <= j["start"] <= t1]

    def tasks_of(self, jobs) -> list[dict]:
        ids = {j["id"] for j in jobs}
        return [t for t in self.tasks if t["job"] in ids]

    def executions_of(self, jobs) -> list[dict]:
        ids = {j["execution"] for j in jobs if j["execution"] is not None}
        return [self.executions[i] for i in sorted(ids) if i in self.executions]


# --- SQL metrics of executions that ran a new QueryExecution ---------------

# display names in the SQL status store -> the metric keys ``plan_nodes``
# reports, for the metrics the layer table uses
_STORE_KEYS = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "scan time": "scanTime",
    "size of files read": "filesSize",
    "shuffle bytes written": "shuffleBytesWritten",
    "spill size": "spillSize",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_store_value(text: str) -> float:
    """Total of a status-store metric string: ``"13,921"``, or
    ``"total (min, med, max ...)\n1.2 s (...)"`` / ``"...\n988.8 KiB (...)"``."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    try:
        value = float(head[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


def sql_store_nodes(spark, t0: float, t1: float) -> dict[int, list[dict]]:
    """Plan nodes with their SQL metric totals for every SQL execution
    submitted in the wall-clock window [t0, t1], read from the live
    session's SQL status store. This covers executions whose Dataset the
    caller never holds: ``df.write`` and streaming micro-batches. Values
    are the store's rounded display totals (e.g. ``1.2 s``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, list[dict]] = {}
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if not t0 * 1e3 <= ex.submissionTime() <= t1 * 1e3:
            continue
        eid = ex.executionId()
        values = {}
        vit = store.executionMetrics(eid).iterator()
        while vit.hasNext():
            kv = vit.next()
            values[kv._1()] = kv._2()
        nodes = []
        nit = store.planGraph(eid).allNodes().iterator()
        while nit.hasNext():
            n = nit.next()
            metrics = {}
            mit = n.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                name = _STORE_KEYS.get(m.name(), m.name())
                metrics[name] = parse_store_value(values.get(m.accumulatorId(), ""))
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        out[eid] = nodes
    return out

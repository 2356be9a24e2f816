"""Spans and per-layer counters, read from outside the library.

The benchmark wraps each call into a library module in a span and,
after each operation, reads what Spark recorded about it: the SQL
executions it started (plan nodes and their SQL metrics, from the SQL
status store) and their stages (task counts and task-time spread, from
the application status store).  Both stores are populated by Spark's
listeners even with the UI disabled; they evict old entries, so each
operation is read as soon as it ends.

Spans nest run -> iteration -> operation -> build/action -> SQL
execution.  They are kept in memory and written out once at the end of
the run, with each span's self time (its duration minus the part of
it that its children cover).
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# SQL metric name -> (layer counter, how to combine across plan nodes)
_NODE_METRICS = {
    "size of files read": ("scan.bytes", "sum"),
    "duration": ("codegen.s", "sum"),
    "time to build": ("broadcast.build_s", "sum"),
    "time to start Python workers": ("python.boot_s", "sum"),
    "time to initialize Python workers": ("python.init_s", "sum"),
    "time to run Python workers": ("python.total_s", "sum"),
    "data sent to Python workers": ("python.bytes_sent", "sum"),
    "data returned from Python workers": ("python.bytes_received", "sum"),
    "shuffle bytes written": ("exchange.bytes", "sum"),
    "shuffle records written": ("exchange.records", "sum"),
    "shuffle write time": ("exchange.write_s", "sum"),
    "fetch wait time": ("exchange.fetch_wait_s", "sum"),
    "written output": ("write.bytes", "sum"),
    "peak memory": ("agg.peak_memory_bytes", "max"),
    "spill size": ("spill_bytes", "sum"),
}
LAYER_COUNTERS = sorted({c for c, _ in _NODE_METRICS.values()}
                        | {"broadcast.bytes", "join.max_rows", "jobs",
                           "tasks", "task_skew"})

_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store formats it -> a plain number
    (bytes, seconds or a count).  Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``: take the total."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


_NODE_RE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>([^"]*)"')
_CLUSTER_RE = re.compile(r'label="(WholeStageCodegen \(\d+\))\\n \\n'
                         r'duration: ([^"]*)"')
# a metric kept per task prints its spread on the line after its name:
# "<name> total (min, med, max (stageId: taskId))" or, for averages,
# "<name> (min, med, max (stageId: taskId)):"
_SPREAD = re.compile(r"^(.*?) (?:total )?\(min, med, max "
                     r"\(stageId: taskId\)\):?$")


def plan_nodes(dot: str) -> list[tuple[str, dict[str, str]]]:
    """(node name, {metric name: formatted value}) for every node of a
    plan graph rendered by ``SparkPlanGraph.makeDotFile`` -- one call
    into the JVM per execution instead of one per metric."""
    nodes = []
    for name, body in _NODE_RE.findall(dot):
        metrics: dict[str, str] = {}
        pieces = iter(body.split("<br>"))
        for piece in pieces:
            spread = _SPREAD.match(piece)
            if spread:
                metrics[spread.group(1)] = next(pieces, "")
            elif ": " in piece:
                k, v = piece.split(": ", 1)
                metrics[k] = v
        nodes.append((name.strip(), metrics))
    for name, value in _CLUSTER_RE.findall(dot):
        nodes.append((name, {"duration": value.replace("\\n", "\n")}))
    return nodes


class Tracer:
    """In-memory span list; ``enabled=False`` makes every call a no-op
    so untraced iterations pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._stack = [self.add("run", time.time(), 0.0, None, kind="run")]

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent,
                           "iteration": self.iteration, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, meta: dict) -> None:
        self.spans[0]["end"] = time.time()
        selfs = self.self_times()
        by_name: dict[str, float] = {}
        for s in self.spans:
            s["self_s"] = round(selfs[s["id"]], 6)
            key = s["name"].split(" ")[0]
            by_name[key] = by_name.get(key, 0.0) + s["self_s"]
        with open(path, "w") as fh:
            json.dump({"meta": meta,
                       "self_s_by_name": {k: round(v, 6) for k, v
                                          in sorted(by_name.items())},
                       "spans": self.spans}, fh, indent=1)


class SparkProbe:
    """Reads the SQL executions (and their stages) that ran since the
    last call to :meth:`mark`."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.jsc = spark._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.jsc.statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self._cc = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._quantiles = spark.sparkContext._gateway.new_array(
            self.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._mark = -1

    def _last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        last = self._cc.asJava(self.sql_store.executionsList(n - 1, 1))
        return max(e.executionId() for e in last)

    def mark(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        self._mark = self._last_execution_id()

    def collect(self) -> tuple[dict[str, float], list[dict]]:
        """(layer counters, SQL-execution spans) since the last mark."""
        self.jsc.listenerBus().waitUntilEmpty()
        last = self._last_execution_id()
        counters = dict.fromkeys(LAYER_COUNTERS, 0.0)
        executions = []
        stages: set[int] = set()
        for eid in range(self._mark + 1, last + 1):
            opt = self.sql_store.execution(eid)
            if not opt.isDefined():
                continue
            ex = opt.get()
            done = ex.completionTime()
            executions.append({
                "execution_id": eid,
                "description": ex.description()[:120],
                "start": ex.submissionTime() / 1000.0,
                "end": (done.get().getTime() / 1000.0 if done.isDefined()
                        else time.time())})
            counters["jobs"] += ex.jobs().size()
            stages.update(int(s) for s in self._cc.asJava(ex.stages()))
            self._read_plan(eid, counters)
        self._read_stages(stages, counters)
        self._mark = last
        return counters, executions

    def _read_plan(self, eid: int, counters: dict[str, float]) -> None:
        dot = self.sql_store.planGraph(eid).makeDotFile(
            self.sql_store.executionMetrics(eid))
        for name, metrics in plan_nodes(dot):
            for mname, text in metrics.items():
                if name == "BroadcastExchange" and mname == "data size":
                    counters["broadcast.bytes"] += parse_metric(text)
                elif "Join" in name and mname == "number of output rows":
                    counters["join.max_rows"] = max(
                        counters["join.max_rows"], parse_metric(text))
                elif mname in _NODE_METRICS:
                    key, how = _NODE_METRICS[mname]
                    if key == "codegen.s" and \
                            not name.startswith("WholeStageCodegen"):
                        continue
                    v = parse_metric(text)
                    counters[key] = (max(counters[key], v) if how == "max"
                                     else counters[key] + v)

    def _read_stages(self, stages: set[int], counters: dict) -> None:
        """Task count, and max/median task time of the stage that ran
        longest in total (the one that dominates the operation)."""
        heaviest, skew = -1.0, 0.0
        for sid in stages:
            info = self.tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue
            counters["tasks"] += info.numCompletedTasks
            opt = self.app_store.taskSummary(sid, info.currentAttemptId,
                                             self._quantiles)
            if not opt.isDefined():
                continue
            med, mx = list(self._cc.asJava(opt.get().duration()))
            total = med * info.numCompletedTasks
            if info.numCompletedTasks > 1 and total > heaviest and med > 0:
                heaviest, skew = total, mx / med
        counters["task_skew"] = skew


def sample_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, in MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
        rss[int(d)] = int(fields[21]) * page
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(kids.get(p, []))
    return total / 2 ** 20

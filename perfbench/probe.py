"""Out-of-engine instruments: spans, SQL metrics, job counts, host counters.

Nothing here reaches into `chronon_spark`; every number is read from the
outside of a call into it:

* `Tracer` keeps spans (name, start, end, parent) in memory around calls
  the benchmark makes into the engine's public functions and writes them
  out when the run ends. While tracing, a span can also tag the Spark jobs
  started inside it with a job group, so `statusTracker` can count them.
* `sql_nodes` reads the SQL metrics of every query a pass executed from
  Spark's SQL status store. Its plan graph is the listener's copy of each
  query's `executedPlan()` after adaptive execution finished: the
  AdaptiveSparkPlan and query-stage wrappers are already replaced by the
  final stages, so a walk over its nodes sees post-AQE partition counts.
  Walking the DataFrame's own `executedPlan()` would miss the writes: a
  noop sink and `insert_overwrite` each run their own query execution.
* `steal_jiffies` and `peak_rss_mb` read /proc.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans. Disabled, `span` only yields."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job_groups: list[str] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        if jobs:
            group = f"bench-{len(self.job_groups)}-{name}"
            self.job_groups.append(group)
            sc.setLocalProperty("spark.jobGroup.id", group)
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def mark(self) -> tuple[int, int]:
        return len(self.spans), len(self.job_groups)

    def seconds(self, name: str, since: tuple[int, int]) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[since[0]:]
                   if s["name"] == name and s["end"] is not None)

    def groups_since(self, since: tuple[int, int]) -> list[str]:
        return self.job_groups[since[1]:]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- statusTracker ------------------------------------------------------------
def job_counts(spark, groups: list[str]) -> dict:
    """Jobs, tasks and failed tasks started under the given job groups."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                if stage:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


def stage_tasks(spark, stage_id: int) -> int:
    stage = spark.sparkContext.statusTracker().getStageInfo(stage_id)
    return stage.numTasks if stage else 0


def stage_skew(spark, stage_id: int, attempt: int) -> float:
    """max / median executor run time over the stage's tasks, from the
    application status store (0.0 if it no longer holds the stage)."""
    sc = spark.sparkContext
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(stage_id, attempt, quantiles)
    if not summary.isDefined():
        return 0.0
    run = summary.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return mx / med if med > 0 else 0.0


# -- SQL status store ---------------------------------------------------------
_WANTED = ("Scan", "Exchange", "AQEShuffleRead", "FlatMapCoGroupsIn",
           "FlatMapGroupsIn", "MapInPandas", "MapInArrow", "HashAggregate",
           "ObjectHashAggregate", "SortAggregate", "Sort")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_TOTAL = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _parse_total(text: str) -> float:
    """First number of a rendered SQL metric, in bytes / ms / units."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def sql_nodes(spark, since: int) -> list[list[dict]]:
    """For each SQL execution after the first `since`: the wanted plan
    nodes, each {name, metrics: {name: value}, stage: (id, attempt)|None}.

    Values are raw accumulator values (bytes, ms, ns for nsTiming) while
    the plan's accumulators are alive, else parsed from the rendered text.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    acc = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    total = store.executionsCount()
    out = []
    execs = store.executionsList(since, max(total - since, 0))
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        texts = store.executionMetrics(eid)
        graph = store.planGraph(eid).allNodes()
        nodes = []
        for j in range(graph.size()):
            node = graph.apply(j)
            name = node.name()
            if not name.startswith(_WANTED):
                continue
            rec = {"name": name, "metrics": {}, "stage": None}
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                aid = m.accumulatorId()
                live = acc.get(aid)
                text = texts.get(aid)
                text = text.get() if text.isDefined() else ""
                if live.isDefined():
                    value = float(live.get().value())
                else:
                    value = _parse_total(text)
                    if m.metricType() == "nsTiming":
                        value *= 1e6
                rec["metrics"][m.name()] = value
                st = _STAGE.search(text)
                if st and rec["stage"] is None:
                    rec["stage"] = (int(st.group(1)), int(st.group(2)))
            nodes.append(rec)
        out.append(nodes)
    return out


# -- /proc --------------------------------------------------------------------
def steal_jiffies() -> int:
    """Host CPU-steal counter: on a shared host, a wall is only readable
    next to the steal that happened while it ran."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return 0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> dict:
    """VmHWM in MB of this Python process, the JVM and the JVM's live Python
    workers (every descendant of the JVM)."""
    workers, todo = [], [jvm_pid]
    while todo:
        kids = _children(todo.pop())
        workers += kids
        todo += kids
    return {"driver": _hwm_kb(os.getpid()) / 1024.0, "jvm": _hwm_kb(jvm_pid) / 1024.0,
            "workers": sum(_hwm_kb(p) for p in workers) / 1024.0, "n_workers": len(workers)}

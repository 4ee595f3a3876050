"""Span recorder for the traced run.

A span wraps one call into an engine layer. It records its name, start,
end, parent span and op id, sets a Spark job group for its duration,
and notes the jobs `statusTracker` files under that group plus the
Janino codegen delta read from `CodegenMetrics` over py4j. When the run
ends, `attribute` reads the task metrics of those jobs from the
`SparkListenerTaskEnd` records of the session's event log.

Spans stay in memory and are written out once, at the end of the run.
A disabled tracer records nothing and touches no Spark state, so the
untraced (timed) runs pay nothing for it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._stage_tasks: dict[int, list[dict]] | None = None

    # ------------------------------------------------------------ record

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Yield a dict the caller may fill with counts for this span."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        rec = {"id": self._next_id, "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               "group": f"perfbench-span-{self._next_id}",
               "counts": {}}
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        cg0 = codegen_totals(self.spark)
        rec["start"] = time.time()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            cg1 = codegen_totals(self.spark)
            rec["codegen_compiles"] = cg1[0] - cg0[0]
            rec["codegen_compile_s"] = (cg1[1] - cg0[1]) / 1000.0
            tracker = sc.statusTracker()
            jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            rec["jobs"], rec["stages"] = jobs, sorted(stages)
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None = None, op: int | None = None,
                 **counts) -> int:
        """Record a span observed after the fact (streaming progress)."""
        self._next_id += 1
        self.spans.append({"id": self._next_id, "name": name,
                           "parent": parent, "op": op, "start": start,
                           "end": end, "counts": counts, "jobs": [],
                           "stages": [], "codegen_compiles": 0,
                           "codegen_compile_s": 0.0})
        return self._next_id

    # --------------------------------------------------------- attribute

    def attribute(self, event_log_dir: Path) -> None:
        """Attach per-span task metrics parsed from the event log."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self._stage_tasks = parse_task_end(event_log_dir)
        for rec in self.spans:
            tasks = [t for s in rec["stages"]
                     for t in self._stage_tasks.get(s, [])]
            rec["task_metrics"] = sum_tasks(tasks)

    def stage_tasks(self, stage_id: int) -> list[dict]:
        return (self._stage_tasks or {}).get(stage_id, [])

    # -------------------------------------------------------- summarize

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) \
                    + rec["end"] - rec["start"]
        return {rec["id"]: rec["end"] - rec["start"]
                - child_s.get(rec["id"], 0.0) for rec in self.spans}

    def median_self(self) -> dict[str, float]:
        """Span name -> median self time over its spans."""
        selfs = self.self_times()
        by: dict[str, list[float]] = {}
        for r in self.spans:
            by.setdefault(r["name"], []).append(selfs[r["id"]])
        return {k: statistics.median(v) for k, v in sorted(by.items())}

    def by_name(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def median_wall(self, name: str) -> float:
        recs = self.by_name(name)
        return statistics.median(r["end"] - r["start"] for r in recs) \
            if recs else 0.0

    def median_count(self, name: str, key: str) -> float:
        vals = [r["counts"][key] for r in self.by_name(name)
                if key in r["counts"]]
        return statistics.median(vals) if vals else 0.0

    def subtree(self, root_id: int) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for r in self.spans:
            kids.setdefault(r["parent"], []).append(r)
        out, todo = [], [root_id]
        by_id = {r["id"]: r for r in self.spans}
        while todo:
            sid = todo.pop()
            out.append(by_id[sid])
            todo.extend(k["id"] for k in kids.get(sid, []))
        return out

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        out = []
        for r in sorted(self.spans, key=lambda r: r["start"]):
            out.append({**r, "self_s": selfs[r["id"]]})
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(out, indent=1, default=str))


# ------------------------------------------------------------- helpers

def codegen_totals(spark) -> tuple[int, float]:
    """(compiles, compile ms) so far in this JVM, from CodegenMetrics.

    The histogram keeps a 1028-sample reservoir; below that the sampled
    values are every compile, above it mean x count is the estimate."""
    hist = (spark.sparkContext._jvm.org.apache.spark.metrics.source
            .CodegenMetrics.METRIC_COMPILATION_TIME())
    n = int(hist.getCount())
    snap = hist.getSnapshot()
    if n <= 1028:
        return n, float(sum(snap.getValues()))
    return n, float(snap.getMean()) * n


def parse_task_end(event_log_dir: Path) -> dict[int, list[dict]]:
    """Stage id -> task records from every SparkListenerTaskEnd event.

    Reads both the flat log file and Spark 4's rolling layout (an
    `eventlog_v2_<app>/` directory of `events_<n>_<app>` parts)."""
    stages: dict[int, list[dict]] = {}
    files = [f for f in sorted(Path(event_log_dir).rglob("*"))
             if f.is_file() and not f.name.startswith("appstatus")]
    for f in files:
        if f.suffix in (".zstd", ".lz4", ".snappy", ".gz"):
            raise ValueError(f"compressed event log {f}: "
                             "set spark.eventLog.compress=false")
        with f.open() as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a partly flushed last line
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                stages.setdefault(int(ev.get("Stage ID", -1)), []).append({
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return stages


def sum_tasks(tasks: list[dict]) -> dict:
    return {
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_s"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
    }


def plan_metrics(plan) -> list[tuple[str, dict]]:
    """(node name, non-zero SQL metrics) for every node of an executed
    physical plan, descending through AQE query stages."""
    out = []
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        it = node.metrics().iterator()
        vals = {}
        while it.hasNext():
            kv = it.next()
            v = kv._2().value()
            if v:
                vals[kv._1()] = v
        out.append((name, vals))
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage") and name != "TableCacheQueryStage":
            todo.append(node.plan())
        else:
            ch = node.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def cached_plan(spark, df):
    """The executed physical plan that materialized a persisted frame."""
    cd = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf)
    if not cd.isDefined():
        raise ValueError("frame is not cached")
    return cd.get().cachedRepresentation().cacheBuilder().cachedPlan()


def executed_plan(df):
    """The executed plan of a frame run through its own query execution
    (`collect` / `toPandas`)."""
    return df._jdf.queryExecution().executedPlan()

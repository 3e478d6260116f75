"""Spans, counters and layer probes for the traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around its calls into each
layer of the library; nothing inside the library is instrumented. Spans and
counters stay in memory and are written as JSON when the run ends, with each
span name's self time (its duration minus the part its child spans cover).

Layer probes read Spark's own numbers:

- Catalyst phases from ``queryExecution().tracker()``, read after forcing
  ``executedPlan()`` on the query's own DataFrame (``count()`` would plan a
  new Dataset whose tracker is not the query's);
- jobs and stages from the status store, filtered by the job group the
  benchmark set (or the streaming query's run id);
- Python-worker SQL metrics (``pythonTotalTime`` ...) from the
  ``*InPandas*`` / ``*Python*`` nodes of the executed plan; for a streaming
  query the plan of ``q._jsq.streamingQuery().lastExecution()``;
- micro-batch durations and state-store counters from ``recentProgress``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import resource
import statistics
import time
from collections import defaultdict

# Per-layer metric names. Batch layers are reported per query group
# (``cql.``, ``curation.``, ``backfill.``); streaming layers per part of the
# ``streaming`` workload (``replay.`` drains, ``alert.`` open loop).
LAYER_METRICS = [
    "siddhiql.parse_ms",
    "plans.build_ms", "plans.py4j_calls",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "jobs.jobs", "jobs.stages", "jobs.tasks", "jobs.executor_run_ms",
    "jobs.driver_gap_ms", "jobs.core_util", "jobs.shuffle_write_bytes",
    "jobs.shuffle_read_bytes",
    "operators.python_total_ms", "operators.python_init_ms",
    "operators.python_bytes_sent", "operators.python_bytes_received",
    "operators.python_rows_received",
]
STREAMING_METRICS = [
    "streaming.query_planning_ms", "streaming.batches", "streaming.rows_per_batch",
    "streaming.batch_ms_p50", "streaming.batch_ms_max", "streaming.offset_ms",
    "streaming.state_rows_total", "streaming.state_rows_updated",
    "streaming.state_bytes", "streaming.state_update_ms",
    "streaming.state_removal_ms", "streaming.state_commit_ms",
    "streaming.rows_dropped_by_watermark",
] + [m for m in LAYER_METRICS if m.startswith(("jobs.", "operators."))]
GROUPS = ("cql", "curation", "backfill")
PARTS = ("replay", "alert")
OTHER_METRICS = [
    "alert.streaming.backlog_files_max", "query_manager.add_ms", "gen.late_ms_max",
    "proc.peak_rss_mb", "trace.overhead", "replay.trace.overhead", "alert.trace.overhead",
    # the figures first proposed per workload, measured on untraced units
    "part.replay_eps", "part.backfill_eps", "part.backfill_unkeyed_eps",
    "part.alert_p50_ms", "part.alert_p99_ms", "part.alert_samples",
    "part.cql_pass_s", "part.curation_pass_s", "part.error_rate",
]
ALL_METRICS = (
    [f"{g}.{m}" for g in GROUPS for m in LAYER_METRICS]
    + [f"{p}.{m}" for p in PARTS for m in STREAMING_METRICS]
    + OTHER_METRICS
)
_PREFIXES = tuple(f"{x}." for x in GROUPS + PARTS)
_MAX = {"streaming.state_rows_total", "streaming.state_bytes", "proc.peak_rss_mb"}
# py4j calls are counted in one untimed build pass, so one sample is one unit
_MEAN = {"jobs.core_util", "streaming.batch_ms_p50", "streaming.rows_per_batch",
         "plans.py4j_calls"}
UNITS = (
    ("_ms", "ms"), ("bytes", "bytes"), ("_eps", "events/s"), ("_mb", "MB"),
    ("core_util", "fraction"), ("overhead", "fraction"), ("error_rate", "fraction"),
)


def unit_of(name: str) -> str:
    for part, unit in UNITS:
        if part in name:
            return unit
    return "s" if name.endswith("_s") else "count"


class Tracer:
    """Spans and counters of one run. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._trace_ids = itertools.count()
        self._groups = itertools.count()
        self.trace_id = 0

    def new_trace(self) -> None:
        """Start a new request: later spans share a new trace id."""
        if self.enabled:
            self.trace_id = next(self._trace_ids)

    def new_job_group(self) -> str:
        return f"perfbench-{next(self._groups)}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {"id": sid, "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        """Record one sample of counter ``name``."""
        if self.enabled:
            self.samples[name].append(float(value))

    def add_all(self, values: dict[str, float], prefix: str = "") -> None:
        for k, v in values.items():
            self.add(prefix + k, v)

    def self_times_ms(self) -> dict[str, float]:
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) * 1000 - child_ms[s["id"]]
        return dict(out)

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times_ms(),
                       "samples": self.samples, "metrics": metrics}, f)

    def aggregate(self, units: dict[str, int]) -> dict[str, float]:
        """Per-layer values: the maximum for ``*_max`` and the state-size
        gauges, the mean sample for ratios and per-batch figures, and for
        everything else the total divided by the traced units (cycles,
        passes or windows) of the metric's prefix in ``units``."""
        out = {}
        for name, xs in self.samples.items():
            prefix = name.split(".", 1)[0] + "." if name.startswith(_PREFIXES) else ""
            base = name[len(prefix):]
            if base in _MAX or base.endswith("_max"):
                out[name] = max(xs)
            elif base in _MEAN:
                out[name] = statistics.fmean(xs)
            else:
                out[name] = sum(xs) / units.get(prefix, 1)
        return out


# ------------------------------------------------------------------ py4j calls

@contextlib.contextmanager
def count_py4j(spark, tracer: Tracer, name: str):
    """Count py4j round trips made inside the block. Wraps the gateway
    client's ``send_command``; use only in an untimed pass."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return original(*args, **kwargs)

    client.send_command = counting
    try:
        yield
    finally:
        del client.send_command
        tracer.add(name, calls[0])


@contextlib.contextmanager
def time_calls(module, attr: str, tracer: Tracer, name: str):
    """Add the wall time of every call to ``module.attr`` made inside the
    block to counter ``name`` (ms)."""
    original = getattr(module, attr)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            tracer.add(name, (time.perf_counter() - t0) * 1000)

    setattr(module, attr, timed)
    try:
        yield
    finally:
        setattr(module, attr, original)


# -------------------------------------------------------------------- catalyst

def catalyst_phases(jdf) -> dict[str, float]:
    qe = jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"catalyst.{ph}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -------------------------------------------------------------- plan + python

_PY_KEYS = {
    "pythonTotalTime": "operators.python_total_ms",
    "pythonInitTime": "operators.python_init_ms",
    "pythonDataSent": "operators.python_bytes_sent",
    "pythonDataReceived": "operators.python_bytes_received",
    "pythonNumRowsReceived": "operators.python_rows_received",
}


def plan_nodes(jplan) -> list:
    """Every physical node of an executed plan, looking through adaptive
    execution, query stages and reused exchanges."""
    out, todo = [], [jplan]
    while todo:
        p = todo.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if kind == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        out.append(p)
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def python_metrics(jplan) -> dict[str, float]:
    out = {v: 0.0 for v in _PY_KEYS.values()}
    for node in plan_nodes(jplan):
        kind = node.getClass().getSimpleName()
        if "Python" not in kind and "Pandas" not in kind and "Arrow" not in kind:
            continue
        metrics = node.metrics()
        for key, name in _PY_KEYS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[name] += float(m.get().value())
    return out


# ---------------------------------------------------------------- jobs/stages

def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def job_metrics(spark, group: str, wall_s: float, t_start_ms: float,
                t_end_ms: float) -> dict[str, float]:
    """Jobs and stages run under job group ``group`` (a streaming query's
    jobs carry its run id as group) whose stages were submitted between
    ``t_start_ms`` and ``t_end_ms`` (epoch ms)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        sub = _ms(j.submissionTime())
        if g.isDefined() and g.get() == group and sub is not None \
                and t_start_ms - 5 <= sub <= t_end_ms:
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    run_ms = write_b = read_b = tasks = n_stages = 0.0
    spans = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if int(s.stageId()) not in stage_ids or s.status().toString() != "COMPLETE":
            continue
        a, b = _ms(s.submissionTime()), _ms(s.completionTime())
        if a is None or b is None or a < t_start_ms - 5 or a > t_end_ms:
            continue
        n_stages += 1
        tasks += s.numCompleteTasks()
        run_ms += s.executorRunTime()
        write_b += s.shuffleWriteBytes()
        read_b += s.shuffleReadBytes()
        spans.append((a, min(b, t_end_ms)))
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    wall_ms = wall_s * 1000
    return {
        "jobs.jobs": n_jobs, "jobs.stages": n_stages, "jobs.tasks": tasks,
        "jobs.executor_run_ms": run_ms,
        "jobs.driver_gap_ms": max(0.0, wall_ms - busy),
        "jobs.core_util": run_ms / (wall_ms * len(os.sched_getaffinity(0))) if wall_ms else 0.0,
        "jobs.shuffle_write_bytes": write_b, "jobs.shuffle_read_bytes": read_b,
    }


@contextlib.contextmanager
def job_window(spark, tracer: Tracer, prefix: str = ""):
    """Run the block under a fresh job group and, when tracing, add its jobs
    and stages to the tracer's counters."""
    if not tracer.enabled:
        yield
        return
    group = tracer.new_job_group()
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.time()
    try:
        yield
    finally:
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.add_all(job_metrics(spark, group, t1 - t0, t0 * 1000, t1 * 1000), prefix)



# ------------------------------------------------------------------- streaming

def progress(jsq) -> list[dict]:
    return [json.loads(p.json()) for p in jsq.recentProgress()]


def streaming_metrics(batches: list[dict]) -> dict[str, float]:
    """Condense ``recentProgress`` entries (data and no-data batches)."""
    dur = [b.get("durationMs", {}) for b in batches]
    trig = [d.get("triggerExecution", 0) for d in dur]
    rows = [b.get("numInputRows", 0) for b in batches]
    ops = [op for b in batches for op in b.get("stateOperators", [])]
    last_ops = batches[-1].get("stateOperators", []) if batches else []
    return {
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": statistics.fmean(rows) if rows else 0.0,
        "streaming.batch_ms_p50": statistics.median(trig) if trig else 0.0,
        "streaming.batch_ms_max": max(trig) if trig else 0.0,
        "streaming.offset_ms": sum(d.get("latestOffset", 0) + d.get("getBatch", 0)
                                   + d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                   for d in dur),
        "streaming.state_rows_total": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "streaming.state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "streaming.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
        "streaming.state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        "streaming.state_removal_ms": sum(o.get("allRemovalsTimeMs", 0) for o in ops),
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "streaming.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def last_execution_python(jsq) -> dict[str, float]:
    """Python metrics of the streaming query's last micro-batch."""
    ex = jsq.streamingQuery().lastExecution()
    if ex is None:
        return {v: 0.0 for v in _PY_KEYS.values()}
    return python_metrics(ex.executedPlan())


# --------------------------------------------------------------------- process

def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the Spark driver JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024
        except OSError:
            pass
    return mb

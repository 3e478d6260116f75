"""Event-to-alert latency of a streaming pattern fed by an open loop well
below capacity.

The feeder (``gen.py``) is a separate one-thread process that writes a
small parquet file every 100 ms, 1,000 events/s in all, keyed like the
replay history, each event stamped with its creation time. The keyed
followed_by plan is added through ``QueryManager`` by a
``MetadataControlEvent`` and runs with Spark's default back-to-back trigger
into a ``foreachBatch`` sink that collects each batch's alerts and stamps
their completion. An alert's latency is its completion time minus the
creation stamp of its purchase event. At this rate fixed costs per
micro-batch and per task set the latency; per-event cost matters much less.
"""

from __future__ import annotations

import json
import os
from datetime import datetime
import subprocess
import sys
import time

import gen
import reference
import tracing
from common import clean, log
from replay import FIELDS, SIZES, check, keyed

RATE = 1000
PERIOD_MS = 100
N_USERS = SIZES[1]  # the replay history's key space
WARMUP_S = 3
DRAIN_TIMEOUT_S = 30
PLAN = keyed(
    "from every e=events[event_type == 'error'] -> "
    "p=events[event_type == 'purchase'] within 1 min "
    "select e.user_id as user_id, e.event_id as error_id, "
    "p.event_id as purchase_id, p.ts as purchase_ts insert into Out;"
)
QUERY_ID = "alerts"


class AlertLatency:
    def __init__(self, work: str, seed: int, tracer: tracing.Tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.feed_dir = os.path.join(work, "feed")
        self.alerts: list[tuple] = []
        self.trace_from_ms = float("inf")

    # ------------------------------------------------------------------ setup
    def setup(self, spark) -> None:
        from flink_siddhi_spark import SiddhiCEP
        from flink_siddhi_spark.streaming.control import MetadataControlEvent
        from flink_siddhi_spark.streaming.query_manager import QueryManager

        clean(self.feed_dir)
        clean(os.path.join(self.work, "ck"))
        os.makedirs(self.feed_dir)
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        stream = spark.readStream.schema(gen.EVENTS_DDL).parquet(self.feed_dir)
        cep = SiddhiCEP(spark)
        cep.register_stream("events", stream, *FIELDS, ts_field="ts")
        self.spark = spark
        self.qm = QueryManager(
            lambda text: cep.from_("events").cql(text).returns("Out"),
            self.sink, os.path.join(self.work, "ck"),
        )
        t0 = time.perf_counter()
        self.qm.on_control_event(MetadataControlEvent({QUERY_ID: PLAN}))
        self.add_ms = (time.perf_counter() - t0) * 1000

    def sink(self, query_id: str, df):
        from flink_siddhi_spark.sources.streams import apply_state_retention_default

        apply_state_retention_default(df.sparkSession)
        return (df.writeStream.foreachBatch(self.on_batch)
                .option("checkpointLocation", self.qm.checkpoint_dir(query_id))
                .start())

    def on_batch(self, batch_df, batch_id: int) -> None:
        traced = time.time() * 1000 >= self.trace_from_ms
        tracer = self.tracer if traced else _QUIET
        tracer.new_trace()
        with tracer.span("sink.batch", batch=batch_id):
            rows = batch_df.collect()
            done = time.time() * 1000
            self.alerts.extend((r.user_id, r.error_id, r.purchase_id, r.purchase_ts, done)
                               for r in rows)
            if traced:
                jsq = self.qm.queries[QUERY_ID].query_handle._jsq
                self.tracer.add_all(tracing.last_execution_python(jsq), "alert.")

    def teardown(self) -> None:
        self.qm.stop_all()

    # ---------------------------------------------------------------- measure
    def measure(self, seconds: float) -> dict:
        """Feed for ``WARMUP_S`` + ``seconds``, wait until every fed event
        went through a micro-batch, stop the plan and check every alert.
        Latencies are those of purchases created in the last ``seconds``."""
        stats_path = os.path.join(self.work, "feed-stats.json")
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             "--dir", self.feed_dir, "--rate", str(RATE),
             "--seconds", f"{WARMUP_S + seconds:.3f}", "--seed", str(self.seed),
             "--period-ms", str(PERIOD_MS), "--users", str(N_USERS), "--stats", stats_path],
        )
        t_start_ms = time.time() * 1000
        m0 = t_start_ms + WARMUP_S * 1000
        m1 = m0 + seconds * 1000
        if self.tracer.enabled:
            self.trace_from_ms = (m0 + m1) / 2
        try:
            feeder.wait(timeout=WARMUP_S + seconds + 60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        with open(stats_path) as f:
            feed = json.load(f)
        handle = self.qm.queries[QUERY_ID].query_handle
        deadline = time.time() + DRAIN_TIMEOUT_S
        batches = tracing.progress(handle._jsq)
        while sum(b["numInputRows"] for b in batches) < feed["events"] \
                and time.time() < deadline:
            time.sleep(0.2)
            batches = tracing.progress(handle._jsq)
        drained = sum(b["numInputRows"] for b in batches) >= feed["events"]
        in_window = tracing.streaming_metrics([b for b in batches if m0 <= _start_ms(b) < m1])
        log(f"{in_window['streaming.batches']:.0f} micro-batches in the window, "
            f"median {in_window['streaming.batch_ms_p50']:.0f} ms; ms by batch: "
            + " ".join(str(b["durationMs"].get("triggerExecution", 0)) for b in batches))
        if self.tracer.enabled:
            p = "alert."
            self.tracer.add("query_manager.add_ms", self.add_ms)
            self.tracer.add("gen.late_ms_max", feed["late_ms_max"])
            traced = [b for b in batches if _start_ms(b) >= self.trace_from_ms]
            self.tracer.add_all(tracing.streaming_metrics(traced), p)
            self.tracer.add(p + "streaming.backlog_files_max",
                            backlog_files_max(traced, batches, feed, t_start_ms))
            self.tracer.add_all(tracing.job_metrics(
                self.spark, handle.runId, (m1 - self.trace_from_ms) / 1000,
                self.trace_from_ms, m1), p)
        self.qm.stop_all()

        # untimed check of every alert against the reference over all fed events
        con = reference.events_connection(os.path.join(self.feed_dir, "*.parquet"))
        want = reference.followed_by(con)
        con.close()
        got = [a[:3] for a in self.alerts]
        res = check(got, want, "alerts")
        errors = [e for e in (res.error, None if drained else "alerts: not drained") if e]
        return {
            "latency_ms": self.latencies(m0, m1),
            "window": (m0, m1), "late_ms_max": feed["late_ms_max"],
            "attempted": res.attempted + (0 if drained else 1),
            "failed": res.failed + (0 if drained else 1), "errors": errors,
        }

    def latencies(self, lo_ms: float, hi_ms: float) -> list[float]:
        """Latency of each alert whose purchase was created in [lo, hi)."""
        return [done - ts for (_, _, _, ts, done) in self.alerts if lo_ms <= ts < hi_ms]


_QUIET = tracing.Tracer(False)


def _start_ms(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp() * 1000


def backlog_files_max(batches: list[dict], all_batches: list[dict], feed: dict,
                      t0_ms: float) -> float:
    """Most feeder files due but not yet read when a micro-batch started."""
    per_file = feed["events"] / feed["files"]
    consumed, worst = 0.0, 0.0
    for b in all_batches:
        if b in batches:
            due = min(feed["files"], (_start_ms(b) - t0_ms) // feed["period_ms"] + 1)
            worst = max(worst, due - consumed / per_file)
        consumed += b["numInputRows"]
    return worst



"""Replay of a seeded Zipf-keyed event history through the partitioned CQL
patterns, as streaming ``availableNow`` drains.

One cycle drains the whole history twice, from a fresh checkpoint each
time: once through the followed_by plan and once through the absence plan,
each through a ``foreachBatch`` sink that appends the batch to parquet.
Per-key pattern state and the Python kernels do almost all the work; the
driver does almost none. Each drain's output is checked, untimed, against
the DuckDB references, row by row.
"""

from __future__ import annotations

import os
import threading
import time
from typing import NamedTuple

import gen
import reference
import tracing
from common import clean

# (events, users, files): the 1M events over 20k users first proposed,
# scaled down to fit a run with the events-per-user ratio (50) kept
SIZES = (20_000, 400, 8)
WATERMARK_DELAY_MS = 10_000
DRAIN_TIMEOUT_S = 120
FIELDS = ("event_id", "ts", "user_id", "event_type", "value")

_HEAD = "from every e=events[event_type == 'error'] -> "
FOLLOWED_BY = (
    _HEAD + "p=events[event_type == 'purchase'] within 1 min "
    "select e.user_id as user_id, e.event_id as error_id, p.event_id as purchase_id "
    "insert into Out;"
)
ABSENCE = (
    _HEAD + "not events[event_type == 'purchase'] for 1 min "
    "select e.user_id as user_id, e.event_id as error_id insert into Out;"
)


def keyed(plan: str) -> str:
    return f"partition with (user_id of events) begin {plan} end"


class Outcome(NamedTuple):
    """A checked output: rows attempted (expected plus extra), rows failed
    (missing plus extra) and, when any failed, why."""
    attempted: int
    failed: int
    error: str | None = None


def check(got: list[tuple], want: set, what: str) -> Outcome:
    missing, extra = reference.row_set_diff(got, want)
    err = f"{what}: {missing} missing, {extra} extra of {len(want)}" if missing or extra else None
    return Outcome(max(1, len(want) + extra), missing + extra, err)


class Replay:
    def __init__(self, work: str, seed: int, tracer: tracing.Tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_events, self.n_users, self.n_files = SIZES
        self.hist_dir = os.path.join(work, "history")
        self.runs = 0

    def setup(self, spark) -> None:
        """Write the history and build both streaming plans over it."""
        from flink_siddhi_spark import SiddhiCEP

        clean(self.hist_dir)
        table = gen.event_history(self.seed, self.n_events, self.n_users)
        gen.write_files(table, self.hist_dir, self.n_files)
        self.max_ts = int(table.column("ts").to_numpy().max())
        cep = SiddhiCEP(spark)
        stream = spark.readStream.schema(gen.EVENTS_DDL).parquet(self.hist_dir)
        cep.register_stream("events", stream, *FIELDS, ts_field="ts")
        self.plans = {
            "followed_by": cep.from_("events").cql(keyed(FOLLOWED_BY)).returns("Out"),
            "absence": cep.from_("events").cql(keyed(ABSENCE)).returns("Out"),
        }
        self.spark = spark

    def references(self) -> None:
        """Expected outputs (untimed). A drain's final watermark is the
        largest event time less the watermark delay."""
        con = reference.events_connection(os.path.join(self.hist_dir, "*.parquet"))
        self.expected = {
            "followed_by": (reference.followed_by(con), "user_id, error_id, purchase_id"),
            "absence": (reference.absence(con, self.max_ts - WATERMARK_DELAY_MS),
                        "user_id, error_id"),
        }
        con.close()

    def drain(self, name: str) -> tuple[float, Outcome]:
        """Drain the history through plan ``name``: (wall seconds, outcome).
        A traced drain sums the Python metrics of every micro-batch, read in
        the sink while ``lastExecution()`` is that batch's execution."""
        self.runs += 1
        out = os.path.join(self.work, "out", f"{name}-{self.runs}")
        started, handle = threading.Event(), []
        python: dict[str, float] = {}

        def sink(batch_df, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)
            if self.tracer.enabled:
                started.wait()
                for k, v in tracing.last_execution_python(handle[0]._jsq).items():
                    python[k] = python.get(k, 0.0) + v

        self.tracer.new_trace()
        t0 = time.perf_counter()
        with self.tracer.span(f"drain.{name}"):
            q = (self.plans[name].writeStream.foreachBatch(sink)
                 .option("checkpointLocation", out + ".ck")
                 .trigger(availableNow=True).start())
            handle.append(q)
            started.set()
            try:
                failure = None if q.awaitTermination(DRAIN_TIMEOUT_S) else "timed out"
            except Exception as e:  # a drain that raised counts as failed
                failure = f"raised {type(e).__name__}: {str(e)[:200]}"
        wall = time.perf_counter() - t0
        want, columns = self.expected[name]
        if failure:
            q.stop()
            clean(os.path.join(self.work, "out"))
            return wall, Outcome(max(1, len(want)), max(1, len(want)), f"{name}: {failure}")
        if self.tracer.enabled:
            p = "replay."
            self.tracer.add_all(tracing.streaming_metrics(tracing.progress(q._jsq)), p)
            self.tracer.add_all(python, p)
            t = time.time() * 1000
            self.tracer.add_all(
                tracing.job_metrics(self.spark, q.runId, wall, t - wall * 1000, t), p)
        got = reference.output_rows(os.path.join(out, "*.parquet"), columns)
        clean(os.path.join(self.work, "out"))
        return wall, check(got, want, name)

    def cycle(self) -> dict[str, tuple[float, Outcome]]:
        return {name: self.drain(name) for name in self.plans}

#!/usr/bin/env python3
"""Streaming 100x probe wave (round-7 VERDICT ask #5): sustained drain of
10M events — with a HOT KEY taking ~10% of the stream — through the three
heaviest stateful paths: the partitioned CQL pattern NFA, the funnel twin,
and the attribution twin. The batch 100x wave found containment's
quadratic; this is the streaming analogue: it validates state-store
behavior (peak state rows, per-batch latency, ev/s) at 100x the bench
volume under key skew.

Usage: python scripts/probe_streaming_100x.py [n_events] [n_batches] [cells]
``cells`` is a comma-separated list of drain tags to run (e.g.
``funnel_stream_bucketed,attribution_stream_bucketed``); the others are
reported as skipped. Writes one JSON line per op; summarize into SCALE.md
§streaming-at-100x.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 4
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None


def _gen(spark, root: str) -> str:
    """10M synthetic events, ts-ordered at 10ms steps (~28h span), user_id
    skewed: every 10th event lands on user 1 (the hot key, ~1M events);
    the rest spread over 100k users. Each user's event type cycles with
    the 100k-id block so every op has matches: view/click/purchase feed
    the funnel + attribution + NFA(error->purchase); errors at 5%."""
    src = os.path.join(root, "in")
    # a user's events are 100k ids apart, so the event type follows the
    # 100k-id block: each user walks view -> click -> purchase -> view ...
    # (a type from the id itself would repeat for every user, as 100k is a
    # multiple of the type cycle)
    block = F.floor(F.col("id") / 100_000)
    per = N_EVENTS // N_BATCHES
    for b in range(N_BATCHES):
        df = (
            spark.range(b * per, (b + 1) * per)
            .select(
                F.col("id").alias("event_id"),
                F.when(F.col("id") % 10 == 0, F.lit(1))
                .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
                F.when(block % 20 == 19, F.lit("error"))
                .when(block % 5 == 0, F.lit("view"))
                .when(block % 5 == 1, F.lit("click"))
                .when(block % 5 == 2, F.lit("purchase"))
                .otherwise(F.lit("view")).alias("event_type"),
                (F.col("id") % 97).cast("double").alias("value"),
                (F.lit(1_700_000_000_000) + F.col("id") * 10).alias("ts_ms"),
            )
            .withColumn(
                "ts", F.timestamp_millis(F.col("ts_ms"))
            )
        )
        df.coalesce(8).write.mode("append").parquet(src)
    return src


def _drain(plan_df, root: str, tag: str, n: int) -> dict:
    if ONLY is not None and tag not in ONLY:
        return {"skipped": True}
    t0 = time.time()
    q = (
        plan_df.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(root, f"ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    dt = time.time() - t0
    peak_state, batches, out_rows = 0, 0, 0
    for p in q.recentProgress:
        batches += 1
        out_rows += p.get("sink", {}).get("numOutputRows", 0) or 0
        for so in p.get("stateOperators", []):
            peak_state = max(peak_state, so.get("numRowsTotal", 0))
    return {
        "sec": round(dt, 2),
        "events_per_sec": int(n / dt),
        "peak_state_rows": peak_state,
        "micro_batches": batches,
        "sink_rows": out_rows,
    }


def main() -> int:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("streaming-100x-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from flink_siddhi_spark import SiddhiCEP
    from flink_siddhi_spark.analytics import attribution_stream, funnel_stream

    root = tempfile.mkdtemp(prefix="stream100x_")
    out: dict = {"n_events": N_EVENTS, "hot_key_share": 0.1}
    try:
        src = _gen(spark, root)
        schema = spark.read.parquet(src).schema
        files_per_trigger = max(
            1, (N_BATCHES * 8) // N_BATCHES
        )  # 8 files per generated wave -> one wave per micro-batch

        def stream():
            return (
                spark.readStream.format("parquet").schema(schema)
                .option("maxFilesPerTrigger", str(files_per_trigger))
                .load(src)
            )

        # 1. partitioned CQL pattern NFA (every error -> purchase within 1h)
        cep = SiddhiCEP(spark)
        cep.register_stream(
            "events", stream(), "event_id", "user_id", "event_type",
            "value", "ts_ms", ts_field="ts_ms",
        )
        nfa = cep.from_("events").cql(
            "partition with (user_id of events) begin "
            "from every e = events[event_type == 'error'] "
            "  -> p = events[event_type == 'purchase'] within 1 hour "
            "select e.user_id as user_id, p.event_id as purchase_id "
            "insert into Out; end"
        ).returns("Out")
        out["cep_pattern_nfa"] = _drain(nfa, root, "nfa", N_EVENTS)
        print(json.dumps({"cep_pattern_nfa": out["cep_pattern_nfa"]}),
              file=sys.stderr)

        # 1b. absence pattern (round-8 numpy kernel + absence-aware
        # watermark eviction: every error -> not purchase for 5 min)
        cep_a = SiddhiCEP(spark)
        cep_a.register_stream(
            "events", stream(), "event_id", "user_id", "event_type",
            "value", "ts_ms", ts_field="ts_ms",
        )
        absn = cep_a.from_("events").cql(
            "partition with (user_id of events) begin "
            "from every e = events[event_type == 'error'] "
            "  -> not events[event_type == 'purchase'] for 5 min "
            "select e.user_id as user_id, e.event_id as error_id "
            "insert into Out; end"
        ).returns("Out")
        out["cep_pattern_absence"] = _drain(absn, root, "absn", N_EVENTS)
        print(json.dumps({"cep_pattern_absence": out["cep_pattern_absence"]}),
              file=sys.stderr)

        # 1c. 3-step chain kernel (late round 8: view -> click -> purchase
        # within 1h as a CQL pattern, run_kernel_chain)
        cep_c = SiddhiCEP(spark)
        cep_c.register_stream(
            "events", stream(), "event_id", "user_id", "event_type",
            "value", "ts_ms", ts_field="ts_ms",
        )
        chn = cep_c.from_("events").cql(
            "partition with (user_id of events) begin "
            "from every v = events[event_type == 'view'] "
            "  -> k = events[event_type == 'click'] "
            "  -> p = events[event_type == 'purchase'] within 1 hour "
            "select v.user_id as user_id, p.event_id as purchase_id "
            "insert into Out; end"
        ).returns("Out")
        out["cep_pattern_chain3"] = _drain(chn, root, "chn3", N_EVENTS)
        print(json.dumps({"cep_pattern_chain3": out["cep_pattern_chain3"]}),
              file=sys.stderr)

        # 1d. chain-absence kernel (late round 8: funnel abandonment —
        # view -> click -> not purchase for 5 min, run_kernel_chain_absence)
        cep_ca = SiddhiCEP(spark)
        cep_ca.register_stream(
            "events", stream(), "event_id", "user_id", "event_type",
            "value", "ts_ms", ts_field="ts_ms",
        )
        chab = cep_ca.from_("events").cql(
            "partition with (user_id of events) begin "
            "from every v = events[event_type == 'view'] "
            "  -> k = events[event_type == 'click'] "
            "  -> not events[event_type == 'purchase'] for 5 min "
            "within 1 hour "
            "select v.user_id as user_id, k.event_id as click_id "
            "insert into Out; end"
        ).returns("Out")
        out["cep_pattern_chain_absence"] = _drain(chab, root, "chab", N_EVENTS)
        print(json.dumps(
            {"cep_pattern_chain_absence": out["cep_pattern_chain_absence"]}
        ), file=sys.stderr)

        # 2. funnel twin (view -> click -> purchase within 1h)
        fun = funnel_stream(
            stream(), ("view", "click", "purchase"),
            within_ms=3_600_000, watermark="10 seconds",
        )
        out["funnel_stream"] = _drain(fun, root, "funnel", N_EVENTS)
        print(json.dumps({"funnel_stream": out["funnel_stream"]}),
              file=sys.stderr)

        # 3. attribution twin (view/click touches -> purchase conversions)
        att = attribution_stream(
            stream(), touch_types=("view", "click"),
            conversion_type="purchase", horizon_ms=3_600_000,
            watermark="10 seconds",
        )
        out["attribution_stream"] = _drain(att, root, "attr", N_EVENTS)
        print(json.dumps({"attribution_stream": out["attribution_stream"]}),
              file=sys.stderr)

        # 4. round-9 bucketed twin configs (key_buckets=1024): same
        # semantics, per-key-visit machinery paid per BUCKET
        from flink_siddhi_spark.analytics import transitions_stream

        bucketed = {
            "funnel_stream_bucketed": lambda: funnel_stream(
                stream(), ("view", "click", "purchase"),
                within_ms=3_600_000, watermark="10 seconds",
                key_buckets=1024,
            ),
            "attribution_stream_bucketed": lambda: attribution_stream(
                stream(), touch_types=("view", "click"),
                conversion_type="purchase", horizon_ms=3_600_000,
                watermark="10 seconds", key_buckets=1024,
            ),
            "transitions_stream_bucketed": lambda: transitions_stream(
                stream(), watermark="10 seconds", key_buckets=1024,
            ),
        }
        for tag, build in bucketed.items():
            out[tag] = _drain(build(), root, tag, N_EVENTS)
            print(json.dumps({tag: out[tag]}), file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

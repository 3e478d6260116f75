#!/usr/bin/env python3
"""Round-9 probe (VERDICT r8 ask #1): the 10M chain3 drain measured across
the two amortization levers — micro-batch (trigger) sizing and bucketed key
grouping — on the same hot-key generator as probe_streaming_100x.py.

Matrix: {4 micro-batches, 1 micro-batch} x {per-key, pattern_key_buckets=N}.
The r8 baseline is 86.3k ev/s (4 batches, per-key); the r8 validation run
showed 164.9k in ONE batch. Target: >=130k ev/s through a documented
configuration.

Usage: python scripts/probe_chain3_r9.py [n_events] [buckets]
Prints one JSON line; summarize into SCALE.md §Round-9.
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
BUCKETS = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
N_WAVES = 4  # generator waves = max micro-batch count

CHAIN3_CQL = (
    "partition with (user_id of events) begin "
    "from every v = events[event_type == 'view'] "
    "  -> k = events[event_type == 'click'] "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select v.user_id as user_id, p.event_id as purchase_id "
    "insert into Out; end"
)

ABSENCE_CQL = (
    "partition with (user_id of events) begin "
    "from every e = events[event_type == 'error'] "
    "  -> not events[event_type == 'purchase'] for 5 min "
    "select e.user_id as user_id, e.event_id as error_id "
    "insert into Out; end"
)

# quantified pattern -> the GENERAL per-row NFA (no kernel classifies it).
# Anchored on errors (5% of the stream, same arming density as the absence
# probe) — the general NFA iterates partials per row, so arming density is
# its scale axis; an all-views quantifier on the hot key (every hot event
# arming) is documented as out of the row-loop's envelope (SCALE.md §R9).
# A user's error and its next purchase are 3,000 s apart (hot key:
# 2,000.1 s), so the window is 1 hour: a shorter one never matches.
QUANT_CQL = (
    "partition with (user_id of events) begin "
    "from every a = events[event_type == 'error']<1:2> "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select a[0].user_id as user_id, p.event_id as purchase_id "
    "insert into Out; end"
)


def _gen(spark, root: str) -> str:
    """Same generator as probe_streaming_100x: ts-ordered 10ms steps, hot
    key user 1 at ~10%, rest over 100k users, each user's type cycling
    with the 100k-id block so the chain has arms at every stage."""
    src = os.path.join(root, "in")
    # a user's events are 100k ids apart, so the event type follows the
    # 100k-id block: each user walks view -> click -> purchase -> view ...
    # (a type from the id itself would repeat for every user, as 100k is a
    # multiple of the type cycle)
    block = F.floor(F.col("id") / 100_000)
    per = N_EVENTS // N_WAVES
    for b in range(N_WAVES):
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
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        df.coalesce(8).write.mode("append").parquet(src)
    return src


def _run(spark, src, schema, root, tag, files_per_trigger, buckets,
         cql=CHAIN3_CQL):
    from flink_siddhi_spark import SiddhiCEP

    reader = spark.readStream.format("parquet").schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    cep = SiddhiCEP(spark, pattern_key_buckets=buckets)
    cep.register_stream(
        "events", reader.load(src), "event_id", "user_id", "event_type",
        "value", "ts_ms", ts_field="ts_ms",
    )
    plan = cep.from_("events").cql(cql).returns("Out")
    t0 = time.time()
    q = (
        plan.writeStream.format("noop")
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
    if out_rows == 0:
        # a pattern that never completes drains fast and measures nothing
        raise RuntimeError(
            f"cell {tag}: the query emitted no rows in {batches} "
            "micro-batches — its drain time is not a throughput number"
        )
    return {
        "sec": round(dt, 2),
        "events_per_sec": int(N_EVENTS / dt),
        "peak_state_rows": peak_state,
        "micro_batches": batches,
        "sink_rows": out_rows,
    }


def main() -> int:
    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("chain3-r9-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="chain3r9_")
    out: dict = {"n_events": N_EVENTS, "buckets": BUCKETS}
    try:
        src = _gen(spark, root)
        schema = spark.read.parquet(src).schema
        cells = [
            ("perkey_4batch", 8, None, CHAIN3_CQL),
            ("perkey_1batch", None, None, CHAIN3_CQL),
            (f"bucket{BUCKETS}_4batch", 8, BUCKETS, CHAIN3_CQL),
            (f"bucket{BUCKETS}_1batch", None, BUCKETS, CHAIN3_CQL),
            # VERDICT r8 ask #5: the general-NFA path (quantified pattern)
            # must hold >=100k ev/s on the hot-key generator
            ("quant_perkey_4batch", 8, None, QUANT_CQL),
            (f"quant_bucket{BUCKETS}_4batch", 8, BUCKETS, QUANT_CQL),
            # round 10: 1-batch rows separate the per-key-visit floor from
            # kernel compute (the quant kernel replaced the general NFA)
            ("quant_perkey_1batch", None, None, QUANT_CQL),
            (f"quant_bucket{BUCKETS}_1batch", None, BUCKETS, QUANT_CQL),
            # absence kernel under the same matrix (fresh-session rows)
            ("absence_perkey_4batch", 8, None, ABSENCE_CQL),
            (f"absence_bucket{BUCKETS}_4batch", 8, BUCKETS, ABSENCE_CQL),
        ]
        only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
        for tag, fpt, bk, cql in cells:
            if only and tag not in only:
                continue
            out[tag] = _run(spark, src, schema, root, tag, fpt, bk, cql)
            print(json.dumps({tag: out[tag]}), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

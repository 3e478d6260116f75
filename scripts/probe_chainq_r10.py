#!/usr/bin/env python3
"""Late-round-10 probe: 10M hot-key drain for the quant chain kernel
(``run_kernel_chain_quants`` on ``every a -> b<1:2> -> c within t``), the
shape that ran the general per-row NFA before the kernel landed.

Same hot-key generator as probe_chain3_r9.py (user 1 at ~10%, 100k users,
ts-ordered 10ms steps, 4 waves); error-anchored arming (5% of the stream)
for comparability with that probe's quantified 2-step cells.

Usage: python scripts/probe_chainq_r10.py [n_events] [buckets] [cells,csv]
Cells: perkey_4batch, bucket{N}_4batch. One JSON line; summarize into
SCALE.md.
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
N_WAVES = 4

CHAINQ_CQL = (
    "partition with (user_id of events) begin "
    "from every a = events[event_type == 'error'] "
    "  -> b = events[event_type == 'click']<1:2> "
    "  -> p = events[event_type == 'purchase'] within 10 min "
    "select a.user_id as user_id, b[0].event_id as click1, "
    "p.event_id as purchase_id "
    "insert into Out; end"
)

# hot-ARMING variant: the quantified first stage anchors on views, so the
# hot key (all views) arms a partial at EVERY event — the arming-density
# regime SCALE.md §Round-9 documented as outside the per-row loop's
# envelope (O(rows x partials) per visit; structurally infeasible at 10%
# hot share). The kernel's boundary race is O(partials) searchsorteds.
CHAINQ_HOT_CQL = (
    "partition with (user_id of events) begin "
    "from every a = events[event_type == 'view']<1:2> "
    "  -> k = events[event_type == 'click'] "
    "  -> p = events[event_type == 'purchase'] within 10 min "
    "select a[0].user_id as user_id, p.event_id as purchase_id "
    "insert into Out; end"
)


def _gen(spark, root: str) -> str:
    src = os.path.join(root, "in")
    per = N_EVENTS // N_WAVES
    for b in range(N_WAVES):
        df = (
            spark.range(b * per, (b + 1) * per)
            .select(
                F.col("id").alias("event_id"),
                F.when(F.col("id") % 10 == 0, F.lit(1))
                .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
                F.when(F.col("id") % 20 == 19, F.lit("error"))
                .when(F.col("id") % 5 == 0, F.lit("view"))
                .when(F.col("id") % 5 == 1, F.lit("click"))
                .when(F.col("id") % 5 == 2, F.lit("purchase"))
                .otherwise(F.lit("view")).alias("event_type"),
                (F.col("id") % 97).cast("double").alias("value"),
                (F.lit(1_700_000_000_000) + F.col("id") * 10).alias("ts_ms"),
            )
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        df.coalesce(8).write.mode("append").parquet(src)
    return src


def _run(spark, src, schema, root, tag, files_per_trigger, buckets,
         cql=CHAINQ_CQL):
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
        .appName("chainq-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="chainq_")
    out: dict = {"n_events": N_EVENTS, "buckets": BUCKETS}
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    try:
        src = _gen(spark, root)
        schema = spark.read.parquet(src).schema
        cells = [
            ("perkey_4batch", 8, None, CHAINQ_CQL),
            (f"bucket{BUCKETS}_4batch", 8, BUCKETS, CHAINQ_CQL),
            ("hot_perkey_4batch", 8, None, CHAINQ_HOT_CQL),
            (f"hot_bucket{BUCKETS}_4batch", 8, BUCKETS, CHAINQ_HOT_CQL),
        ]
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
    sys.exit(main())

#!/usr/bin/env python3
"""Hot-key streaming drain probe: every keyed stateful streaming operator,
per key and with bucketed key grouping, on one synthetic generator.

The generator writes ``--events`` ts-ordered events at 10 ms steps in 4
waves of 8 parquet files: every 10th event lands on user 1 (the hot key,
~10% of the stream), the rest spread over 100k users. A user's events are
100k ids apart, so the event type follows the 100k-id block and each user
walks view -> click -> purchase -> view ...; block 19 of every 20 is all
errors. The error-anchored cells (``nfa``, ``absence``, ``quant``,
``chainq``) need >= 2.3M events to match at all (the first error block is
ids 1.9M-2M, its purchases come 3 blocks later). ``retention`` reads the
same events at 300 ms steps (~35 days at 10M events) and ``asof`` joins a
300k-row right feed of price updates.

A cell is ``<operator>_<perkey|bucket>_<4batch|1batch>``: per key or with
``--buckets`` hash buckets (``pattern_key_buckets``, ``key_buckets``,
``window_key_buckets``), and 4 micro-batches (``maxFilesPerTrigger=8``)
or the whole history in one. Each cell drains into a ``noop`` sink with
``trigger(availableNow=True)`` and reports wall seconds, events/s, peak
state rows, micro-batches and sink rows. A cell whose query emits no rows
reports an error instead of a throughput (a pattern that never completes
drains fast and measures nothing) and the script exits 1.

Usage:
    python scripts/probe_streaming.py [--events N] [--buckets B]
        [--cells c1,c2,...] [--driver-memory 24g]
    python scripts/probe_streaming.py --list
Prints one JSON line per cell on stderr and the whole result on stdout.
Runs ``local[$SPARK_GRAFT_CPUS]`` (default 32).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_WAVES = 4  # generator waves = micro-batches of a 4batch cell
RIGHT_ROWS = 300_000

CHAIN3_CQL = (
    "from every v = events[event_type == 'view'] "
    "  -> k = events[event_type == 'click'] "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select v.user_id as user_id, p.event_id as purchase_id"
)
NFA_CQL = (
    "from every e = events[event_type == 'error'] "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select e.user_id as user_id, p.event_id as purchase_id"
)
ABSENCE_CQL = (
    "from every e = events[event_type == 'error'] "
    "  -> not events[event_type == 'purchase'] for 5 min "
    "select e.user_id as user_id, e.event_id as error_id"
)
# funnel abandonment: the chain-absence kernel
CHAIN_ABSENCE_CQL = (
    "from every v = events[event_type == 'view'] "
    "  -> k = events[event_type == 'click'] "
    "  -> not events[event_type == 'purchase'] for 5 min within 1 hour "
    "select v.user_id as user_id, k.event_id as click_id"
)
# a quantified first stage, anchored on errors (5% of the stream)
QUANT_CQL = (
    "from every a = events[event_type == 'error']<1:2> "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select a[0].user_id as user_id, p.event_id as purchase_id"
)
# a quantified middle stage: the quant chain kernel
CHAINQ_CQL = (
    "from every a = events[event_type == 'error'] "
    "  -> b = events[event_type == 'click']<1:2> "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select a.user_id as user_id, b[0].event_id as click1, "
    "p.event_id as purchase_id"
)
# hot arming: the quantified first stage anchors on views, so the hot key
# arms a partial at every view
CHAINQ_HOT_CQL = (
    "from every a = events[event_type == 'view']<1:2> "
    "  -> k = events[event_type == 'click'] "
    "  -> p = events[event_type == 'purchase'] within 1 hour "
    "select a[0].user_id as user_id, p.event_id as purchase_id"
)
WINDOW_CQL = (
    "from E#window.lengthBatch(100) select user_id, count() as n, "
    "sum(value) as total group by user_id insert into Out;"
)


def _pattern(cql):
    def build(spark, feeds, buckets):
        from flink_siddhi_spark import SiddhiCEP

        cep = SiddhiCEP(spark, pattern_key_buckets=buckets)
        cep.register_stream(
            "events", feeds["events"](), "event_id", "user_id",
            "event_type", "value", "ts_ms", ts_field="ts_ms",
        )
        return cep.from_("events").cql(
            f"partition with (user_id of events) begin {cql} "
            "insert into Out; end"
        ).returns("Out")

    return build


def _funnel(spark, feeds, buckets):
    from flink_siddhi_spark.analytics import funnel_stream

    return funnel_stream(
        feeds["events"](), ("view", "click", "purchase"),
        within_ms=3_600_000, watermark="10 seconds", key_buckets=buckets,
    )


def _attribution(spark, feeds, buckets):
    from flink_siddhi_spark.analytics import attribution_stream

    return attribution_stream(
        feeds["events"](), touch_types=("view", "click"),
        conversion_type="purchase", horizon_ms=3_600_000,
        watermark="10 seconds", key_buckets=buckets,
    )


def _transitions(spark, feeds, buckets):
    from flink_siddhi_spark.analytics import transitions_stream

    return transitions_stream(
        feeds["events"](), watermark="10 seconds", key_buckets=buckets
    )


def _retention(spark, feeds, buckets):
    from flink_siddhi_spark.analytics import retention_pairs_stream

    return retention_pairs_stream(
        feeds["days"](), user_col="user_id", ts_col="ts",
        watermark="0 seconds", key_buckets=buckets,
    )


def _asof(spark, feeds, buckets):
    from flink_siddhi_spark.streaming.asof import streaming_asof_enrich

    return streaming_asof_enrich(
        feeds["events"]().select("event_id", "user_id", "ts_ms"),
        feeds["right"]().select("user_id", "ts_ms", "price"),
        on="user_id", left_ts="ts_ms", right_ts="ts_ms",
        payload=["price"], key_buckets=buckets,
    )


def _window(spark, feeds, buckets):
    from flink_siddhi_spark.schema import StreamSchema
    from flink_siddhi_spark.siddhiql.parser import parse
    from flink_siddhi_spark.streaming.runtime import StreamingPlanner

    cols = ["event_id", "user_id", "value", "ts_ms"]
    stream = feeds["events"]().select(*cols)
    planner = StreamingPlanner(
        {"E": StreamSchema("E", stream, cols, ts_field="ts_ms")},
        watermark_delay="10 seconds", window_key_buckets=buckets,
    )
    return planner.compile_query(parse(WINDOW_CQL).queries[0])


# operator -> (build, the modes it runs in)
B4 = ("perkey_4batch", "bucket_4batch")
OPERATORS = {
    "chain3": (_pattern(CHAIN3_CQL), B4 + ("perkey_1batch", "bucket_1batch")),
    "quant": (_pattern(QUANT_CQL), B4 + ("perkey_1batch", "bucket_1batch")),
    "absence": (_pattern(ABSENCE_CQL), B4),
    "nfa": (_pattern(NFA_CQL), ("perkey_4batch",)),
    "chain_absence": (_pattern(CHAIN_ABSENCE_CQL), ("perkey_4batch",)),
    "chainq": (_pattern(CHAINQ_CQL), B4),
    "chainq_hot": (_pattern(CHAINQ_HOT_CQL), B4),
    "funnel": (_funnel, B4),
    "attribution": (_attribution, B4),
    "transitions": (_transitions, ("bucket_4batch",)),
    "retention": (_retention, B4),
    "asof": (_asof, B4),
    "window": (_window, B4),
}
CELLS = [f"{op}_{mode}" for op, (_, modes) in OPERATORS.items() for mode in modes]


def _gen(spark, path: str, n_events: int, step_ms: int) -> None:
    block = F.floor(F.col("id") / 100_000)
    per = n_events // N_WAVES
    for b in range(N_WAVES):
        (
            spark.range(b * per, (b + 1) * per, numPartitions=8)
            .select(
                F.col("id").alias("event_id"),
                F.when(F.col("id") % 10 == 0, F.lit(1))
                .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
                F.when(block % 20 == 19, F.lit("error"))
                .when(block % 5 == 1, F.lit("click"))
                .when(block % 5 == 2, F.lit("purchase"))
                .otherwise(F.lit("view")).alias("event_type"),
                (F.col("id") % 97).cast("double").alias("value"),
                (F.lit(1_700_000_000_000) + F.col("id") * step_ms)
                .alias("ts_ms"),
            )
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
            .write.mode("append").parquet(path)
        )


def _gen_right(spark, path: str, n_events: int) -> None:
    """One price update per user per ~day of the 10 ms timeline."""
    (
        spark.range(RIGHT_ROWS)
        .select(
            F.when(F.col("id") % 3 == 0, F.lit(1))
            .otherwise((F.col("id") % 100_000) + 10).alias("user_id"),
            (F.col("id") % 13).cast("double").alias("price"),
            (F.lit(1_700_000_000_000)
             + F.col("id") * (n_events * 10 // RIGHT_ROWS)).alias("ts_ms"),
        )
        .coalesce(8).write.mode("append").parquet(path)
    )


def _drain(plan, ck: str, n_events: int) -> dict:
    t0 = time.time()
    q = (
        plan.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(7200)
    dt = time.time() - t0
    peak_state, batches, out_rows = 0, 0, 0
    for p in q.recentProgress:
        batches += 1
        out_rows += p.get("sink", {}).get("numOutputRows", 0) or 0
        for so in p.get("stateOperators", []):
            peak_state = max(peak_state, so.get("numRowsTotal", 0))
    if out_rows == 0:
        return {"error": f"emitted no rows in {batches} micro-batches"}
    return {
        "sec": round(dt, 2),
        "events_per_sec": int(n_events / dt),
        "peak_state_rows": peak_state,
        "micro_batches": batches,
        "sink_rows": out_rows,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--buckets", type=int, default=1024)
    ap.add_argument("--cells", default=None,
                    help="comma-separated cells (default: all)")
    ap.add_argument("--driver-memory", default="24g")
    ap.add_argument("--list", action="store_true", help="print the cells")
    args = ap.parse_args()
    if args.list:
        print("\n".join(CELLS))
        return 0
    cells = args.cells.split(",") if args.cells else CELLS
    unknown = sorted(set(cells) - set(CELLS))
    if unknown:
        ap.error(f"unknown cells {unknown}; --list prints them")

    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("streaming-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="probe_streaming_")
    out: dict = {"n_events": args.events, "buckets": args.buckets}
    try:
        paths = {
            "events": os.path.join(root, "events"),
            "days": os.path.join(root, "days"),
            "right": os.path.join(root, "right"),
        }
        ops = {c.rsplit("_", 2)[0] for c in cells}
        _gen(spark, paths["events"], args.events, 10)
        if "retention" in ops:
            _gen(spark, paths["days"], args.events, 300)
        if "asof" in ops:
            _gen_right(spark, paths["right"], args.events)
        schemas = {
            k: spark.read.parquet(p).schema
            for k, p in paths.items() if os.path.exists(p)
        }
        for cell in cells:
            op, mode, batches = cell.rsplit("_", 2)
            fpt = "8" if batches == "4batch" else None

            def reader(feed, fpt=fpt):
                r = spark.readStream.format("parquet").schema(schemas[feed])
                if fpt and feed != "right":
                    r = r.option("maxFilesPerTrigger", fpt)
                return r.load(paths[feed])

            feeds = {k: (lambda k=k: reader(k)) for k in schemas}
            build = OPERATORS[op][0]
            plan = build(spark, feeds, args.buckets if mode == "bucket" else None)
            out[cell] = _drain(plan, os.path.join(root, f"ck_{cell}"), args.events)
            print(json.dumps({cell: out[cell]}), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    return 1 if any("error" in out[c] for c in cells) else 0


if __name__ == "__main__":
    raise SystemExit(main())

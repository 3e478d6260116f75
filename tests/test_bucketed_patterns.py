"""Round-9 bucketed pattern grouping (VERDICT r8 ask #1b): streaming
patterns with ``pattern_key_buckets=N`` group by pmod(xxhash64(key), N) and
demultiplex member keys inside one Arrow group, amortizing the profiled
~280us fixed per-key-visit machinery over the bucket. The per-key compute
is the SAME ``_key_step`` closure the per-key mode runs, so these tests pin
the multiplexing layer: key grouping, per-key arrival order, bucket-state
round-trip across micro-batches, and emission accumulation across keys.

Reference semantics: same SiddhiQL patterns as the per-key tests
(README.md:70-96 of /root/reference); bucketing is a Spark-side physical
choice invisible to query semantics.
"""

import random
import shutil
import tempfile

import pytest

from flink_siddhi_spark import SiddhiCEP
from flink_siddhi_spark.errors import UnsupportedFeatureException

from .test_property_patterns_r7 import SCHEMA, _run_streaming

CQLS = {
    # chain kernel (k=2)
    "followed_by": (
        "partition with (price of s) begin "
        "from every a = s[name == 'x'] -> b = s[name == 'y'] "
        "within 8500 milliseconds "
        "select a.price as u, a.id as a_id, b.id as b_id "
        "insert into Out; end"
    ),
    # chain_absence kernel (k=2) + absence-aware watermark eviction
    "absence": (
        "partition with (price of s) begin "
        "from every a = s[name == 'x'] -> not s[name == 'y'] "
        "for 3500 milliseconds within 9500 milliseconds "
        "select a.price as u, a.id as a_id, a.id as b_id "
        "insert into Out; end"
    ),
    # chain kernel (k=3)
    "three_step": (
        "partition with (price of s) begin "
        "from every a = s[name == 'x'] -> b = s[name == 'y'] "
        "-> c = s[name == 'z'] within 8500 milliseconds "
        "select a.price as u, a.id as a_id, c.id as b_id "
        "insert into Out; end"
    ),
    # chain_quant kernel (k=2) on big visits, the row loop on small ones
    "quantifier": (
        "partition with (price of s) begin "
        "from every a = s[name == 'x']<1:2> -> b = s[name == 'y'] "
        "within 9500 milliseconds "
        "select a.price as u, a[0].id as a_id, b.id as b_id "
        "insert into Out; end"
    ),
    # plain_chain arm-once kernel, k=2 (first-attempt contract + done-seal)
    "plain2": (
        "partition with (price of s) begin "
        "from a = s[name == 'x'] -> b = s[name == 'y'] "
        "select a.price as u, a.id as a_id, b.id as b_id "
        "insert into Out; end"
    ),
}


def _batch_rows(spark, all_rows, cql):
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(u), t) for i, nm, t, u in all_rows], SCHEMA
    )
    cep.define("s", df, "id", "name", "price", "timestamp",
               ts_field="timestamp")
    return cep.from_("s").cql(cql).returns("Out").collect()


def _feed(rng, shape, trial):
    """Randomized 5-key feed split across 3 micro-batches; absence gets
    per-key tail sentinels (streaming never emits at a batch boundary) and
    even trials of kernel shapes inject a late in-window arrival."""
    n = rng.randint(10, 18)
    rows, ts = [], 0
    for i in range(n):
        ts += rng.randint(1, 4) * 1000
        rows.append((i, rng.choice("xyz"), ts, rng.randint(1, 5)))
    extra = []
    if shape == "absence":
        gmax = rows[-1][2]
        extra = [(900 + k, "z", gmax + 4500 + k * 700, k)
                 for k in range(1, 6)]
    elif shape in ("followed_by", "three_step") and trial % 2 == 0:
        anchor = rows[n // 2]
        extra = [(1000 + trial, "x", anchor[2] + 500, rng.randint(1, 5))]
    batches = [rows[: n // 2], rows[n // 2: 3 * n // 4],
               rows[3 * n // 4:] + extra]
    return batches, rows + extra


@pytest.mark.parametrize("shape", sorted(CQLS))
@pytest.mark.slow
def test_bucketed_streaming_batch_parity_fuzz(spark, shape):
    """8 randomized 5-key feeds per shape through 2 buckets (so each bucket
    genuinely multiplexes keys), row-for-row equal to the batch operator."""
    rng = random.Random(0x900D + hash(shape) % 1000)
    cql = CQLS[shape]
    for trial in range(8):
        batches, all_rows = _feed(rng, shape, trial)
        root = tempfile.mkdtemp(prefix="bktfuzz_")
        try:
            got = sorted(
                (int(r.u), r.a_id, r.b_id)
                for r in _run_streaming(
                    spark, batches, cql, root, pattern_key_buckets=2
                )
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
        want = sorted(
            (int(r.u), r.a_id, r.b_id)
            for r in _batch_rows(spark, all_rows, cql)
        )
        assert got == want, (shape, trial, all_rows)


def test_bucketed_equals_per_key_streaming(spark):
    """The two group modes are output-identical on the same feed (the
    bucketed mode runs the same _key_step; this pins the plumbing)."""
    rng = random.Random(41)
    batches, _ = _feed(rng, "followed_by", 0)
    outs = []
    for kwargs in ({}, {"pattern_key_buckets": 2},
                   {"pattern_key_buckets": 1}):
        root = tempfile.mkdtemp(prefix="bkteq_")
        try:
            outs.append(sorted(
                (int(r.u), r.a_id, r.b_id)
                for r in _run_streaming(
                    spark, batches, CQLS["followed_by"], root, **kwargs
                )
            ))
        finally:
            shutil.rmtree(root, ignore_errors=True)
    assert outs[0] == outs[1] == outs[2]


def test_bucketed_string_keys(spark):
    """String partition keys json-encode stably across micro-batches."""
    cql = (
        "partition with (name of s) begin "
        "from every a = s[price > 1.5] -> b = s[price < 0.5] "
        "select a.name as u, a.id as a_id, b.id as b_id "
        "insert into Out; end"
    )
    rows = [(0, "k1", 1000, 2), (1, "k2", 2000, 3), (2, "k1", 3000, 0),
            (3, "k2", 4000, 0), (4, "k3", 5000, 2), (5, "k3", 6000, 0)]
    batches = [rows[:3], rows[3:]]
    root = tempfile.mkdtemp(prefix="bktstr_")
    try:
        got = sorted(
            (r.u, r.a_id, r.b_id)
            for r in _run_streaming(
                spark, batches, cql, root, pattern_key_buckets=2
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == [("k1", 0, 2), ("k2", 1, 3), ("k3", 4, 5)]


def test_bucketed_funnel_matches_batch_and_per_key(spark, tmp_path):
    """funnel_stream(key_buckets=N) reproduces the batch funnel AND the
    per-key streaming output on the round-6 parity feed (>= 2 micro-
    batches, out-of-order arrival, horizon expiry), including the
    timer path: user 2's episode finalizes with NO new data for its key
    (the bucket visit advances due members)."""
    import datetime as dt

    from pyspark.sql import types as T

    from flink_siddhi_spark.analytics import (
        funnel, funnel_from_steps, funnel_stream,
    )
    from .test_streaming import _two_batch_stream
    from flink_siddhi_spark.sources.streams import to_memory

    def ts(m):
        return dt.datetime(2026, 3, 1, 10, 0, 0) + dt.timedelta(minutes=m)

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    steps = ("view", "click", "purchase")
    within = 30 * 60 * 1000
    rows1 = [
        (1, ts(0), 1, "view"), (2, ts(5), 1, "click"),
        (3, ts(0), 2, "view"),
        (4, ts(0), 3, "click"),
        (5, ts(1), 4, "click"),
    ]
    rows2 = [
        (6, ts(10), 1, "purchase"),
        (7, ts(40), 2, "click"),
        (8, ts(0.5), 4, "view"),
        (99, ts(3 * 24 * 60), 999, "view"),  # watermark sentinel
    ]
    outs = {}
    for tag, kb in (("perkey", None), ("bucketed", 2), ("one", 1)):
        stream = _two_batch_stream(
            spark, tmp_path / f"in_bf_{tag}", rows1, rows2, schema
        )
        out = funnel_stream(
            stream, steps, within, watermark="1 hour", key_buckets=kb
        )
        q = to_memory(out, f"m_bf_{tag}",
                      checkpoint=str(tmp_path / f"ck_bf_{tag}"),
                      output_mode="append")
        q.awaitTermination(120)
        outs[tag] = sorted(
            (r.user_id, r.step_idx, r.step, r.t_ms)
            for r in spark.sql(f"SELECT * FROM m_bf_{tag}").collect()
        )
    assert outs["perkey"] == outs["bucketed"] == outs["one"]
    reached = spark.sql("SELECT * FROM m_bf_bucketed")
    got = {(r.step_idx, r.step): r.n_users
           for r in funnel_from_steps(reached, steps).collect()}
    batch_df = spark.createDataFrame(rows1 + rows2, schema).filter(
        "user_id != 999")
    want = {(r.step_idx, r.step): r.n_users
            for r in funnel(batch_df, steps, within).collect()}
    assert got == want and want[(0, "view")] == 3


@pytest.mark.slow
def test_bucketed_funnel_fuzz_matches_per_key(spark, tmp_path):
    """Randomized multi-user feeds across 3 micro-batches: bucketed and
    per-key funnel_stream emit identical row sets (episode horizons
    straddle batch boundaries so the due-key timer path is exercised)."""
    import datetime as dt

    from pyspark.sql import types as T

    from flink_siddhi_spark.analytics import funnel_stream
    from flink_siddhi_spark.sources.streams import to_memory

    rng = random.Random(909)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2026, 4, 1, 8, 0, 0)
    for trial in range(4):
        rows = []
        for i in range(rng.randint(20, 34)):
            rows.append((
                i,
                base + dt.timedelta(seconds=i * rng.randint(40, 90)),
                rng.randint(1, 7),
                rng.choice(("view", "click", "purchase", "other")),
            ))
        rows.append((999, base + dt.timedelta(days=3), 999, "view"))
        thirds = [rows[:len(rows) // 3], rows[len(rows) // 3: 2 * len(rows) // 3],
                  rows[2 * len(rows) // 3:]]
        outs = []
        for tag, kb in (("pk", None), ("bk", 3)):
            d = tmp_path / f"in_ff{trial}_{tag}"
            for third in thirds:
                spark.createDataFrame(third, schema).coalesce(1) \
                    .write.mode("append").parquet(str(d))
            stream = (
                spark.readStream.format("parquet").schema(schema)
                .option("maxFilesPerTrigger", 1).load(str(d))
            )
            out = funnel_stream(
                stream, ("view", "click", "purchase"), 10 * 60 * 1000,
                watermark="5 minutes", key_buckets=kb,
            )
            q = to_memory(out, f"m_ff{trial}_{tag}",
                          checkpoint=str(tmp_path / f"ck_ff{trial}_{tag}"),
                          output_mode="append")
            q.awaitTermination(120)
            outs.append(sorted(
                (r.user_id, r.step_idx, r.step, r.t_ms)
                for r in spark.sql(
                    f"SELECT * FROM m_ff{trial}_{tag}").collect()
            ))
        assert outs[0] == outs[1], (trial, rows)


def test_bucketed_attribution_matches_batch_and_per_key(spark, tmp_path):
    """attribution_stream(key_buckets=N) reproduces batch
    last_touch_attribution and the per-key streaming output on the
    round-6 feed (same-ts tie-break, out-of-order touch, organic
    conversion past the horizon, quiet-key timer finalization)."""
    import datetime as dt

    from pyspark.sql import types as T

    from flink_siddhi_spark.analytics import (
        attribution_stream, last_touch_attribution,
    )
    from flink_siddhi_spark.sources.streams import to_memory
    from .test_streaming import _two_batch_stream

    def ts(m):
        return dt.datetime(2026, 3, 2, 9, 0, 0) + dt.timedelta(minutes=m)

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    rows1 = [
        (1, ts(0), 1, "click"), (2, ts(5), 1, "view"),
        (10, ts(0), 2, "click"),
        (11, ts(0), 2, "purchase"),
        (20, ts(10), 3, "purchase"),
    ]
    rows2 = [
        (3, ts(10), 1, "purchase"),
        (4, ts(130), 1, "purchase"),
        (21, ts(9), 3, "click"),
        (99, ts(3 * 24 * 60), 999, "click"),
    ]
    outs = {}
    for tag, kb in (("pk", None), ("bk", 2)):
        stream = _two_batch_stream(
            spark, tmp_path / f"in_ba_{tag}", rows1, rows2, schema
        )
        out = attribution_stream(
            stream, horizon_ms=3_600_000, watermark="1 hour",
            key_buckets=kb,
        )
        q = to_memory(out, f"m_ba_{tag}",
                      checkpoint=str(tmp_path / f"ck_ba_{tag}"),
                      output_mode="append")
        q.awaitTermination(120)
        outs[tag] = sorted(
            (r.conversion_id, r.user_id, r.touch_id, r.touch_type,
             r.ms_since_touch)
            for r in spark.sql(f"SELECT * FROM m_ba_{tag}").collect()
        )
    assert outs["pk"] == outs["bk"]
    batch_df = spark.createDataFrame(rows1 + rows2, schema).filter(
        "user_id != 999")
    want = sorted(
        (r.conversion_id, r.user_id, r.touch_id, r.touch_type,
         r.ms_since_touch)
        for r in last_touch_attribution(
            batch_df, horizon_ms=3_600_000).collect()
    )
    assert outs["bk"] == want


def test_bucketed_checkpoint_restart(spark, tmp_path):
    """Bucket state survives a full query STOP + RESTART from the
    checkpoint: arm partials in run 1, complete them in run 2 (new
    StreamingQuery object, same checkpoint), output equals batch."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("timestamp", T.LongType()),
    ])
    d = str(tmp_path / "in_ckpt")
    ck = str(tmp_path / "ck_ckpt")
    sink = str(tmp_path / "out_ckpt")
    rows1 = [(0, "x", 1.0, 1000), (1, "x", 2.0, 2000), (2, "y", 3.0, 3000)]
    rows2 = [(3, "y", 1.0, 5000), (4, "y", 2.0, 6000), (5, "z", 1.0, 7000)]

    def run_once(batch_rows):
        spark.createDataFrame(batch_rows, schema).coalesce(1) \
            .write.mode("append").parquet(d)
        cep = SiddhiCEP(spark, pattern_key_buckets=2)
        stream = spark.readStream.format("parquet").schema(schema).load(d)
        cep.register_stream("s", stream, "id", "name", "price",
                            "timestamp", ts_field="timestamp")
        out = cep.from_("s").cql(CQLS["followed_by"]).returns("Out")
        q = (out.writeStream.format("json")
             .option("path", sink)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        return out.schema

    run_once(rows1)            # arms x-partials for keys 1.0/2.0
    out_schema = run_once(rows2)  # completes them after restart
    sunk = spark.read.schema(out_schema).json(sink)
    got = sorted((int(r.u), r.a_id, r.b_id) for r in sunk.collect())
    want = sorted(
        (int(r.u), r.a_id, r.b_id)
        for r in _batch_rows(spark, [
            (i, nm, t, int(u)) for i, nm, u, t in rows1 + rows2
        ], CQLS["followed_by"])
    )
    assert got == want and got, (got, want)


def test_bucketed_transitions_matches_batch_and_per_key(spark, tmp_path):
    """transitions_stream(key_buckets=N) reproduces batch
    event_transitions and the per-key streaming output on the round-6
    feed (out-of-order in-watermark event re-sorting in state), including
    anchor-only keys riding the no-timer sentinel."""
    import datetime as dt

    from pyspark.sql import types as T

    from flink_siddhi_spark.analytics import (
        event_transitions, transitions_from_steps, transitions_stream,
    )
    from flink_siddhi_spark.sources.streams import to_memory
    from .test_streaming import _two_batch_stream

    def ts(m):
        return dt.datetime(2026, 3, 3, 8, 0, 0) + dt.timedelta(minutes=m)

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    rows1 = [
        (1, ts(0), 1, "a"), (2, ts(5), 1, "b"),
        (10, ts(0), 2, "a"),
    ]
    rows2 = [
        (3, ts(10), 1, "c"),
        (4, ts(2), 1, "x"),
        (11, ts(3), 2, "b"),
        (99, ts(3 * 24 * 60), 999, "a"),
    ]
    outs = {}
    for tag, kb in (("pk", None), ("bk", 2)):
        stream = _two_batch_stream(
            spark, tmp_path / f"in_bt_{tag}", rows1, rows2, schema
        )
        out = transitions_stream(stream, watermark="1 hour", key_buckets=kb)
        q = to_memory(out, f"m_bt_{tag}",
                      checkpoint=str(tmp_path / f"ck_bt_{tag}"),
                      output_mode="append")
        q.awaitTermination(120)
        outs[tag] = sorted(
            (r.user_id, r.from_type, r.to_type, r.to_ms, r.to_id)
            for r in spark.sql(
                f"SELECT * FROM m_bt_{tag} WHERE user_id != 999").collect()
        )
    assert outs["pk"] == outs["bk"]
    steps = spark.sql("SELECT * FROM m_bt_bk WHERE user_id != 999")
    got = {(r.from_type, r.to_type): (r.n, r.p)
           for r in transitions_from_steps(steps).collect()}
    batch_df = spark.createDataFrame(rows1 + rows2, schema).filter(
        "user_id != 999")
    want = {(r.from_type, r.to_type): (r.n, r.p)
            for r in event_transitions(batch_df).collect()}
    assert got == want and ("a", "x") in want


def test_bucketed_count_change_fails_loudly(spark, tmp_path):
    """Restarting a bucketed query with a DIFFERENT bucket count re-routes
    keys to buckets that do not hold their state — silent wrong results.
    The stored bucket count is validated on every state load; the restart
    must fail with a clear message, not emit garbage."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("timestamp", T.LongType()),
    ])
    d = str(tmp_path / "in_nchg")
    ck = str(tmp_path / "ck_nchg")
    sink = str(tmp_path / "out_nchg")

    def run_once(batch_rows, buckets):
        spark.createDataFrame(batch_rows, schema).coalesce(1) \
            .write.mode("append").parquet(d)
        cep = SiddhiCEP(spark, pattern_key_buckets=buckets)
        stream = spark.readStream.format("parquet").schema(schema).load(d)
        cep.register_stream("s", stream, "id", "name", "price",
                            "timestamp", ts_field="timestamp")
        out = cep.from_("s").cql(CQLS["followed_by"]).returns("Out")
        q = (out.writeStream.format("json")
             .option("path", sink)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run_once([(0, "x", 1.0, 1000), (1, "x", 2.0, 2000)], 2)
    with pytest.raises(StreamingQueryException, match="buckets changed"):
        run_once([(2, "y", 1.0, 3000), (3, "y", 2.0, 4000)], 4)


def test_bucketed_rejects_unsupported_key_type(spark):
    """A timestamp-typed key cannot json-encode as a bucket-state key —
    fail at plan time, naming the key attribute, not inside a worker. One
    check in the keyed-state runner serves patterns and the twins."""
    from pyspark.sql import functions as F

    from flink_siddhi_spark.analytics import funnel_stream

    df = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("id"),
            F.col("timestamp").alias("tkey"),
            F.col("value").cast("double").alias("price"),
            (F.col("value") * 1000).alias("ts"),
        )
    )
    cep = SiddhiCEP(spark, pattern_key_buckets=4)
    cep.register_stream("s", df, "id", "tkey", "price", "ts", ts_field="ts")
    with pytest.raises(UnsupportedFeatureException, match="bucketed keys") as ei:
        cep.from_("s").cql(
            "partition with (tkey of s) begin "
            "from every a = s[price > 1] -> b = s[price > 2] "
            "select a.id as a_id insert into Out; end"
        ).returns("Out")
    assert "'tkey'" in str(ei.value)
    events = df.select(
        F.col("tkey").alias("user_id"),
        F.col("tkey").alias("ts"),
        F.lit("view").alias("event_type"),
    )
    with pytest.raises(UnsupportedFeatureException, match="bucketed keys") as ei:
        funnel_stream(events, ["view", "buy"], 60_000, key_buckets=4)
    assert "'user_id'" in str(ei.value)

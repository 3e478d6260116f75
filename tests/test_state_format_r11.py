"""Round-11 (VERDICT r10 item 8): the keyed-state runner's pickle
state-blob format must be guarded by Spark's state-schema compatibility
check — a checkpoint written under one blob column type cannot be resumed
under another SILENTLY; the resume must fail loudly. This pins the
documented claim in SCALE.md §'adapter blobs json -> pickle' (the r10
format change made pre-change checkpoints unreadable BY CONSTRUCTION, not
unreadable-by-luck). Every bucketed operator shares the one bucket state
format, so the guard is pinned for a retention twin and a bucketed
pattern plan alike."""

import datetime as dt

import pytest
from pyspark.sql import types as T


def _rows(day_offsets, start_id=1):
    def ts(d):
        return dt.datetime(2026, 3, 20, 12, 0, 0) + dt.timedelta(days=d)

    return [
        (start_id + i, ts(d), (i % 3) + 1) for i, d in enumerate(day_offsets)
    ]


SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
])


def _bucketed_plan(plan, stream):
    if plan == "retention":
        from flink_siddhi_spark.analytics import retention_pairs_stream

        return retention_pairs_stream(stream, watermark="5 days", key_buckets=4)
    from flink_siddhi_spark import SiddhiCEP

    cep = SiddhiCEP(spark=stream.sparkSession, pattern_key_buckets=4)
    cep.register_stream("s", stream, "event_id", "ts", "user_id", ts_field="ts")
    return cep.from_("s").cql(
        "partition with (user_id of s) begin "
        "from every a = s[event_id > 0] -> b = s[event_id > 0] "
        "select a.event_id as a_id, b.event_id as b_id insert into Out; end"
    ).returns("Out")


def _drain(spark, src_dir, ck, out_dir, plan):
    stream = (
        spark.readStream.format("parquet").schema(SCHEMA).load(str(src_dir))
    )
    out = _bucketed_plan(plan, stream)
    q = (
        out.writeStream.format("json")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.mark.parametrize("plan", ["retention", "pattern"])
def test_bucketed_blob_format_change_fails_loudly(
    spark, tmp_path, monkeypatch, plan
):
    src = tmp_path / "in_fmt"
    ck = tmp_path / "ck_fmt"
    out_dir = tmp_path / "out_fmt"
    spark.createDataFrame(_rows([0, 1, 2, 1]), SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))
    # phase 1: checkpoint written under the CURRENT format (binary blobs)
    _drain(spark, src, ck, out_dir, plan)

    # phase 2: the same logical query recompiled under the json-era blob
    # column type (array<string>) resuming the binary-blob checkpoint must
    # fail loudly at the state-schema gate, not read garbage
    from flink_siddhi_spark.streaming import bucketing as B

    spark.createDataFrame(_rows([3, 2], start_id=50), SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    old_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("pks", T.ArrayType(T.StringType())),
        T.StructField("blobs", T.ArrayType(T.StringType())),
        T.StructField("fires", T.ArrayType(T.LongType())),
    ])
    monkeypatch.setattr(B, "BUCKET_STATE_SCHEMA", old_schema)
    with pytest.raises(Exception) as ei:
        _drain(spark, src, ck, out_dir, plan)
    msg = str(ei.value)
    assert "chema" in msg or "ompatib" in msg, msg[:500]

    # and the unchanged format RESUMES cleanly from the same checkpoint
    monkeypatch.undo()
    _drain(spark, src, ck, out_dir, plan)
    n = spark.read.json(str(out_dir)).count()
    assert n >= 0  # drained without error; rows land incrementally

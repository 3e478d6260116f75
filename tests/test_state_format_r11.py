"""The keyed-state runner's checkpoint format must be guarded by Spark's
state-schema compatibility check: a checkpoint written under one state
format cannot be resumed under another SILENTLY; the resume either reads
the same objects back or fails loudly. Spark compares the state schema's
types, not its field names. Every bucketed operator shares the one bucket
state format, so the guard is pinned for a retention twin and a bucketed
pattern plan alike; per key, a pattern checkpoint of the JSON era
(``seen``/``buffer``/``nfa``) fails, while the as-of join and semantic
dedup, whose steps store the same object they pickled into one binary
field before, resume it."""

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


def _plan(plan, stream, buckets=4):
    if plan == "retention":
        from flink_siddhi_spark.analytics import retention_pairs_stream

        return retention_pairs_stream(
            stream, watermark="5 days", key_buckets=buckets
        )
    from flink_siddhi_spark import SiddhiCEP

    cep = SiddhiCEP(spark=stream.sparkSession, pattern_key_buckets=buckets)
    cep.register_stream("s", stream, "event_id", "ts", "user_id", ts_field="ts")
    return cep.from_("s").cql(
        "partition with (user_id of s) begin "
        "from every a = s[event_id > 0] -> b = s[event_id > 0] "
        "select a.event_id as a_id, b.event_id as b_id insert into Out; end"
    ).returns("Out")


def _drain(spark, src_dir, ck, out_dir, plan, buckets=4):
    stream = (
        spark.readStream.format("parquet").schema(SCHEMA).load(str(src_dir))
    )
    out = _plan(plan, stream, buckets)
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


def test_per_key_pattern_json_era_schema_fails_loudly(
    spark, tmp_path, monkeypatch
):
    """A per-key pattern checkpoint written under the one key state schema,
    resumed by a plan declaring the JSON-era pattern state (``seen``,
    ``buffer``, ``nfa``), fails at the state-schema check; the current
    format resumes it."""
    from flink_siddhi_spark.streaming import bucketing as B

    src, ck, out_dir = (tmp_path / n for n in ("in_pk", "ck_pk", "out_pk"))
    spark.createDataFrame(_rows([0, 1, 2, 1]), SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))
    _drain(spark, src, ck, out_dir, "pattern", buckets=None)
    spark.createDataFrame(_rows([3, 2], start_id=50), SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    json_era = T.StructType([
        T.StructField("seen", T.ArrayType(T.StringType())),
        T.StructField("buffer", T.StringType()),
        T.StructField("nfa", T.StringType()),
    ])
    monkeypatch.setattr(B, "KEY_STATE_SCHEMA", json_era)
    with pytest.raises(Exception) as ei:
        _drain(spark, src, ck, out_dir, "pattern", buckets=None)
    msg = str(ei.value)
    assert "chema" in msg or "ompatib" in msg, msg[:500]

    monkeypatch.undo()
    _drain(spark, src, ck, out_dir, "pattern", buckets=None)
    assert spark.read.json(str(out_dir)).count() > 0


def _resume_across_field_name(spark, tmp_path, monkeypatch, old_field,
                              first, second, build):
    """Drain ``first`` under a key state schema whose one binary field is
    named ``old_field`` (the operator's own schema before the runner owned
    the format: the same pickled object under another name), then drain
    ``second`` under the current schema from the same checkpoint. Returns
    the rows of both drains."""
    import os

    from flink_siddhi_spark.sources.streams import to_files
    from flink_siddhi_spark.streaming import bucketing as B

    src = tmp_path / f"src_{old_field}"
    os.makedirs(src)
    out = tmp_path / f"out_{old_field}"

    def run(rows, name):
        rows.coalesce(1).write.parquet(str(src / name))
        stream = spark.readStream.schema(rows.schema).parquet(str(src) + "/*/")
        sq = to_files(build(stream), str(out),
                      checkpoint=str(tmp_path / f"ck_{old_field}"),
                      fmt="parquet")
        sq.awaitTermination(60)
        return sorted(
            tuple(r) for r in spark.read.parquet(str(out)).collect()
        )

    old = T.StructType([T.StructField(old_field, T.BinaryType())])
    monkeypatch.setattr(B, "KEY_STATE_SCHEMA", old)
    run(first, "f1")
    monkeypatch.undo()
    return run(second, "f2")


def test_asof_state_resumes_across_the_field_rename(
    spark, tmp_path, monkeypatch
):
    """The as-of join stored its history DataFrame pickled into ``hist
    binary``; the runner stores the same object in its own binary field,
    so the resume reads the pre-restart history: the post-restart event 2
    matches price 1.5, which only the restored state holds (a lost state
    gives null)."""
    from flink_siddhi_spark.streaming.asof import streaming_asof_enrich

    schema = "k long, ts long, side string, eid long, price double"

    def build(stream):
        return streaming_asof_enrich(
            stream.filter("side = 'l'").select("k", "ts", "eid"),
            stream.filter("side = 'r'").select("k", "ts", "price"),
            on="k", left_ts="ts", right_ts="ts",
        ).select("eid", "price")

    got = _resume_across_field_name(
        spark, tmp_path, monkeypatch, "hist",
        spark.createDataFrame(
            [(7, 100, "r", 0, 1.5), (7, 150, "l", 1, 0.0)], schema
        ),
        spark.createDataFrame([(7, 250, "l", 2, 0.0)], schema),
        build,
    )
    assert got == [(1, 1.5), (2, 1.5)], got


def test_semantic_dedup_state_resumes_across_the_field_rename(
    spark, tmp_path, monkeypatch
):
    """Semantic dedup stored its rep matrix pickled into ``reps binary``;
    after the resume a near-duplicate of the pre-restart representative is
    dropped (it survives only if the state were lost) and a far document
    is kept: the drains keep documents 1 and 3."""
    from flink_siddhi_spark.llm.dedup import streaming_semantic_dedup

    schema = "vec_id long, embedding array<double>"
    got = _resume_across_field_name(
        spark, tmp_path, monkeypatch, "reps",
        spark.createDataFrame([(1, [1.0, 1.0, 1.0, 0.0])], schema),
        spark.createDataFrame(
            [(2, [2.0, 2.0, 2.0, 0.0]), (3, [0.1, 0.1, -5.0, 4.0])], schema
        ),
        lambda s: streaming_semantic_dedup(
            s, threshold=0.9, planes=2
        ).select("vec_id"),
    )
    assert got == [(1,), (3,)], got

"""Round-10 bucketed-key parity (VERDICT r9 ask #3): the LAST un-bucketed
per-key stateful surfaces — ``retention_pairs_stream`` (per-user cohort
anchor state) and the streaming as-of join (pickled per-key history) — run
through ``streaming/bucketing.keyed_state`` with the same per-key step in
both group modes. Parity contract: bucketed == per-key == batch."""

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_siddhi_spark.sources.streams import to_memory

from .test_streaming import _two_batch_stream


def _retention_feed(spark, tmp_path, tag):
    def ts(d, h=12):
        return dt.datetime(2026, 3, 20, h, 0, 0) + dt.timedelta(days=d)

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ])
    rows1 = [
        (1, ts(1), 1),
        (2, ts(2), 2),
        (3, ts(2), 1),
        (7, ts(1), 3),
    ]
    rows2 = [
        (4, ts(0), 1),           # late day-0 event moves u1's cohort
        (5, ts(3), 2), (6, ts(3), 1), (8, ts(4), 3),
        (99, ts(40), 999),       # watermark sentinel
    ]
    stream = _two_batch_stream(
        spark, tmp_path / f"in_ret_{tag}", rows1, rows2, schema
    )
    return stream, rows1 + rows2, schema


def test_bucketed_retention_matches_per_key_and_batch(spark, tmp_path):
    from flink_siddhi_spark.analytics import (
        retention_cohorts,
        retention_from_pairs,
        retention_pairs_stream,
    )

    results = {}
    for tag, kb in (("pk", None), ("bk", 4)):
        stream, all_rows, schema = _retention_feed(spark, tmp_path, tag)
        out = retention_pairs_stream(stream, watermark="5 days",
                                     key_buckets=kb)
        q = to_memory(out, f"m_ret10_{tag}",
                      checkpoint=str(tmp_path / f"ck_ret10_{tag}"))
        q.awaitTermination(120)
        pairs = spark.sql(f"SELECT * FROM m_ret10_{tag} WHERE user_id != 999")
        results[tag] = {
            (r.cohort_day, r.day_offset): r.n_users
            for r in retention_from_pairs(pairs).collect()
        }
    batch_df = spark.createDataFrame(all_rows, schema).filter(
        F.col("user_id") != 999
    )
    want = {(r.cohort_day, r.day_offset): r.n_users
            for r in retention_cohorts(batch_df).collect()}
    assert results["bk"] == results["pk"] == want and len(want) >= 4


def _asof_feed(spark, tmp_path, tag):
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("side", T.StringType()),
        T.StructField("eid", T.LongType()),
        T.StructField("price", T.DoubleType()),
    ])
    # two keys sharing buckets; history crosses the batch boundary
    b1 = [(7, 100, "r", 0, 1.0), (7, 150, "l", 1, 0.0),
          (8, 120, "r", 0, 9.0), (8, 130, "l", 5, 0.0)]
    b2 = [(7, 300, "r", 0, 2.0), (7, 250, "l", 2, 0.0),
          (7, 350, "l", 3, 0.0), (7, 50, "l", 4, 0.0),
          (8, 500, "l", 6, 0.0)]
    return _two_batch_stream(spark, tmp_path / f"in_sasof_{tag}", b1, b2,
                             schema)


def test_bucketed_asof_matches_per_key(spark, tmp_path):
    from flink_siddhi_spark.streaming.asof import streaming_asof_enrich

    results = {}
    for tag, kb in (("pk", None), ("bk", 2)):
        stream = _asof_feed(spark, tmp_path, tag)
        left = stream.filter("side = 'l'").select("k", "ts", "eid")
        right = stream.filter("side = 'r'").select("k", "ts", "price")
        out = streaming_asof_enrich(left, right, on="k", left_ts="ts",
                                    right_ts="ts", key_buckets=kb)
        sq = to_memory(out, f"m_sasof10_{tag}",
                       checkpoint=str(tmp_path / f"ck_sasof10_{tag}"))
        sq.awaitTermination(60)
        results[tag] = {
            r.eid: r.price
            for r in spark.sql(f"SELECT * FROM m_sasof10_{tag}").collect()
        }
    want = {1: 1.0, 2: 1.0, 3: 2.0, 4: None, 5: 9.0, 6: 9.0}
    assert results["bk"] == results["pk"] == want, results

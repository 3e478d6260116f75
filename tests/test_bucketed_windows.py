"""Round-9: bucketed mode of the keyed-state runner (streaming/bucketing.py)
for the per-key stateful WINDOW lowerings — the same per-key step runs
against a GroupState shim inside pmod(xxhash64(keys), N) buckets. These
tests pin the bucketed mode against the SAME fixed expectations the per-key
tests assert, across >= 2 micro-batches (bucket-state carry), plus
multi-column keys and the bucket-count restart guard inherited from the
shared schema.
"""

import pytest

from pyspark.sql import types as T

from flink_siddhi_spark.schema import StreamSchema
from flink_siddhi_spark.siddhiql.parser import parse
from flink_siddhi_spark.sources.streams import to_memory
from flink_siddhi_spark.streaming.runtime import StreamingPlanner

EVENT_SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("price", T.DoubleType()),
    T.StructField("timestamp", T.LongType()),
])


def _stream(spark, tmpdir, rows1, rows2):
    d = str(tmpdir)
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    return (
        spark.readStream.format("parquet").schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1).load(d)
    )


def _run(spark, tmp_path, tag, cql, rows1, rows2, buckets):
    stream = _stream(spark, tmp_path / f"in_{tag}", rows1, rows2)
    catalog = {"s": StreamSchema(
        "s", stream, ["id", "name", "price", "timestamp"],
        ts_field="timestamp")}
    planner = StreamingPlanner(
        catalog, watermark_delay="0 seconds", window_key_buckets=buckets
    )
    df = planner.compile_query(parse(cql).queries[0])
    sq = to_memory(df, f"m_{tag}",
                   checkpoint=str(tmp_path / f"ck_{tag}"),
                   output_mode="append")
    sq.awaitTermination(60)
    rows = [tuple(r) for r in spark.sql(f"SELECT * FROM m_{tag}").collect()]
    # nulls sort last in each column
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


ROWS1 = [(1, "a", 10.0, 1000), (2, "a", 20.0, 2000), (3, "a", 30.0, 3000)]
ROWS2 = [(4, "b", 5.0, 4000), (5, "a", 40.0, 5000), (6, "b", 7.0, 6000)]

# null prices across both micro-batches: each aggregate follows the batch
# cql() contract (first/last keep a null first/last value; sum and the other
# aggregates skip nulls and read NULL over no values). The lengthBatch rows
# arrive per name in pairs, so its per-key chunks equal batch mode's global
# ones (PARITY.md deviation 21).
NULLS1 = [(1, "a", None, 1000), (2, "a", None, 2000), (3, "b", None, 3000)]
NULLS2 = [(4, "b", 5.0, 4000), (5, "a", 30.0, 5000), (6, "a", 40.0, 6000)]

# case -> (cql, micro-batch 1 rows, micro-batch 2 rows, expected rows)
CASES = {
    "length_batch": (
        "from s#window.lengthBatch(2) select name, count() as n, "
        "sum(price) as total group by name insert into Out;",
        ROWS1, ROWS2,
        # a: (10,20) then (30,40); b: (5,7) — remainder carried across the
        # micro-batch boundary (a's 30 arrives in batch 1, 40 in batch 2)
        [("a", 2, 30.0), ("a", 2, 70.0), ("b", 2, 12.0)],
    ),
    "sliding_length": (
        "from s#window.length(2) select id, name, sum(price) as running "
        "group by name insert into Out;",
        ROWS1, ROWS2,
        [(1, "a", 10.0), (2, "a", 30.0), (3, "a", 50.0), (4, "b", 5.0),
         (5, "a", 70.0), (6, "b", 12.0)],
    ),
    "sliding_time": (
        "from s#window.time(1500) select id, name, sum(price) as running "
        "group by name insert into Out;",
        ROWS1, ROWS2,
        # b@6000's [4500,6000] window excludes b@4000 -> 7.0 alone
        [(1, "a", 10.0), (2, "a", 30.0), (3, "a", 50.0), (4, "b", 5.0),
         (5, "a", 40.0), (6, "b", 7.0)],
    ),
    "unique": (
        "from s#window.unique(name) select id, name, price, timestamp "
        "insert into Out;",
        ROWS1, ROWS2,
        None,  # compared against the per-key mode only (changelog form)
    ),
    "length_batch_nulls": (
        "from s#window.lengthBatch(2) select name, count() as n, "
        "sum(price) as total, first(price) as f group by name insert into Out;",
        NULLS1, NULLS2,
        [("a", 2, 70.0, 30.0), ("a", 2, None, None), ("b", 2, 5.0, None)],
    ),
    "sliding_length_nulls": (
        "from s#window.length(2) select id, sum(price) as running, "
        "first(price) as f group by name insert into Out;",
        NULLS1, NULLS2,
        [(1, None, None), (2, None, None), (3, None, None), (4, 5.0, None),
         (5, 30.0, None), (6, 70.0, 30.0)],
    ),
    "time_length_nulls": (
        "from s#window.timeLength(1500, 2) select id, sum(price) as running, "
        "first(price) as f group by name insert into Out;",
        NULLS1, NULLS2,
        # a@5000's window (3500,5000] holds only itself
        [(1, None, None), (2, None, None), (3, None, None), (4, 5.0, None),
         (5, 30.0, 30.0), (6, 70.0, 30.0)],
    ),
    "sliding_time_nulls": (
        "from s#window.time(1500) select id, sum(price) as running, "
        "first(price) as f group by name insert into Out;",
        NULLS1, NULLS2,
        [(1, None, None), (2, None, None), (3, None, None), (4, 5.0, None),
         (5, 30.0, 30.0), (6, 70.0, 30.0)],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_bucketed_window_matches_per_key(spark, tmp_path, case):
    cql, rows1, rows2, want = CASES[case]
    got_bk = _run(spark, tmp_path, f"{case}_bk", cql, rows1, rows2, 2)
    got_pk = _run(spark, tmp_path, f"{case}_pk", cql, rows1, rows2, None)
    assert got_bk == got_pk, (case, got_bk, got_pk)
    if want is not None:
        assert got_bk == want, (case, got_bk)


def test_bucketed_window_multicolumn_key(spark, tmp_path):
    """group by name, id%2-style two-column keys demultiplex correctly
    (xxhash64 over both columns; json tuple round-trip)."""
    cql = (
        "from s#window.length(2) select name, id, sum(price) as running "
        "group by name, id insert into Out;"
    )
    got_bk = _run(spark, tmp_path, "mc_bk", cql, ROWS1, ROWS2, 3)
    got_pk = _run(spark, tmp_path, "mc_pk", cql, ROWS1, ROWS2, None)
    assert got_bk == got_pk and len(got_bk) == 6


def test_window_orders_the_whole_key_visit(spark, tmp_path):
    """A key's rows can reach the stateful step in several Arrow chunks
    (two rows each here) and out of event-time order; the window orders
    the key's whole visit, not each chunk, so both group modes cut
    lengthBatch chunks in event-time order."""
    cql, _, _, want = CASES["length_batch"]
    rows1 = list(reversed(ROWS1))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got_pk = _run(spark, tmp_path, "chunk_pk", cql, rows1, ROWS2, None)
        got_bk = _run(spark, tmp_path, "chunk_bk", cql, rows1, ROWS2, 2)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got_pk == want, got_pk
    assert got_bk == want, got_bk

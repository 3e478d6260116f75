"""Pattern/sequence NFA tests: small deterministic in-memory streams with
exact expected outputs (the reference's IT scenarios re-expressed —
SiddhiCEPITCase.java:333-382), plus partitioned patterns on the events table."""

import pytest

from flink_siddhi_spark import SiddhiCEP


def make_events(spark, rows):
    """rows: (id, name, price, timestamp)"""
    return spark.createDataFrame(rows, "id int, name string, price double, timestamp long")


@pytest.fixture()
def cep(spark):
    return SiddhiCEP(spark)


def test_simple_pattern_match(cep, spark):
    # mirror of testUnboundedPojoStreamSimplePatternMatch (SiddhiCEPITCase.java:333-358):
    # ids 0..49 on both streams, pattern [id==2] -> [id==3] must match exactly once.
    rows = [(n % 50, "test_event", float(n), 1000 * n) for n in range(50)]
    cep.define("inputStream1", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    cep.register_stream("inputStream2", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("inputStream1").cql(
        "from every s1 = inputStream1[id == 2] -> s2 = inputStream2[id == 3] "
        "select s1.id as id_1, s1.name as name_1, s2.id as id_2, s2.name as name_2 "
        "insert into outputStream"
    ).return_as_map("outputStream")
    assert out == [{"id_1": 2, "name_1": "test_event", "id_2": 3, "name_2": "test_event"}]


def test_simple_sequence(cep, spark):
    # mirror of testUnboundedPojoStreamSimpleSequences (SiddhiCEPITCase.java:361-382):
    # 5 events ids 0..4; every [id==2]+ , [id==3]? within 1000 sec -> exactly 1 match.
    rows = [(n, "test_event", float(n), 1000 * n) for n in range(5)]
    cep.define("inputStream1", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("inputStream1").cql(
        "from every s1 = inputStream1[id == 2]+ , s2 = inputStream1[id == 3]? "
        "within 1000 second "
        "select s1[0].name as n1, s2.name as n2 insert into outputStream"
    ).return_as_map("outputStream")
    assert len(out) == 1
    assert out[0] == {"n1": "test_event", "n2": "test_event"}


def test_every_multiple_matches(cep, spark):
    # two A-matches before one B: both partials complete on the same B event
    rows = [(2, "a", 1.0, 1000), (2, "b", 1.0, 2000), (3, "c", 1.0, 3000), (5, "d", 1.0, 4000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from every a = s[id == 2] -> b = s[id == 3] "
        "select a.name as an, b.name as bn insert into Out"
    ).returns("Out")
    got = sorted((r.an, r.bn) for r in out.collect())
    assert got == [("a", "c"), ("b", "c")]


def test_no_every_single_match(cep, spark):
    rows = [(2, "a", 1.0, 1000), (3, "c", 1.0, 2000), (2, "b", 1.0, 3000), (3, "d", 1.0, 4000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from a = s[id == 2] -> b = s[id == 3] "
        "select a.name as an, b.name as bn insert into Out"
    ).returns("Out")
    assert [(r.an, r.bn) for r in out.collect()] == [("a", "c")]


def test_within_excludes_late(cep, spark):
    rows = [(2, "a", 1.0, 1000), (3, "c", 1.0, 500_000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from every a = s[id == 2] -> b = s[id == 3] within 10 sec "
        "select a.name as an, b.name as bn insert into Out"
    ).returns("Out")
    assert out.count() == 0


def test_strict_sequence_kills_on_gap(cep, spark):
    # a, (noise), b : strict ',' must NOT match; '->' must match
    rows = [(2, "a", 1.0, 1000), (9, "x", 1.0, 2000), (3, "b", 1.0, 3000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    strict = cep.from_("s").cql(
        "from every a = s[id == 2] , b = s[id == 3] "
        "select a.name as an, b.name as bn insert into Out"
    ).returns("Out")
    assert strict.count() == 0
    relaxed = cep.from_("s").cql(
        "from every a = s[id == 2] -> b = s[id == 3] "
        "select a.name as an, b.name as bn insert into Out2"
    ).returns("Out2")
    assert relaxed.count() == 1


def test_quantifier_plus_collects(cep, spark):
    rows = [(2, "a", 1.0, 1000), (2, "b", 1.0, 2000), (2, "c", 1.0, 3000), (3, "d", 1.0, 4000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from a = s[id == 2]+ , b = s[id == 3] "
        "select a[0].name as first_a, a[2].name as third_a, b.name as bn insert into Out"
    ).returns("Out")
    rows_out = out.collect()
    assert len(rows_out) == 1
    assert (rows_out[0].first_a, rows_out[0].third_a, rows_out[0].bn) == ("a", "c", "d")


def test_absence_pattern(cep, spark):
    # error followed by NO click within 5s -> alert; first error has a click at +2s (no
    # alert), second error has next event at +10s (alert).
    rows = [
        (1, "err", 1.0, 1_000), (7, "click", 1.0, 3_000),
        (1, "err2", 1.0, 20_000), (9, "other", 1.0, 30_000),
    ]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from every a = s[id == 1] -> not s[id == 7] for 5 sec "
        "select a.name as an insert into Out"
    ).returns("Out")
    assert sorted(r.an for r in out.collect()) == ["err2"]


def test_and_group_any_order(cep, spark):
    # 'A and B' step: both must arrive, order-free, before the next step
    rows = [(3, "b", 1.0, 1000), (2, "a", 1.0, 2000), (5, "c", 1.0, 3000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from e1 = s[id == 2] and e2 = s[id == 3] -> e3 = s[id == 5] "
        "select e1.name as n1, e2.name as n2, e3.name as n3 insert into Out"
    ).returns("Out")
    assert [(r.n1, r.n2, r.n3) for r in out.collect()] == [("a", "b", "c")]


def test_and_group_incomplete_no_match(cep, spark):
    rows = [(2, "a", 1.0, 1000), (5, "c", 1.0, 2000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from e1 = s[id == 2] and e2 = s[id == 3] -> e3 = s[id == 5] "
        "select e1.name as n1, e2.name as n2, e3.name as n3 insert into Out"
    ).returns("Out")
    assert out.count() == 0


def test_or_group_unmatched_branch_null(cep, spark):
    # 'A or B': either arrives; the unmatched alias's attributes are null
    rows = [(3, "b", 1.0, 1000), (5, "c", 1.0, 2000)]
    cep.define("s", make_events(spark, rows), "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from e1 = s[id == 2] or e2 = s[id == 3] -> e3 = s[id == 5] "
        "select e1.name as n1, e2.name as n2, e3.name as n3 insert into Out"
    ).returns("Out")
    assert [(r.n1, r.n2, r.n3) for r in out.collect()] == [(None, "b", "c")]


def test_partitioned_pattern_on_events(cep, spark, sf_dir):
    import duckdb

    from flink_siddhi_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    cep.register_stream(
        "events", events, "event_id", "ts", "user_id", "event_type", "value", "props",
        ts_field="ts",
    )
    out = cep.from_("events").cql(
        "partition with (user_id of events) begin "
        "from every s1 = events[event_type == 'error'] -> s2 = events[event_type == 'purchase'] "
        "select s1.user_id as user_id, s1.event_id as error_id, s2.event_id as purchase_id "
        "insert into Out; end"
    ).returns("Out")
    got = sorted(tuple(r) for r in out.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    # oracle: every error pairs with the FIRST later purchase of the same user
    oracle = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id
            FROM events e, LATERAL (
              SELECT event_id FROM events p
              WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
                AND (p.ts > e.ts OR (p.ts = e.ts AND p.event_id > e.event_id))
              ORDER BY p.ts, p.event_id LIMIT 1
            ) p
            WHERE e.event_type = 'error'
            """
        ).fetchall()
    )
    assert got == oracle


def test_three_step_every_batch_kernel(cep, spark):
    """The batch path runs `every A -> B -> C [within]` on the chain
    kernel (run_kernel_chain through run_shape). Deterministic feed
    with hand-computed expectations: each armed partial captures the FIRST
    later b then the FIRST c after that b; within bounds the full span."""
    rows = [
        (1, "x", 1.0, 1000),   # arms p1
        (2, "x", 1.0, 2000),   # arms p2
        (3, "y", 1.0, 3000),   # b for p1 AND p2
        (4, "y", 1.0, 4000),   # ignored (first-b already captured)
        (5, "z", 1.0, 5000),   # c for both -> p1 span 4000, p2 span 3000
        (6, "x", 1.0, 9000),   # arms p3; no later y -> never completes
    ]
    cep.define("s", make_events(spark, rows), "id", "name", "price",
               "timestamp", ts_field="timestamp")
    q = ("from every a = s[name == 'x'] -> b = s[name == 'y'] "
         "-> c = s[name == 'z'] {W} "
         "select a.id as a_id, b.id as b_id, c.id as c_id insert into Out")
    got = sorted(
        (r.a_id, r.b_id, r.c_id)
        for r in cep.from_("s").cql(q.format(W="")).returns("Out").collect()
    )
    assert got == [(1, 3, 5), (2, 3, 5)], got
    # within 3500 ms: p1's span (1000..5000) exceeds it -> evicted; p2 fits
    cep2 = SiddhiCEP(spark)
    cep2.define("s", make_events(spark, rows), "id", "name", "price",
                "timestamp", ts_field="timestamp")
    got_w = sorted(
        (r.a_id, r.b_id, r.c_id)
        for r in cep2.from_("s")
        .cql(q.format(W="within 3500 milliseconds")).returns("Out").collect()
    )
    assert got_w == [(2, 3, 5)], got_w


def test_chain_quant_mid_kernel_and_null_index(cep, spark):
    # one quantified INTERIOR stage = the chain_quant shape on the batch
    # path (run_shape runs a key this small on the row loop, which the
    # kernel is pinned equal to). Two arms per 'a':
    #  a1 (id=1@1s): b@2s captured, completion c@3s -> one b, b[1] NULL
    #  a2 (id=1@4s): b@5s and b@6s captured (greedy below m=2), c@7s
    # b[1] past the captured count must be NULL (Siddhi semantics; was an
    # ANSI ArrayIndexOutOfBounds via getItem — found by the
    # sequence_quant_chain oracle).
    rows = [
        (1, "a1", 1.0, 1000), (2, "b1", 1.0, 2000), (3, "c1", 1.0, 3000),
        (1, "a2", 1.0, 4000), (2, "b2", 1.0, 5000), (2, "b3", 1.0, 6000),
        (3, "c2", 1.0, 7000),
    ]
    cep.define("s", make_events(spark, rows), "id", "name", "price",
               "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from every a = s[id == 1] -> b = s[id == 2]<1:2> -> c = s[id == 3] "
        "select a.name as an, b[0].name as b0, b[1].name as b1, "
        "c.name as cn insert into Out"
    ).returns("Out")
    got = sorted((r.an, r.b0, r.b1, r.cn) for r in out.collect())
    assert got == [("a1", "b1", None, "c1"), ("a2", "b2", "b3", "c2")]


def test_pattern_engine_is_logged_once_per_compile(spark, tmp_path, caplog):
    """Compiling a pattern logs which engine runs it — the JVM ``sql`` fast
    path, a numpy kernel shape, or the ``nfa`` row loop — once, batch and
    streaming alike; no job runs, so nothing logs per visit."""
    import logging

    caplog.set_level(logging.INFO, logger="flink_siddhi_spark")
    rows = [(1, "x", 1.0, 1000), (2, "y", 1.0, 2000), (3, "z", 1.0, 3000)]
    schema = "id int, name string, price double, timestamp long"
    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    two = "every a = s[name == 'x'] -> b = s[name == 'y']"
    three = two + " -> c = s[name == 'z']"
    strict3 = "every a = s[name == 'x'] , b = s[name == 'y'] , c = s[name == 'z']"
    absent = two + " -> not s[name == 'z'] for 1 sec"
    group = "every a = s[name == 'x'] and b = s[name == 'y'] -> c = s[name == 'z']"
    cases = [
        ("batch", two, "sql"),
        ("batch", three, "chain"),
        ("batch", strict3, "chain"),
        ("batch", absent, "nfa"),  # batch confirms absence at stream close
        ("batch", group, "nfa"),
        ("streaming", two, "chain"),
        ("streaming", absent, "chain_absence"),
        ("streaming", group, "nfa"),
    ]
    for mode, pattern, engine in cases:
        cep = SiddhiCEP(spark)
        if mode == "batch":
            cep.define("s", make_events(spark, rows), "id", "name", "price",
                       "timestamp", ts_field="timestamp")
        else:
            cep.register_stream("s", stream, "id", "name", "price",
                                "timestamp", ts_field="timestamp")
        caplog.clear()
        cep.from_("s").cql(
            f"from {pattern} select a.id as a_id insert into Out"
        ).returns("Out")
        got = [
            r.getMessage() for r in caplog.records
            if r.getMessage().startswith("pattern engine")
        ]
        assert got == [f"pattern engine ({mode}): {engine}"], (
            mode, pattern, got,
        )
    # both modes resolve select references through one resolver: an index
    # into a non-collection element is a plan-time error in each
    from flink_siddhi_spark.errors import SiddhiPlannerException

    for mode in ("batch", "streaming"):
        cep = SiddhiCEP(spark)
        if mode == "batch":
            cep.define("s", make_events(spark, rows), "id", "name", "price",
                       "timestamp", ts_field="timestamp")
        else:
            cep.register_stream("s", stream, "id", "name", "price",
                                "timestamp", ts_field="timestamp")
        with pytest.raises(SiddhiPlannerException, match="a is not a collection"):
            cep.from_("s").cql(
                f"from {two} select a[1].id as a_id insert into Out"
            )


def test_null_filter_operand_reads_false_in_batch_and_streaming(spark, tmp_path):
    """A comparison with a null operand reads false in an element filter,
    in both engines: one key's first a-candidate and b-candidate carry a
    null ``name`` under an ordering, and one key's only a-candidate a null
    ``name`` under ``!=``. Batch runs each 2-element pattern on the SQL
    fast path and each 3-element chain on the numpy kernel (its strict
    connector turns the relaxed-only prefilter off, so the null rows reach
    ``element_masks``); streaming runs all of them through the per-key
    step."""
    from tests.test_property_patterns_r7 import SCHEMA, _run_streaming

    rows = [  # (id, name, timestamp, key)
        (2, "b", 1000, 1), (3, "b", 2000, 1), (4, "z", 3000, 1),
        (2, None, 1000, 2), (3, None, 1500, 2), (2, "c", 2000, 2),
        (3, "a", 3000, 2), (4, "z", 4000, 2),
        (2, "a", 1000, 3), (3, "b", 2000, 3), (4, "z", 3000, 3),
    ]
    ne_rows = [
        (2, None, 1000, 1), (3, "b", 2000, 1), (4, "z", 3000, 1),
        (2, "y", 1000, 2), (3, "b", 2000, 2), (4, "z", 3000, 2),
        (2, "x", 1000, 3), (3, "b", 2000, 3), (4, "z", 3000, 3),
    ]
    two = "every a = s[name > 'a' and id == 2] -> b = s[name <= 'b' and id == 3]"
    ne_two = "every a = s[name != 'x' and id == 2] -> b = s[id == 3]"
    cases = [
        (two, rows, [("b", "b"), ("c", "a")]),
        (two + " , c = s[id == 4]", rows, [("b", "b"), ("c", "a")]),
        (ne_two, ne_rows, [("y", "b")]),
        (ne_two + " , c = s[id == 4]", ne_rows, [("y", "b")]),
    ]
    for i, (pattern, feed, want) in enumerate(cases):
        cql = (
            f"partition with (price of s) begin from {pattern} "
            "select a.name as a_name, b.name as b_name insert into Out end"
        )
        cep = SiddhiCEP(spark)
        df = spark.createDataFrame(
            [(k, nm, float(u), t) for k, nm, t, u in feed], SCHEMA
        )
        cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
        batch = sorted(tuple(r) for r in cep.from_("s").cql(cql).returns("Out").collect())
        streamed = sorted(
            tuple(r) for r in _run_streaming(spark, [feed], cql, str(tmp_path / str(i)))
        )
        assert batch == streamed == want, (pattern, batch, streamed)

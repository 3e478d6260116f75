"""The batch pattern fast path builds its plans as SQL text.

These tests pin what that rendering must keep: identifiers are quoted (field
names with a space or a backtick, a stream name with a quote), every fast-path
shape returns the rows of the general NFA path (``applyInPandas``), the
next-match rank is a running count (no ``UnboundedFollowing`` frame, which
Spark evaluates in O(n^2) per key), and a wider stream costs about one py4j
command per extra field to compile, not a round trip per Column node.
"""

import threading

import pytest

from flink_siddhi_spark import SiddhiCEP
from flink_siddhi_spark.operators import pattern as pattern_mod
from flink_siddhi_spark.plans.planner import BatchPlanner
from flink_siddhi_spark.schema import StreamSchema
from flink_siddhi_spark.siddhiql.parser import parse_query

SPACE, TICK = "my val", "we`ird"
ODD_STREAM = "o'q"
ODD_SCHEMA = f"id int, name string, `{SPACE}` double, `we``ird` string, ts long"

# (ts, name, my val, we`ird): two keys, a tie at ts=3000 broken by a null
# `my val` (nulls sort last), an event matching both a and b ('xy'), and
# keys whose last x has no later y
ODD_ROWS = [
    (1000, "x", 1.0, "k1"), (2000, "y", None, "k1"), (3000, "x", None, "k1"),
    (3000, "y", 2.0, "k1"), (4000, "xy", 3.0, "k1"), (9000, "x", 4.0, "k1"),
    (1000, "y", 5.0, "k2"), (2000, "x", 6.0, "k2"), (2000, "z", None, "k2"),
    (2500, "xy", None, "k2"), (2600, "y", 7.0, "k2"), (20000, "x", 8.0, "k2"),
]

SHAPES = {
    "relaxed": "from every a = S[name == 'x' or name == 'xy'] -> "
               "b = S[name == 'y' or name == 'xy'] within 5 sec "
               "select a.id as a_id, b.id as b_id insert into Out",
    "relaxed_first": "from a = S[name == 'x' or name == 'xy'] -> "
                     "b = S[name == 'y' or name == 'xy'] "
                     "select a.id as a_id, b.id as b_id insert into Out",
    "every_at": "from a = S[name == 'x'] -> every b = S[name == 'y' or name == 'xy'] "
                "select a.id as a_id, b.id as b_id insert into Out",
    "strict": "from every a = S[name == 'x' or name == 'xy'] , "
              "b = S[name == 'y' or name == 'xy'] "
              "select a.id as a_id, b.id as b_id insert into Out",
    "strict_first": "from a = S[name == 'x'] , b = S[name == 'y' or name == 'xy'] "
                    "select a.id as a_id, b.id as b_id insert into Out",
    "absence": "from every a = S[name == 'x' or name == 'xy'] -> "
               "not S[name == 'y' or name == 'xy'] for 2 sec "
               "select a.id as a_id insert into Out",
}


def _odd_planner(spark):
    df = spark.createDataFrame(
        [(i, nm, v, k, ts) for i, (ts, nm, v, k) in enumerate(ODD_ROWS)],
        ODD_SCHEMA,
    )
    sch = StreamSchema(ODD_STREAM, df, ["id", "name", SPACE, TICK, "ts"], ts_field="ts")
    return BatchPlanner({ODD_STREAM: sch})


def _odd_query(cql: str, keyed: bool):
    """The query over stream ``S`` renamed to ``ODD_STREAM`` (the SiddhiQL
    lexer has no quoted identifiers; the planner takes any catalog name)."""
    q = parse_query(cql)
    for e in q.input.elems:
        e.stream = ODD_STREAM
    if keyed:
        q.partition_by = {ODD_STREAM: TICK}
    return q


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both_paths(planner, cql, keyed, monkeypatch):
    fast = planner.compile_query(_odd_query(cql, keyed))
    assert "FlatMapGroupsInPandas" not in fast._jdf.queryExecution().executedPlan().toString()
    with monkeypatch.context() as m:
        m.setattr(pattern_mod, "_try_fast_path", lambda *a, **k: None)
        nfa = planner.compile_query(_odd_query(cql, keyed))
    assert "FlatMapGroupsInPandas" in nfa._jdf.queryExecution().executedPlan().toString()
    return _rows(fast), _rows(nfa)


@pytest.mark.parametrize("keyed", [False, True])
@pytest.mark.parametrize("shape", ["relaxed", "strict", "absence"])
def test_sql_rendering_quotes_identifiers(spark, shape, keyed, monkeypatch):
    fast, nfa = _both_paths(_odd_planner(spark), SHAPES[shape], keyed, monkeypatch)
    assert fast == nfa
    assert fast  # every shape matches something on this feed


@pytest.mark.parametrize("shape", ["relaxed_first", "every_at", "strict_first"])
def test_fast_path_matches_nfa_on_edge_feed(spark, shape, monkeypatch):
    """Events matching both a and b, ts ties broken by a null field, an x
    with no later y, ``every`` only mid-pattern, and no ``every``."""
    for keyed in (False, True):
        fast, nfa = _both_paths(_odd_planner(spark), SHAPES[shape], keyed, monkeypatch)
        assert fast == nfa, (shape, keyed)


def test_two_streams_pad_and_key_per_stream(spark, monkeypatch):
    """Streams with different fields: each side of the union pads the
    other's fields with typed nulls, tags its rows and projects its own
    partition key attribute."""
    logins = spark.createDataFrame(
        [(1, "u1", 1000), (2, "u2", 1500), (3, "u1", 4000), (4, "u2", 6000)],
        "lid int, user string, ts long",
    )
    buys = spark.createDataFrame(
        [(10, "u1", 2.5, 2000), (11, "u2", None, 1200), (12, "u2", 9.0, 3000),
         (13, "u1", 1.0, 4000)],
        "bid int, buyer string, amount double, ts long",
    )
    planner = BatchPlanner({
        "logins": StreamSchema("logins", logins, ["lid", "user", "ts"], ts_field="ts"),
        "buys": StreamSchema("buys", buys, ["bid", "buyer", "amount", "ts"], ts_field="ts"),
    })
    for cql in (
        "from every a = logins -> b = buys[amount > 1.0] "
        "select a.lid as lid, b.bid as bid insert into Out",
        "from every a = logins , b = buys select a.lid as lid, b.bid as bid insert into Out",
        "from every a = logins -> not buys for 1 sec select a.lid as lid insert into Out",
    ):
        for keyed in (False, True):
            def query():
                q = parse_query(cql)
                if keyed:
                    q.partition_by = {"logins": "user", "buys": "buyer"}
                return q

            fast = _rows(planner.compile_query(query()))
            with monkeypatch.context() as m:
                m.setattr(pattern_mod, "_try_fast_path", lambda *a, **k: None)
                nfa = _rows(planner.compile_query(query()))
            assert fast == nfa, (cql, keyed)
            assert fast, (cql, keyed)


def test_keyed_fast_path_has_no_unbounded_following_frame(spark):
    planner = _odd_planner(spark)
    for shape in ("relaxed", "relaxed_first", "every_at", "strict_first", "absence"):
        plan = planner.compile_query(_odd_query(SHAPES[shape], keyed=True))
        executed = plan._jdf.queryExecution().executedPlan().toString()
        assert "Window" in executed, shape
        assert "unboundedfollowing" not in executed.lower(), shape


def _compile_commands(spark, n_fields: int) -> int:
    """py4j commands sent while compiling a keyed 2-element pattern over a
    stream of ``n_fields`` fields (counted the way the benchmark does, by
    wrapping the gateway client's ``send_command``, on this thread only)."""
    extra = [f"f{i}" for i in range(n_fields - 4)]
    schema = "uid int, name string, ts long, v double" + "".join(
        f", {f} int" for f in extra
    )
    df = spark.createDataFrame([], schema)
    cep = SiddhiCEP(spark)
    cep.define("s", df, "uid", "name", "ts", "v", *extra, ts_field="ts")
    cql = (
        "partition with (uid of s) begin "
        "from every a = s[name == 'x'] -> b = s[name == 'y'] within 1 min "
        "select a.uid as uid, a.v as av, b.v as bv insert into Out; end"
    )
    cep.from_("s").cql(cql)  # warm: imports and first-use caches
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    original = client.send_command
    me = threading.get_ident()

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends object releases at its own pace
        calls[0] += threading.get_ident() == me
        return original(*args, **kwargs)

    client.send_command = counting
    try:
        cep.from_("s").cql(cql).returns("Out")
    finally:
        del client.send_command
    return calls[0]


def test_compile_cost_per_field(spark):
    narrow, wide = _compile_commands(spark, 4), _compile_commands(spark, 24)
    # one command per extra field (the stream projection), with a little slack
    assert wide - narrow <= 24, (narrow, wide)

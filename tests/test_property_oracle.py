"""Property-based oracle testing: generate random SiddhiQL queries, run them
through the engine AND a mechanically-derived DuckDB translation, and require
identical result sets. Far stronger than the reference's line-count
assertions (SiddhiCEPITCase.java) — any filter/projection/aggregation
combination must match, not just hand-picked cases."""

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_siddhi_spark import SiddhiCEP

# long randomized fuzz suite: slow tier (round 11, VERDICT r10 item 3)
pytestmark = pytest.mark.slow

NUM_COLS = ["value", "user_id", "event_id"]
CMP_OPS = ["<", "<=", ">", ">=", "==", "!="]
AGGS = ["sum", "count", "min", "max", "avg"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]


@pytest.fixture(scope="module")
def cep_and_duck(spark, sf_dir):
    from flink_siddhi_spark.sources.tables import load_table

    cep = SiddhiCEP(spark)
    events = load_table(spark, sf_dir, "events")
    cep.register_stream(
        "events", events, "event_id", "ts", "user_id", "event_type", "value", "props",
        ts_field="ts",
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    return cep, con


@st.composite
def predicates(draw):
    """(siddhi_pred, sql_pred) pairs over the events schema."""
    def leaf():
        kind = draw(st.integers(0, 2))
        if kind == 0:
            col = draw(st.sampled_from(NUM_COLS))
            op = draw(st.sampled_from(CMP_OPS))
            val = draw(st.integers(0, 100))
            sql_op = {"==": "=", "!=": "<>"}.get(op, op)
            return f"{col} {op} {val}", f"{col} {sql_op} {val}"
        if kind == 1:
            ty = draw(st.sampled_from(EVENT_TYPES))
            neg = draw(st.booleans())
            op, sop = ("!=", "<>") if neg else ("==", "=")
            return f"event_type {op} '{ty}'", f"event_type {sop} '{ty}'"
        col = draw(st.sampled_from(NUM_COLS))
        lo = draw(st.integers(0, 50))
        hi = lo + draw(st.integers(1, 50))
        return (
            f"{col} >= {lo} and {col} <= {hi}",
            f"{col} >= {lo} AND {col} <= {hi}",
        )

    s1, q1 = leaf()
    if draw(st.booleans()):
        conj = draw(st.sampled_from(["and", "or"]))
        s2, q2 = leaf()
        return f"({s1}) {conj} ({s2})", f"({q1}) {conj.upper()} ({q2})"
    return s1, q1


def rows_set(df):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def duck_set(con, sql):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in con.execute(sql).fetchall()
    )


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pred=predicates())
def test_random_filter_projection(cep_and_duck, pred):
    cep, con = cep_and_duck
    spred, qpred = pred
    out = cep.from_("events").cql(
        f"from events[{spred}] select event_id, user_id, value insert into Out"
    ).returns("Out")
    oracle = duck_set(
        con, f"SELECT event_id, user_id, value FROM events WHERE {qpred}"
    )
    assert rows_set(out) == oracle


@st.composite
def int_exprs(draw, depth=2):
    """(siddhi_expr, sql_expr) integer arithmetic over bigint columns —
    identical text works in both dialects, so this checks the expression
    COMPILER (precedence, parentheses, nesting), exact integer compare."""
    if depth == 0 or draw(st.booleans()):
        if draw(st.booleans()):
            c = draw(st.sampled_from(["user_id", "event_id"]))
            return c, c
        v = str(draw(st.integers(-20, 20)))
        return v, v
    l_s, l_q = draw(int_exprs(depth=depth - 1))
    r_s, r_q = draw(int_exprs(depth=depth - 1))
    op = draw(st.sampled_from(["+", "-", "*"]))
    if draw(st.booleans()):
        return f"({l_s} {op} {r_s})", f"({l_q} {op} {r_q})"
    return f"{l_s} {op} {r_s}", f"{l_q} {op} {r_q}"


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(expr=int_exprs(), pred=predicates())
def test_random_arithmetic_projection(cep_and_duck, expr, pred):
    cep, con = cep_and_duck
    sexpr, qexpr = expr
    spred, qpred = pred
    out = cep.from_("events").cql(
        f"from events[{spred}] select event_id, {sexpr} as x insert into Out"
    ).returns("Out")
    oracle = duck_set(
        con,
        f"SELECT event_id, CAST({qexpr} AS BIGINT) x FROM events WHERE {qpred}",
    )
    assert rows_set(out) == oracle


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(mins=st.integers(1, 240), agg=st.sampled_from(["sum", "count", "min", "max"]),
       pred=predicates())
def test_random_time_batch_window(cep_and_duck, mins, agg, pred):
    """timeBatch(t) for arbitrary t must equal DuckDB's floor(ts/t) bucketing
    for any filter/agg combination — the window bucketing law, not one size."""
    cep, con = cep_and_duck
    spred, qpred = pred
    size = mins * 60_000
    scall = f"{agg}(value)" if agg != "count" else "count()"
    out = cep.from_("events").cql(
        f"from events[{spred}]#window.timeBatch({mins} min) "
        f"select windowStart() as w, event_type, {scall} as x "
        "group by event_type insert into Out"
    ).returns("Out")
    if agg == "count":
        sqlagg = "CAST(count(*) AS BIGINT)"
    elif agg == "sum":
        sqlagg = "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)"
    else:
        sqlagg = f"{agg}(value)"
    oracle = duck_set(
        con,
        f"SELECT CAST(FLOOR(epoch_ms(ts) / {size}) AS BIGINT) * {size} AS w, "
        f"event_type, {sqlagg} x FROM events WHERE {qpred} GROUP BY 1, 2",
    )
    assert rows_set(out) == oracle


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pred=predicates(), agg=st.sampled_from(AGGS),
       key=st.sampled_from(["event_type", "user_id"]))
def test_random_group_aggregate(cep_and_duck, pred, agg, key):
    cep, con = cep_and_duck
    spred, qpred = pred
    scall = f"{agg}(value)" if agg != "count" else "count()"
    out = cep.from_("events").cql(
        f"from events[{spred}] select {key}, {scall} as x "
        f"group by {key} insert into Out"
    ).returns("Out")
    if agg == "count":
        sqlagg = "CAST(count(*) AS BIGINT)"
    elif agg == "sum":
        sqlagg = "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)"
    elif agg == "avg":
        sqlagg = "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value)"
    else:
        sqlagg = f"{agg}(value)"
    oracle = duck_set(
        con,
        f"SELECT {key}, {sqlagg} x FROM events WHERE {qpred} GROUP BY {key}",
    )
    assert rows_set(out) == oracle


# --------------------------------------------------------------------- patterns
def _brute_followed_by(rows, within_ms=None, every=True):
    """Reference semantics of `[every] a = s[name=='x'] -> b = s[name=='y']`:
    each x-event opens a partial (only the first x without `every`); a partial
    completes on the FIRST later y-event (within the deadline if given)."""
    out = []
    for i, (aid, aname, ats) in enumerate(rows):
        if aname != "x":
            continue
        for bid, bname, bts in rows[i + 1:]:
            if bname == "y" and (within_ms is None or bts - ats <= within_ms):
                out.append((aid, bid))
                break
        if not every:
            break
    return sorted(out)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=10),
    gaps=st.lists(st.integers(1, 4), min_size=10, max_size=10),
    within_s=st.sampled_from([None, 3, 7]),
    every=st.booleans(),
)
def test_random_followed_by_pattern(spark, names, gaps, within_s, every):
    # unique, strictly increasing timestamps; odd `within` seconds vs whole-
    # second gaps so the deadline never lands exactly on an event boundary
    ts, rows = 0, []
    for i, nm in enumerate(names):
        ts += gaps[i % len(gaps)] * 1000
        rows.append((i, nm, ts))
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(i), t) for i, nm, t in rows],
        "id int, name string, price double, timestamp long")
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    w = f" within {within_s}500 milliseconds" if within_s else ""
    ev = "every " if every else ""
    out = cep.from_("s").cql(
        f"from {ev}a = s[name == 'x'] -> b = s[name == 'y']{w} "
        "select a.id as a_id, b.id as b_id insert into Out"
    ).returns("Out")
    got = sorted((r.a_id, r.b_id) for r in out.collect())
    want = _brute_followed_by(rows, within_s * 1000 + 500 if within_s else None, every)
    assert got == want, (rows, within_s, every)


def _brute_strict_seq(rows, every=True):
    """`[every] a = s[name=='x'] , b = s[name=='y']`: the event IMMEDIATELY
    after a matching x must be a y, else that partial dies (and the killing
    event may itself open a new partial). Without `every` ONLY the first x
    arms the single partial — if its successor is not a y the sequence is
    dead and never re-arms (PARITY.md contract; matches the general NFA,
    fixed in the fast path by the round-7 property fuzz)."""
    out = []
    for i, (aid, aname, _) in enumerate(rows):
        if aname != "x" or i + 1 >= len(rows):
            if aname == "x" and not every:
                break
            continue
        bid, bname, _ = rows[i + 1]
        if bname == "y":
            out.append((aid, bid))
        if not every:
            break
    return sorted(out)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=10),
    every=st.booleans(),
)
def test_random_strict_sequence(spark, names, every):
    rows = [(i, nm, (i + 1) * 1000) for i, nm in enumerate(names)]
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(i), t) for i, nm, t in rows],
        "id int, name string, price double, timestamp long")
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    ev = "every " if every else ""
    out = cep.from_("s").cql(
        f"from {ev}a = s[name == 'x'] , b = s[name == 'y'] "
        "select a.id as a_id, b.id as b_id insert into Out"
    ).returns("Out")
    got = sorted((r.a_id, r.b_id) for r in out.collect())
    assert got == _brute_strict_seq(rows, every), (rows, every)


def _brute_mid_every(rows, within_ms=None, leading_every=False):
    """`[every] a = s[x] -> every b = s[y] [within t]` (mid-pattern every,
    Siddhi suffix restart): each chain-opening x (the first only without a
    leading `every`) pairs with EVERY later y, within the deadline."""
    out = []
    for i, (aid, aname, ats) in enumerate(rows):
        if aname != "x":
            continue
        for bid, bname, bts in rows[i + 1:]:
            if bname == "y" and (within_ms is None or bts - ats <= within_ms):
                out.append((aid, bid))
        if not leading_every:
            break
    return sorted(out)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=10),
    gaps=st.lists(st.integers(1, 4), min_size=10, max_size=10),
    within_s=st.sampled_from([None, 3, 7]),
    leading=st.booleans(),
)
def test_random_mid_pattern_every(spark, names, gaps, within_s, leading):
    # exercises the 2-element JVM fast path (position-inequality join)
    ts, rows = 0, []
    for i, nm in enumerate(names):
        ts += gaps[i % len(gaps)] * 1000
        rows.append((i, nm, ts))
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(i), t) for i, nm, t in rows],
        "id int, name string, price double, timestamp long")
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    w = f" within {within_s}500 milliseconds" if within_s else ""
    ev = "every " if leading else ""
    out = cep.from_("s").cql(
        f"from {ev}a = s[name == 'x'] -> every b = s[name == 'y']{w} "
        "select a.id as a_id, b.id as b_id insert into Out"
    ).returns("Out")
    got = sorted((r.a_id, r.b_id) for r in out.collect())
    want = _brute_mid_every(rows, within_s * 1000 + 500 if within_s else None, leading)
    assert got == want, (rows, within_s, leading)


def _brute_mid_every3(rows):
    """`a = s[x] -> every b = s[y] -> c = s[z]`: first x opens the chain;
    every later y restarts the suffix; each y completes on its FIRST later z."""
    out = []
    ai = next((i for i, r in enumerate(rows) if r[1] == "x"), None)
    if ai is None:
        return out
    for j in range(ai + 1, len(rows)):
        if rows[j][1] != "y":
            continue
        for k in range(j + 1, len(rows)):
            if rows[k][1] == "z":
                out.append((rows[ai][0], rows[j][0], rows[k][0]))
                break
    return sorted(out)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(names=st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=3, max_size=12))
def test_random_mid_pattern_every_three_steps(spark, names):
    # 3 elements -> the general NFA path (spawner/clone machinery)
    rows = [(i, nm, (i + 1) * 1000) for i, nm in enumerate(names)]
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(i), t) for i, nm, t in rows],
        "id int, name string, price double, timestamp long")
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    out = cep.from_("s").cql(
        "from a = s[name == 'x'] -> every b = s[name == 'y'] -> c = s[name == 'z'] "
        "select a.id as a_id, b.id as b_id, c.id as c_id insert into Out"
    ).returns("Out")
    got = sorted((r.a_id, r.b_id, r.c_id) for r in out.collect())
    assert got == _brute_mid_every3(rows), rows


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "xy", "z"]), min_size=2, max_size=12),
    gaps=st.lists(st.integers(0, 2), min_size=12, max_size=12),
    prices=st.lists(st.sampled_from([None, 1.0, 2.0]), min_size=12, max_size=12),
    shape=st.sampled_from(["relaxed", "every_at", "strict", "absence"]),
    every=st.booleans(),
    keyed=st.booleans(),
)
def test_random_fast_path_matches_general_nfa(spark, monkeypatch, names, gaps,
                                              prices, shape, every, keyed):
    """The 2-element JVM fast path against the general NFA on the same
    query: ts ties broken by a null-holding field, events matching both a
    and b, absence with no later b, ``every`` mid-pattern and no ``every``."""
    from flink_siddhi_spark.operators import pattern as pattern_mod

    ts, rows = 0, []
    for i, nm in enumerate(names):
        ts += gaps[i] * 1000
        rows.append((prices[i], i, nm, ts, i % 2))
    df = spark.createDataFrame(
        rows, "price double, id int, name string, timestamp long, user int")
    a, b = "name == 'x' or name == 'xy'", "name == 'y' or name == 'xy'"
    ev = "every " if every else ""
    if shape == "absence":
        body = (f"from {ev}a = s[{a}] -> not s[{b}] for 1500 milliseconds "
                "select a.id as a_id insert into Out;")
    else:
        conn = {"relaxed": "-> b", "every_at": "-> every b", "strict": ", b"}[shape]
        body = (f"from {ev}a = s[{a}] {conn} = s[{b}] "
                "select a.id as a_id, b.id as b_id insert into Out;")
    cql = f"partition with (user of s) begin {body} end" if keyed else body

    def run():
        cep = SiddhiCEP(spark)
        cep.define("s", df, "price", "id", "name", "timestamp", "user",
                   ts_field="timestamp")
        return sorted(tuple(r) for r in cep.from_("s").cql(cql).returns("Out").collect())

    fast = run()
    with monkeypatch.context() as m:
        m.setattr(pattern_mod, "_try_fast_path", lambda *args, **kw: None)
        nfa = run()
    assert fast == nfa, (rows, shape, every, keyed)


def _brute_asof(lefts, rights):
    """(k, lts) x (k, rts, v): latest v with rts <= lts; ties -> max v."""
    out = {}
    for eid, k, lts in lefts:
        best = None
        for rk, rts, v in rights:
            if rk == k and rts <= lts and (best is None or (rts, v) > best):
                best = (rts, v)
        out[eid] = best[1] if best else None
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lts=st.lists(st.integers(0, 20), min_size=1, max_size=8),
    rts=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 9)),
                 min_size=0, max_size=10),
)
def test_random_asof_join(spark, lts, rts):
    from flink_siddhi_spark.operators.asof import asof_join

    lefts = [(i, t % 3, t * 100) for i, t in enumerate(lts)]
    rights = [(k % 3, t * 100, v) for k, t, v in rts]
    l = spark.createDataFrame(lefts, "eid long, k long, lts long")
    r = (spark.createDataFrame(rights, "k long, rts long, v long")
         if rights else
         spark.createDataFrame([], "k long, rts long, v long"))
    got = {row.eid: row.v for row in
           asof_join(l, r, on="k", left_ts="lts", right_ts="rts").collect()}
    assert got == _brute_asof(lefts, rights), (lefts, rights)

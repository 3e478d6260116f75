"""Round-8 pattern streaming tests (VERDICT r7 asks #1 and #4):

1. Absence-pattern watermark eviction — `every a=A -> not B for t within w`
   now evicts its per-key buffer below `wm - within - for_ms`, with the
   floor clamped to min(first_ts) over live partials, and absence partials
   are never dropped by eviction (only by the NFA's own window rule). The
   fuzz here streams randomized multi-key feeds whose span far exceeds
   within+for (so eviction fires mid-stream) and pins row-for-row batch
   parity, including LATE confirmer arrivals (out-of-order across
   micro-batches) and quiet keys whose watermark is advanced by other keys.

2. The non-every (arm-once) shapes across micro-batches: first-attempt
   contract parity (the round-7 fuzz-found semantics) plus the done-seal
   (at most one emission ever, buffer dropped after it).

Reference semantics: SiddhiQL `not X for t` absence (README.md:87-90 of
/root/reference; the embedded engine buffers per-key — this is the
watermark-exact Spark equivalent).
"""

import os
import shutil
import tempfile

from flink_siddhi_spark import SiddhiCEP

from .test_property_patterns_r7 import SCHEMA, _run_streaming
import pytest

ABSENCE_CQL = (
    "partition with (price of s) begin "
    "from every a = s[name == 'x'] -> not s[name == 'y'] "
    "for 3500 milliseconds within 9500 milliseconds "
    "select a.price as u, a.id as a_id insert into Out; end"
)


def _batch_collect(spark, all_rows, cql):
    cep = SiddhiCEP(spark)
    df = spark.createDataFrame(
        [(i, nm, float(u), t) for i, nm, t, u in all_rows], SCHEMA
    )
    cep.define("s", df, "id", "name", "price", "timestamp", ts_field="timestamp")
    return cep.from_("s").cql(cql).returns("Out").collect()


@pytest.mark.slow
def test_streaming_absence_parity_fuzz(spark):
    """12 randomized 2-key feeds with spans well past within+for (eviction
    fires on in-order batches), per-key tail sentinels so every pending
    absence resolves before close (streaming never emits at a batch
    boundary), and on even trials a LATE confirmer z arriving out-of-order
    in the last micro-batch (content-equal confirmation, so eager emission
    stays order-independent). Row-for-row equal to the batch operator."""
    import random

    rng = random.Random(88)
    for trial in range(12):
        n = rng.randint(8, 16)
        rows, ts = [], 0
        for i in range(n):
            ts += rng.randint(2, 6) * 1000
            rows.append((i, rng.choice("xyzz"), ts, rng.randint(1, 2)))
        gmax = rows[-1][2]
        # per-key tails: past every deadline (gmax + for_ms) so streaming
        # confirms everything batch would close-confirm
        tails = [(900, "z", gmax + 4500, 1), (901, "z", gmax + 5500, 2)]
        if trial % 2 == 0 and n >= 10:
            # late confirmer: lands mid-feed in event time (above the final
            # watermark = max(batch 1+2 ts) - 10s) but arrives LAST
            prev_max = rows[3 * n // 4 - 1][2]
            late = [(1000 + trial, "z", max(prev_max - 5000, 1000),
                     rng.randint(1, 2))]
        else:
            late = []
        batches = [
            rows[: n // 2],
            rows[n // 2: 3 * n // 4],
            rows[3 * n // 4:] + tails + late,
        ]
        all_rows = rows + tails + late
        root = tempfile.mkdtemp(prefix="absfuzz_")
        try:
            got = sorted(
                (int(r.u), r.a_id)
                for r in _run_streaming(spark, batches, ABSENCE_CQL, root)
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
        want = sorted(
            (int(r.u), r.a_id)
            for r in _batch_collect(spark, all_rows, ABSENCE_CQL)
        )
        assert got == want, (trial, all_rows)


def test_streaming_absence_quiet_key(spark):
    """A key goes quiet with a waiting-to-confirm partial while ANOTHER key
    advances the watermark; the quiet key's confirmer then arrives (above
    the watermark, inside the partial's within-window) — the match must
    still be emitted: eviction keeps live absence partials and the rows
    they captured."""
    rows = [
        (0, "x", 1_000, 1),     # key 1 arms (deadline 4500, window 10500)
        (1, "z", 2_000, 2),
        (2, "z", 8_000, 2),
        (3, "z", 14_000, 2),    # key 2 drives the watermark to ~4s
        (4, "z", 6_000, 1),     # key 1 confirmer: 6000 > 4500, in window
        (5, "z", 15_000, 2),
        (6, "z", 20_000, 2),    # tails resolve key 2 (it has no x)
    ]
    batches = [rows[:2], rows[2:4], rows[4:]]
    root = tempfile.mkdtemp(prefix="absquiet_")
    try:
        got = sorted(
            (int(r.u), r.a_id)
            for r in _run_streaming(spark, batches, ABSENCE_CQL, root)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == [(1, 0)]
    assert got == sorted(
        (int(r.u), r.a_id) for r in _batch_collect(spark, rows, ABSENCE_CQL)
    )


NONEVERY_CQL = (
    "partition with (price of s) begin "
    "from a = s[name == 'x'] -> b = s[name == 'y'] "
    "within 5500 milliseconds "
    "select a.price as u, a.id as a_id, b.id as b_id "
    "insert into Out; end"
)

STRICT_NONEVERY_CQL = (
    "partition with (price of s) begin "
    "from a = s[name == 'x'] , b = s[name == 'y'] "
    "select a.price as u, a.id as a_id, b.id as b_id "
    "insert into Out; end"
)


def test_streaming_nonevery_first_attempt_across_batches(spark):
    """Arm-once contract across micro-batches: the first x's window expires
    with no y (attempt failed -> no match EVER), even though a later x,y
    pair inside a later batch would pair up."""
    rows = [
        (0, "x", 1_000, 1),   # first attempt
        (1, "z", 3_000, 1),
        (2, "z", 9_000, 1),   # window (5.5s) expires here
        (3, "x", 10_000, 1),  # would re-arm if the contract were violated
        (4, "y", 11_000, 1),
    ]
    batches = [rows[:2], rows[2:4], rows[4:]]
    root = tempfile.mkdtemp(prefix="ne1_")
    try:
        got = _run_streaming(spark, batches, NONEVERY_CQL, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == []
    assert _batch_collect(spark, rows, NONEVERY_CQL) == []


def test_streaming_strict_nonevery_xxy_across_batches(spark):
    """The round-7 fuzz-found shape, streamed: x,x,y strict without every
    dies at the second x — batch and streaming both empty; the every form
    emits the (x1,y2) pair in both."""
    rows = [(0, "x", 1_000, 1), (1, "x", 2_000, 1), (2, "y", 3_000, 1)]
    batches = [rows[:1], rows[1:2], rows[2:]]
    root = tempfile.mkdtemp(prefix="ne2_")
    try:
        got = _run_streaming(spark, batches, STRICT_NONEVERY_CQL, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == []
    every_cql = STRICT_NONEVERY_CQL.replace("from a =", "from every a =")
    root = tempfile.mkdtemp(prefix="ne3_")
    try:
        got2 = sorted(
            (r.a_id, r.b_id)
            for r in _run_streaming(spark, batches, every_cql, root)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got2 == [(1, 2)]


def test_streaming_nonevery_done_seal(spark):
    """After the single match, the pattern is sealed: later batches with
    more would-be pairs add nothing (exactly one emission ever)."""
    rows = [
        (0, "x", 1_000, 1),
        (1, "y", 2_000, 1),   # the one match
        (2, "x", 10_000, 1),
        (3, "y", 11_000, 1),  # ignored: sealed
        (4, "x", 20_000, 1),
        (5, "y", 21_000, 1),  # ignored: sealed
    ]
    batches = [rows[:2], rows[2:4], rows[4:]]
    root = tempfile.mkdtemp(prefix="ne4_")
    try:
        got = sorted(
            (r.a_id, r.b_id)
            for r in _run_streaming(spark, batches, NONEVERY_CQL, root)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == [(0, 1)]
    assert sorted(
        (r.a_id, r.b_id) for r in _batch_collect(spark, rows, NONEVERY_CQL)
    ) == [(0, 1)]


CHAIN_ABSENCE_CQL = (
    "partition with (price of s) begin "
    "from every a = s[name == 'x'] -> b = s[name == 'y'] "
    "-> not s[name == 'z'] for 3500 milliseconds "
    "within 9500 milliseconds "
    "select a.price as u, a.id as a_id, b.id as b_id "
    "insert into Out; end"
)


@pytest.mark.slow
def test_streaming_chain_absence_parity_fuzz(spark):
    """late round 8: `every A -> B -> not C for t within w` — the
    funnel-abandonment shape on the chain_absence kernel. 10 randomized
    2-key feeds across 3 micro-batches with per-key tail sentinels (so
    every waiting absence resolves before close), row-for-row equal to
    the batch operator; on even trials a LATE in-window x arrives
    out-of-order in the last batch (full-rerun fallback, kernel resumes
    the general NFA's state)."""
    import random

    from .test_property_patterns_r7 import _run_streaming

    rng = random.Random(808)
    for trial in range(10):
        n = rng.randint(8, 16)
        rows, ts = [], 0
        for i in range(n):
            ts += rng.randint(1, 5) * 1000
            rows.append((i, rng.choice("xxyzz"), ts, rng.randint(1, 2)))
        gmax = rows[-1][2]
        tails = [(900, "w", gmax + 4500, 1), (901, "w", gmax + 5500, 2)]
        if trial % 2 == 0 and n >= 10:
            prev_max = rows[3 * n // 4 - 1][2]
            late = [(1000 + trial, "x", max(prev_max - 4000, 1000),
                     rng.randint(1, 2))]
        else:
            late = []
        batches = [
            rows[: n // 2],
            rows[n // 2: 3 * n // 4],
            rows[3 * n // 4:] + tails + late,
        ]
        all_rows = rows + tails + late
        root = tempfile.mkdtemp(prefix="chabs_")
        try:
            got = sorted(
                (int(r.u), r.a_id, r.b_id)
                for r in _run_streaming(spark, batches, CHAIN_ABSENCE_CQL, root)
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
        want = sorted(
            (int(r.u), r.a_id, r.b_id)
            for r in _batch_collect(spark, all_rows, CHAIN_ABSENCE_CQL)
        )
        assert got == want, (trial, all_rows)


PLAIN_CHAIN_CQL = (
    "partition with (price of s) begin "
    "from a = s[name == 'x'] -> b = s[name == 'y'] -> c = s[name == 'z'] "
    "within 5500 milliseconds "
    "select a.price as u, a.id as a_id, c.id as c_id "
    "insert into Out; end"
)


def test_streaming_plain_chain_first_attempt_across_batches(spark):
    """late round 8 (plain_chain kernel): the arm-once 3-step contract
    across micro-batches — key 1's first x window-expires mid-chain (x,y
    captured but no z inside 5.5s -> dead, NO match ever despite a later
    full x,y,z run); key 2 completes across batch boundaries and seals."""
    rows = [
        (0, "x", 1_000, 1),   # key 1 arms
        (1, "y", 2_000, 1),   # stage 2 captured
        (10, "x", 1_000, 2),  # key 2 arms
        (2, "w", 9_000, 1),   # key 1 window (5.5s) expires -> dead
        (11, "y", 4_000, 2),
        (3, "x", 10_000, 1),  # would re-arm only if the contract broke
        (4, "y", 11_000, 1),
        (12, "z", 6_000, 2),  # key 2 completes (span 5s <= 5.5s)
        (5, "z", 12_000, 1),
        (13, "x", 20_000, 2), (14, "y", 21_000, 2), (15, "z", 22_000, 2),
    ]
    batches = [rows[:4], rows[4:8], rows[8:]]
    root = tempfile.mkdtemp(prefix="pc3_")
    try:
        got = sorted(
            (int(r.u), r.a_id, r.c_id)
            for r in _run_streaming(spark, batches, PLAIN_CHAIN_CQL, root)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == [(2, 10, 12)], got
    # batch operator (plain_chain kernel on the batch path) agrees
    want = sorted(
        (int(r.u), r.a_id, r.c_id)
        for r in _batch_collect(spark, rows, PLAIN_CHAIN_CQL)
    )
    assert got == want, want


STRICT_CHAIN_CQL = (
    "partition with (price of s) begin "
    "from every a = s[name == 'x'] , b = s[name == 'y'] , c = s[name == 'z'] "
    "within 6500 milliseconds "
    "select a.price as u, a.id as a_id, b.id as b_id, c.id as c_id "
    "insert into Out; end"
)


def test_streaming_strict_chain_across_batches(spark):
    """``every a , b , c within t`` on the chain kernel's strict
    connectors, streamed in 3 micro-batches whose boundaries fall inside
    strict steps: a partial whose next row has not arrived waits across the
    boundary, and one whose next row arrives and does not match (or lies
    outside the window) dies. Equals batch ``cql()`` row for row."""
    rows = [
        (0, "x", 1_000, 1),
        (10, "x", 1_000, 2),
        (11, "x", 2_000, 2),   # key 2: kills the partial armed at id 10
        # -- boundary: key 1's x and key 2's second x wait for their y
        (1, "y", 2_000, 1),
        (2, "z", 3_000, 1),    # key 1 match (0, 1, 2)
        (3, "x", 4_000, 1),
        (4, "y", 5_000, 1),
        (12, "y", 3_000, 2),
        # -- boundary: key 1's (3, 4) and key 2's (11, 12) wait for their z
        (5, "w", 6_000, 1),    # strict breaker: (3, 4) dies
        (6, "x", 7_000, 1),
        (7, "y", 8_000, 1),
        (8, "z", 15_000, 1),   # beyond the window of (6, 7): dies
        (13, "z", 4_000, 2),   # key 2 match (11, 12, 13)
        (14, "x", 5_000, 2),
        (15, "y", 6_000, 2),   # still pending at the end
    ]
    batches = [rows[:3], rows[3:8], rows[8:]]
    root = tempfile.mkdtemp(prefix="sc3_")
    try:
        got = sorted(
            (int(r.u), r.a_id, r.b_id, r.c_id)
            for r in _run_streaming(spark, batches, STRICT_CHAIN_CQL, root)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == [(1, 0, 1, 2), (2, 11, 12, 13)], got
    want = sorted(
        (int(r.u), r.a_id, r.b_id, r.c_id)
        for r in _batch_collect(spark, rows, STRICT_CHAIN_CQL)
    )
    assert got == want, want

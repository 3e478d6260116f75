"""The keyed-state runner (streaming/bucketing.py), driven without Spark: a
fake GroupState stands in for the group's state, so the member-key split,
the per-key timer discipline, the one-frame-per-visit output and the state
contract of both group modes are pinned directly."""

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from flink_siddhi_spark.streaming.bucketing import (
    NO_FIRE,
    _bucket_proc,
    _key_proc,
)

OUT = T.StructType([
    T.StructField("a", T.LongType()),
    T.StructField("b", T.StringType()),
    T.StructField("v", T.LongType()),
])


class FakeGroupState:
    """The pyspark GroupState surface the runner uses."""

    def __init__(self, wm):
        self.value = None
        self.timeout = None
        self.wm = wm
        self.hasTimedOut = False
        self.writes = 0

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, t):
        self.value = tuple(t)
        self.writes += 1

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def _visit(proc, state, frames):
    state.timeout = None  # Spark clears the group's timer on every visit
    return list(proc(None, iter(frames), state))


def test_bucket_visit_order_timers_and_one_frame():
    seen = []

    def step(key, rows, state):
        """Record the visit; keep a count; arm a timer at 100 only for
        key (1, 'x') on its first visit."""
        seen.append((key, rows.col("v").tolist(), state.hasTimedOut))
        n = (state.get[0] if state.exists else 0) + len(rows)
        state.update((n,))
        if key == (1, "x") and n == 3 and len(rows):
            state.setTimeoutTimestamp(100)
        return [(key[0], key[1], v) for v in rows.col("v").tolist()]

    proc = _bucket_proc(
        ["a", "b"], [T.LongType(), T.StringType()], step, OUT, 4,
        GroupStateTimeout.EventTimeTimeout,
    )
    state = FakeGroupState(wm=0)
    # interleaved member keys, split over two Arrow chunks; (1, 'y')
    # shares a first column with (1, 'x') and a second with (2, 'y')
    frames = [
        pd.DataFrame({"a": [1, 2, 1], "b": ["x", "y", "x"], "v": [10, 20, 11]}),
        pd.DataFrame({"a": [1, 1], "b": ["y", "x"], "v": [30, 12]}),
    ]
    out = _visit(proc, state, frames)
    # member keys in first-arrival order, each key's rows in arrival order
    assert seen == [
        ((1, "x"), [10, 11, 12], False),
        ((2, "y"), [20], False),
        ((1, "y"), [30], False),
    ]
    # one frame for the whole visit
    assert len(out) == 1
    assert out[0].values.tolist() == [
        [1, "x", 10], [1, "x", 11], [1, "x", 12], [2, "y", 20], [1, "y", 30],
    ]
    n, pks, _, fires = state.value
    assert n == 4 and len(pks) == 3
    assert sorted(fires) == [100, NO_FIRE, NO_FIRE]
    assert state.timeout == 100

    # the watermark passes (1, 'x')'s timer: only that key is due; this
    # visit arms no timer, so the key is left with none
    seen.clear()
    state.wm = 150
    assert _visit(proc, state, []) == []
    assert seen == [((1, "x"), [], True)]
    assert state.value[3] == [NO_FIRE] * 3
    assert state.timeout is None

    # and it is not due on the next visit, however far the watermark goes
    seen.clear()
    state.wm = 10_000
    assert _visit(proc, state, []) == []
    assert seen == []


def test_bucket_visit_nullable_integral_key_keeps_its_state():
    """A nullable long key arrives as float64 in a batch that holds a
    null: the member key must still address the state it had as int64."""

    def step(key, rows, state):
        n = (state.get[0] if state.exists else 0) + len(rows)
        state.update((n,))
        return [(key[0], "-", n)]

    out_schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("v", T.LongType()),
    ])
    proc = _bucket_proc(
        ["a"], [T.LongType()], step, out_schema, 2,
        GroupStateTimeout.NoTimeout,
    )
    state = FakeGroupState(wm=0)
    _visit(proc, state, [pd.DataFrame({"a": [7, 7]})])
    (out,) = _visit(proc, state, [pd.DataFrame({"a": [7.0, float("nan")]})])
    assert out.values.tolist() == [[7, "-", 3], [None, "-", 1]]
    assert sorted(state.value[1], key=str) == ["[7]", "[null]"]


STORED = {
    "rows": [[1, "a", None], [2, "b", 2.5]],
    "pair": (7, "x"),
    "days": {3, 4},
    "digests": [b"\x00" * 16],
    "reps": np.arange(4, dtype=np.float32).reshape(2, 2),
    "hist": pd.DataFrame({"__ts": [1, 2], "p": [0.1, None]}),
}


def _assert_stored(got):
    assert set(got) == set(STORED)
    for k in ("rows", "pair", "days", "digests"):
        assert got[k] == STORED[k] and type(got[k]) is type(STORED[k]), k
    assert got["reps"].dtype == np.float32
    np.testing.assert_array_equal(got["reps"], STORED["reps"])
    pd.testing.assert_frame_equal(got["hist"], STORED["hist"])


def _procs(step):
    """The same step under both group modes, keyed on column ``a``."""
    return {
        "key": _key_proc(step, OUT),
        "bucket": _bucket_proc(
            ["a"], [T.LongType()], step, OUT, 2, GroupStateTimeout.NoTimeout
        ),
    }


def test_both_group_modes_hand_the_step_its_stored_object():
    """``state.get`` returns exactly the object the step passed to
    ``state.update``, per key and per member key of a bucket alike."""
    got = {}

    def step(key, rows, state):
        if state.exists:
            got[mode] = state.get
        else:
            state.update(STORED)
        return []

    for mode, proc in _procs(step).items():
        state = FakeGroupState(wm=0)
        frame = pd.DataFrame({"a": [5]})
        _visit(proc, state, [frame])
        _visit(proc, state, [frame])
        _assert_stored(got[mode])
    assert set(got) == {"key", "bucket"}


def test_visit_without_update_leaves_the_stored_bytes():
    """A visit that reads its state and calls no ``update`` writes nothing
    per key, and leaves a member key's blob the same bytes per bucket."""

    def step(key, rows, state):
        if not state.exists:
            state.update(STORED)
        else:
            _assert_stored(state.get)
        return []

    procs = _procs(step)
    frame = pd.DataFrame({"a": [5]})

    state = FakeGroupState(wm=0)
    _visit(procs["key"], state, [frame])
    (blob,) = state.value
    assert isinstance(blob, bytes) and state.writes == 1
    _visit(procs["key"], state, [frame])
    assert state.writes == 1 and state.value[0] is blob

    state = FakeGroupState(wm=0)
    _visit(procs["bucket"], state, [frame])
    [blob] = state.value[2]
    _visit(procs["bucket"], state, [frame])
    assert state.value[2][0] is blob

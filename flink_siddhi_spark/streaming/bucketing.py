"""One keyed-state runner for every per-key stateful streaming operator.

Each operator writes one ``step(key, rows, state) -> list[tuple]``: ``key``
is the key tuple, ``rows`` the key's arriving rows for this visit
(:class:`KeyRows`: ``len(rows)``, ``rows.col(name)`` as a numpy array,
``rows.frame()`` as a pandas frame), ``state`` the key's state. The
returned tuples are output rows in ``out_schema`` order.

The state contract is the same in both group modes: ``state`` is a
:class:`_KeyState` with ``exists`` / ``get`` / ``update`` / ``remove`` /
``hasTimedOut`` / ``getCurrentWatermarkMs`` / ``setTimeoutTimestamp``.
``state.get`` returns exactly the Python object the step last passed to
``state.update`` (any picklable object: lists, tuples, sets, dicts, numpy
arrays, DataFrames), so a step declares no schema and encodes nothing.
This module alone decides the checkpoint format: each key's object is one
pickle protocol-5 blob, written only when the visit called ``update`` —
a visit that reads its state and leaves it alone writes nothing.
:func:`keyed_state` runs the step in one of two group modes:

- per key (``buckets`` unset): ``groupBy(keys).applyInPandasWithState``;
  Spark's GroupState holds the blob under :data:`KEY_STATE_SCHEMA`, and
  the shim's ``update`` / ``remove`` / timer reach it after the step.
- per bucket (``buckets=N``): ``groupBy(pmod(xxhash64(keys), N))``; one
  Arrow group + GroupState visit serves ~keys/N member keys, amortizing
  the fixed ~280µs per-key-visit machinery (Arrow slice, GroupState proto
  round-trip) that dominates drains over 10^5 keys (SCALE.md §Round-9).
  Each member key's blob rides in the bucket's GroupState
  (:data:`BUCKET_STATE_SCHEMA`), so an unchanged key's bytes are copied,
  not re-encoded.

The bucketed visit splits member keys with one factorize plus a stable
argsort (each key reads contiguous slices of the visit's column arrays,
in arrival order) and builds ONE output frame per visit: per-key
``pdf.groupby`` demultiplexing and per-key frames + ``pd.concat`` cost
1.7-2.3x on key-heavy pattern drains.

Under EventTimeTimeout a member key is visited when it has new rows or
when the watermark passed its own timer (``hasTimedOut=True``, no rows),
and a visit that arms no timer leaves the key with none — the per-key
GroupState discipline, so both modes emit the same rows (PARITY.md
deviation 18). The bucket count is stored in the state and validated on
load: a changed count re-routes keys away from their state, so it fails
loudly.
"""

from __future__ import annotations

import json as _json
import pickle as _pickle
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..errors import UnsupportedFeatureException

# "no timer" sentinel in the bucket state's fires array
NO_FIRE = 1 << 62

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_KEYABLE = _INTEGRAL + (
    T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
)

# per key: the key's pickled state object
KEY_STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType())])

# per bucket: the bucket count, then per member key its json-encoded key
# tuple, its pickled state object and its timer (NO_FIRE: none)
BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("pks", T.ArrayType(T.StringType())),
        T.StructField("blobs", T.ArrayType(T.BinaryType())),
        T.StructField("fires", T.ArrayType(T.LongType())),
    ]
)


class _Visit:
    """The rows of one group visit, stably ordered by member key; column
    arrays and the reordered frame are materialized once, on first use, so
    each member key reads a slice of them."""

    __slots__ = ("frame", "order", "_cols", "_sorted")

    def __init__(self, frame: pd.DataFrame, order: Optional[np.ndarray]):
        self.frame = frame
        self.order = order
        self._cols: dict = {}
        self._sorted = None

    def col(self, name: str) -> np.ndarray:
        arr = self._cols.get(name)
        if arr is None:
            arr = self.frame[name].to_numpy()
            if self.order is not None:
                arr = arr[self.order]
            self._cols[name] = arr
        return arr

    def sorted_frame(self) -> pd.DataFrame:
        if self._sorted is None:
            self._sorted = (
                self.frame if self.order is None
                else self.frame.take(self.order)
            )
        return self._sorted


class KeyRows:
    """One key's arriving rows for one visit (possibly none: a timer
    visit). ``col`` returns a numpy slice; ``frame`` is the group's own
    pandas frame in per-key mode and a slice of the visit's frame, built
    on demand, per bucket."""

    __slots__ = ("_visit", "_lo", "_hi")

    def __init__(self, visit: Optional[_Visit], lo: int = 0, hi: int = 0):
        self._visit = visit
        self._lo = lo
        self._hi = hi

    def __len__(self) -> int:
        return self._hi - self._lo

    def col(self, name: str) -> np.ndarray:
        if self._visit is None:
            return np.empty(0, dtype=object)
        return self._visit.col(name)[self._lo:self._hi]

    def frame(self) -> pd.DataFrame:
        if self._visit is None:
            return pd.DataFrame()
        return self._visit.sorted_frame().iloc[self._lo:self._hi]


_NO_ROWS = KeyRows(None)


def _concat(pdfs) -> Optional[pd.DataFrame]:
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return None
    if len(frames) == 1:
        return frames[0]
    return pd.concat(frames, ignore_index=True)


class _KeyState:
    """One key's state, as the step sees it in both group modes. ``blob``
    is the pickled object (None: no state) and changes only through
    ``update`` / ``remove``; ``fire`` is the timer this visit armed, or
    None."""

    __slots__ = ("blob", "fire", "_wm", "_timed_out")

    def __init__(self, blob, wm, timed_out):
        self.blob = blob
        self.fire = None
        self._wm = wm
        self._timed_out = timed_out

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return _pickle.loads(self.blob)

    @property
    def hasTimedOut(self):
        return self._timed_out

    def getCurrentWatermarkMs(self):
        return self._wm

    def update(self, obj):
        self.blob = _pickle.dumps(obj, protocol=5)

    def remove(self):
        self.blob = None

    def setTimeoutTimestamp(self, ms):
        self.fire = int(ms)


def _watermark(state) -> int:
    """The group's event-time watermark; 0 on a stream without one (steps
    that never read the clock, e.g. the as-of join), as Spark reports
    before the first watermark."""
    try:
        return state.getCurrentWatermarkMs()
    except PySparkRuntimeError:
        return 0


def _frame_maker(out_schema: T.StructType) -> Callable:
    """Output tuples -> the visit's one output frame. Object columns keep a
    long that shares its column with nulls exact; timestamp columns go back
    to datetime64 so Spark applies its session-timezone conversion, as for
    the frames it hands in."""
    out_names = [f.name for f in out_schema.fields]
    ts_names = [
        f.name for f in out_schema.fields
        if isinstance(f.dataType, T.TimestampType)
    ]

    def to_frame(out) -> pd.DataFrame:
        frame = pd.DataFrame(out, columns=out_names, dtype=object)
        for c in ts_names:
            frame[c] = pd.to_datetime(frame[c])
        return frame

    return to_frame


def _key_proc(step: Callable, out_schema: T.StructType) -> Callable:
    """The applyInPandasWithState function of the per-key mode: the step
    runs against a :class:`_KeyState` over the group's stored blob, and
    only what it changed reaches Spark's GroupState."""
    to_frame = _frame_maker(out_schema)

    def proc(key, pdfs, state):
        frame = _concat(pdfs)
        rows = _NO_ROWS if frame is None else KeyRows(
            _Visit(frame, None), 0, len(frame)
        )
        blob = state.get[0] if state.exists else None
        shim = _KeyState(blob, _watermark(state), state.hasTimedOut)
        out = step(key, rows, shim)
        if shim.blob is not blob:
            if shim.blob is None:
                state.remove()
            else:
                state.update((shim.blob,))
        if shim.fire is not None:
            state.setTimeoutTimestamp(shim.fire)
        if out:
            yield to_frame(out)

    return proc


def _bucket_proc(
    key_cols: list,
    key_types: list,
    step: Callable,
    out_schema: T.StructType,
    buckets: int,
    timeout,
) -> Callable:
    """The applyInPandasWithState function of the bucketed mode: one visit
    runs ``step`` for every member key with new rows (in first-arrival
    order) and, under EventTimeTimeout, for every stored member key whose
    own timer the watermark passed; it yields one frame."""
    to_frame = _frame_maker(out_schema)
    event_time = timeout == GroupStateTimeout.EventTimeTimeout
    integral = [isinstance(t, _INTEGRAL) for t in key_types]

    def member_keys(frame: pd.DataFrame):
        """(visit, [(key tuple, lo, hi)]) in first-arrival key order."""
        if len(key_cols) == 1:
            codes, _ = pd.factorize(frame[key_cols[0]], use_na_sentinel=False)
        else:
            codes = frame.groupby(
                key_cols, sort=False, dropna=False
            ).ngroup().to_numpy()
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(
            codes[order], np.arange(int(codes.max()) + 2)
        ).tolist()
        firsts = order[bounds[:-1]]
        cols = []
        for c, is_int in zip(key_cols, integral):
            vals = frame[c].to_numpy()[firsts]
            if is_int and vals.dtype.kind == "f":
                # a nullable integral key arrives as float64: key it by
                # its integer value, as batches without nulls do
                cols.append([None if v != v else int(v) for v in vals.tolist()])
            else:
                cols.append(vals.tolist())
        members = [
            (key, bounds[i], bounds[i + 1])
            for i, key in enumerate(zip(*cols))
        ]
        return _Visit(frame, order), members

    def proc(_, pdfs, state):
        if state.exists:
            stored_n, pks, blobs, fires = state.get
            if stored_n != buckets:
                raise RuntimeError(
                    f"key_buckets changed across restart (checkpoint has "
                    f"{stored_n}, query asks {buckets}); bucket count is "
                    "fixed at the checkpoint's creation — use a new "
                    "checkpoint"
                )
            st = {k: [b, f] for k, b, f in zip(pks, blobs, fires)}
        else:
            st = {}
        wm = _watermark(state)
        visits = []
        frame = _concat(pdfs)
        if frame is not None:
            visit, members = member_keys(frame)
            for key, lo, hi in members:
                visits.append(
                    (_json.dumps(key), key, KeyRows(visit, lo, hi))
                )
        if event_time:
            arrived = {v[0] for v in visits}
            visits.extend(
                (kenc, tuple(_json.loads(kenc)), _NO_ROWS)
                for kenc, rec in st.items()
                if rec[1] <= wm and kenc not in arrived
            )
        out = []
        for kenc, key, rows in visits:
            rec = st.get(kenc)
            shim = _KeyState(rec[0] if rec else None, wm, not len(rows))
            res = step(key, rows, shim)
            if res:
                out.extend(res)
            if shim.exists:
                # a visit that arms no timer leaves the key with none
                st[kenc] = [
                    shim.blob, NO_FIRE if shim.fire is None else shim.fire,
                ]
            elif rec is not None:
                del st[kenc]
        if st:
            ks = list(st)
            fires = [st[k][1] for k in ks]
            state.update((buckets, ks, [st[k][0] for k in ks], fires))
            if event_time:
                real = [f for f in fires if f != NO_FIRE]
                if real:
                    state.setTimeoutTimestamp(max(min(real), wm + 1))
        elif state.exists:
            state.remove()
        if out:
            yield to_frame(out)

    return proc


def keyed_state(
    df: DataFrame,
    key_cols: list,
    step: Callable,
    out_schema: T.StructType,
    timeout,
    buckets: Optional[int],
) -> DataFrame:
    """Run ``step`` for every key of ``df`` grouped by ``key_cols``: per key,
    or per ``pmod(xxhash64(keys), buckets)`` bucket when ``buckets`` is set
    (see the module docstring for the step contract)."""
    if not buckets:
        return df.groupBy(*key_cols).applyInPandasWithState(
            _key_proc(step, out_schema), out_schema, KEY_STATE_SCHEMA,
            "append", timeout,
        )
    key_types = [df.schema[k].dataType for k in key_cols]
    for k, t in zip(key_cols, key_types):
        if not isinstance(t, _KEYABLE):
            raise UnsupportedFeatureException(
                f"key column '{k}' of type {t.simpleString()}: bucketed "
                "keys must be numeric/string/boolean"
            )
    bucket_col = F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(buckets)
    )
    return (
        df.withColumn("__bucket", bucket_col)
        .groupBy("__bucket")
        .applyInPandasWithState(
            _bucket_proc(key_cols, key_types, step, out_schema, buckets,
                         timeout),
            out_schema, BUCKET_STATE_SCHEMA, "append", timeout,
        )
    )

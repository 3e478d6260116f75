"""Streaming as-of enrichment: enrich a left event stream with the latest
right-stream row at-or-before each event's timestamp, per key.

The streaming counterpart of ``operators/asof.asof_join``: the right stream
is a slowly-changing feed (dimension updates, model-version announcements,
price ticks) whose PER-KEY HISTORY lives in keyed state; every left event is
matched against the history by event time, so an event carries the right
row that was current AT ITS TIMESTAMP — not whatever arrived last
(point-in-time correctness that a snapshot join cannot give).

Shape: tag both streams, union by name, keyed state on the join key
(streaming/bucketing.py). State = the last ``max_history`` right rows per key, as
one DataFrame (the runner stores it losslessly). Per batch: append right
arrivals to the history, then binary-search each left event's timestamp —
O(|batch| log |history|) per key, bounded state.

Caveats (documented contract):
- left events are enriched against the history as of THEIR micro-batch: a
  right row arriving in a later batch cannot retro-enrich an already-emitted
  event (append-mode streaming cannot retract). Within one batch, time
  order is honored exactly.
- history is truncated to the newest ``max_history`` rows per key; an event
  older than the truncation horizon matches the oldest retained row's
  predecessor as absent (null payload).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from .bucketing import keyed_state

_SIDE = "__asof_side"  # 0 = right, 1 = left


def streaming_asof_enrich(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload: list[str] | None = None,
    max_history: int = 64,
    key_buckets: int | None = None,
) -> DataFrame:
    """Enrich streaming ``left`` with the latest ``right`` row whose
    ``right_ts <= left_ts`` per ``on`` key. Returns the left columns plus
    the (nullable) payload columns.

    ``key_buckets=N`` (round 10) runs the same step per member key of a
    hash bucket (streaming/bucketing.py): one Arrow group + GroupState
    visit serves ~keys/N keys, amortizing the fixed per-key-visit
    machinery on high-cardinality key spaces; semantics-invisible
    (PARITY.md deviation 18)."""
    if payload is None:
        payload = [c for c in right.columns if c not in (on, right_ts)]

    out_fields = [f for f in left.schema.fields] + [
        T.StructField(c, right.schema[c].dataType, True) for c in payload
    ]
    out_schema = T.StructType(out_fields)

    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).cast("bigint").alias("__ts"),
        F.lit(1).alias(_SIDE),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in payload],
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c != on
        ],
        F.col(on),
        F.col(right_ts).cast("bigint").alias("__ts"),
        F.lit(0).alias(_SIDE),
        *[F.col(c).alias(f"__r_{c}") for c in payload],
    ).select(*l_tagged.columns)
    u = l_tagged.unionByName(r_tagged)

    left_cols = list(left.columns)
    rcols = [f"__r_{c}" for c in payload]

    def step(key, rows, state):
        hist = (
            state.get if state.exists
            else pd.DataFrame(columns=["__ts"] + rcols)
        )
        batch = rows.frame()
        new_right = batch[batch[_SIDE] == 0][["__ts"] + rcols]
        if len(new_right):
            # avoid concat-with-empty dtype deprecation: an empty history
            # contributes nothing
            hist = (
                pd.concat([hist, new_right], ignore_index=True)
                if len(hist)
                else new_right.reset_index(drop=True)
            )
            # stable sort + tail keeps the newest rows; equal-ts updates
            # resolve to the latest-appended (arrival order), matching the
            # "latest write wins" dimension-update semantics
            hist = hist.sort_values("__ts", kind="mergesort").tail(max_history)
            hist = hist.reset_index(drop=True)
            state.update(hist)
        lrows = batch[batch[_SIDE] == 1]
        if not len(lrows):
            return None
        # searchsorted(side='right') - 1 = index of the latest history row
        # with __ts <= event ts (-1 = none)
        idx = hist["__ts"].to_numpy().searchsorted(lrows["__ts"].to_numpy(), side="right") - 1
        payloads = [hist[f"__r_{c}"].tolist() for c in payload]
        return [
            (*left, *[(p[i] if i >= 0 else None) for p in payloads])
            for left, i in zip(
                lrows[left_cols].itertuples(index=False, name=None), idx.tolist()
            )
        ]

    return keyed_state(
        u, [on], step, out_schema, GroupStateTimeout.NoTimeout, key_buckets,
    )

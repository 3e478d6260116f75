"""Streaming compilation: the same SiddhiQL plans over Structured Streaming.

Design (SURVEY.md §3.1 "Spark re-architecture", §7.0 dual-mode): batch mode
defines the semantics (oracle-checked); this module lowers the same AST onto
streaming DataFrames where Structured Streaming has a native shape:

- row-wise filter/projection/scalar functions: identical DataFrame ops.
- windowless group aggregation: streaming agg (update mode).
- ``#window.timeBatch(t)`` -> ``groupBy(window(ts, t))`` + watermark.
- ``#window.session(gap)`` -> ``session_window`` + watermark.
- stream-static (event-table) joins: native.
- stream-stream time-window joins: the batch join predicates plus watermarks
  and event-time range bounds added in operators/joins.py (compile_join is
  streaming-aware) so Spark's symmetric hash join can evict state; count
  (length) window joins are rejected — they need a total arrival order.
- pattern/sequence: per-key NFA in ``applyInPandasWithState`` — the same
  matcher as batch mode (operators/pattern.py) over a state-buffered,
  event-time-sorted feed, emitting only not-yet-emitted matches per batch.
  The reference buffers+sorts in a priority queue before feeding its engine
  (AbstractSiddhiOperator.java:209-247); the state buffer here plays that
  role, with a configurable retention cap instead of unbounded state.

- ``#window.lengthBatch(n)`` / ``#window.length(n)``: custom stateful count
  windows (applyInPandasWithState) — per-key buffered chunks / ring buffer,
  per-flush / per-arrival emission (SURVEY.md §7.2 "custom stateful").
- ``#window.time(t)`` (and ``externalTime`` on the event-time field):
  per-arrival trailing time window via a per-key stateful buffer of the
  last t ms (batch ``rangeBetween(-t, 0)`` contract).
- ``#window.timeLength(t, n)``: the length ring + time eviction relative
  to the arriving event (round 4) — state bounded by min(n, rate*t).
- ``#window.cron`` (fixed + calendar/quartz) and ``externalTimeBatch``:
  bucket-expression grouping in update/complete mode (round 4).
- incremental aggregations (`per 'sec..day'`): aligned tumbling window aggs.
- event tables: continuous DML via foreachBatch (streaming/tables.py).

Retention windows: row-wise ``unique``/``firstUnique`` stream as keyed
last/first-event state; ``sort``/``frequent``/``lossyFrequent`` stream as
per-micro-batch SNAPSHOTS of the retained contents (each row tagged
``__snapshot``; max id = current contents — PARITY.md §15); ``delay``
shifts the event-time columns row-wise and ``batch()`` passes rows
through. Aggregates over a retention window re-aggregate the revised
retained set per micro-batch under the same ``__snapshot`` contract;
order/limit are batch-only — the planner raises a clear error. Month/year
incremental-aggregation granularities stream via synthesized
calendar-cron buckets (round 4).

The stateful aggregating operators (lengthBatch, length, timeLength, time
and the retained-set aggregate) differ only in window membership. Each
decodes a visit's rows once (``_decode_rows``), builds every output row
with one ``_record``, and aggregates with one ``_agg_over``, which applies
the batch null contract: ``first``/``last`` keep a null first/last value,
the other aggregates skip nulls and read NULL over no values.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import logging
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..errors import SiddhiPlannerException, UnsupportedFeatureException
from ..plans.expr import ExprCompiler
from ..plans.planner import TS_COL, BatchPlanner
from ..siddhiql import ast as A
from ..operators import windows as W
from ..operators.pattern import (
    PK_COL,
    STREAM_COL,
    LazyColumns,
    element_masks,
    pattern_front,
    pattern_output,
    run_shape,
)
from .bucketing import keyed_state

_log = logging.getLogger(__name__)

_EPOCH_DAY = datetime.date(1970, 1, 1)

# Streaming #window.sort / #window.frequent emit per-micro-batch SNAPSHOTS of
# the window's retained contents; each output row carries the snapshot id and
# the rows with the max id per state key are the current contents (PARITY.md).
SNAPSHOT_COL = "__snapshot"


def _retention_spec(window, schema, out_cols, ord_cols) -> dict:
    """Parse a retention window's arguments (#window.sort / frequent /
    lossyFrequent / unique / firstUnique / batch / delay) into ONE spec
    dict shared by the row-snapshot and revised-aggregate stateful
    operators — a single copy of the retention semantics so the two
    cannot drift."""
    wname = window.name.lower()
    spec = {
        "wname": wname, "sort_by": None, "sort_asc": None, "top_n": None,
        "combo_keys": None, "freq_n": None, "min_frac": None,
        "ukeys": None, "keep": "last",
    }
    if wname == "sort":
        n, sort_keys = W._sort_args(window)
        spec["top_n"] = n
        spec["sort_by"] = [k for k, _ in sort_keys] + ord_cols
        spec["sort_asc"] = [asc for _, asc in sort_keys] + [True] * len(ord_cols)
    elif wname in ("frequent", "lossyfrequent"):
        if wname == "lossyfrequent":
            # retained combos are those with count >= (support - error) *
            # total (the batch exact-count contract) instead of the top-n
            support = W._arg_num(window, 0)
            idx, error = 1, 0.0
            if len(window.args) > 1 and isinstance(window.args[1], A.Literal) \
                    and window.args[1].kind in ("float", "double"):
                error = W._arg_num(window, 1)
                idx = 2
            spec["min_frac"] = support - error
        else:
            spec["freq_n"] = W._arg_ms(window, 0)
            idx = 1
        ck = [a.name for a in window.args[idx:] if isinstance(a, A.Ref)]
        spec["combo_keys"] = ck or [f for f in schema.fields if f in out_cols]
    elif wname in ("unique", "firstunique"):
        ukeys = [a.name for a in window.args if isinstance(a, A.Ref)]
        if not ukeys:
            raise SiddhiPlannerException(
                f"#window.{window.name} needs key attribute(s)"
            )
        spec["ukeys"] = ukeys
        spec["keep"] = "first" if wname == "firstunique" else "last"
    # batch / delay: retain everything
    return spec


def _retain(rows: pd.DataFrame, spec: dict):
    """(rows_to_store, retained) for one state key under ``spec``. The
    caller pre-sorts ``rows`` by the batch total order (ord_cols); the
    retained frame comes back ordered only as far as the retention rules
    order it — each caller applies its own output ordering."""
    wname = spec["wname"]
    if wname == "sort":
        rows = (
            rows.sort_values(spec["sort_by"], ascending=spec["sort_asc"],
                             kind="mergesort")
            .head(spec["top_n"]).reset_index(drop=True)
        )
        return rows, rows
    if wname in ("frequent", "lossyfrequent"):
        ck = spec["combo_keys"]
        counts = (
            rows.groupby(ck, sort=False, dropna=False)
            .size()
            .reset_index(name="__n")
            .sort_values(["__n"] + ck, ascending=[False] + [True] * len(ck),
                         kind="mergesort")
        )
        if spec["min_frac"] is not None:
            top = counts[counts["__n"] >= spec["min_frac"] * len(rows)][ck]
        else:
            top = counts.head(spec["freq_n"])[ck]
        return rows, rows.merge(top, on=ck, how="inner")
    if wname in ("unique", "firstunique"):
        rows = rows.drop_duplicates(spec["ukeys"], keep=spec["keep"]).reset_index(
            drop=True
        )
        return rows, rows
    return rows, rows  # batch / delay: everything


def _retained_step(rows, state, out_cols: list, ord_cols: list, spec: dict):
    """The retention operators' shared state transition for one key:
    restore the stored rows, append the visit's, sort by the batch total
    order, apply the retention rules and store what they keep under the
    next snapshot id. The stored frame keeps values and dtypes exactly, so
    restored rows cannot drift from the batch-mode result (PARITY.md §15).
    Returns ``(retained, snap)``."""
    frame = rows.frame()[out_cols]
    snap = 0
    if state.exists:
        stored, snap = state.get
        frame = pd.concat([stored, frame], ignore_index=True)
    frame = frame.sort_values(ord_cols, kind="mergesort").reset_index(drop=True)
    kept, retained = _retain(frame, spec)
    snap += 1
    state.update((kept.reset_index(drop=True), snap))
    return retained, snap


def _py(v):
    if isinstance(v, np.generic):
        v = v.item()
    return None if isinstance(v, float) and v != v else v


def _decode_rows(frame: pd.DataFrame, cols: list, sort_cols: list) -> list:
    """A visit's rows as python lists over ``cols``, ordered by
    ``sort_cols``: NaN becomes None and numpy scalars python values, the
    values ``_agg_over`` reads."""
    if not cols:  # pure count(): row presence is the datum
        return [[] for _ in range(len(frame))]
    if not len(frame):
        return []
    frame = frame.sort_values(sort_cols, kind="mergesort")
    return [
        [_py(v) for v in r]
        for r in frame[cols].itertuples(index=False, name=None)
    ]


def _agg_over(kind: str, values: list):
    """One aggregate over a window's raw column values, nulls included,
    under the batch contract: ``first``/``last`` are the window's
    first/last value even when it is null (batch ``min_by``/``max_by`` and
    ``F.first``/``F.last`` over the frame); the others skip nulls, and
    ``sum``/``avg``/``min``/``max`` over no values are None."""
    if kind == "first":
        return values[0] if values else None
    if kind == "last":
        return values[-1] if values else None
    xs = [v for v in values if v is not None]
    if kind == "distinctcount":
        return len(set(xs))
    if not xs:
        return None
    if kind == "sum":
        return sum(xs)
    if kind == "avg":
        return float(sum(xs)) / len(xs)
    if kind == "min":
        return min(xs)
    if kind == "max":
        return max(xs)
    raise AssertionError(kind)


def _record(plan, key, key_names, carry_cols, cur, window_rows) -> list:
    """One output row of a stateful window operator: each ``plan`` item
    (out_name, kind, col) evaluated over the state key ``key`` (the values
    of ``key_names``), the arriving row ``cur`` and the window's rows —
    ``cur`` and each window row a list in ``carry_cols`` order."""
    rec = []
    for _, kind, col in plan:
        if kind == "key":
            rec.append(key[key_names.index(col)])
        elif kind == "cur":
            rec.append(cur[carry_cols.index(col)])
        elif kind == "count":
            rec.append(len(window_rows))
        else:
            i = carry_cols.index(col)
            rec.append(_agg_over(kind, [w[i] for w in window_rows]))
    return rec


class StreamingPlanner(BatchPlanner):
    """Lowers the SiddhiQL AST onto streaming DataFrames.

    ``watermark_delay`` (e.g. "10 seconds") is applied to every event-time
    stream — the knob the reference lacks (it drains on Flink watermarks,
    AbstractSiddhiOperator.java:237-247).
    """

    def __init__(self, catalog, extensions=None, watermark_delay: str = "10 seconds",
                 max_buffer_per_key: int = 100_000, aggregations=None,
                 pattern_key_buckets: Optional[int] = None,
                 window_key_buckets: Optional[int] = None,
                 pattern_state_purge: bool = False):
        super().__init__(catalog, extensions, aggregations)
        self.watermark_delay = watermark_delay
        self.max_buffer_per_key = max_buffer_per_key
        # state GC for evictable every-patterns (round 10): arm an
        # event-time timer at each key's eviction horizon and REMOVE keys
        # whose buffer and live partials drained — state rows then track
        # ACTIVE keys, not lifetime keys (bounded under session-id churn).
        # OPT-IN, mirroring the reference engine's @purge annotation
        # (Siddhi partition state also lives forever unless purging is
        # enabled): the horizon sweep pays one timed-out visit per drained
        # key, which bounded-drain benchmarks would otherwise book as
        # throughput loss. Keys that drain AT a data visit are removed for
        # free in either mode.
        self.pattern_state_purge = pattern_state_purge
        # key-heavy amortization (round 9): when set, pattern queries group
        # by pmod(xxhash64(key), N) instead of the raw key, multiplexing
        # ~keys/N keys through ONE Arrow group + GroupState visit per
        # micro-batch. The per-key compute is unchanged (the keyed-state
        # driver runs the same step per member key); what's amortized is
        # the fixed per-key-VISIT machinery (~280us/visit measured: Arrow
        # group slice, GroupState proto round-trip) that dominates drains
        # over 10^5 keys.
        # Checkpoint state formats differ between modes — pick at plan time.
        if pattern_key_buckets is not None and pattern_key_buckets < 1:
            raise SiddhiPlannerException(
                f"pattern_key_buckets must be >= 1, got {pattern_key_buckets}"
            )
        self.pattern_key_buckets = pattern_key_buckets
        # same lever for the per-key stateful WINDOW lowerings
        # (length/lengthBatch/timeLength/time/unique), through the same
        # keyed-state runner (streaming/bucketing.py)
        if window_key_buckets is not None and window_key_buckets < 1:
            raise SiddhiPlannerException(
                f"window_key_buckets must be >= 1, got {window_key_buckets}"
            )
        self.window_key_buckets = window_key_buckets

    # ------------------------------------------------------------------ utils
    def _with_watermark(self, df: DataFrame, schema) -> DataFrame:
        if schema.ts_field is None or not df.isStreaming:
            return df
        dt = dict(df.dtypes).get(schema.ts_field, "")
        tcol = "__event_time"
        if dt.startswith("timestamp"):
            df = df.withColumn(tcol, F.col(schema.ts_field).cast("timestamp"))
        else:
            df = df.withColumn(tcol, F.timestamp_millis(F.col(schema.ts_field).cast("bigint")))
        return df.withWatermark(tcol, self.watermark_delay)

    # --------------------------------------------------------------- override
    def _compile_single(self, q: A.Query) -> DataFrame:
        si: A.SingleInput = q.input
        schema = self.stream_schema(si.stream)
        df, _ = self.stream_df(si.stream)
        if not schema.df.isStreaming:
            return super()._compile_single(q)
        retain = W.classify(si.window, self.extensions) == "retain"
        wname = si.window.name.lower() if si.window is not None else ""
        if retain:
            if wname not in ("unique", "firstunique", "sort", "frequent",
                             "lossyfrequent", "delay", "batch"):
                raise UnsupportedFeatureException(
                    f"#window.{si.window.name}: retention windows follow the "
                    "final-contents contract — batch mode only (streaming "
                    "supports unique/firstUnique/sort/frequent/"
                    "lossyFrequent/delay/batch, row-wise or aggregated)"
                )
        df = self._with_watermark(df, schema)
        names = {si.stream, si.alias} if si.alias else {si.stream}
        resolver = self._plain_resolver(set(df.columns), names)
        comp = self._compiler(resolver, df)
        if si.filter is not None:
            df = df.filter(comp.compile(si.filter))
        if getattr(si, "stream_fns", ()):
            # same contract as batch: applied in order between filter and
            # window; builders must use streaming-safe transforms
            df = self._apply_stream_fns(df, si, set(df.columns))
            resolver = self._plain_resolver(set(df.columns), names)
        extra_cols: tuple = ()
        if retain and self._query_has_agg(q):
            # round 5: REVISED aggregates over the retained set — each
            # micro-batch updates the retained contents in keyed state and
            # emits the full re-aggregated result tagged with a __snapshot
            # id (a changelog: rows carrying the max id are the current
            # revision, and after the final batch they equal the batch-mode
            # aggregate — the same contract as the row snapshots).
            if wname == "delay":
                df = self._shift_delay(df, si, schema)
            return self._streaming_retained_agg(
                df, q, si, schema, (q.partition_by or {}).get(si.stream)
            )
        if retain:
            if wname == "delay":
                df = self._shift_delay(df, si, schema)
            elif wname == "batch":
                pass  # retains everything: row-wise pass-through
            elif wname in ("unique", "firstunique"):
                df = self._streaming_unique(df, si, schema)
            else:
                pkey = (q.partition_by or {}).get(si.stream)
                df = self._streaming_retention_snapshot(df, si, schema, pkey)
                extra_cols = (SNAPSHOT_COL,)
        if not self._query_has_agg(q):
            if q.order_by or q.limit is not None:
                raise UnsupportedFeatureException("order by / limit need batch mode")
            return self._select_rowwise(df, q, resolver, schema.fields, extra_cols)
        return self._streaming_agg(df, q, si, resolver)

    def _shift_delay(self, df: DataFrame, si: A.SingleInput, schema) -> DataFrame:
        """#window.delay — identical to batch: shift the event-time columns
        by t. ``eventTimestamp()`` reads ``TS_COL``, so shift it and the
        raw ts attribute together."""
        if schema.ts_field is None:
            raise SiddhiPlannerException("#window.delay needs an event-time stream")
        shift = W._arg_ms(si.window, 0)
        df = df.withColumn(schema.ts_field, F.col(schema.ts_field) + F.lit(shift))
        if TS_COL in df.columns:
            df = df.withColumn(TS_COL, F.col(TS_COL) + F.lit(shift))
        return df

    def _streaming_unique(self, df: DataFrame, si: A.SingleInput, schema) -> DataFrame:
        """Keyed last/first-event state for #window.unique / firstUnique.

        firstUnique: only the first event per key is ever emitted (exactly
        the batch final-contents contract when arrival follows event time).
        unique: each batch emits the key's new representative iff it is
        later (by the batch total order) than the stored one — a changelog
        whose latest row per key IS the batch final-contents result.
        State per key is the representative's ord values — O(#keys), no
        row buffering."""
        first = si.window.name.lower() == "firstunique"
        keys = [a.name for a in si.window.args if isinstance(a, A.Ref)]
        if not keys:
            raise SiddhiPlannerException(f"#window.{si.window.name} needs key attribute(s)")
        out_cols = [c for c in df.columns if c != "__event_time"]
        out_schema = T.StructType([f for f in df.schema.fields if f.name in out_cols])
        ord_cols = [c for c in self.ord_cols_for(schema) if c in out_cols]

        def step(key, rows, state):
            rows = rows.frame()[out_cols]
            rows = rows.sort_values(ord_cols, kind="mergesort").reset_index(drop=True)
            if first:
                if state.exists:
                    return None
                state.update(True)
                return list(rows.iloc[[0]].itertuples(index=False, name=None))
            cand = len(rows) - 1
            cand_ord = [rows[c].iloc[cand] for c in ord_cols]
            if state.exists and state.get >= cand_ord:
                return None
            state.update(cand_ord)
            return list(rows.iloc[[cand]].itertuples(index=False, name=None))

        return keyed_state(
            df, keys, step, out_schema, GroupStateTimeout.NoTimeout,
            self.window_key_buckets,
        )

    def _streaming_retention_snapshot(
        self, df: DataFrame, si: A.SingleInput, schema, pkey: Optional[str]
    ) -> DataFrame:
        """#window.sort / #window.frequent in streaming mode.

        Keyed state holds the window's retained contents; every micro-batch
        that touches a key emits the key's FULL new contents tagged with a
        monotonically increasing ``__snapshot`` id — the rows carrying the
        max id are the current window contents, and after the final batch
        they equal the batch-mode result (tests assert this contract).

        State: sort keeps at most n rows per key (bounded); frequent keeps
        every event of the key (exact counts — the same retained-event
        growth as the reference's frequent window; at corpus scale use the
        batch path or a ``partition with`` key to shard it). Without
        ``partition with`` the state lives under one global key —
        single-task by semantic necessity, mirroring the batch global-order
        constraint (warn_global_order fires)."""
        out_cols = [c for c in df.columns if c != "__event_time"]
        ord_cols = [c for c in self.ord_cols_for(schema) if c in out_cols]
        out_schema = T.StructType(
            [f for f in df.schema.fields if f.name in out_cols]
            + [T.StructField(SNAPSHOT_COL, T.IntegerType())]
        )
        spec = _retention_spec(si.window, schema, out_cols, ord_cols)
        by = spec["sort_by"] or ord_cols
        ascending = spec["sort_asc"] or [True] * len(by)

        def step(key, rows, state):
            retained, snap = _retained_step(rows, state, out_cols, ord_cols, spec)
            retained = retained.sort_values(by, ascending=ascending, kind="mergesort")
            return [
                (*r, snap)
                for r in retained[out_cols].itertuples(index=False, name=None)
            ]

        return self._retained_state(
            df, pkey, f"#window.{si.window.name}", step, out_schema
        )

    def _retained_state(self, df, pkey, what, step, out_schema) -> DataFrame:
        """A retention operator's keyed state: one state key per
        ``partition with`` value, or one global key (single-task)."""
        if pkey:
            keys = [pkey]
        else:
            W.warn_global_order(f"streaming {what} (global retained set)")
            df = df.withColumn("__gk", F.lit(1))
            keys = ["__gk"]
        return keyed_state(
            df, keys, step, out_schema, GroupStateTimeout.NoTimeout, None
        )

    def _streaming_retained_agg(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, schema,
        pkey: Optional[str],
    ) -> DataFrame:
        """Aggregation over a retention window's contents, REVISED per
        micro-batch (round 5): keyed state holds the retained set (the same
        retention rules as the row snapshots — sort top-n, frequent /
        lossyFrequent combos, unique / firstUnique representatives, batch /
        delay retain-everything) and every batch emits the full
        re-aggregated, group-by'd result tagged with ``__snapshot``. Rows
        carrying the max id are the current revision; after the last batch
        they equal the batch-mode aggregate (parity-tested across >= 2
        micro-batches). An EMPTY grouped revision emits one marker row
        whose every non-snapshot field is NULL (consumers select the max
        snapshot, then drop the marker) — without it, a revision that
        shrinks to zero groups would leave max-snapshot readers pointing
        at the stale previous revision. This is Spark's update-mode emission expressed in
        an append-mode changelog, so it composes with the repo's
        append-only sinks.

        State: sort / unique / firstUnique are bounded (top-n / one row per
        key combo); frequent / lossyFrequent / batch / delay retain every
        event of the state key by CONTRACT (the reference's own retention
        growth) — at scale shard with ``partition with`` (state key = the
        partition key, matching the batch planner's implicit pkey
        grouping) or use batch mode. Select items: group-key refs,
        ``count()``, or ``agg(column)``; complex expressions and
        having/order-by stay batch-only (clear rejection)."""
        wname = si.window.name.lower()
        if q.order_by or q.limit is not None:
            raise UnsupportedFeatureException("order by / limit need batch mode")
        key_names: list[str] = []
        for ge in q.group_by:
            if not isinstance(ge, A.Ref) or ge.name not in df.columns:
                raise UnsupportedFeatureException(
                    "streaming retained-set aggregation needs plain column "
                    "group keys (computed keys: batch mode)"
                )
            key_names.append(ge.name)
        if pkey and pkey not in key_names:
            # the batch planner folds `partition with` keys into the
            # grouping (plans/planner.py) — mirror it so pkey refs resolve
            key_names.append(pkey)
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, carry, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=False,
            what=f"#window.{wname} retained-set aggregation",
        )
        out_schema = T.StructType(
            out_fields + [T.StructField(SNAPSHOT_COL, T.IntegerType())]
        )
        out_cols = [c for c in df.columns if c != "__event_time"]
        ord_cols = [c for c in self.ord_cols_for(schema) if c in out_cols]
        # retention parameters: ONE shared parse + compute with the row
        # snapshots (_retention_spec/_retain) so the two operators cannot
        # drift apart.
        spec = _retention_spec(si.window, schema, out_cols, ord_cols)
        cols = key_names + [c for c in carry if c not in key_names]
        n_keys = len(key_names)

        def step(key, rows, state):
            retained, snap = _retained_step(rows, state, out_cols, ord_cols, spec)
            decoded = _decode_rows(retained, cols, ord_cols)
            groups = {(): decoded}
            if key_names:
                groups = {}
                for r in decoded:
                    groups.setdefault(tuple(r[:n_keys]), []).append(r)
            recs = [
                _record(plan, gkey, key_names, cols, None, g) + [snap]
                for gkey, g in groups.items()
            ]
            if not recs:
                # an empty GROUPED revision (the retained set aggregates to
                # zero groups — e.g. lossyFrequent where no combo clears
                # the support) must still advance the visible snapshot, or
                # max-__snapshot readers would mistake the previous
                # non-empty revision for current. Emit ONE marker row with
                # every non-snapshot field NULL; consumers drop it after
                # selecting the max snapshot (a real group row always has
                # its aggregates present — only the pathological
                # no-count, null-key, all-null-agg group is ambiguous).
                recs.append([None] * len(out_fields) + [snap])
            return recs

        return self._retained_state(
            df, pkey, f"#window.{wname} aggregation", step, out_schema
        )

    def _streaming_agg(self, df: DataFrame, q: A.Query, si: A.SingleInput, resolver) -> DataFrame:
        if q.order_by or q.limit is not None:
            raise UnsupportedFeatureException("order by / limit need batch mode")
        wclass = W.classify(si.window, self.extensions)
        comp = self._compiler(resolver, df)
        group_cols: list[Column] = []
        key_names: list[str] = []
        for i, ge in enumerate(q.group_by):
            gname = ge.name if isinstance(ge, A.Ref) else f"__g{i}"
            if gname not in df.columns:
                df = df.withColumn(gname, comp.compile(ge))
            group_cols.append(F.col(gname))
            key_names.append(gname)
        win_start = win_end = None
        if wclass == "batch" and isinstance(
            self.extensions.get(si.window.name), W.WindowExtension
        ):
            # window-processor extension: the builder maps the event-time
            # column (epoch ms) to a bucket id — the SAME bucketed protocol
            # the batch planner executes (operators/windows.py add_bucket),
            # so the streaming lift is just grouping by that bucket column.
            # A pure-Catalyst bucket expression is streaming-safe by
            # construction; windowStart()/windowEnd() are null, matching
            # the batch extension contract.
            ext = self.extensions[si.window.name]
            ts_field = self.stream_schema(si.stream).ts_field
            if ts_field is None:
                raise SiddhiPlannerException(
                    f"#window.{si.window.name}: stream has no ts_field for "
                    "the window extension bucket"
                )
            bucket = ext.builder(
                F.col(ts_field), *[W._ext_arg(a) for a in si.window.args]
            )
            group_cols = [bucket.alias(W.BUCKET_COL)] + group_cols
            win_start = F.lit(None).cast("bigint")
            win_end = F.lit(None).cast("bigint")
        elif wclass == "batch" and si.window.name.lower() in ("cron", "externaltimebatch"):
            # cron and externalTimeBatch in streaming mode. FIXED-PERIOD
            # schedules (and externalTimeBatch over the stream's own
            # ts_field) lower to a NATIVE window() over the watermarked
            # event-time column — same bucket boundaries as the batch
            # lowering, but the state store can EVICT closed windows once
            # the watermark passes them (round-5 ADVICE: the bucket-column
            # grouping keeps one state row per elapsed period per key
            # forever). Calendar/quartz cron forms and externalTimeBatch
            # over a non-ts attribute keep the bucket-expression grouping —
            # their bucket is not a fixed-width time window, so state there
            # is unbounded-by-schedule (documented: run them update/complete
            # with a TTL'd state store, or batch mode).
            ts_field = self.stream_schema(si.stream).ts_field
            if ts_field is None:
                raise SiddhiPlannerException(
                    f"#window.{si.window.name}: stream has no ts_field"
                )
            native = None
            wname_l = si.window.name.lower()
            if wname_l == "cron":
                kind, arg, anchor = W._cron_schedule(si.window)
                if kind == "period":
                    native = (int(arg), int(anchor) % int(arg))
            else:  # externaltimebatch
                fld = si.window.args[0]
                if isinstance(fld, A.Ref) and fld.name == ts_field:
                    native = (int(W._arg_ms(si.window, 1)), 0)
            if native is not None:
                period, start = native
                wcol = F.window(
                    F.col("__event_time"),
                    f"{period} milliseconds", f"{period} milliseconds",
                    f"{start} milliseconds",
                )
                group_cols = [wcol.alias("__nw")] + group_cols
                win_start = F.unix_millis(F.col("__nw.start"))
                win_end = F.unix_millis(F.col("__nw.end"))
            else:
                bw = W.add_bucket(df, si.window, ts_field, [], [])
                df = bw.df
                group_cols = [F.col(W.BUCKET_COL)] + group_cols
                win_start, win_end = bw.win_start, bw.win_end
        elif wclass == "batch":
            name = si.window.name.lower()
            if name == "lengthbatch":
                return self._streaming_length_batch(df, q, si, key_names)
            if name == "timebatch":
                size_ms = int(si.window.args[0].value)
                wcol = F.window(F.col("__event_time"), f"{size_ms} milliseconds")
            elif name == "session":
                gap_ms = int(si.window.args[0].value)
                wcol = F.session_window(F.col("__event_time"), f"{gap_ms} milliseconds")
            else:
                raise UnsupportedFeatureException(
                    f"#window.{si.window.name} has no streaming shape (use batch mode)"
                )
            group_cols = [wcol.alias("__w")] + group_cols
            win_start = F.unix_millis(F.col("__w.start"))
            win_end = F.unix_millis(F.col("__w.end"))
        elif wclass == "sliding":
            wname = si.window.name.lower()
            if wname == "length":
                return self._streaming_sliding_length(df, q, si, key_names)
            if wname == "time":
                return self._streaming_sliding_time(
                    df, q, si, key_names, int(si.window.args[0].value)
                )
            if wname == "externaltime":
                field = si.window.args[0]
                ts_field = self.stream_schema(si.stream).ts_field
                if isinstance(field, A.Ref) and field.name == ts_field:
                    return self._streaming_sliding_time(
                        df, q, si, key_names, int(si.window.args[1].value)
                    )
                raise UnsupportedFeatureException(
                    "streaming #window.externalTime needs its timestamp attribute "
                    "to be the stream's ts_field (general case: batch mode)"
                )
            if wname == "timelength":
                ts_field = self.stream_schema(si.stream).ts_field
                if ts_field is None:
                    raise SiddhiPlannerException(
                        "#window.timeLength: stream has no ts_field"
                    )
                return self._streaming_sliding_length(
                    df, q, si, key_names,
                    t_ms=int(si.window.args[0].value), n_arg=1,
                    ts_field=ts_field,
                )
            raise UnsupportedFeatureException(
                f"sliding #window.{si.window.name} aggregation is batch-only; "
                "streaming emits per-window-flush (timeBatch/session)"
            )
        # collect aggregates
        from ..plans.functions import AGG_FNS

        agg_map: dict[int, str] = {}
        agg_exprs: list[Column] = []
        inner_comp = self._compiler(resolver, df)

        def collect(e: A.Expr):
            if isinstance(e, A.Call) and e.ns is None and e.name.lower() in AGG_FNS:
                if id(e) not in agg_map:
                    nm = f"__a{len(agg_map)}"
                    agg_map[id(e)] = nm
                    agg_exprs.append(self._agg_column(e, inner_comp, df, None).alias(nm))
                return
            from ..plans.planner import _children

            for child in _children(e):
                collect(child)

        items = q.select or []
        if q.select is None:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        for it in items:
            collect(it.expr)
        if q.having is not None:
            collect(q.having)
        agg_df = df.groupBy(*group_cols).agg(*agg_exprs) if group_cols else df.agg(*agg_exprs)

        def post_resolve(ref: A.Ref) -> Column:
            if ref.name in key_names or ref.name in agg_df.columns:
                return F.col(ref.name)
            raise SiddhiPlannerException(
                f"column '{ref.name}' must be a group-by key or inside an aggregate"
            )

        fns = {}
        if win_start is not None:
            fns["windowStart"] = lambda *a: win_start
            fns["windowEnd"] = lambda *a: win_end
        post = ExprCompiler(
            post_resolve, {**self.extensions, **fns},
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        out_cols = [post.compile(it.expr).alias(self._out_name(it)) for it in items]
        out = agg_df.select(*out_cols)
        if q.having is not None:
            hc = ExprCompiler(lambda r: F.col(r.name), self.extensions)
            out = out.filter(hc.compile(q.having))
        return out

    # --------------------------------------------- streaming count window
    def _plan_stateful_items(
        self, q: A.Query, key_names: list[str], field_types: dict, allow_cur: bool,
        what: str,
    ) -> tuple[list[tuple[str, str, Optional[str]]], list[str], list[T.StructField]]:
        """Shared select-item planning for the stateful window operators.

        Returns ``(plan, carry, out_fields)`` where ``plan`` is
        (out_name, kind, col) per item — kind in {'key','cur','count',agg} —
        ``carry`` the value columns each buffered row must keep, and
        ``out_fields`` the output StructFields. Complex expressions stay
        batch-only (clear rejection)."""
        items = q.select or []
        if not items:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        if q.having is not None or q.order_by:
            raise UnsupportedFeatureException(
                f"having/order by over streaming {what}: batch mode only"
            )
        plan: list[tuple[str, str, Optional[str]]] = []
        carry: list[str] = []
        out_fields: list[T.StructField] = []

        def need(col: str) -> None:
            if col not in carry:
                carry.append(col)

        for it in items:
            out_name = self._out_name(it)
            e = it.expr
            if isinstance(e, A.Ref):
                if e.name in key_names:
                    plan.append((out_name, "key", e.name))
                    out_fields.append(T.StructField(out_name, field_types[e.name], True))
                    continue
                if allow_cur:
                    need(e.name)
                    plan.append((out_name, "cur", e.name))
                    out_fields.append(T.StructField(out_name, field_types[e.name], True))
                    continue
            if isinstance(e, A.Call) and e.ns is None:
                fn = e.name.lower()
                if fn == "count" and not e.args:
                    plan.append((out_name, "count", None))
                    out_fields.append(T.StructField(out_name, T.LongType(), True))
                    continue
                if fn in ("sum", "min", "max", "avg", "first", "last",
                          "distinctcount") and len(e.args) == 1 and isinstance(e.args[0], A.Ref):
                    col = e.args[0].name
                    need(col)
                    if fn in ("min", "max", "first", "last"):
                        ot = field_types[col]
                    elif fn == "distinctcount":
                        ot = T.LongType()
                    elif fn == "sum":
                        ot = field_types[col] if isinstance(
                            field_types[col], (T.LongType, T.IntegerType)
                        ) else T.DoubleType()
                        if isinstance(ot, T.IntegerType):
                            ot = T.LongType()
                    else:  # avg
                        ot = T.DoubleType()
                    plan.append((out_name, fn, col))
                    out_fields.append(T.StructField(out_name, ot, True))
                    continue
            kinds = "keys, current-row columns" if allow_cur else "keys"
            raise UnsupportedFeatureException(
                f"streaming {what} select items must be {kinds}, count(), or agg(column)"
            )
        return plan, carry, out_fields

    def _keyed_window(self, df, key_names, step, out_schema):
        """The count/time window lowerings' keyed state: one state key per
        ``key_names`` combination (bucketed by ``window_key_buckets``), or
        one global key when the query has no group keys."""
        if not key_names:
            df = df.withColumn("__gk", F.lit(0))
        return keyed_state(
            df, key_names or ["__gk"], step, out_schema,
            GroupStateTimeout.NoTimeout,
            self.window_key_buckets if key_names else None,
        )

    def _streaming_length_batch(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, key_names: list[str]
    ) -> DataFrame:
        """``#window.lengthBatch(n)`` on a streaming source: the custom
        stateful count window (SURVEY.md §7.2) — per key, buffer arriving
        rows in the state store and emit one aggregate row per full chunk of
        n; the remainder carries across micro-batches. Rows are event-time
        sorted within each batch (same reorder contract as the pattern op).

        Select items must be group-key refs, ``count()``, or
        ``agg(column)`` — complex expressions stay batch-only."""
        n = int(si.window.args[0].value)
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, value_cols, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=False, what="lengthBatch"
        )
        # what each buffered row carries, also its sort order
        carry_cols = ([TS_COL] if TS_COL in df.columns else []) + value_cols

        def step(key, rows, state):
            buf = state.get if state.exists else []
            buf.extend(_decode_rows(rows.frame(), carry_cols, carry_cols))
            cut = len(buf) - len(buf) % n
            out = [
                _record(plan, key, key_names, carry_cols, None, buf[i:i + n])
                for i in range(0, cut, n)
            ]
            state.update(buf[cut:])
            return out

        return self._keyed_window(df, key_names, step, T.StructType(out_fields))

    def _streaming_sliding_length(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, key_names: list[str],
        t_ms=None, n_arg: int = 0, ts_field=None,
    ) -> DataFrame:
        """``#window.length(n)`` on a streaming source: per-arrival aggregate
        over the trailing n events per key (the reference's exercised P0
        count window, SiddhiCEPITCase.java:315,427). A per-key ring buffer
        lives in the state store; every arriving row emits one output row —
        the same per-arrival emission the embedded engine produces.

        With ``t_ms``/``ts_field`` set this runs ``#window.timeLength(t, n)``
        (round 4): the same ring additionally evicts entries older than
        ``t_ms`` relative to the ARRIVING event's ``ts_field`` value before
        aggregating — the batch contract's hybrid window (last t ms capped
        at the n most recent), so state stays bounded by min(n, rate*t).

        Select items: group-key refs, current-row column refs, ``count()``,
        or ``agg(column)``; complex expressions stay batch-only."""
        n = int(si.window.args[n_arg].value)
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, carry, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=True, what="length window"
        )
        if t_ms is not None and ts_field not in carry:
            carry.append(ts_field)
        carry_cols = ([TS_COL] if TS_COL in df.columns else []) + carry
        ts_idx = carry_cols.index(ts_field) if t_ms is not None else None

        def step(key, rows, state):
            ring = state.get if state.exists else []
            out = []
            for row in _decode_rows(rows.frame(), carry_cols, carry_cols):
                ring.append(row)
                if len(ring) > n:
                    ring.pop(0)
                if t_ms is not None:
                    # hybrid window: drop entries older than t relative to
                    # the arriving event (the ring is in ts order)
                    lo = int(row[ts_idx]) - t_ms
                    while ring and (ring[0][ts_idx] is None or int(ring[0][ts_idx]) <= lo):
                        ring.pop(0)
                out.append(_record(plan, key, key_names, carry_cols, row, ring))
            state.update(ring)
            return out

        return self._keyed_window(df, key_names, step, T.StructType(out_fields))

    def _streaming_sliding_time(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, key_names: list[str],
        t_ms: int,
    ) -> DataFrame:
        """``#window.time(t)`` aggregation on a streaming source: per-arrival
        aggregate over the trailing t-ms window per key — Siddhi's most-used
        window (events expire t after arrival). Matches the batch contract
        ``rangeBetween(-t, 0)``: the window of a row at ts holds buffered
        rows with ts' in [ts - t, ts].

        State per key is the rows of the last t ms (plus a monotone max-ts
        high watermark for eviction) — bounded by the arrival rate × t, the
        same bound the reference's in-memory time window carries. Late rows
        (within the stream watermark) are inserted in event-time order and
        aggregate over their OWN trailing window, exactly as batch mode
        would. ``#window.externalTime(f, t)`` routes here too when ``f`` is
        the stream's event-time field (identical window; the general case is
        batch-only)."""
        field_types = {f.name: f.dataType for f in df.schema.fields}
        plan, carry, out_fields = self._plan_stateful_items(
            q, key_names, field_types, allow_cur=True, what="time window"
        )
        if TS_COL not in df.columns:
            raise SiddhiPlannerException("#window.time needs the stream's ts_field")
        carry_cols = [TS_COL] + carry  # ts is element 0 of every buffered row
        t_ms = int(t_ms)

        def step(key, rows, state):
            buf, max_ts = state.get if state.exists else ([], None)
            out = []
            for row in _decode_rows(rows.frame(), carry_cols, carry_cols):
                ts = int(row[0])
                max_ts = ts if max_ts is None else max(max_ts, ts)
                # insert in event-time order (late rows land mid-buffer)
                k = len(buf)
                while k > 0 and buf[k - 1][0] > ts:
                    k -= 1
                buf.insert(k, row)
                # evict rows that can never appear in a future window
                lo = max_ts - t_ms
                while buf and buf[0][0] < lo:
                    buf.pop(0)
                win = [w for w in buf if ts - t_ms <= w[0] <= ts]
                out.append(_record(plan, key, key_names, carry_cols, row, win))
            state.update((buf, max_ts))
            return out

        return self._keyed_window(df, key_names, step, T.StructType(out_fields))

    # ------------------------------------------------- streaming aggregation
    def _compile_agg_read(self, q: A.Query) -> DataFrame:
        """`from Agg within ... per 'unit'` on a STREAMING source: the
        granularity lowers to an aligned tumbling window aggregation
        (window() buckets align to the epoch in the pinned-UTC session,
        matching the batch date_trunc contract). Month/year granularities
        are calendar-sized and stay batch-only."""
        from ..plans.planner import AGG_TS, _GRAN_ALIASES, _within_bound_ms

        si: A.SingleInput = q.input
        adef = self.aggregations[si.stream]
        src = self.stream_schema(adef.input.stream)
        if not src.df.isStreaming:
            return super()._compile_agg_read(q)
        gran = _GRAN_ALIASES.get((q.agg_per or "").lower())
        if gran is None or gran not in adef.granularities:
            raise SiddhiPlannerException(
                f"aggregation '{adef.name}': per granularity {q.agg_per!r} "
                f"unknown or not maintained (has: {adef.granularities})"
            )
        ms = {"sec": 1000, "min": 60_000, "hour": 3_600_000, "day": 86_400_000}.get(gran)
        if ms is None:
            # month/year are calendar-sized: synthesize a cron window whose
            # fires are exactly the date_trunc boundaries batch mode uses
            # (monthly on the 1st at midnight / annually on Jan 1) — the
            # round-4 streaming cron path groups by the bucket expression,
            # and windowStart() IS the truncated epoch ms
            cron = "0 0 0 1 * ?" if gran == "month" else "0 0 0 1 1 ?"
            wspec = A.WindowSpec("cron", [A.Literal(cron, "string")])
        else:
            wspec = A.WindowSpec("timeBatch", [A.Literal(ms, "time")])
        if adef.ts_ref is not None and adef.ts_ref.name != src.ts_field:
            raise UnsupportedFeatureException(
                "streaming aggregation requires `aggregate by` = the stream's event-time field"
            )
        if self._query_has_agg(q):
            raise UnsupportedFeatureException(
                "re-aggregating a streaming rollup needs a second stateful agg — read "
                "the rollup in batch mode or aggregate downstream via foreachBatch"
            )
        synth = A.Query(
            input=A.SingleInput(
                adef.input.stream, adef.input.filter, wspec, adef.input.alias,
            ),
            select=[A.SelectItem(A.Call(None, "windowStart", []), AGG_TS)]
            + list(adef.select),
            group_by=list(adef.group_by),
        )
        df = self._compile_single(synth)
        if q.agg_within is not None:
            lo, hi = q.agg_within
            df = df.filter(F.col(AGG_TS) >= _within_bound_ms(lo))
            if hi is not None:
                df = df.filter(F.col(AGG_TS) < _within_bound_ms(hi))
        resolver = self._plain_resolver(set(df.columns), {adef.name, si.alias or adef.name})
        if si.filter is not None:
            df = df.filter(self._compiler(resolver, df).compile(si.filter))
        return self._select_rowwise(df, q, resolver, list(df.columns))

    # ------------------------------------------------------- streaming pattern
    def compile_query(self, q: A.Query) -> DataFrame:
        if isinstance(q.input, A.PatternInput):
            streams = {
                e.stream
                for s in q.input.elems
                for e in (s.elems if isinstance(s, A.PatternGroup) else [s])
            }
            if any(self.stream_schema(s).df.isStreaming for s in streams):
                return self._streaming_pattern(q)
        return super().compile_query(q)

    def _streaming_pattern(self, q: A.Query) -> DataFrame:
        """Per-key NFA over state-buffered rows (applyInPandasWithState)."""
        from ..operators.pattern import quiescent_confirm

        p: A.PatternInput = q.input
        front = pattern_front(p)
        elems, strict_after = front.elems, front.strict_after
        if len(front.streams) != 1:
            raise UnsupportedFeatureException(
                "streaming patterns over multiple streams: union the streams first"
            )
        stream = front.streams[0]
        schema = self.stream_schema(stream)
        if schema.ts_field is None:
            raise SiddhiPlannerException(f"pattern stream '{stream}' needs a ts_field")
        df, _ = self.stream_df(stream)
        df = self._with_watermark(df, schema)
        pk = q.partition_by or {}
        # state key: the partition attribute itself, or one constant key
        key_col = pk[stream] if pk else PK_COL
        if not pk:
            df = df.withColumn(PK_COL, F.lit(0))
        df = df.withColumn(STREAM_COL, F.lit(stream))

        fields = list(schema.fields)
        field_types = {f.name: f.dataType for f in schema.df.schema.fields}
        out_schema, _, _, resolve, emit = pattern_output(elems, {stream: schema})
        # a key's state is (seen, rows, hwm, st): the buffered rows as a
        # list of row arrays stored SORTED, the processed high-water mark
        # and the kernel/NFA state. ``seen`` holds 16-byte content digests
        # of already-emitted matches: a running count would re-emit old
        # matches (and drop new ones) whenever an out-of-order arrival
        # inserts a match at an earlier NFA position, and would replay
        # every still-derivable match after buffer eviction.
        every, every_at, within_ms = p.every, p.every_at, p.within_ms
        max_buffer = self.max_buffer_per_key

        # --- row packing (round 7): ship each event to the stateful operator
        # as ONE json-array column. PySpark's applyInPandasWithState converts
        # every input column to a pandas Series PER KEY GROUP — at 100k
        # small keys that per-visit Arrow->pandas cost dominated the
        # streaming probe (~60% of wall, worker cProfile). One packed column
        # + the key + the watermark column cut the drain 42s -> 22s at 1M
        # events/100k keys. Timestamps ride as unix micros, dates as epoch
        # days; json numbers/strings/bools round-trip natively.
        _NUM_T = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType,
        )
        pos = {TS_COL: 0}
        pack_exprs = [F.col(TS_COL).cast("long").alias("__c0")]
        unpack: dict = {}  # field -> its packed value back as an output cell
        for i, f in enumerate(fields):
            t = field_types[f]
            c = F.col(f)
            if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
                c = F.unix_micros(c.cast("timestamp"))
                unpack[f] = lambda v: pd.Timestamp(v, unit="us", tz="UTC")
            elif isinstance(t, T.DateType):
                c = F.datediff(c, F.lit("1970-01-01"))
                unpack[f] = lambda v: _EPOCH_DAY + datetime.timedelta(days=v)
            elif not isinstance(t, _NUM_T + (T.StringType, T.BooleanType)):
                raise UnsupportedFeatureException(
                    f"streaming pattern over field '{f}' of type "
                    f"{t.simpleString()}: supported field types are "
                    "numeric/string/boolean/timestamp/date"
                )
            pos[f] = i + 1
            pack_exprs.append(c.alias(f"__c{i + 1}"))
        pack_keys = [f"__c{i}" for i in range(len(pack_exprs))]
        sel = [F.col(key_col)]
        if "__event_time" in df.columns:
            sel.append(F.col("__event_time"))
        sel.append(
            F.to_json(
                F.struct(*pack_exprs), {"ignoreNullFields": "false"}
            ).alias("__row")
        )
        df = df.select(*sel)
        # total order: ts, then the remaining fields (nulls last, matching
        # the batch operator's pandas na_position="last")
        sort_pd = [(0, 0)] + [
            (pos[f], "" if isinstance(field_types[f], T.StringType) else 0)
            for f in fields
            if f != schema.ts_field
        ]

        def sort_key(r):
            return tuple(
                (r[p] is None, r[p] if r[p] is not None else d)
                for p, d in sort_pd
            )

        # Watermark eviction (round 8: now covers absence patterns too) is
        # sound only when arming is per-row (`every`, no mid-every): the
        # out-of-order fallback is a FULL RE-RUN over the buffer, and for
        # arm-once patterns the re-run's "first A" must be the true first A
        # ever — which eviction could remove. For every-patterns the re-run
        # reconstructs exactly the live partials from the retained suffix:
        # a kept partial's rows all have ts >= its first_ts (>= floor), and
        # a killed partial's guard row has ts >= its (evicted) a-row, so a
        # prefix eviction can never resurrect one.
        has_neg = any(e.negated for e in elems)
        neg_for_max = max(
            (e.for_ms or 0 for e in elems if e.negated), default=0
        )
        multi = every or every_at is not None
        can_evict = every and every_at is None and (
            within_ms is not None or has_neg
        )
        # EventTimeTimeout serves two jobs (round 10): absence confirmation
        # (has_neg, always on — the Siddhi scheduler-parity semantics) and
        # opt-in state GC for evictable every-patterns (purge — see the
        # constructor note): a key whose buffer AND partials empty out is
        # REMOVED (nothing is re-derivable, and the watermark bars older
        # arrivals), so state rows track ACTIVE keys, not lifetime keys.
        # Arm-once patterns keep their seal tombstone.
        purge = self.pattern_state_purge and multi and can_evict
        use_timeout = has_neg or purge

        front.log_engine("streaming")

        def decode(region, c):
            """Column ``c`` of the buffered rows ``region`` as the numpy
            array a filter reads: strings as objects, every other type as
            int64, or float64 once a null or a fraction shows."""
            vals = [r[pos[c]] for r in region]
            if isinstance(field_types.get(c), T.StringType):
                return np.asarray(vals, dtype=object)
            try:
                return np.asarray(vals, dtype=np.int64)
            except (TypeError, ValueError):
                return np.asarray(vals, dtype=np.float64)

        # a dry run over no rows: a bad filter fails the plan, not a worker
        element_masks(elems, LazyColumns(pos, lambda c: decode([], c)), 0)

        def _key_step(seen, rows, hwm, st, new_rows, wm):
            """ONE key's state transition for one micro-batch: merge decoded
            new rows into the sorted buffer, watermark-evict, run the
            kernel/NFA, confirm watermark-passed trailing absences
            (timer-fired, round 10 — Siddhi scheduler parity), dedup
            emissions. ``st`` is None for a key with no state yet. Returns
            ``(stored, rows, new_caps, timer, removable)``: ``stored`` is
            the key's next ``(seen, rows, hwm, st)``, or None when this
            visit changed nothing; ``timer`` is the event-time ms to arm
            the timeout at (earliest pending absence confirmation or GC
            horizon), or None; ``removable`` means the key's state can be
            DROPPED — empty buffer and no live partials, so nothing is
            re-derivable and the watermark bars older arrivals (state rows
            then track active keys, not lifetime keys).

            This is the only compute in the stateful pattern operator: its
            step runs it once per key in both group modes of the keyed-state
            driver (per key, or per member key of a hash bucket), so
            cross-mode parity is structural, not tested-in.
            """
            n_old = len(rows)
            n_new = len(new_rows)
            # tracks whether the buffer's CONTENT changed this visit (new
            # rows, watermark eviction, or the hard cap) — a timer-fired
            # visit that only confirms/re-arms leaves it False so the
            # caller can skip the state write (round 11)
            buf_mutated = n_new > 0
            # in-order fast path: every new row strictly after the processed
            # high-water mark -> sort just the new suffix and RESUME the NFA
            # over it (O(new) per batch). Ties with the hwm fall back (a
            # same-ts arrival could interleave the old tail under the
            # deterministic tie-break and change strict/every semantics).
            in_order = (
                st is not None
                and hwm is not None
                and (n_new == 0 or min(r[0] for r in new_rows) > hwm)
            )
            if in_order:
                if n_new:
                    if n_new > 1:
                        new_rows.sort(key=sort_key)
                    rows.extend(new_rows)
                start_idx, init = n_old, st
            else:
                rows.extend(new_rows)
                rows.sort(key=sort_key)
                start_idx, init = 0, None
            ts_arr = np.fromiter(
                (r[0] for r in rows), dtype=np.int64, count=len(rows)
            )
            if can_evict and wm > 0:
                # rows below (watermark - within) can never join a NEW match:
                # late arrivals below the watermark were already dropped
                # upstream, and any kept row's within-window still reaches
                # past the watermark. Prune is a PREFIX of the sorted buffer,
                # so surviving capture indices just shift down.
                #
                # Absence patterns (round 8): a killed partial's guard row
                # sits at ts >= its a-row, so prefix eviction still cannot
                # resurrect it on a full re-run — but a waiting-to-confirm
                # partial (deadline passed, next event pending) must keep its
                # captured rows until it resolves, so the floor drops by
                # max(for_ms) and clamps to min(first_ts) over live partials
                # (ROUND7_NOTES §Known future work, landed round 8).
                stale_floor = wm - (within_ms or 0)
                floor = stale_floor - neg_for_max
                if has_neg and st is not None:
                    live = [
                        d["first_ts"]
                        for grp in ("partials", "spawners")
                        for d in st[grp]
                        if d["first_ts"] is not None
                    ]
                    if live:
                        floor = min(floor, min(live))
                k = int(np.searchsorted(ts_arr, floor))
                if k > 0:
                    buf_mutated = True
                    rows = rows[k:]
                    ts_arr = ts_arr[k:]
                    if init is not None:
                        for group in ("partials", "spawners"):
                            kept = []
                            for d in init[group]:
                                if (
                                    not has_neg
                                    and d["first_ts"] is not None
                                    and d["first_ts"] < stale_floor
                                ):
                                    continue  # stale: its window closed
                                d["captured"] = [
                                    [j - k for j in idxs]
                                    for idxs in d["captured"]
                                ]
                                kept.append(d)
                            init[group] = kept
                    start_idx = max(start_idx - k, 0)
            if len(rows) > max_buffer:
                # hard cap: evict the oldest event-time rows and resync with
                # a full re-run (the seen-set suppresses re-emissions)
                buf_mutated = True
                rows = rows[len(rows) - max_buffer:]
                ts_arr = ts_arr[len(ts_arr) - max_buffer:]
                start_idx, init = 0, None
            n_total = len(rows)
            region_identity = init is not None and start_idx >= n_total
            if region_identity:
                # empty-region fast path (round 11, VERDICT r10 item 2): a
                # timer-fired/quiescent visit carries no new rows, so every
                # kernel/NFA run is the identity on `init` (no row past
                # start_idx means no transition) — skip mask construction
                # and the engine call; the quiescent pass below does the
                # visit's real work
                found, nfa_st = [], init
            else:
                # masks over the scanned region only (rows[start_idx:]); the
                # old prefix is only indexed via partials' captured
                # positions, never re-tested, so it pads as False
                region = rows[start_idx:] if start_idx else rows
                cols = LazyColumns(pos, lambda c: decode(region, c))
                masks = element_masks(elems, cols, len(region), start_idx)
                found, nfa_st = run_shape(
                    front.shape, ts_arr, masks, p.elems, strict_after, every,
                    every_at, within_ms, start_idx, init, at_close=False,
                )

            # timer-fired absence (round 10, VERDICT r9 ask #1): a partial
            # whose trailing 'not X for t' deadline the WATERMARK has passed
            # confirms now, with no further events on this key — Siddhi
            # fires these from its scheduler; here the event-time timer the
            # caller arms at ``pend`` plays that role. Sound because rows at
            # or below the watermark are dropped upstream, so no future
            # event can kill the guard.
            pend = None
            confirmed = False
            if has_neg:
                # wm=0 (no watermark yet) confirms nothing but still
                # surfaces the pending deadline so the timer arms in batch 1
                extra, nfa_st, pend = quiescent_confirm(
                    nfa_st, front.steps, wm, multi
                )
                if extra:
                    confirmed = True
                    found = list(found) + extra

            # identity = the captured rows' CONTENT (buffer positions shift
            # as rows arrive/evict, so indices are not stable across batches)
            def match_key(cap):
                payload = json.dumps(
                    [[rows[j] for j in idxs] for idxs in cap]
                )
                return hashlib.md5(payload.encode()).digest()

            seen_set = set(seen)
            new_caps = []
            for cap in found:
                k = match_key(cap)
                if k not in seen_set:
                    seen_set.add(k)
                    seen.append(k)
                    new_caps.append(cap)
            if len(seen) > 4 * max_buffer:
                seen = seen[-4 * max_buffer:]
            if n_total:
                hwm = int(ts_arr[-1])  # buffer is sorted by TS_COL
            # timer = earliest actionable watermark instant: pending absence
            # confirmation (wm > pend), then the GC horizon — the instant
            # past which the whole buffer is evictable and every live
            # partial stale, so the timed-out visit drains the key to
            # removable. removable = nothing re-derivable now (empty buffer
            # implies empty partials: eviction retains live partials' rows).
            removable = (
                multi and can_evict and not rows
                and not nfa_st["partials"] and not nfa_st["spawners"]
            )
            timer = None if pend is None else pend + 1
            if purge and rows:
                horizon = hwm + (within_ms or 0) + neg_for_max + 1
                timer = horizon if timer is None else min(timer, horizon)
            # nothing changed this visit (no rows, no eviction, no
            # confirmation): the caller skips the state write
            unchanged = region_identity and not buf_mutated and not confirmed
            stored = None if unchanged else (seen, rows, hwm, nfa_st)
            return stored, rows, new_caps, timer, removable

        def take(rows, fname, idx):
            """The picked buffered rows' ``fname`` values as output cells."""
            p_, conv = pos[fname], unpack.get(fname)
            vals = [rows[j][p_] for j in idx]
            return vals if conv is None else [v if v is None else conv(v) for v in vals]

        def step(key, rows, state):
            if state.hasTimedOut and not has_neg:
                # purge timer fired: the last-armed horizon guarantees the
                # whole buffer evictable and every partial stale — drop the
                # key without decoding anything (for non-absence patterns a
                # timed-out visit can never emit)
                state.remove()
                return None
            seen, buf, hwm, st = (
                state.get if state.exists else ([], [], None, None)
            )
            if not multi and st is not None and st["done"]:
                # sealed: an arm-once pattern emits at most one match ever;
                # once emitted the buffer is dead weight and late arrivals
                # cannot retract the emission — drop it, keep the done
                # marker so every later batch is a no-op (checked BEFORE
                # decoding the batch: no per-row json work)
                if buf:
                    state.update((seen, [], hwm, st))
                return None
            # the buffer lives as a sorted LIST OF ROW ARRAYS — no pandas in
            # the per-key hot path (a pandas multi-column sort alone costs
            # ~1.3ms FIXED per call; at 100k keys/batch that dominated the
            # round-7 streaming probe). A timer-fired visit (key quiescent,
            # watermark passed a pending absence deadline or the GC
            # horizon) carries no rows; _key_step's quiescent pass does the
            # confirmation/drain work.
            loads = json.loads
            new_rows = [
                [d[k] for k in pack_keys]
                for d in map(loads, rows.col("__row").tolist())
            ]
            wm = state.getCurrentWatermarkMs()
            stored, buf_rows, new_caps, timer, removable = _key_step(
                seen, buf, hwm, st, new_rows, wm
            )
            if removable:
                state.remove()
            else:
                if stored is not None:
                    state.update(stored)
                if timer is not None:
                    # Siddhi-scheduler parity + state GC: wake this key when
                    # the watermark passes the earliest pending absence
                    # deadline or the eviction horizon, even if its stream
                    # goes silent (a timestamp at/below the watermark is
                    # rejected, hence the clamp)
                    state.setTimeoutTimestamp(max(timer, wm + 1))
            if new_caps:
                cols = emit(new_caps, lambda f, idx: take(buf_rows, f, idx))
                return list(zip(*cols))
            return None

        # absence patterns and evictable every-patterns run under
        # EventTimeTimeout: quiescent keys confirm 'not X for t' from the
        # timer once the watermark passes the deadline (Siddhi fires these
        # from its scheduler), and drained keys are GC'd at the eviction
        # horizon so state tracks active keys, not lifetime keys.
        # pattern_key_buckets multiplexes ~keys/N keys through one Arrow
        # group + GroupState visit (streaming/bucketing.py).
        result = keyed_state(
            df, [key_col], step, out_schema,
            GroupStateTimeout.EventTimeTimeout if use_timeout
            else GroupStateTimeout.NoTimeout,
            self.pattern_key_buckets,
        )

        return self._select_rowwise(result, q, resolve, out_schema.names)

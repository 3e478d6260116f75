"""Window semantics (batch mode).

SiddhiQL windows (SURVEY.md §2.B "Windows"; reference exercises
``#window.length`` / ``#window.time`` in SiddhiCEPITCase.java:315-316,427-429)
re-expressed over DataFrames. Batch-mode semantics (the oracle-checked
contract; streaming adds watermarks on the same shapes):

- Batch ("tumbling") windows — ``timeBatch/lengthBatch/session/externalTimeBatch``
  -> one output row per (window bucket x group key): implemented as a derived
  bucket column + groupBy. Scales: bucket derivation is narrow, the aggregation
  is a single hash-shuffle with map-side partial aggregation.
- Sliding windows — ``length/time/externalTime`` + aggregation -> one output
  row per arriving event, aggregate over the trailing frame: implemented with
  window functions (ROWS/RANGE BETWEEN). Partitioned by the query's group-by
  keys; ordering is (event-time, declared fields) for a deterministic total
  order under timestamp ties.
- Windows with no aggregation in the query are pass-through in batch (every
  event enters and is selected on arrival), matching per-arrival emission.
- Retention windows — ``sort/frequent/unique/firstUnique/batch/delay`` — retain
  a subset of the stream; batch-mode contract = the window's FINAL retained
  contents (the state after all events have been fed). ``sort(n, f [,'desc'])``
  keeps the n extreme events (distributed top-n: orderBy+limit compiles to
  TakeOrderedAndProject — no global sort). ``frequent(n[, attrs])`` keeps
  events whose attr-combo is among the n most frequent (exact counts here,
  deterministic; Siddhi uses approximate Misra-Gries counting — documented
  superset). ``unique(attrs)`` keeps the latest event per key,
  ``firstUnique`` the first. ``batch()`` retains everything (whole stream =
  one window). ``delay(t)`` shifts emission time by t (attributes unchanged;
  batch contents identical). ``cron('<expr>')`` with a fixed-period expr
  (``*/N`` seconds/minutes/hours) lowers to an aligned tumbling bucket.
  ``lossyFrequent(support[, error][, attrs])`` keeps events whose attr-combo
  frequency >= (support - error) x total count (exact counts; Siddhi's
  lossy-counting sketch approximates the same set within ``error``).
- ``timeLength(t, n)`` — hybrid sliding window (events of the last t ms,
  capped at the n most recent): lowered by the planner to a banded self-join
  (block id = floor(rn/n); each anchor probes exactly two blocks) — bounded
  2x fan-out on an equi-shuffle, no nested loop, scales linearly.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from ..errors import SiddhiPlannerException, UnsupportedFeatureException
from ..siddhiql import ast as A


def warn_global_order(what: str) -> None:
    """Un-keyed global-order constructs funnel the whole stream through ONE
    task — semantically forced (a global total order is sequential), but a
    scale cliff the query author should see at compile time."""
    warnings.warn(
        f"{what} compiles to a single-task global ordering and cannot "
        "parallelize beyond one core at scale; add `partition with (key of "
        "stream)` or `group by` to scale with key cardinality",
        RuntimeWarning,
        stacklevel=4,
    )

BATCH_WINDOWS = {"timebatch", "lengthbatch", "session", "externaltimebatch", "cron"}
SLIDING_WINDOWS = {"length", "time", "externaltime", "timelength"}
RETAIN_WINDOWS = {"sort", "frequent", "lossyfrequent", "unique", "firstunique", "batch", "delay"}

BUCKET_COL = "__w"


@dataclass
class WindowExtension:
    """A custom WINDOW kind registered via ``register_extension(..,
    window=True)`` — the window-processor leg of Siddhi's extension
    mechanism (scalar and aggregator extensions are the other two).

    ``builder(ts, *args) -> Column``: receives the event-time column
    (epoch ms) plus the literal window arguments and returns the BUCKET id
    column — rows sharing a bucket form one window (the tumbling/batch
    protocol, same contract the built-in cron/timeBatch windows compile
    to). Stays a pure Catalyst expression: codegen'd, shuffle-free, and
    usable under ``group by``/``partition with`` like any batch window.
    Works in batch AND streaming: the streaming runtime groups by the same
    bucket column (update/complete-mode aggregation), since a pure-Catalyst
    bucket expression is streaming-safe by construction."""

    builder: object


@dataclass
class StreamFnExtension:
    """A STREAM-FUNCTION handler registered via ``register_extension(..,
    stream_function=True)`` — Siddhi's stream-processor extension kind
    (`#ns:fn(args)` between the filter and the window).

    ``builder(df, *args) -> DataFrame``: receives the (filtered) stream
    DataFrame plus literal/attribute-name args and returns a DataFrame.
    Contract: the declared stream fields must survive (columns may be
    ADDED, rows may multiply or drop — tokenizers, enrichers, unrollers);
    added columns are selectable downstream. Works in batch AND streaming
    when the builder uses streaming-safe transforms."""

    builder: object


def _arg_ms(spec: A.WindowSpec, i: int) -> int:
    a = spec.args[i]
    if isinstance(a, A.Literal) and a.kind in ("int", "long", "time"):
        return int(a.value)
    raise SiddhiPlannerException(f"#window.{spec.name}: arg {i} must be an int/time literal")


def _arg_field(spec: A.WindowSpec, i: int) -> str:
    a = spec.args[i]
    if isinstance(a, A.Ref):
        return a.name
    raise SiddhiPlannerException(f"#window.{spec.name}: arg {i} must be an attribute")


def _arg_num(spec: A.WindowSpec, i: int) -> float:
    a = spec.args[i]
    if isinstance(a, A.Literal) and a.kind in ("int", "long", "float", "double"):
        return float(a.value)
    raise SiddhiPlannerException(f"#window.{spec.name}: arg {i} must be numeric")


@dataclass
class BucketedWindow:
    df: DataFrame
    win_start: Column  # epoch-ms start of the bucket (windowStart())
    win_end: Column


def _ext_arg(a: A.Expr):
    if isinstance(a, A.Literal):
        return a.value
    if isinstance(a, A.Ref):
        return a.name
    raise SiddhiPlannerException(
        "window extension args must be literals or attribute names"
    )


def add_bucket(
    df: DataFrame,
    spec: A.WindowSpec,
    ts_col: str,
    group_cols: list[str],
    ord_cols: list[str],
    extensions: Optional[dict] = None,
) -> BucketedWindow:
    """Assign each row a window-bucket id column ``__w`` for batch windows."""
    name = spec.name.lower()
    ext = (extensions or {}).get(spec.name)
    if isinstance(ext, WindowExtension):
        bucket = ext.builder(F.col(ts_col), *[_ext_arg(a) for a in spec.args])
        out = df.withColumn(BUCKET_COL, bucket)
        return BucketedWindow(
            out, F.lit(None).cast("bigint"), F.lit(None).cast("bigint")
        )
    if name in ("timebatch", "externaltimebatch"):
        if name == "externaltimebatch":
            ts = F.col(_arg_field(spec, 0)).cast("bigint")
            size = _arg_ms(spec, 1)
        else:
            ts = F.col(ts_col)
            size = _arg_ms(spec, 0)
        out = df.withColumn(BUCKET_COL, F.floor(ts / F.lit(size)))
        return BucketedWindow(
            out,
            (F.col(BUCKET_COL) * size).cast("bigint"),
            (F.col(BUCKET_COL) * size + size).cast("bigint"),
        )
    if name == "lengthbatch":
        # Siddhi buffers n events GLOBALLY and aggregates per key within each
        # global chunk — the bucket must come from a global row_number even
        # when the query has `group by` (a per-key chunk is a different result
        # set). The global numbering is computed as a distributed prefix sum
        # (range-repartition + per-partition offsets, operators/prefix.py), so
        # no single-task Exchange: only an n_partitions-row offset table is
        # globally ordered.
        from . import prefix

        n = _arg_ms(spec, 0)
        out = prefix.global_row_number(df, list(ord_cols), "__gr")
        out = out.withColumn(
            BUCKET_COL, F.floor((F.col("__gr") - 1) / F.lit(n))
        ).drop("__gr")
        return BucketedWindow(out, F.lit(None).cast("bigint"), F.lit(None).cast("bigint"))
    if name == "cron":
        kind, arg, anchor = _cron_schedule(spec)
        if kind == "period":
            # fires at anchor + k*period: bucket k holds events in
            # [fire_k, fire_{k+1}), flushed at the next fire — pure epoch
            # arithmetic, no shuffle beyond the aggregation itself
            period = arg
            out = df.withColumn(
                BUCKET_COL, F.floor((F.col(ts_col) - F.lit(anchor)) / F.lit(period))
            )
            return BucketedWindow(
                out,
                (F.col(BUCKET_COL) * period + anchor).cast("bigint"),
                (F.col(BUCKET_COL) * period + anchor + period).cast("bigint"),
            )
        if kind == "weekly_set":
            # multi-day weekly fires (lists/ranges like MON,WED,FRI or
            # MON-FRI): the last fire at-or-before the event is the max over
            # the 7 candidate days behind it whose epoch-day residue is in
            # the schedule — 7 codegen'd CASE terms per row, no data
            # movement. Bucket id = the fire's epoch ms (unique per fire).
            # Round 10: the candidate trees are rendered as ONE SQL string
            # parsed server-side (same expressions) — building them as
            # Column ops paid ~6 py4j round-trips per node at plan time
            # (the dot() lesson).
            residues, tod = arg
            ems = f"`{ts_col}`"
            day = f"FLOOR({ems} / 86400000)"
            res_in = ", ".join(str(r) for r in residues)

            def fire_at(d: str) -> str:
                return f"({d}) * 86400000 + {tod}"

            cands = ", ".join(
                f"(CASE WHEN (({day}) - {k}) % 7 IN ({res_in}) "
                f"AND ({fire_at(f'({day}) - {k}')}) <= {ems} "
                f"THEN {fire_at(f'({day}) - {k}')} END)"
                for k in range(7)
            )
            out = df.withColumn(
                BUCKET_COL, F.expr(f"CAST(greatest({cands}) AS BIGINT)")
            )
            fday = f"FLOOR((`{BUCKET_COL}` - {tod}) / 86400000)"
            nexts = ", ".join(
                f"(CASE WHEN (({fday}) + {k}) % 7 IN ({res_in}) "
                f"THEN {fire_at(f'({fday}) + {k}')} END)"
                for k in range(1, 8)
            )
            return BucketedWindow(
                out,
                F.col(BUCKET_COL),
                F.expr(f"CAST(least({nexts}) AS BIGINT)"),
            )
        # monthly 's m h DOM [M...] DOW': fires on each listed day resolver
        # — fixed day-of-month, L / L-n / LW, D#n, DL — at h:m:s, optionally
        # restricted to listed months; bucket = epoch ms of the last fire
        # at-or-before the event (greatest over per-day candidates from
        # recent months). Month arithmetic via make_date/last_day/dayofweek
        # /try_make_timestamp — per-row Catalyst expressions (codegen'd),
        # no data movement. Quartz skip semantics: a resolver that has no
        # valid day this month (Feb 31, missing 5th Friday) yields NULL,
        # and NULL candidates drop out of greatest/least. The parser sets
        # the lookback ``jback`` (months) from the worst consecutive-skip
        # run of the schedule.
        # Round 10: the per-month candidate trees are rendered as ONE SQL
        # string parsed server-side (identical expressions node-for-node) —
        # the Column form paid ~6 py4j round-trips per expression node at
        # plan time, ~0.8s for a 2-dayspec schedule (the dot()
        # lesson; equality pinned by the cron unit suite + the family oracle)
        dayspecs, hh, mm, ss, months, jback = arg
        ems = f"`{ts_col}`"
        t = f"timestamp_millis(CAST({ems} AS BIGINT))"
        midx = f"(year({t}) * 12 + month({t}) - 1)"

        def fire_of(b: str, ds) -> str:  # epoch ms of ds's fire in month b
            y = f"CAST(FLOOR(({b}) / 12) AS INT)"
            m = f"CAST(({b}) % 12 + 1 AS INT)"
            first = f"make_date({y}, {m}, 1)"
            dim = f"dayofmonth(last_day({first}))"
            kind = ds[0]
            if kind == "num":
                day = f"(CASE WHEN {ds[1]} <= {dim} THEN {ds[1]} END)"
            elif kind == "last":
                day = f"(CASE WHEN {dim} - {ds[1]} >= 1 THEN {dim} - {ds[1]} END)"
            elif kind == "lastw":
                ldw = f"dayofweek(last_day({first}))"  # 1=SUN..7=SAT
                day = (
                    f"({dim} - (CASE WHEN {ldw} = 7 THEN 1 "
                    f"WHEN {ldw} = 1 THEN 2 ELSE 0 END))"
                )
            elif kind == "near_w":
                # quartz 'dW': nearest weekday to day d, never crossing the
                # month boundary (d=1 on Sat -> Mon the 3rd; d=dim on Sun ->
                # Fri before); skip months shorter than d
                d = ds[1]
                base = f"(CASE WHEN {d} <= {dim} THEN {d} END)"
                bdw = f"dayofweek(make_date({y}, {m}, {base}))"
                day = (
                    f"(CASE WHEN {bdw} = 7 THEN (CASE WHEN {base} = 1 "
                    f"THEN {base} + 2 ELSE {base} - 1 END) "
                    f"WHEN {bdw} = 1 THEN (CASE WHEN {base} = {dim} "
                    f"THEN {base} - 2 ELSE {base} + 1 END) "
                    f"ELSE {base} END)"
                )
            elif kind == "nth_dow":
                code, n = ds[1], ds[2]
                first_occ = f"(1 + ({code} - dayofweek({first}) + 7) % 7)"
                day = (
                    f"(CASE WHEN {first_occ} + 7 * ({n} - 1) <= {dim} "
                    f"THEN {first_occ} + 7 * ({n} - 1) END)"
                )
            else:  # last_dow
                day = (
                    f"({dim} - (dayofweek(last_day({first})) - {ds[1]} + 7) % 7)"
                )
            fire = (
                f"unix_millis(try_make_timestamp({y}, {m}, "
                f"CAST({day} AS INT), {hh}, {mm}, CAST({ss} AS DOUBLE)))"
            )
            if months:
                in_list = ", ".join(str(v) for v in sorted(months))
                return f"(CASE WHEN ({b}) % 12 + 1 IN ({in_list}) THEN {fire} END)"
            return fire

        cands = ", ".join(
            f"(CASE WHEN {fire_of(f'{midx} - {j}', ds)} <= {ems} "
            f"THEN {fire_of(f'{midx} - {j}', ds)} END)"
            for j in range(jback + 1)
            for ds in dayspecs
        )
        out = df.withColumn(
            BUCKET_COL, F.expr(f"CAST(greatest({cands}) AS BIGINT)")
        )
        bt = f"timestamp_millis(`{BUCKET_COL}`)"
        bmidx = f"(year({bt}) * 12 + month({bt}) - 1)"
        nexts = ", ".join(
            f"(CASE WHEN {fire_of(f'{bmidx} + {j}', ds)} > `{BUCKET_COL}` "
            f"THEN {fire_of(f'{bmidx} + {j}', ds)} END)"
            for j in range(jback + 1)
            for ds in dayspecs
        )
        return BucketedWindow(
            out, F.col(BUCKET_COL), F.expr(f"CAST(least({nexts}) AS BIGINT)")
        )
    if name == "session":
        gap = _arg_ms(spec, 0)
        if not group_cols:
            warn_global_order("un-grouped #window.session")
        part = Window.partitionBy(*[F.col(c) for c in group_cols]) if group_cols else Window.partitionBy(F.lit(1))
        w = part.orderBy(*[F.col(c) for c in ord_cols])
        prev_ts = F.lag(F.col(ts_col)).over(w)
        is_new = F.when(prev_ts.isNull() | ((F.col(ts_col) - prev_ts) > gap), 1).otherwise(0)
        out = df.withColumn("__new_sess", is_new).withColumn(
            BUCKET_COL, F.sum("__new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).drop("__new_sess")
        return BucketedWindow(out, F.lit(None).cast("bigint"), F.lit(None).cast("bigint"))
    raise UnsupportedFeatureException(f"#window.{name} is not a batch window")


def sliding_frame(
    spec: A.WindowSpec,
    ts_col: str,
    group_cols: list[str],
    ord_cols: list[str],
) -> WindowSpec:
    """WindowSpec for the trailing frame of a sliding window."""
    name = spec.name.lower()
    if not group_cols:
        warn_global_order(f"un-grouped sliding #window.{spec.name}")
    part = Window.partitionBy(*[F.col(c) for c in group_cols]) if group_cols else Window.partitionBy(F.lit(1))
    if name == "length":
        n = _arg_ms(spec, 0)
        return part.orderBy(*[F.col(c) for c in ord_cols]).rowsBetween(-(n - 1), 0)
    if name == "time":
        t = _arg_ms(spec, 0)
        return part.orderBy(F.col(ts_col)).rangeBetween(-t, 0)
    if name == "externaltime":
        field = _arg_field(spec, 0)
        t = _arg_ms(spec, 1)
        return part.orderBy(F.col(field).cast("bigint")).rangeBetween(-t, 0)
    if name == "timelength":
        # hybrid frame (time AND count bound) is not a fixed Spark frame —
        # the planner lowers it to a banded self-join (_select_timelength)
        raise SiddhiPlannerException(
            "#window.timeLength is lowered via banded self-join, not a frame"
        )
    raise UnsupportedFeatureException(f"#window.{name} is not a sliding window")


def classify(spec: Optional[A.WindowSpec], extensions: Optional[dict] = None) -> str:
    """'none' | 'batch' | 'sliding' | 'retain'."""
    if spec is None:
        return "none"
    n = spec.name.lower()
    if n in BATCH_WINDOWS:
        return "batch"
    if n in SLIDING_WINDOWS:
        return "sliding"
    if n in RETAIN_WINDOWS:
        return "retain"
    if isinstance((extensions or {}).get(spec.name), WindowExtension):
        return "batch"  # extension windows follow the bucketed protocol
    if ":" in spec.name:
        raise UnsupportedFeatureException(
            f"window extension '{spec.name}' is not registered — "
            "register_extension(name, builder, window=True)"
        )
    raise UnsupportedFeatureException(f"window #window.{spec.name} not implemented")


_QUARTZ_DOW = {
    "SUN": 1, "MON": 2, "TUE": 3, "WED": 4, "THU": 5, "FRI": 6, "SAT": 7,
}
# days from Thursday 1970-01-01 (epoch day 0) to each quartz day-of-week
_DAYS_FROM_EPOCH_DOW = {5: 0, 6: 1, 7: 2, 1: 3, 2: 4, 3: 5, 4: 6}


def _dow_code(tok: str) -> Optional[int]:
    if tok == "L":  # bare L in the day-of-week field is quartz for SAT
        return 7
    if tok in _QUARTZ_DOW:
        return _QUARTZ_DOW[tok]
    if tok.isdigit() and 1 <= int(tok) <= 7:
        return int(tok)
    return None


def _dow_set(field: str) -> Optional[set]:
    """Quartz day-of-week field -> set of quartz codes (1=SUN..7=SAT), or
    None if the field isn't a name/number/list/range of days."""
    out: set = set()
    for part in field.upper().split(","):
        if "-" in part:
            lo, _, hi = part.partition("-")
            a, b = _dow_code(lo), _dow_code(hi)
            if a is None or b is None:
                return None
            out.update(range(a, b + 1) if a <= b else
                       list(range(a, 8)) + list(range(1, b + 1)))  # wrap: FRI-MON
        else:
            c = _dow_code(part)
            if c is None:
                return None
            out.add(c)
    return out or None


_QUARTZ_MONTH = {
    "JAN": 1, "FEB": 2, "MAR": 3, "APR": 4, "MAY": 5, "JUN": 6,
    "JUL": 7, "AUG": 8, "SEP": 9, "OCT": 10, "NOV": 11, "DEC": 12,
}


def _month_code(tok: str) -> Optional[int]:
    if tok in _QUARTZ_MONTH:
        return _QUARTZ_MONTH[tok]
    if tok.isdigit() and 1 <= int(tok) <= 12:
        return int(tok)
    return None


def _month_set(field: str) -> set:
    """Quartz month field -> set of months 1..12 (names or numbers,
    lists and ranges)."""
    out: set = set()
    for part in field.upper().split(","):
        if "-" in part:
            lo, _, hi = part.partition("-")
            a, b = _month_code(lo), _month_code(hi)
            if a is None or b is None:
                raise SiddhiPlannerException(
                    f"#window.cron: bad month range {part!r}"
                )
            out.update(range(a, b + 1) if a <= b else
                       list(range(a, 13)) + list(range(1, b + 1)))  # wrap: NOV-FEB
        else:
            c = _month_code(part)
            if c is None:
                raise SiddhiPlannerException(f"#window.cron: bad month {part!r}")
            out.add(c)
    return out


def _cron_schedule(spec: A.WindowSpec):
    """Parse the supported Quartz subset into a bucket-function schedule.

    Returns one of (all times UTC — the engine's session zone):
    - ``("period", period_ms, anchor_ms)`` — fixed-period fires (``*/N``
      second/minute/hour steps anchor at 0; daily ``s m h * * ?`` and weekly
      ``s m h ? * DOW`` fires anchor at the first epoch fire),
    - ``("weekly_set", (residues, tod_ms))`` — multi-day weekly fires
      (``s m h ? * MON,WED,FRI`` lists / ``MON-FRI`` ranges); residues are
      epoch-day mod 7 values (epoch day 0 = Thursday), or
    - ``("monthly", (doms, h, m, s, months))`` — ``s m h D[,D2...] M ?``
      day-of-month fires (1..31, lists; 29-31 follow the Quartz SKIP
      contract: short months do not fire). ``months`` is a set of 1..12
      when the month field is restricted (names/numbers/lists/ranges), else
      None; restricted months require D<=28 so the fire gap stays bounded.

    Everything else (L/W/#, day-of-month ranges, month-restricted daily
    schedules) has no pure bucket-function lowering and is rejected at
    plan time."""
    a = spec.args[0]
    if not (isinstance(a, A.Literal) and a.kind == "string"):
        raise SiddhiPlannerException("#window.cron takes a cron string literal")
    parts = str(a.value).split()
    if len(parts) < 6:
        raise SiddhiPlannerException(f"#window.cron: bad cron expr {a.value!r}")

    def step(field: str) -> Optional[int]:
        if field.startswith("*/") or field.startswith("0/"):
            return int(field[2:])
        return None

    sec, minute, hour, dom, month, dow = parts[:6]
    if (s := step(sec)) is not None:
        return ("period", s * 1000, 0)
    if sec in ("0", "*") and (m := step(minute)) is not None:
        return ("period", m * 60_000, 0)
    if sec in ("0", "*") and minute in ("0", "*") and (h := step(hour)) is not None:
        return ("period", h * 3_600_000, 0)
    # calendar forms need a concrete time-of-day
    if sec.isdigit() and minute.isdigit() and hour.isdigit():
        tod_ms = (int(hour) * 3600 + int(minute) * 60 + int(sec)) * 1000
        if month in ("*", "?"):
            if dom in ("*", "?") and dow in ("*", "?"):
                return ("period", 86_400_000, tod_ms)  # daily at h:m:s
            if dom in ("*", "?"):
                codes = _dow_set(dow)
                if codes and len(codes) == 1:
                    anchor = _DAYS_FROM_EPOCH_DOW[next(iter(codes))] * 86_400_000 + tod_ms
                    return ("period", 7 * 86_400_000, anchor)  # weekly on DOW
                if codes:
                    residues = sorted(_DAYS_FROM_EPOCH_DOW[c] for c in codes)
                    return ("weekly_set", (residues, tod_ms), None)
        dayspecs = _dom_specs(dom, dow)
        if dayspecs is not None:
            months = None
            if month not in ("*", "?"):
                months = _month_set(month)
                if any(
                    (ds[0] in ("num", "near_w") and ds[1] >= 29)
                    or (ds[0] == "nth_dow" and ds[2] == 5)
                    for ds in dayspecs
                ):
                    raise UnsupportedFeatureException(
                        "#window.cron: day-of-month 29-31 / 5th-weekday "
                        "schedules combined with a restricted month field "
                        "can go years between fires (e.g. FEB 29) — drop "
                        "the month restriction or use a form that fires "
                        "every listed month"
                    )
            # lookback (months) to the previous fire: every-month forms need
            # 1; skip forms need the max consecutive-skip run + 1
            jback = 1
            for ds in dayspecs:
                if ds[0] in ("num", "near_w") and ds[1] >= 29:
                    jback = max(jback, 2)  # no two consecutive short months
                if ds[0] == "nth_dow" and ds[2] == 5:
                    jback = max(jback, 5)  # 5th-weekday gaps span <=4 months
            if months:
                jback = 12  # annual worst case
            return (
                "monthly",
                (dayspecs, int(hour), int(minute), int(sec), months, jback),
                None,
            )
    raise UnsupportedFeatureException(
        f"#window.cron: unsupported expr {a.value!r} — supported: */N "
        "sec|min|hour periods, daily 's m h * * ?', weekly 's m h ? * DOW', "
        "monthly 's m h DOM * ?' with DOM lists/ranges/steps (D<=31; short "
        "months skipped, the "
        "Quartz contract), month-restricted 's m h D[,D...] M[,M...|M1-M2] ?' "
        "(D<=28; month names or numbers), and the quartz specials L / L-n / "
        "LW / dW (day-of-month) and D#n / DL / L (day-of-week)"
    )


def _dom_specs(dom: str, dow: str):
    """Parse the day-of-month/day-of-week pair of a monthly schedule into
    day-resolver specs, or None if this isn't a monthly form.

    Specs: ``("num", d)`` fixed day (skip when the month is shorter),
    ``("last", off)`` L / L-n (off days before the last day),
    ``("lastw",)`` LW (nearest weekday to the last day),
    ``("nth_dow", code, n)`` D#n (n-th weekday, quartz 1=SUN..7=SAT —
    the same coding Spark's ``dayofweek`` uses; skip when the month has
    no n-th occurrence), ``("last_dow", code)`` DL (last weekday)."""
    if dom not in ("*", "?") and dow in ("*", "?"):
        u = dom.upper()
        if u == "LW":
            return [("lastw",)]
        if u == "L":
            return [("last", 0)]
        if u.startswith("L-") and u[2:].isdigit():
            off = int(u[2:])
            if not 0 <= off <= 27:
                raise SiddhiPlannerException("#window.cron: L-n offset must be 0..27")
            return [("last", off)]
        if u.endswith("W") and u[:-1].isdigit():
            d = int(u[:-1])
            if not 1 <= d <= 31:
                raise SiddhiPlannerException("#window.cron: day-of-month out of range 1..31")
            return [("near_w", d)]
        doms: set = set()
        for part in u.split(","):
            if part.isdigit():
                doms.add(int(part))
            elif "-" in part:
                lo, _, hi = part.partition("-")
                if not (lo.isdigit() and hi.isdigit() and int(lo) <= int(hi)):
                    return None
                doms.update(range(int(lo), int(hi) + 1))
            elif "/" in part:
                start, _, step = part.partition("/")
                if start == "*":
                    start = "1"
                if not (start.isdigit() and step.isdigit() and int(step) >= 1):
                    return None
                doms.update(range(int(start), 32, int(step)))
            else:
                return None
        if not all(1 <= d <= 31 for d in doms):
            raise SiddhiPlannerException(
                "#window.cron: day-of-month out of range 1..31"
            )
        return [("num", d) for d in sorted(doms)]
    if dom in ("*", "?") and dow not in ("*", "?"):
        u = dow.upper()
        if "#" in u:
            d, _, n = u.partition("#")
            code = _dow_code(d)
            if code is not None and n.isdigit() and 1 <= int(n) <= 5:
                return [("nth_dow", code, int(n))]
            raise SiddhiPlannerException(f"#window.cron: bad day-of-week spec {dow!r}")
        if u.endswith("L") and (code := _dow_code(u[:-1])) is not None:
            return [("last_dow", code)]
        return None
    return None


def _cron_period_ms(spec: A.WindowSpec) -> int:
    """Back-compat shim: fixed-period subset only."""
    kind, a, b = _cron_schedule(spec)
    if kind != "period" or b != 0:
        raise UnsupportedFeatureException(
            "#window.cron: calendar schedule where a fixed period was expected"
        )
    return a


def _sort_args(spec: A.WindowSpec) -> tuple[int, list[tuple[str, bool]]]:
    """Parse sort(n, field [,'asc'|'desc'], field2 [, ...]) -> (n, [(field, asc)])."""
    n = _arg_ms(spec, 0)
    keys: list[tuple[str, bool]] = []
    i = 1
    while i < len(spec.args):
        a = spec.args[i]
        if not isinstance(a, A.Ref):
            raise SiddhiPlannerException("#window.sort: expected attribute name")
        asc = True
        if i + 1 < len(spec.args):
            nxt = spec.args[i + 1]
            if isinstance(nxt, A.Literal) and nxt.kind == "string" and str(nxt.value).lower() in ("asc", "desc"):
                asc = str(nxt.value).lower() == "asc"
                i += 1
        keys.append((a.name, asc))
        i += 1
    if not keys:
        raise SiddhiPlannerException("#window.sort needs at least one sort attribute")
    return n, keys


def apply_retention(
    df: DataFrame,
    spec: A.WindowSpec,
    ts_col: Optional[str],
    ord_cols: list[str],
    fields: list[str],
    part_cols: Optional[list[str]] = None,
) -> DataFrame:
    """Filter the stream to the window's final retained contents (module
    docstring has the per-kind contract). All shapes are shuffle-lean:
    top-n via limit (TakeOrderedAndProject) or, under `partition with`, a
    per-key rank (one hash shuffle); per-key dedup via one hash shuffle;
    frequent via count + broadcast semi-join."""
    part_cols = part_cols or []
    name = spec.name.lower()
    if name == "batch":
        return df
    if name == "delay":
        if ts_col is None:
            raise SiddhiPlannerException("#window.delay needs an event-time stream")
        return df.withColumn(ts_col, F.col(ts_col) + F.lit(_arg_ms(spec, 0)))
    if name == "sort":
        n, keys = _sort_args(spec)
        order = [F.col(k).asc() if asc else F.col(k).desc() for k, asc in keys]
        order += [F.col(c).asc() for c in ord_cols]  # deterministic tie-break
        if part_cols:
            # top-n per partition key (partitioned deployment of the window)
            w = Window.partitionBy(*[F.col(c) for c in part_cols]).orderBy(*order)
            return (
                df.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= n)
                .drop("__rk")
            )
        return df.orderBy(*order).limit(n)
    if name in ("unique", "firstunique"):
        keys = part_cols + [
            a.name for a in spec.args if isinstance(a, A.Ref) and a.name not in part_cols
        ]
        if not [a for a in spec.args if isinstance(a, A.Ref)]:
            raise SiddhiPlannerException(f"#window.{spec.name} needs key attribute(s)")
        # one row per key, picked by the deterministic total order: a single
        # keyed shuffle + per-key row_number — no agg+join round trip (the
        # struct-compare semi-join this replaces cost a second shuffle and a
        # broadcast that breaks down at high key cardinality).
        order = (
            [F.col(c).desc() for c in ord_cols]
            if name == "unique"
            else [F.col(c).asc() for c in ord_cols]
        )
        w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
    if name == "frequent":
        n = _arg_ms(spec, 0)
        keys = [a.name for a in spec.args[1:] if isinstance(a, A.Ref)] or list(fields)
        counts = df.groupBy(*(part_cols + keys)).agg(F.count(F.lit(1)).alias("__n"))
        if part_cols:
            # top-n most frequent combos per partition key
            w = Window.partitionBy(*[F.col(c) for c in part_cols]).orderBy(
                F.col("__n").desc(), *[F.col(k).asc() for k in keys]
            )
            top = (
                counts.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= n)
                .drop("__rk", "__n")
            )
        else:
            top = counts.orderBy(
                F.col("__n").desc(), *[F.col(k).asc() for k in keys]
            ).limit(n).drop("__n")
        return df.join(F.broadcast(top), part_cols + keys, "left_semi")
    if name == "lossyfrequent":
        # lossyFrequent(support [, error] [, attrs...]): retain events whose
        # attr-combo count >= (support - error) * totalCount. Siddhi runs the
        # Manku-Motwani lossy-counting sketch (approximate, order-dependent);
        # the deterministic batch contract here uses exact counts — a
        # documented superset within the sketch's own error bound. Shape:
        # one hash aggregation for combo counts, a tiny window over the
        # (distinct-combo sized) count frame for per-partition totals, then a
        # broadcast semi-join — no shuffle of the event stream itself.
        support = _arg_num(spec, 0)
        idx = 1
        error = 0.0
        if len(spec.args) > 1 and isinstance(spec.args[1], A.Literal) and spec.args[1].kind in (
            "float", "double",
        ):
            error = _arg_num(spec, 1)
            idx = 2
        keys = [a.name for a in spec.args[idx:] if isinstance(a, A.Ref)] or list(fields)
        counts = df.groupBy(*(part_cols + keys)).agg(F.count(F.lit(1)).alias("__n"))
        wtot = (
            Window.partitionBy(*[F.col(c) for c in part_cols])
            if part_cols
            else Window.partitionBy(F.lit(1))
        )
        kept = (
            # note: "__tot", not "__N" — Spark resolves columns
            # case-insensitively, so "__N" would overwrite "__n"
            counts.withColumn("__tot", F.sum("__n").over(wtot))
            .filter(F.col("__n") >= F.lit(support - error) * F.col("__tot"))
            .drop("__n", "__tot")
        )
        return df.join(F.broadcast(kept), part_cols + keys, "left_semi")
    raise UnsupportedFeatureException(f"#window.{spec.name} is not a retention window")

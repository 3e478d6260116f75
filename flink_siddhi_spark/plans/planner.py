"""Batch planner: SiddhiQL AST -> DataFrame plan (Catalyst does the rest).

This is the compiler described in SURVEY.md §3.1 "Spark re-architecture":
``cql()`` parses to a small AST, this planner lowers it to declarative
DataFrame operations (filter/select/groupBy/window-functions/join), and only
pattern/sequence constructs fall back to an Arrow-batched ``applyInPandas``
NFA operator (operators/pattern.py). Validation is Catalyst analysis at
plan-build time — the reference instead compiles the plan in a throwaway
Siddhi runtime (AbstractSiddhiOperator.java:292-299).

Determinism contract (the DuckDB-oracle gate): floating-point SUM/AVG/STDDEV
aggregate through DECIMAL so results do not depend on partition/accumulation
order; count-based orderings use (event-time, declared fields) as a total
order.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import (
    SiddhiPlannerException,
    UndefinedStreamException,
    UnsupportedFeatureException,
)
from ..schema import StreamSchema, sql_ident
from ..siddhiql import ast as A
from ..operators import windows as W
from .expr import AggregateExtension, ExprCompiler, contains_agg, ext_key
from .functions import AGG_FNS

TS_COL = "__ts"
DEC = "decimal(25,6)"


def normalize_ref(ref: A.Ref, input_names: set[str]) -> A.Ref:
    if ref.stream is not None and ref.stream in input_names:
        return ref
    return ref


@dataclass
class PreparedSingle:
    df: DataFrame
    schema: StreamSchema
    name: str  # alias
    ord_cols: list[str] = dc_field(default_factory=list)


class BatchPlanner:
    def __init__(
        self,
        catalog: dict[str, StreamSchema],
        extensions: Optional[dict] = None,
        aggregations: Optional[dict] = None,
    ):
        self.catalog = catalog
        self.extensions = extensions or {}
        self.aggregations = aggregations or {}  # name -> A.AggregationDef
        # (name, gran) -> materialized rollup DataFrame; reads of the same
        # granularity share one plan (Catalyst reuses the exchange; at scale
        # this is where a persisted rollup table would slot in)
        self._agg_cache: dict[tuple[str, str], DataFrame] = {}

    # ------------------------------------------------------------- utilities
    def stream_schema(self, name: str) -> StreamSchema:
        if name not in self.catalog:
            raise UndefinedStreamException(
                f"stream '{name}' is not registered (known: {sorted(self.catalog)})"
            )
        return self.catalog[name]

    def stream_df(self, name: str) -> tuple[DataFrame, StreamSchema]:
        """DataFrame with a normalized epoch-millis ``__ts`` event-time column.

        Rendered as ONE ``selectExpr`` (round 11, VERDICT r10 item 5): this
        runs on every compile of every query, and the previous
        select + withColumn chain paid two analyzer passes plus a py4j
        round-trip per Column node; the expressions are node-identical."""
        s = self.stream_schema(name)
        exprs = [sql_ident(f) for f in s.fields]
        if s.ts_field is not None:
            dt = dict(s.df.dtypes).get(s.ts_field, "")
            ts = sql_ident(s.ts_field)
            if dt.startswith("timestamp"):
                # TIMESTAMP_NTZ needs a cast first; session TZ should be UTC so
                # NTZ values are interpreted as UTC (matches DuckDB epoch_ms).
                exprs.append(f"unix_millis(CAST({ts} AS TIMESTAMP)) AS `{TS_COL}`")
            else:
                exprs.append(f"CAST({ts} AS BIGINT) AS `{TS_COL}`")
        return s.df.selectExpr(*exprs), s

    def ord_cols_for(self, s: StreamSchema) -> list[str]:
        cols = [TS_COL] if s.ts_field is not None else []
        cols += [f for f in s.fields if f != s.ts_field]
        return cols

    def _dtype_of(self, df: DataFrame, col: Column) -> T.DataType:
        return df.select(col.alias("__probe")).schema[0].dataType

    def _is_agg_call(self, e: A.Expr) -> bool:
        """Built-in aggregate call, or a registered aggregate extension."""
        if not isinstance(e, A.Call):
            return False
        if e.ns is None and e.name.lower() in AGG_FNS:
            return True
        return isinstance(self.extensions.get(ext_key(e)), AggregateExtension)

    # ----------------------------------------------------------- compile API
    def compile_query(self, q: A.Query) -> DataFrame:
        if isinstance(q.input, A.SingleInput) and q.input.stream in self.aggregations:
            return self._compile_agg_read(q)
        if isinstance(q.input, A.PatternInput):
            from ..operators.pattern import compile_pattern

            df, resolver, fields = compile_pattern(self, q)
            return self._finish(df, q, resolver, fields, ts_col=None, ord_cols=None)
        if isinstance(q.input, A.JoinInput):
            from ..operators.joins import compile_join

            if any(getattr(s, "stream_fns", ()) for s in (q.input.left, q.input.right)):
                raise UnsupportedFeatureException(
                    "stream functions (#ns:fn) on join inputs are not supported — "
                    "apply them in an upstream query and chain via insert into"
                )
            df, resolver, fields = compile_join(self, q)
            return self._finish(df, q, resolver, fields, ts_col=None, ord_cols=None)
        return self._compile_single(q)

    # ------------------------------------------------------------ single input
    def _compile_single(self, q: A.Query) -> DataFrame:
        si: A.SingleInput = q.input
        df, schema = self.stream_df(si.stream)
        name = si.alias or si.stream
        names = {si.stream}
        if si.alias:
            names.add(si.alias)
        resolver = self._plain_resolver(set(df.columns), names)
        comp = self._compiler(resolver, df)
        if si.filter is not None:
            df = self._apply_filter(df, si.filter, comp)
        if getattr(si, "stream_fns", ()):
            # required-survivors = every column present at this point
            # (declared fields + the internal event-time column)
            df = self._apply_stream_fns(df, si, set(df.columns))
            resolver = self._plain_resolver(set(df.columns), names)
        has_agg = self._query_has_agg(q)
        wclass = W.classify(si.window, self.extensions)
        ord_cols = self.ord_cols_for(schema)
        # `partition with (k of S)` = per-key isolated processing: keyed
        # retention, and the key joins the aggregation grouping
        pkey = (q.partition_by or {}).get(si.stream)
        if q.output_rate is not None:
            df = self._apply_output_rate(df, q, ord_cols, has_agg)
        if wclass == "retain":
            df = W.apply_retention(
                df, si.window,
                ts_col=TS_COL if schema.ts_field is not None else None,
                ord_cols=ord_cols, fields=schema.fields,
                part_cols=[pkey] if pkey else [],
            )
            wclass = "none"  # the retained set is the window's final contents
        if pkey is not None and has_agg and not any(
            isinstance(g, A.Ref) and g.name == pkey for g in q.group_by
        ):
            import dataclasses

            q = dataclasses.replace(q, group_by=[A.Ref(None, pkey)] + list(q.group_by))
        if not has_agg:
            return self._select_rowwise(df, q, resolver, schema.fields)
        ts_col = TS_COL if schema.ts_field is not None else None
        if wclass in ("batch", "sliding") and ts_col is None and si.window.name.lower() not in (
            "lengthbatch",
        ) and not si.window.name.lower().startswith("external"):
            raise SiddhiPlannerException(
                f"stream '{si.stream}' needs ts_field for #window.{si.window.name}"
            )
        if wclass == "sliding":
            return self._select_sliding(df, q, si, ts_col or TS_COL, ord_cols)
        return self._select_group(df, q, si if wclass == "batch" else None, ts_col, ord_cols)

    def _apply_stream_fns(self, df: DataFrame, si: A.SingleInput,
                          declared: set) -> DataFrame:
        """Apply `#ns:fn(args)` stream-function handlers in written order
        (StreamFnExtension contract: declared fields survive; columns may
        be added, row multiplicity may change)."""
        from ..operators.windows import StreamFnExtension, _ext_arg

        for fs in si.stream_fns:
            ext = self.extensions.get(fs.name)
            if not isinstance(ext, StreamFnExtension):
                raise UnsupportedFeatureException(
                    f"stream function '{fs.name}' is not registered — "
                    "register_extension(name, builder, stream_function=True)"
                )
            out = ext.builder(df, *[_ext_arg(a) for a in fs.args])
            if not isinstance(out, DataFrame):
                raise SiddhiPlannerException(
                    f"stream function '{fs.name}' must return a DataFrame"
                )
            missing = declared - set(out.columns)
            if missing:
                raise SiddhiPlannerException(
                    f"stream function '{fs.name}' dropped declared stream "
                    f"fields {sorted(missing)}"
                )
            df = out
        return df

    def _apply_output_rate(
        self, df: DataFrame, q: A.Query, ord_cols: list[str], has_agg: bool
    ) -> DataFrame:
        """`output first|last every ...` batch contract: the first/last event
        of each N-event block (a single global sequence — inherently ordered,
        so this shape doesn't scale and is meant for tap/sampling queries) or
        of each time bucket (distributed: one keyed aggregation). `all` and
        `snapshot` only change streaming emission cadence — in batch the
        result SET is identical, so they are no-ops."""
        mode, unit, n = q.output_rate
        if mode in ("all", "snapshot"):
            return df
        if has_agg:
            raise UnsupportedFeatureException(
                "output first/last with aggregation: emission cadence has no "
                "batch-mode result-set equivalent"
            )
        from pyspark.sql.window import Window

        if unit == "events":
            from ..operators.prefix import global_row_number

            df = global_row_number(df, ord_cols, "__rn")
            keep = (F.col("__rn") % n) == (1 if mode == "first" else 0)
            return df.filter(keep).drop("__rn")
        if TS_COL not in df.columns:
            raise SiddhiPlannerException("output every <time> needs an event-time stream")
        bucket = F.floor(F.col(TS_COL) / F.lit(n))
        w = Window.partitionBy(bucket).orderBy(
            *[F.col(c).asc() if mode == "first" else F.col(c).desc() for c in ord_cols]
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _apply_filter(self, df: DataFrame, filt: A.Expr, comp: ExprCompiler) -> DataFrame:
        """Apply a stream filter; top-level `x in Table` conjuncts become
        broadcast LEFT SEMI joins against the event table (Siddhi 'in table'
        condition, README.md:26) — the scalable containment check."""
        conjuncts: list[A.Expr] = []

        def split(e: A.Expr):
            if isinstance(e, A.Binary) and e.op == "and":
                split(e.left)
                split(e.right)
            else:
                conjuncts.append(e)

        split(filt)
        plain: list[A.Expr] = []
        for c in conjuncts:
            if isinstance(c, A.InTable):
                tbl = self.stream_schema(c.table)
                if not tbl.is_table:
                    raise SiddhiPlannerException(f"'in {c.table}': not a registered table")
                probe = comp.compile(c.expr)
                # match against the table's first (key) column
                key = tbl.fields[0]
                side = F.broadcast(tbl.df.select(F.col(key).alias("__in_key")).distinct())
                df = df.join(side, probe == F.col("__in_key"), "left_semi")
            elif contains_in_table(c):
                raise UnsupportedFeatureException(
                    "'in <table>' must be a top-level AND conjunct of the filter"
                )
            else:
                plain.append(c)
        for c in plain:
            df = df.filter(comp.compile(c))
        return df

    # -------------------------------------------------------------- resolvers
    def _plain_resolver(self, valid: set[str], stream_names: set[str]):
        def resolve(ref: A.Ref) -> Column:
            if ref.index is not None:
                raise SiddhiPlannerException(f"indexed ref {ref.stream}[{ref.index}] only valid after patterns")
            if ref.stream is not None and ref.stream not in stream_names:
                raise SiddhiPlannerException(f"unknown stream qualifier '{ref.stream}'")
            if ref.name not in valid:
                raise SiddhiPlannerException(f"unknown attribute '{ref.name}'")
            return F.col(ref.name)

        return resolve

    def _compiler(self, resolver, df: DataFrame, agg_handler=None, ts: Optional[Column] = None):
        return ExprCompiler(resolver, self.extensions, agg_handler, ts)

    @staticmethod
    def _query_has_agg(q: A.Query) -> bool:
        items = q.select or []
        if any(contains_agg(it.expr) for it in items):
            return True
        if q.having is not None and contains_agg(q.having):
            return True
        return any(contains_agg(o.expr) for o in q.order_by)

    # --------------------------------------------------------------- agg funcs
    def _agg_column(self, call: A.Call, comp: ExprCompiler, df: DataFrame,
                    ord_struct: Optional[Column], frame=None) -> Column:
        """Compile one aggregate call; ``frame`` (a WindowSpec) turns it into a
        window function — applied to each raw aggregate BEFORE any outer
        arithmetic/casts so Catalyst sees a proper OVER clause."""
        ext = self.extensions.get(ext_key(call))
        if isinstance(ext, AggregateExtension):
            if frame is not None:
                raise UnsupportedFeatureException(
                    "aggregate extensions are not supported in sliding windows"
                )
            return ext.fn(*[comp.compile(a) for a in call.args])
        name = call.name.lower()
        arg = comp.compile(call.args[0]) if call.args else None
        floating = arg is not None and isinstance(
            self._dtype_of(df, arg), (T.DoubleType, T.FloatType)
        )
        over = (lambda c: c.over(frame)) if frame is not None else (lambda c: c)
        if name == "count":
            if arg is None:
                return over(F.count(F.lit(1)))
            return over(F.count_distinct(arg)) if call.distinct else over(F.count(arg))
        if name == "distinctcount":
            return over(F.count_distinct(arg))
        if name == "sum":
            return over(F.sum(arg.cast(DEC))).cast("double") if floating else over(F.sum(arg))
        if name == "avg":
            if floating:
                # exact decimal sum, then double division (deterministic and
                # identical to DuckDB's CAST(SUM(DECIMAL) AS DOUBLE)/COUNT)
                return over(F.sum(arg.cast(DEC))).cast("double") / over(F.count(arg))
            return over(F.avg(arg))
        if name in ("min", "minforever"):
            return over(F.min(arg))
        if name in ("max", "maxforever"):
            return over(F.max(arg))
        if name == "stddev":
            # deterministic population stddev via exact decimal sums
            n = over(F.count(arg))
            s = over(F.sum(arg.cast("decimal(27,8)"))).cast("double")
            s2 = over(F.sum((arg * arg).cast("decimal(27,8)"))).cast("double")
            return F.sqrt(F.greatest(F.lit(0.0), s2 / n - (s / n) * (s / n)))
        if name == "first":
            if frame is not None:
                return over(F.first(arg))
            if ord_struct is None:
                raise SiddhiPlannerException("first() needs an ordered stream")
            return F.min_by(arg, ord_struct)
        if name == "last":
            if frame is not None:
                return over(F.last(arg))
            if ord_struct is None:
                raise SiddhiPlannerException("last() needs an ordered stream")
            return F.max_by(arg, ord_struct)
        raise UnsupportedFeatureException(f"aggregate {call.name} not implemented")

    # -------------------------------------------------------- row-wise select
    def _select_rowwise(self, df: DataFrame, q: A.Query, resolver, fields: list[str],
                        extra_cols: tuple = ()) -> DataFrame:
        ts = F.col(TS_COL) if TS_COL in df.columns else None
        comp = self._compiler(resolver, df, ts=ts)
        extras = [F.col(c) for c in extra_cols]
        if q.select is None:
            out = df.select(*fields, *extras)
        else:
            cols = [comp.compile(it.expr).alias(self._out_name(it)) for it in q.select]
            out = df.select(*cols, *extras)
        if q.having is not None:
            hc = ExprCompiler(lambda r: F.col(r.name), self.extensions)
            out = out.filter(hc.compile(q.having))
        return self._order_limit(out, q)

    # ------------------------------------------------------------ group select
    def _select_group(
        self,
        df: DataFrame,
        q: A.Query,
        windowed: Optional[A.SingleInput],
        ts_col: Optional[str],
        ord_cols: list[str],
    ) -> DataFrame:
        resolver = self._plain_resolver(set(df.columns), self._input_names(q))
        # 1. materialize group-key expressions as columns
        group_cols: list[str] = []
        key_map: list[tuple[A.Expr, str]] = []
        comp = self._compiler(resolver, df)
        for i, ge in enumerate(q.group_by):
            gname = ge.name if isinstance(ge, A.Ref) else f"__g{i}"
            if gname not in df.columns:
                df = df.withColumn(gname, comp.compile(ge))
            group_cols.append(gname)
            key_map.append((ge, gname))
        # 2. window bucket
        win_start = win_end = None
        group_all = list(group_cols)
        if windowed is not None and windowed.window is not None:
            bw = W.add_bucket(df, windowed.window, ts_col or TS_COL, group_cols,
                              ord_cols, self.extensions)
            df = bw.df
            win_start, win_end = bw.win_start, bw.win_end
            group_all = [W.BUCKET_COL] + group_all
        # 3. collect aggregate sub-expressions from select/having/order
        agg_map: dict[int, str] = {}
        agg_exprs: list[Column] = []
        ord_struct = F.struct(*[F.col(c) for c in ord_cols]) if ord_cols else None

        def agg_handler(call: A.Call, inner: ExprCompiler) -> Column:
            raise SiddhiPlannerException("nested aggregate")

        inner_comp = self._compiler(resolver, df)

        def collect(e: A.Expr):
            if self._is_agg_call(e):
                if id(e) not in agg_map:
                    nm = f"__a{len(agg_map)}"
                    agg_map[id(e)] = nm
                    agg_exprs.append(
                        self._agg_column(e, inner_comp, df, ord_struct).alias(nm)
                    )
                return
            for child in _children(e):
                collect(child)

        items = q.select or []
        for it in items:
            collect(it.expr)
        if q.having is not None:
            collect(q.having)
        for o in q.order_by:
            collect(o.expr)
        # 4. aggregate
        if group_all:
            agg_df = df.groupBy(*[F.col(c) for c in group_all]).agg(*agg_exprs) if agg_exprs else df.select(*group_all).distinct()
        else:
            agg_df = df.agg(*agg_exprs)
        # 5. post-select: compile items against (group cols + agg placeholders)
        post_resolver = self._post_agg_resolver(key_map, group_cols, agg_df)
        post_comp = ExprCompiler(
            post_resolver,
            {**self.extensions, **self._window_fns(win_start, win_end)},
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        if q.select is None:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        out_cols = [post_comp.compile(it.expr).alias(self._out_name(it)) for it in items]
        keep_names = [self._out_name(it) for it in items]
        wide = agg_df
        for c, n in zip(out_cols, keep_names):
            wide = wide.withColumn(n, c)
        # 6. having / order on the wide frame (aliases + group cols + placeholders)
        havord = ExprCompiler(
            self._wide_resolver(wide, key_map),
            {**self.extensions, **self._window_fns(win_start, win_end)},
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        if q.having is not None:
            wide = wide.filter(havord.compile(q.having))
        wide = self._order_limit(wide, q, havord)
        return wide.select(*keep_names)

    def _window_fns(self, win_start, win_end) -> dict:
        fns = {}
        if win_start is not None:
            fns["windowStart"] = lambda *a: win_start
            fns["windowEnd"] = lambda *a: win_end
        return fns

    def _post_agg_resolver(self, key_map, group_cols, agg_df):
        def resolve(ref: A.Ref) -> Column:
            for ge, gname in key_map:
                if isinstance(ge, A.Ref) and ge.name == ref.name:
                    return F.col(gname)
            if ref.name in agg_df.columns:
                return F.col(ref.name)
            raise SiddhiPlannerException(
                f"column '{ref.name}' must be a group-by key or inside an aggregate"
            )

        return resolve

    def _wide_resolver(self, wide: DataFrame, key_map):
        cols = set(wide.columns)

        def resolve(ref: A.Ref) -> Column:
            if ref.name in cols:
                return F.col(ref.name)
            for ge, gname in key_map:
                if isinstance(ge, A.Ref) and ge.name == ref.name:
                    return F.col(gname)
            raise SiddhiPlannerException(f"unknown column '{ref.name}' in having/order by")

        return resolve

    # ---------------------------------------------------------- sliding select
    def _select_sliding(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, ts_col: str, ord_cols: list[str]
    ) -> DataFrame:
        if si.window.name.lower() == "timelength":
            return self._select_timelength(df, q, si, ts_col, ord_cols)
        resolver = self._plain_resolver(set(df.columns), self._input_names(q))
        comp_plain = self._compiler(resolver, df)
        group_cols: list[str] = []
        for i, ge in enumerate(q.group_by):
            gname = ge.name if isinstance(ge, A.Ref) else f"__g{i}"
            if gname not in df.columns:
                df = df.withColumn(gname, comp_plain.compile(ge))
            group_cols.append(gname)
        frame = W.sliding_frame(si.window, ts_col, group_cols, ord_cols)

        def agg_handler(call: A.Call, inner: ExprCompiler) -> Column:
            name = call.name.lower()
            arg = inner.compile(call.args[0]) if call.args else None
            if name == "distinctcount" or (name == "count" and call.distinct):
                return F.size(F.collect_set(arg).over(frame))
            return self._agg_column(call, inner, df, None, frame=frame)

        comp = ExprCompiler(resolver, self.extensions, agg_handler)
        if q.select is None:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        cols = [comp.compile(it.expr).alias(self._out_name(it)) for it in q.select]
        out = df.select(*cols)
        if q.having is not None:
            hc = ExprCompiler(lambda r: F.col(r.name), self.extensions)
            out = out.filter(hc.compile(q.having))
        return self._order_limit(out, q)

    def _select_timelength(
        self, df: DataFrame, q: A.Query, si: A.SingleInput, ts_col: str, ord_cols: list[str]
    ) -> DataFrame:
        """``#window.timeLength(t, n)``: per-event aggregate over the trailing
        frame holding the last n events restricted to the last t ms — the
        intersection of a ROWS and a RANGE frame, which no single Spark frame
        expresses. Lowered to a banded self-join: number rows per group
        (``rn``), block id = ``floor((rn-1)/n)``; every anchor's candidate
        rows (``rn - n + 1 .. rn``) live in exactly blocks {blk-1, blk}, so
        the anchor side explodes to two probe blocks and the join is a plain
        equi-join on (group keys, block) with the row/time bounds as residual
        predicates. Fan-out is a constant 2x of the stream, the join is a
        hash shuffle on the same keys the final re-join reuses — no nested
        loop, linear at scale."""
        from functools import reduce

        from pyspark.sql.window import Window

        t = W._arg_ms(si.window, 0)
        n = W._arg_ms(si.window, 1)
        resolver = self._plain_resolver(set(df.columns), self._input_names(q))
        comp_plain = self._compiler(resolver, df)
        group_cols: list[str] = []
        for i, ge in enumerate(q.group_by):
            gname = ge.name if isinstance(ge, A.Ref) else f"__g{i}"
            if gname not in df.columns:
                df = df.withColumn(gname, comp_plain.compile(ge))
            group_cols.append(gname)
        part = (
            Window.partitionBy(*[F.col(c) for c in group_cols])
            if group_cols
            else Window.partitionBy(F.lit(1))
        )
        base = df.withColumn(
            "__rn", F.row_number().over(part.orderBy(*[F.col(c) for c in ord_cols]))
        ).withColumn("__blk", F.floor((F.col("__rn") - 1) / F.lit(n)))
        data_cols = [c for c in df.columns]
        cand = base.select(
            *[F.col(c).alias(f"__c_{c}") for c in data_cols],
            F.col("__rn").alias("__crn"),
            F.col("__blk").alias("__cblk"),
        )
        anchors = base.withColumn(
            "__pblk", F.explode(F.array(F.col("__blk") - 1, F.col("__blk")))
        )
        cond = [F.col("__pblk") == F.col("__cblk")]
        cond += [F.col(k) == F.col(f"__c_{k}") for k in group_cols]
        cond.append(F.col("__crn").between(F.col("__rn") - (n - 1), F.col("__rn")))
        cond.append(F.col(f"__c_{ts_col}") > F.col(ts_col) - F.lit(t))
        pairs = anchors.join(cand, reduce(lambda a, b: a & b, cond))

        # aggregates evaluate over the candidate (__c_) columns
        def cand_resolve(ref: A.Ref) -> Column:
            if ref.name not in df.columns:
                raise SiddhiPlannerException(f"unknown attribute '{ref.name}'")
            return F.col(f"__c_{ref.name}")

        inner_comp = self._compiler(cand_resolve, pairs)
        ord_struct = F.struct(*[F.col(f"__c_{c}") for c in ord_cols]) if ord_cols else None
        agg_map: dict[int, str] = {}
        agg_exprs: list[Column] = []

        def collect(e: A.Expr):
            if self._is_agg_call(e):
                if id(e) not in agg_map:
                    nm = f"__a{len(agg_map)}"
                    agg_map[id(e)] = nm
                    agg_exprs.append(
                        self._agg_column(e, inner_comp, pairs, ord_struct).alias(nm)
                    )
                return
            for child in _children(e):
                collect(child)

        items = q.select or []
        if q.select is None:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        for it in items:
            collect(it.expr)
        if q.having is not None:
            collect(q.having)
        for o in q.order_by:
            collect(o.expr)
        agg_df = pairs.groupBy(*[F.col(c) for c in group_cols + ["__rn"]]).agg(*agg_exprs)
        out = base.join(agg_df, group_cols + ["__rn"])
        comp = ExprCompiler(
            resolver, self.extensions,
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        cols = [comp.compile(it.expr).alias(self._out_name(it)) for it in items]
        out = out.select(*cols)
        if q.having is not None:
            hc = ExprCompiler(lambda r: F.col(r.name), self.extensions)
            out = out.filter(hc.compile(q.having))
        return self._order_limit(out, q)

    # ------------------------------------------------------------- join/pattern
    def _finish(self, df, q, resolver, fields, ts_col, ord_cols) -> DataFrame:
        if self._query_has_agg(q):
            return self._select_group_generic(df, q, resolver)
        return self._select_rowwise(df, q, resolver, fields)

    # ------------------------------------------------- incremental aggregation
    def materialize_aggregation(self, adef: A.AggregationDef, gran: str) -> DataFrame:
        """One granularity of a `define aggregation` rollup: a bucketed
        groupBy over the source stream (Siddhi maintains these incrementally
        per event; the Spark shape is the same single hash aggregation with
        map-side partials, and at scale each granularity would be persisted
        — coarser granularities can also fold from finer ones)."""
        si = adef.input
        df, schema = self.stream_df(si.stream)
        names = {si.stream} | ({si.alias} if si.alias else set())
        resolver = self._plain_resolver(set(df.columns), names)
        comp = self._compiler(resolver, df)
        if si.filter is not None:
            df = self._apply_filter(df, si.filter, comp)
        if adef.ts_ref is not None:
            c = adef.ts_ref.name
            dt = dict(df.dtypes).get(c, "")
            ts_ms = (
                F.unix_millis(F.col(c).cast("timestamp"))
                if dt.startswith("timestamp")
                else F.col(c).cast("bigint")
            )
        elif schema.ts_field is not None:
            ts_ms = F.col(TS_COL)
        else:
            raise SiddhiPlannerException(
                f"aggregation {adef.name}: no `aggregate by` attribute and "
                f"stream '{si.stream}' has no ts_field"
            )
        bucket = F.unix_millis(F.date_trunc(_GRAN_TRUNC[gran], F.timestamp_millis(ts_ms)))
        df = df.withColumn(AGG_TS, bucket)
        synth = A.Query(
            input=A.SingleInput(si.stream, None, None, si.alias),
            select=[A.SelectItem(A.Ref(None, AGG_TS), AGG_TS)] + list(adef.select),
            group_by=[A.Ref(None, AGG_TS)] + list(adef.group_by),
        )
        res = self._plain_resolver(set(df.columns), names)
        return self._select_group_generic(df, synth, res)

    def _compile_agg_read(self, q: A.Query) -> DataFrame:
        """`from AggName within lo, hi per 'unit' select ...` — query one
        granularity of an incremental aggregation."""
        si: A.SingleInput = q.input
        adef: A.AggregationDef = self.aggregations[si.stream]
        if q.agg_per is None:
            raise SiddhiPlannerException(
                f"reading aggregation '{adef.name}' requires a per 'unit' clause"
            )
        gran = _GRAN_ALIASES.get(q.agg_per.lower())
        if gran is None:
            raise SiddhiPlannerException(f"per: unknown granularity {q.agg_per!r}")
        if gran not in adef.granularities:
            raise SiddhiPlannerException(
                f"aggregation '{adef.name}' does not maintain granularity "
                f"'{gran}' (has: {adef.granularities})"
            )
        if si.window is not None:
            raise UnsupportedFeatureException("windows over aggregation reads")
        key = (adef.name, gran)
        if key not in self._agg_cache:
            self._agg_cache[key] = self.materialize_aggregation(adef, gran)
        df = self._agg_cache[key]
        if q.agg_within is not None:
            lo, hi = q.agg_within
            lo_ms = _within_bound_ms(lo)
            df = df.filter(F.col(AGG_TS) >= lo_ms)
            if hi is not None:
                df = df.filter(F.col(AGG_TS) < _within_bound_ms(hi))
        names = {adef.name} | ({si.alias} if si.alias else set())
        resolver = self._plain_resolver(set(df.columns), names)
        if si.filter is not None:
            df = self._apply_filter(df, si.filter, self._compiler(resolver, df))
        if self._query_has_agg(q):
            return self._select_group_generic(df, q, resolver)
        return self._select_rowwise(df, q, resolver, list(df.columns))

    def _select_group_generic(self, df: DataFrame, q: A.Query, resolver) -> DataFrame:
        # plain (windowless) aggregation over a join/pattern result
        comp = self._compiler(resolver, df)
        group_cols = []
        key_map = []
        for i, ge in enumerate(q.group_by):
            gname = ge.name if isinstance(ge, A.Ref) and ge.stream is None else f"__g{i}"
            df = df.withColumn(gname, comp.compile(ge))
            group_cols.append(gname)
            key_map.append((ge, gname))
        agg_map: dict[int, str] = {}
        agg_exprs: list[Column] = []
        inner_comp = self._compiler(resolver, df)

        def collect(e: A.Expr):
            if self._is_agg_call(e):
                if id(e) not in agg_map:
                    nm = f"__a{len(agg_map)}"
                    agg_map[id(e)] = nm
                    agg_exprs.append(self._agg_column(e, inner_comp, df, None).alias(nm))
                return
            for child in _children(e):
                collect(child)

        items = q.select or []
        if q.select is None:
            raise SiddhiPlannerException("select * not allowed in aggregate queries")
        for it in items:
            collect(it.expr)
        if q.having is not None:
            collect(q.having)
        for o in q.order_by:
            collect(o.expr)
        agg_df = (
            df.groupBy(*[F.col(c) for c in group_cols]).agg(*agg_exprs)
            if group_cols
            else df.agg(*agg_exprs)
        )

        def post_resolve(ref: A.Ref) -> Column:
            for ge, gname in key_map:
                if isinstance(ge, A.Ref) and ge.name == ref.name and (
                    ref.stream is None or ref.stream == ge.stream
                ):
                    return F.col(gname)
            if ref.name in agg_df.columns:
                return F.col(ref.name)
            raise SiddhiPlannerException(
                f"column '{ref.name}' must be a group-by key or inside an aggregate"
            )

        post_comp = ExprCompiler(
            post_resolve, self.extensions,
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        keep = [self._out_name(it) for it in items]
        wide = agg_df
        for it, n in zip(items, keep):
            wide = wide.withColumn(n, post_comp.compile(it.expr))
        havord = ExprCompiler(
            lambda r: F.col(r.name) if r.name in wide.columns else post_resolve(r),
            self.extensions,
            agg_handler=lambda call, inner: F.col(agg_map[id(call)]),
        )
        if q.having is not None:
            wide = wide.filter(havord.compile(q.having))
        wide = self._order_limit(wide, q, havord)
        return wide.select(*keep)

    # ------------------------------------------------------------------ misc
    @staticmethod
    def _input_names(q: A.Query) -> set[str]:
        names: set[str] = set()
        inp = q.input
        if isinstance(inp, A.SingleInput):
            names.add(inp.stream)
            if inp.alias:
                names.add(inp.alias)
        return names

    @staticmethod
    def _out_name(it: A.SelectItem) -> str:
        if it.alias:
            return it.alias
        if isinstance(it.expr, A.Ref):
            return it.expr.name
        raise SiddhiPlannerException(
            f"computed select column needs an alias: {it.expr!r}"
        )

    def _order_limit(self, out: DataFrame, q: A.Query, comp: Optional[ExprCompiler] = None) -> DataFrame:
        if comp is None:
            comp = ExprCompiler(lambda r: F.col(r.name), self.extensions)
        if q.order_by:
            cols = [
                comp.compile(o.expr).desc() if o.desc else comp.compile(o.expr).asc()
                for o in q.order_by
            ]
            out = out.orderBy(*cols)
        if q.offset is not None:
            out = out.offset(q.offset)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out


AGG_TS = "AGG_TIMESTAMP"

# Siddhi granularity -> Spark date_trunc unit (UTC session timezone pinned at
# table load, so calendar months/years bucket identically to DuckDB)
_GRAN_TRUNC = {
    "sec": "second", "min": "minute", "hour": "hour",
    "day": "day", "month": "month", "year": "year",
}
_GRAN_ALIASES = {
    "sec": "sec", "second": "sec", "seconds": "sec",
    "min": "min", "minute": "min", "minutes": "min",
    "hour": "hour", "hours": "hour", "day": "day", "days": "day",
    "month": "month", "months": "month", "year": "year", "years": "year",
}


def _within_bound_ms(lit: A.Expr) -> int:
    """`within` bound -> epoch ms. Accepts epoch-ms numbers or
    'YYYY-MM-DD[ HH:MM:SS]' string literals (interpreted as UTC)."""
    from datetime import datetime, timezone

    if isinstance(lit, A.Literal) and lit.kind in ("int", "long", "time"):
        return int(lit.value)
    if isinstance(lit, A.Literal) and lit.kind == "string":
        s = str(lit.value)
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                dt = datetime.strptime(s, fmt).replace(tzinfo=timezone.utc)
                return int(dt.timestamp() * 1000)
            except ValueError:
                continue
        raise SiddhiPlannerException(f"within: cannot parse time literal {s!r}")
    raise SiddhiPlannerException("within bounds must be epoch-ms or datetime string literals")


def contains_in_table(e: A.Expr) -> bool:
    if isinstance(e, A.InTable):
        return True
    return any(contains_in_table(c) for c in _children(e))


def _children(e: A.Expr):
    if isinstance(e, A.Binary):
        return (e.left, e.right)
    if isinstance(e, (A.Unary, A.IsNull)):
        return (e.expr,)
    if isinstance(e, A.Call):
        return tuple(e.args)
    if isinstance(e, A.InTable):
        return (e.expr,)
    return ()

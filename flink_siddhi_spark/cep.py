"""Public API: the Python mirror of the reference's entry points.

Reference surface (SURVEY.md §2.C):
    SiddhiCEP.define(streamId, ds, fields...)      SiddhiCEP.java:119-125
    cep.registerStream / from_ / union             SiddhiCEP.java:134-185
    stream.cql(text) -> ExecutionSiddhiStream      SiddhiStream.java:116-119
    execution.returns(outStreamId) -> DataFrame    SiddhiStream.java:287-413
    cep.registerExtension                          SiddhiCEP.java:201-206

Python shape:
    cep = SiddhiCEP(spark)
    cep.define("events", df, "event_id", "ts", ..., ts_field="ts") \\
       .cql("from events[value > 100] select event_id insert into Out") \\
       .returns("Out")   # -> DataFrame

Chained queries work by registering outputs back into the catalog
(reference: SiddhiCEPITCase.java:68-90), and a single ``cql`` text may hold
multiple queries that feed each other via ``insert into``.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col

from .errors import (
    DuplicatedStreamException,
    SiddhiPlannerException,
    UndefinedStreamException,
    UnsupportedFeatureException,
)
from .plans.planner import BatchPlanner
from .schema import StreamSchema
from .siddhiql import ast as A
from .siddhiql.parser import parse


class SiddhiCEP:
    """Engine environment: stream catalog + extensions (SiddhiCEP.java:56-230)."""

    def __init__(self, spark: SparkSession, watermark_delay: str = "10 seconds",
                 pattern_key_buckets: Optional[int] = None,
                 window_key_buckets: Optional[int] = None,
                 pattern_state_purge: bool = False):
        self.spark = spark
        self.catalog: dict[str, StreamSchema] = {}
        self.extensions: dict[str, Callable] = {}
        self.aggregations: dict[str, A.AggregationDef] = {}
        self.triggers: dict[str, int] = {}  # name -> period_ms
        self._agg_cache: dict = {}  # (agg name, gran) -> materialized rollup
        # late-data tolerance applied to every event-time stream when a plan
        # compiles in streaming mode (cql() auto-dispatches on streaming
        # inputs) — the knob the reference lacks (it drains on Flink
        # watermarks, AbstractSiddhiOperator.java:237-247)
        self.watermark_delay = watermark_delay
        # round 9: streaming patterns group by pmod(xxhash64(key), N)
        # instead of the raw key when set, amortizing the fixed per-key-
        # visit cost over ~keys/N keys per Arrow group. Set for key-heavy
        # workloads (>=10^5 active keys); see README "operating envelope".
        # window_key_buckets does the same for the per-key stateful window
        # lowerings (length/lengthBatch/timeLength/time/unique); both run
        # through the keyed-state runner in streaming/bucketing.py.
        self.pattern_key_buckets = pattern_key_buckets
        self.window_key_buckets = window_key_buckets
        # round 10: opt-in state GC for evictable every-patterns — remove a
        # key's state once its buffer and live partials drain past the
        # eviction horizon, so state rows track ACTIVE keys under key churn
        # (Siddhi's partition state likewise lives forever unless its
        # @purge annotation enables purging; this is that knob). Bounded
        # drains pay one timed-out visit per drained key at the horizon,
        # hence opt-in. PARITY.md deviation 20.
        self.pattern_state_purge = pattern_state_purge

    # -------------------------------------------------------------- registry
    def register_stream(
        self,
        stream_id: str,
        df: DataFrame,
        *fields: str,
        ts_field: Optional[str] = None,
    ) -> None:
        if stream_id in self.catalog:
            raise DuplicatedStreamException(f"stream '{stream_id}' already registered")
        self.catalog[stream_id] = StreamSchema(
            stream_id, df, list(fields), ts_field=ts_field
        )

    registerStream = register_stream

    def register_table(self, table_id: str, df: DataFrame, *fields: str) -> None:
        if table_id in self.catalog:
            raise DuplicatedStreamException(f"table '{table_id}' already registered")
        self.catalog[table_id] = StreamSchema(table_id, df, list(fields), is_table=True)

    def register_extension(self, name: str, builder: Callable,
                           aggregate: bool = False, window: bool = False,
                           stream_function: bool = False) -> None:
        """Register an extension under 'ns:name' (SiddhiCEP.java:201-206).

        ``builder`` takes Columns and returns a Column (stays JVM-side). For a
        plain Python function use ``spark.udf.register`` and pass the wrapped
        ``F.udf`` here — documented slow path.

        With ``aggregate=True`` the builder is an attribute AGGREGATOR
        (Siddhi's aggregator extension kind): it must return a Spark
        aggregate Column, e.g. ``lambda c: F.exp(F.avg(F.log(c)))``, usable
        wherever built-in aggregates are (group by, having, windowed batch
        aggregation — not sliding frames).

        With ``window=True`` the builder is a WINDOW processor (Siddhi's
        third extension kind): ``builder(ts, *args) -> Column`` maps the
        epoch-ms event time plus the window's literal args to a bucket id;
        ``from s#window.ns:name(args) ... group by k`` then aggregates per
        (bucket, k) exactly like the built-in batch windows. Batch mode
        only.

        With ``stream_function=True`` the builder is a STREAM PROCESSOR
        (`#ns:fn(args)` between filter and window):
        ``builder(df, *args) -> DataFrame`` — may add columns and change
        row multiplicity but must keep the declared stream fields; works
        in batch and streaming."""
        if sum((aggregate, window, stream_function)) > 1:
            raise ValueError(
                "an extension is exactly one kind: scalar, aggregate, "
                "window, or stream_function — not both"
            )
        if stream_function:
            from .operators.windows import StreamFnExtension

            self.extensions[name] = StreamFnExtension(builder)
            return
        if aggregate:
            from .plans.expr import AGG_EXT_NAMES, AggregateExtension

            AGG_EXT_NAMES.add(name)
            self.extensions[name] = AggregateExtension(builder)
        elif window:
            from .operators.windows import WindowExtension

            self.extensions[name] = WindowExtension(builder)
        else:
            self.extensions[name] = builder

    registerExtension = register_extension

    def define(self, stream_id: str, df: DataFrame, *fields: str,
               ts_field: Optional[str] = None) -> "SiddhiStream":
        self.register_stream(stream_id, df, *fields, ts_field=ts_field)
        return SiddhiStream(self)

    def from_(self, stream_id: str) -> "SiddhiStream":
        if stream_id not in self.catalog:
            raise UndefinedStreamException(f"stream '{stream_id}' is not registered")
        return SiddhiStream(self)

    def union(self, stream_id: str, df: DataFrame, *fields: str,
              ts_field: Optional[str] = None) -> "SiddhiStream":
        return self.define(stream_id, df, *fields, ts_field=ts_field)

    def get_data_stream(self, stream_id: str) -> DataFrame:
        if stream_id not in self.catalog:
            raise UndefinedStreamException(f"stream '{stream_id}' is not registered")
        return self.catalog[stream_id].df

    @staticmethod
    def get_siddhi_environment(spark: SparkSession) -> "SiddhiCEP":
        return SiddhiCEP(spark)


class SiddhiStream:
    """Fluent handle (SiddhiStream.java:63-257). ``union`` just registers more
    streams — per-query DataFrame DAGs make the reference's envelope/union
    plumbing unnecessary (SURVEY.md §1.5)."""

    def __init__(self, cep: SiddhiCEP):
        self.cep = cep

    def union(self, stream_id: str, df: Optional[DataFrame] = None, *fields: str,
              ts_field: Optional[str] = None) -> "SiddhiStream":
        """With a DataFrame, registers a new stream (reference union-with-
        definition, SiddhiStream.java:102-110); without one, references an
        already-registered stream (``from("a").union("b")`` shape,
        SiddhiCEPITCase.java:424-426) and raises if it isn't registered."""
        if df is None:
            if stream_id not in self.cep.catalog:
                raise UndefinedStreamException(f"stream '{stream_id}' is not registered")
            return self
        self.cep.register_stream(stream_id, df, *fields, ts_field=ts_field)
        return self

    def cql(self, execution_plan: str) -> "ExecutionSiddhiStream":
        return ExecutionSiddhiStream(self.cep, execution_plan)


class ExecutionSiddhiStream:
    """Compiled execution plan (SiddhiStream.java:259-413).

    Eagerly parses and plans every query (fail-fast validation — the
    reference compiles the plan in a temp Siddhi runtime,
    AbstractSiddhiOperator.java:292-299; here Catalyst analysis is the
    validator). Outputs are registered into the catalog so later queries and
    ``returns`` can reference them.
    """

    def __init__(self, cep: SiddhiCEP, plan_text: str):
        self.cep = cep
        self.plan = parse(plan_text)
        self.outputs: dict[str, DataFrame] = {}
        self._build()

    def _build(self) -> None:
        # inline `define stream/table` validates field lists against the
        # catalog; an unregistered `define table` creates an empty table
        # (Siddhi tables start empty and are populated by DML queries).
        for adef in self.plan.aggregations:
            self.cep.aggregations[adef.name] = adef
            self.cep._agg_cache = {
                k: v for k, v in self.cep._agg_cache.items() if k[0] != adef.name
            }
        # cql() is mode-agnostic like the reference's single engine: if ANY
        # registered stream is a streaming DataFrame the plan compiles on
        # the StreamingPlanner (which itself lowers batch-registered inputs
        # identically to BatchPlanner per query), else pure batch.
        streaming_mode = any(
            s.df is not None and s.df.isStreaming
            for s in self.cep.catalog.values()
        )
        for trig in self.plan.triggers:
            # batch contract: no wall-clock elapses during a batch computation,
            # so the tick stream is empty (schema'd); streaming mode swaps in
            # sources.streams.trigger_stream (a rate source)
            from pyspark.sql import types as T

            self.cep.triggers[trig.name] = trig.period_ms
            if trig.name not in self.cep.catalog:
                if streaming_mode:
                    from .sources.streams import trigger_stream

                    tick = trigger_stream(self.cep.spark, trig.period_ms)
                else:
                    tick = self.cep.spark.createDataFrame(
                        [], T.StructType([T.StructField("triggered_time", T.LongType())])
                    )
                self.cep.catalog[trig.name] = StreamSchema(
                    trig.name, tick, ["triggered_time"], ts_field="triggered_time"
                )
        if streaming_mode:
            from .streaming.runtime import StreamingPlanner

            planner = StreamingPlanner(
                self.cep.catalog, self.cep.extensions,
                watermark_delay=self.cep.watermark_delay,
                aggregations=self.cep.aggregations,
                pattern_key_buckets=self.cep.pattern_key_buckets,
                window_key_buckets=self.cep.window_key_buckets,
                pattern_state_purge=self.cep.pattern_state_purge,
            )
        else:
            planner = BatchPlanner(
                self.cep.catalog, self.cep.extensions, self.cep.aggregations
            )
        planner._agg_cache = self.cep._agg_cache  # share rollups across cql calls
        for d in self.plan.definitions:
            if d.name in self.cep.catalog:
                declared = [a.name for a in d.attrs]
                actual = self.cep.catalog[d.name].fields
                if declared != actual:
                    raise SiddhiPlannerException(
                        f"define {d.name}: declared fields {declared} != registered {actual}"
                    )
            elif d.is_table:
                from .schema import spark_type_for
                from pyspark.sql import types as T

                schema = T.StructType(
                    [T.StructField(a.name, spark_type_for(a.dtype)) for a in d.attrs]
                )
                empty = self.cep.spark.createDataFrame([], schema)
                self.cep.catalog[d.name] = StreamSchema(
                    d.name, empty, [a.name for a in d.attrs], is_table=True
                )
        for q in self.plan.queries:
            if q.dml is not None or (
                q.insert_into is not None
                and q.insert_into in self.cep.catalog
                and self.cep.catalog[q.insert_into].is_table
            ):
                self._apply_table_dml(planner, q)
                continue
            df = planner.compile_query(q)
            out_id = q.insert_into or "__anonymous__"
            if q.insert_into:
                if out_id in self.outputs:
                    # multi-query fan-in: union into the same output stream
                    # (reference: SiddhiCEPITCase.java:282-299)
                    df = self.outputs[out_id].unionByName(df)
                self.outputs[out_id] = df
                ts_field = None
                sch = StreamSchema(out_id, df, list(df.columns), ts_field=ts_field)
                self.cep.catalog[out_id] = sch

    def _apply_table_dml(self, planner: BatchPlanner, q: A.Query) -> None:
        """Mutate a table's catalog state (batch contract: operators/tables.py).
        Later queries in this plan — and later plans — see the new state."""
        from .operators.tables import ORD_COL, apply_dml

        table_id = q.dml.table if q.dml is not None else q.insert_into
        if table_id not in self.cep.catalog or not self.cep.catalog[table_id].is_table:
            raise UndefinedStreamException(f"'{table_id}' is not a defined table")
        tbl = self.cep.catalog[table_id]

        # carry event time into the select output for last-writer-wins order
        q2 = q
        if q.dml is not None and isinstance(q.input, A.SingleInput):
            src = self.cep.catalog.get(q.input.stream)
            if (
                src is not None
                and src.ts_field is not None
                and not BatchPlanner._query_has_agg(q)
            ):
                sel = q.select or [
                    A.SelectItem(A.Ref(None, f)) for f in src.fields
                ]
                sel = sel + [A.SelectItem(A.Call(None, "eventTimestamp", []), ORD_COL)]
                import dataclasses

                q2 = dataclasses.replace(q, select=sel)
        stream_df = planner.compile_query(q2)
        if stream_df.isStreaming:
            raise UnsupportedFeatureException(
                f"continuous DML into table '{table_id}' from a streaming "
                "source: attach the plan via streaming/tables.py "
                "(foreachBatch) — the batch cql() table contract needs a "
                "bounded source"
            )
        if q.dml is None:
            # `insert into <table>`: append, casting to the table's types
            ins = stream_df
            ttypes = dict(tbl.df.dtypes)
            missing = [c for c in tbl.fields if c not in ins.columns]
            if missing:
                raise SiddhiPlannerException(
                    f"insert into {table_id}: select output lacks columns {missing}"
                )
            ins = ins.select(*[F_col(c).cast(ttypes[c]).alias(c) for c in tbl.fields])
            new_df = tbl.df.unionByName(ins)
        else:
            new_df = apply_dml(tbl.df, stream_df, q.dml, self.cep.extensions)
        self.cep.catalog[table_id] = StreamSchema(
            table_id, new_df, list(tbl.fields), is_table=True
        )
        self.outputs[table_id] = new_df

    def returns(self, out_stream_id: str) -> DataFrame:
        if out_stream_id not in self.outputs:
            raise UndefinedStreamException(
                f"no query inserts into '{out_stream_id}' (have: {sorted(self.outputs)})"
            )
        return self.outputs[out_stream_id]

    def returns_many(self, out_stream_ids: list[str]) -> dict[str, DataFrame]:
        """Multi-output queries (reference: returns(List), SiddhiStream.java:301-309)."""
        return {i: self.returns(i) for i in out_stream_ids}

    # reference output-shape variants — DataFrames subsume Tuple/Row/POJO
    def return_as_map(self, out_stream_id: str) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.returns(out_stream_id).collect()]

    returnAsMap = return_as_map
    returnAsRow = returns
    returnsTransformRow = returns

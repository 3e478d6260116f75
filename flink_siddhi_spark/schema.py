"""Stream schema model: named, ordered, typed event streams.

Mirrors the reference's schema layer (StreamSchema/SiddhiStreamSchema):
- field names declared at registration, types inferred from the bound data
  (reference: schema/StreamSchema.java:48-63, SiddhiCEP.java:174-185)
- DDL rendering ``define stream <id> (<name> <type>, ...);``
  (reference: schema/SiddhiStreamSchema.java:36,54-71)

Spark-first: the schema is just a ``StructType`` plus an ordered field list and
an optional event-time column. No row serializers are needed — DataFrames stay
columnar and Catalyst handles typing.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .errors import SiddhiPlannerException

# Siddhi type name <-> Spark type (reference: utils/SiddhiTypeFactory.java:39-62).
# We additionally allow rich Spark types (array/map/struct/timestamp/decimal/binary)
# which the reference collapses to OBJECT — a deliberate capability upgrade.
_SIDDHI_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "object": T.BinaryType(),
}


def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted, inner backticks
    doubled, so any column name survives ``selectExpr``/``F.expr`` text."""
    return "`" + name.replace("`", "``") + "`"


def siddhi_type_name(dt: T.DataType) -> str:
    """Best-effort Spark -> Siddhi type name for DDL rendering."""
    m = {
        T.StringType(): "string",
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.BooleanType(): "bool",
    }
    return m.get(dt, "object")


def spark_type_for(siddhi_name: str) -> T.DataType:
    try:
        return _SIDDHI_TO_SPARK[siddhi_name.lower()]
    except KeyError:
        raise SiddhiPlannerException(f"unknown siddhi type: {siddhi_name}")


@dataclass
class StreamSchema:
    """A named stream bound to a DataFrame with an ordered field list.

    ``ts_field`` names the event-time column (epoch-millis LONG or Spark
    TimestampType); it plays the role of the reference's per-record
    ``StreamRecord`` timestamp (operator/AbstractSiddhiOperator.java:209-233).
    """

    stream_id: str
    df: DataFrame
    fields: list[str] = field(default_factory=list)
    ts_field: str | None = None
    is_table: bool = False  # event-table (stream-static join side)

    def __post_init__(self) -> None:
        cols = set(self.df.columns)
        if not self.fields:
            self.fields = list(self.df.columns)
        missing = [f for f in self.fields if f not in cols]
        if missing:
            raise SiddhiPlannerException(
                f"stream '{self.stream_id}': declared fields {missing} not in DataFrame columns {sorted(cols)}"
            )
        if self.ts_field is not None and self.ts_field not in cols:
            raise SiddhiPlannerException(
                f"stream '{self.stream_id}': ts_field '{self.ts_field}' not in DataFrame"
            )

    @property
    def spark_schema(self) -> T.StructType:
        by_name = {f.name: f for f in self.df.schema.fields}
        return T.StructType([by_name[f] for f in self.fields])

    def ddl(self) -> str:
        """Render Siddhi ``define stream`` DDL (parity with
        SiddhiStreamSchema.java:36)."""
        by_name = {f.name: f.dataType for f in self.df.schema.fields}
        cols = ",".join(f"{n} {siddhi_type_name(by_name[n])}" for n in self.fields)
        kind = "table" if self.is_table else "stream"
        return f"define {kind} {self.stream_id} ({cols});"

"""The driver↔Spark boundary for small inputs: every operator that moves
a bounded input (a ~100-series correlation graph, a symbol-profile table,
a confusion matrix, a refresh's touched groups) to the driver and back
goes through these two helpers.

- ``bounded_collect``: at most ``cap`` rows to the driver in one Spark job.
- ``local_frame``: driver-held rows back as an Arrow local relation, a
  Catalyst plan leaf, so reading it runs no Spark job. A row-list
  ``createDataFrame`` builds an RDD scan, one job per read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType, TimestampNTZType, TimestampType


def bounded_collect(df: DataFrame, cap: int) -> list | None:
    """``df``'s rows when it has at most ``cap`` of them, else None, in ONE
    Spark job (plus any upstream shuffle's): ``coalesce(1)`` goes before
    the limit, as a limit over a checkpointed or large multi-partition
    frame scans one partition, then the rest, in two jobs (measured). The
    price: the stage after ``df``'s last exchange runs as ONE task, so a
    frame whose last stage is heavy (an unmaterialized join over many
    rows) should be persisted first or collected another way."""
    rows = df.coalesce(1).limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """``createDataFrame(rows, schema)``'s rows as an Arrow local relation,
    whose reads run no Spark job. ``rows`` are tuples (or collected Rows)
    in the field order of ``schema``, a StructType or a DDL string.

    Every timestamp goes to Arrow as its int64 microseconds, read as
    ``createDataFrame(rows)`` reads it (a naive ``timestamp`` in
    driver-local time, a ``timestamp_ntz`` as wall clock), and Spark's
    own cast to the target schema restores the type. Spark localizes an
    Arrow timestamp inside a map by rebuilding the map without its null
    mask (before pyarrow 17), so a NULL map would come back as ``{}``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = pa.schema([f.with_type(_micros_type(f.type)) for f in to_arrow_schema(schema)])
    columns = {
        f.name: [_micros(f.dataType, r[i]) for r in rows] for i, f in enumerate(schema.fields)
    }
    return spark.createDataFrame(pa.Table.from_pydict(columns, schema=arrow_schema), schema)


def _micros_type(t):
    """Arrow type ``t`` with each timestamp in it replaced by int64."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return pa.int64()
    if pa.types.is_map(t):
        return pa.map_(_micros_type(t.key_type), _micros_type(t.item_type))
    if pa.types.is_list(t):
        return pa.list_(_micros_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_micros_type(f.type)) for f in t])
    return t


def _micros(dtype, v):
    """``v`` with each timestamp in it as Spark's internal microseconds."""
    if v is None:
        return None
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return dtype.toInternal(v)
    if isinstance(dtype, ArrayType):
        return [_micros(dtype.elementType, x) for x in v]
    if isinstance(dtype, StructType):
        return tuple(_micros(f.dataType, x) for f, x in zip(dtype.fields, v))
    if isinstance(dtype, MapType):
        return {_micros(dtype.keyType, k): _micros(dtype.valueType, x) for k, x in v.items()}
    return v

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

from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType


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
    in the field order of ``schema``, a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    columns = {}
    for i, f in enumerate(schema.fields):
        values = [r[i] for r in rows]
        if "timestamp" in f.dataType.simpleString():
            values = [_utc(f.dataType, v) for v in values]
        columns[f.name] = values
    table = pa.Table.from_pydict(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _utc(dtype, v):
    """``v`` with each ``timestamp`` in it moved to UTC, a naive one read as
    driver-local time, as collect() returns and createDataFrame(rows) reads
    it; pyarrow would store its wall clock as UTC. ``timestamp_ntz`` stays."""
    if v is None:
        return None
    if isinstance(dtype, TimestampType):
        return v.astimezone(timezone.utc)
    if isinstance(dtype, ArrayType):
        return [_utc(dtype.elementType, x) for x in v]
    if isinstance(dtype, StructType):
        return tuple(_utc(f.dataType, x) for f, x in zip(dtype.fields, v))
    if isinstance(dtype, MapType):
        return {_utc(dtype.keyType, k): _utc(dtype.valueType, x) for k, x in v.items()}
    return v

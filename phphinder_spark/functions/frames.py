"""DataFrames over driver-side rows, built without a Python worker.

``createDataFrame(list)`` ships the rows pickled through a PythonRDD, so
the first job over the frame starts the ``pyspark.daemon`` worker pool,
even for an empty list. A ``pyarrow.Table`` goes to the JVM as Arrow
batches and is read there. The engine's small driver-built frames (flush
batches, unique-key probes, query-term pairs, empty results) are built
this way, so serving and flushing run no Python on the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples in field order) as a DataFrame whose schema is
    exactly ``schema`` (a StructType or a DDL string): declared types,
    nullability and field metadata included. Values must already have
    the declared types; nothing is coerced."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)

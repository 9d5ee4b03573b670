"""Driver-built relations that enter Spark as Arrow, not as pickled rows.

``spark.createDataFrame(<python list>, schema)`` pickles its rows through
``parallelize(...).map`` into a ``PythonRDD``: every execution of a plan
that holds such a relation runs a Python stage (~0.3 s of fixed cost on
4 vCPU, whatever the stage does). A ``pyarrow.Table`` passed to
``createDataFrame`` goes through the JVM's ``ArrowConverters`` into a
local relation instead, and no Python worker ever runs for it. Every
driver-side list that feeds an engine op's plan (merge keys, DV group
maps, packing offsets, tail-key sets, empty typed frames) goes through
``local_df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order; may be empty) as an
    Arrow-backed DataFrame typed by ``schema`` (a StructType or DDL
    string). Same rows as ``spark.createDataFrame(list(rows), schema)``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    tbl = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(tbl, schema)

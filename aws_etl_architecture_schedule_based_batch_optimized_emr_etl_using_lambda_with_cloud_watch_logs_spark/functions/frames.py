"""Driver-side literal frames.

``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a
pickled Python RDD: every action on it runs one Python task per
``defaultParallelism`` slice. Handing ``createDataFrame`` a
``pyarrow.Table`` instead yields a ``LocalTableScan`` that the JVM
serves with no Python task (an action on a 2-row frame at
``local[2]``: 0.23 s from a list, 0.006 s from Arrow). Building the table column by column from
Python values (not through pandas) keeps NaN apart from NULL, at top
level and inside arrays.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ``LocalTableScan``.

    ``rows`` are positional tuples (``Row`` objects included) in
    ``schema`` order; struct values are tuples too. ``schema`` is a
    ``StructType`` or a DDL string such as ``"id bigint, v
    array<double>"``."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
    arrays = [
        pa.array(col, type=field.type)
        for col, field in zip(columns, arrow_schema, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)

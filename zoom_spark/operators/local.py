"""Driver-side frames: the one place the engine turns Python values on
the driver into a DataFrame.

``local_frame`` builds every such frame through Arrow. A list handed
to ``createDataFrame`` becomes a pickled Python RDD (``LogicalRDD`` /
``Scan ExistingRDD``), and every scan of it runs Python-worker tasks;
a ``pa.Table`` becomes a ``LocalRelation`` (``LocalTableScan``),
which the JVM scans itself and the optimizer can size and fold. Model
frames (centroid and codebook stats, probe lists), offset tables and
parameter grids are all small, so holding them on the driver costs
nothing the list path did not already pay.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession,
    data: pa.Table | Sequence[tuple],
    schema: str | StructType | None = None,
) -> DataFrame:
    """A ``LocalRelation`` DataFrame holding ``data``.

    ``data`` is a ``pa.Table``, used as is, or a sequence of row tuples
    typed by ``schema``, a DDL string or a ``StructType``. Each column
    is built as the Arrow type Spark maps that schema to, so
    nullability and nested ``array<...>`` element types come out
    exactly as declared."""
    if isinstance(data, pa.Table):
        return spark.createDataFrame(data)
    return spark.createDataFrame(arrow_rows(data, schema))


def arrow_rows(rows: Sequence[tuple], schema: str | StructType) -> pa.Table:
    """Row tuples as a ``pa.Table`` typed by the Spark ``schema`` (a DDL
    string or a ``StructType``): each column is built as the Arrow type
    Spark maps that schema to. ``local_frame`` builds driver-side frames
    with it, and ``mapInArrow`` stages their output batches."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if len(rows) else [()] * len(arrow)
    return pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )

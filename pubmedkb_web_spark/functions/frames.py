"""Driver-side literal frames as JVM-local relations.

``spark.createDataFrame(<python rows>)`` plans a pickled-Python
``LogicalRDD``: every later scan or broadcast of it is a Spark job that
ships the pickled rows through a Python worker. Rows sent as one Arrow
table become a ``LocalRelation`` instead, which ``collect()`` answers on
the driver without a job, and which Catalyst sizes exactly — so a join
against it plans a broadcast of the literal rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples or Rows, in ``schema``'s column order) as a
    ``LocalRelation`` of ``schema``; empty ``rows`` give an empty one."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def collect_local(df: DataFrame) -> DataFrame:
    """Run ``df`` once and keep its (small) result as a JVM-local frame."""
    return local_frame(df.sparkSession, df.collect(), df.schema)

"""Small driver-side tables as JVM-local relations.

``spark.createDataFrame(<python list>)`` plans as a pickled Python RDD
(``Scan ExistingRDD``), so every scan of it starts Python-worker tasks.
An Arrow table below ``spark.sql.execution.arrow.localRelationThreshold``
becomes a ``LocalRelation`` instead, which the JVM scans itself
(``LocalTableScan``). Manifests and generated dims are a few hundred rows
at most, far below that threshold.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order; ``schema`` may be a DDL
    string) as a LocalTableScan."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)

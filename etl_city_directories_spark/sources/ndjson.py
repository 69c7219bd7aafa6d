"""NDJSON sink/source — the reference's output format (one JSON object
per line: lines.ndjson, objects/logs/relations).

Spark's json writer IS newline-delimited JSON, so the sink is the
native distributed writer — each task writes its own part file, no
driver funnel and no coalesce to one file.

A write costs one Spark job and nothing else:

- ``write_ndjson`` returns the number of rows written, counted by the
  write's own job (``DataFrame.observe``), so no caller re-reads the
  output to count it.
- It stores the frame's schema as JSON in ``SCHEMA_FILE`` inside the
  output directory. The name starts with ``_`` so Spark's reader skips
  it like ``_SUCCESS``, and it does not match ``*.json``, so a glob of
  the part files does not pick it up either.
- ``read_ndjson`` reads with that stored schema: no inference job, and
  the types survive the round trip. Spark's JSON writer drops null
  fields, so on inference a column that is null in every row (or every
  column of an empty output) would vanish; with the stored schema it
  comes back as nulls. Directories without the file (written by
  anything else) are still inferred.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema"


def _schema_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, SCHEMA_FILE)
    return p, p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def write_ndjson(df: DataFrame, path: str) -> int:
    """Replace ``path`` with ``df`` as NDJSON part files plus its schema
    sidecar; returns the number of rows written."""
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").json(path)
    p, fs = _schema_path(df.sparkSession, path)
    stream = fs.create(p, True)
    try:
        stream.write(df.schema.json().encode("utf-8"))
    finally:
        stream.close()
    return rows.get["n"]


def read_ndjson(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read an NDJSON directory: with ``schema`` when given, else with
    the stored sidecar schema, else by inference."""
    if schema is None:
        p, fs = _schema_path(spark, path)
        if fs.exists(p):
            stream = fs.open(p)
            try:
                text = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            schema = StructType.fromJson(json.loads(text))
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)

"""Local mirror of the driver's correctness gate.

Runs a Spark query and its DuckDB oracle on the same parquet dir and
compares them the way the driver does: column names, row count, then
the rows with columns sorted by name, every value as ``str()``, rows
sorted. Used by tests/test_correctness.py and tools/driver_sim.py;
keeps surprises out of the driver's CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from etl_city_directories_spark.sources.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> list[tuple]:
    """The driver's hash form: columns sorted by name, str() of each
    value, rows sorted."""
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df[cols].itertuples(index=False))


def compare(spark_df, oracle_sql: str, sf_dir: str) -> dict:
    spark_pd = spark_df.toPandas()
    con = duckdb_connection(sf_dir)
    try:
        oracle_pd = con.execute(oracle_sql).fetchdf()
    finally:
        con.close()

    result = {
        "rows_spark": len(spark_pd),
        "rows_oracle": len(oracle_pd),
        "cols_spark": sorted(spark_pd.columns),
        "cols_oracle": sorted(oracle_pd.columns),
    }
    result["cols_match"] = result["cols_spark"] == result["cols_oracle"]
    result["rows_match"] = result["rows_spark"] == result["rows_oracle"]
    if not (result["cols_match"] and result["rows_match"]):
        result["values_match"] = False
        return result

    a, b = canon(spark_pd), canon(oracle_pd)
    result["values_match"] = a == b
    if not result["values_match"]:
        diffs = [(x, y) for x, y in zip(a, b) if x != y]
        result["first_diffs"] = diffs[:5]
    return result

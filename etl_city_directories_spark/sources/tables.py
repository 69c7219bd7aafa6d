"""Parquet table source.

The driver's synthetic star schema (TPC-H-ish + events/documents/
embeddings) is the engine's standing corpus; see TESTDATA.md. Reads are
plain ``spark.read.parquet`` so Catalyst gets pushdown/pruning for
free — plan assertions in tests/test_plans.py verify filters and
projections actually reach the scan.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from etl_city_directories_spark.functions import memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def events_ts_encoding(sf_dir: str) -> str:
    """Inspect the events parquet footer and classify its ``ts`` column.

    Returns one of:
      - ``"nanos_long"``: physical INT64 TIMESTAMP(NANOS) (or bare
        int64) — Spark can only read it via the ``nanosAsLong`` legacy
        conf, surfacing raw epoch-nanos longs that need ``div 1000``.
      - ``"ntz"``: TIMESTAMP without timezone (micros/millis) — Spark
        reads TIMESTAMP_NTZ; cast to TIMESTAMP (session tz is UTC, so
        the naive value is preserved bit-for-bit).
      - ``"tz"``: TIMESTAMP with a timezone — Spark reads TimestampType
        directly, nothing to do.

    The driver regenerates /root/testdata between rounds and has
    already flipped the encoding once (nanos → micros), so nothing may
    hard-code one; the footer read is a few KB of driver-side I/O,
    cached per (sf_dir, events stamp).
    """
    path = f"{sf_dir}/events.parquet"
    probe = path
    if os.path.isdir(path):
        # directory-shaped dataset (e.g. a Spark sink): probe one part
        for root, _, files in sorted(os.walk(path)):
            parts = sorted(f for f in files if f.endswith(".parquet"))
            if parts:
                probe = os.path.join(root, parts[0])
                break
    return memo.cached(
        ("ts_encoding", sf_dir, memo.table_stamp(sf_dir, ("events",))),
        lambda: _ts_encoding(probe),
        None,
    )


def _ts_encoding(probe: str) -> str:
    import pyarrow as pa

    t = pq.read_schema(probe).field("ts").type
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            # ns WITH tz too: Spark cannot read INT64
            # TIMESTAMP(NANOS, adjustedToUTC=true) as TimestampType
            # either; nanosAsLong surfaces both variants as raw
            # longs, and div-1000 to micros is correct for
            # UTC-adjusted instants (session tz is forced UTC).
            return "nanos_long"
        return "ntz" if t.tz is None else "tz"
    if pa.types.is_integer(t):
        return "nanos_long"
    raise TypeError(f"unsupported events.ts parquet type: {t}")


def events_conf(spark: SparkSession, sf_dir: str) -> None:
    """Set the runtime confs every events read needs on ``spark``.

    Confs are set here (runtime-settable), NOT only at session build
    time, so an externally-constructed vanilla SparkSession — e.g. the
    driver's correctness gate — can call any events query directly.
    UTC keeps window bucketing / unix_micros / toPandas rendering
    identical to the DuckDB oracle's naive timestamps regardless of
    host timezone; nanosAsLong is needed only when the file is
    physically INT64 nanos."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if events_ts_encoding(sf_dir) == "nanos_long":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        events_conf(spark, sf_dir)
    # Plan-object cache (r10 optimization, guide §6 file-listing
    # advice): ``spark.read.parquet`` costs ~75-95 ms of driver-side
    # work per call (file listing, footer/schema read, relation
    # analysis) and the engine issues it 1-3× per query — ~25% of the
    # whole-bench wall. The ANALYZED RELATION is immutable, so it is
    # memoized per (application, sf_dir, table, file mtime+size);
    # every query still computes fully from the parquet bytes — this
    # caches no rows, no results, only the lazy plan node. A testdata
    # rewrite changes the stamp and evicts the stale entry
    # (tests/test_load_table_cache.py pins both properties).
    path = f"{sf_dir}/{name}.parquet"

    def _read() -> DataFrame:
        df = spark.read.parquet(path)
        if name == "events":
            df = df.withColumn("ts", _ts_to_timestamp(df.schema["ts"].dataType))
        return df

    key = (
        spark.sparkContext.applicationId,
        "relation",
        sf_dir,
        name,
        memo.table_stamp(sf_dir, (name,)),
    )
    return memo.cached(key, _read, None)


def _ts_to_timestamp(dtype) -> F.Column:
    """Normalize a raw ``ts`` column (whatever the file encoded) to
    TimestampType micros, the type every downstream operator assumes."""
    if isinstance(dtype, LongType):
        # int64 epoch-nanos (nanosAsLong). Integer `div`, not `/`:
        # epoch-nanos (~1.7e18) exceeds double precision, so float
        # division would corrupt the microsecond digits. Truncation to
        # micros matches DuckDB's nanos→TIMESTAMP behavior.
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dtype, TimestampNTZType):
        # naive micros; session tz is forced UTC so this is value-exact
        return F.col("ts").cast("timestamp")
    return F.col("ts")  # already TimestampType


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, widening to full-core parallelism when the scan is
    narrower than the cluster.

    Small single-file tables arrive as one parquet row group = one scan
    partition, which would serialize CPU-heavy per-row work (shingling,
    minhashing, UDF decode) onto one core. At 100 TB the scan has
    thousands of splits and this is a no-op; the guard only pays the
    (tiny) round-robin shuffle when the input is narrower than the
    executor pool.
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    # estimate the scan's split count from the file size and
    # maxPartitionBytes — same signal as the physical scan without the
    # driver-side .rdd plan conversion
    ((_, _, size),) = memo.table_stamp(sf_dir, (name,))
    mpb = int(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b")
    )
    if max(1, -(-size // mpb)) < target:
        df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}

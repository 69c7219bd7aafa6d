"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
setting is chosen to also be the right default on a 1000-executor
cluster: AQE (runtime coalesce + skew-join splitting), broadcast joins
for dims, Arrow for the few Python-side operators, UTC session time so
results are timezone-independent.

Tungsten page size follows the heap, not the heap's share per core.
Every hash aggregate, sort buffer and string-keyed broadcast allocates
execution memory in pages, and holds at least one zeroed page as soon
as it holds a row. Spark's default page is a share of the execution
pool (pool / cores / 16, up to 64 MB): 32 MB at a 2 GB heap on
local[2], 64 MB at 8 GB on local[4], whatever the rows. With G1's
1 MB regions each such page is a humongous object placed straight in
the old generation, so small-row jobs fill the old generation with
mostly empty pages. ``page_size_bytes`` instead takes the smallest
power of two >= 1 MB whose page table (8192 pages per task) covers the
whole heap: 1 MB up to an 8 GB heap, 2 MB at 16 GB, 8 MB at 64 GB. A
task can then address more than its share of the pool, so a large
aggregate takes more pages and never runs out of page-table entries
before it runs out of memory.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def int_env(name: str, default: str, minimum: int = 1) -> int:
    raw = os.environ.get(name, default)
    try:
        value = int(raw)
    except ValueError:
        value = minimum - 1
    if value < minimum:
        raise ValueError(f"{name} must be an integer >= {minimum}, got {raw!r}")
    return value


_JVM_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
# Spark refuses a heap below 1.5 x its 300 MB system reserve
# (UnifiedMemoryManager), but only once the JVM is up
MIN_DRIVER_HEAP = 450 << 20
# pages one task can address (TaskMemoryManager.PAGE_TABLE_SIZE)
PAGE_TABLE_SIZE = 8192


def jvm_size_bytes(raw: str) -> int | None:
    """Bytes in a JVM size such as ``8g`` (no suffix: bytes, as -Xmx
    reads it); None when ``raw`` is not one."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", raw, re.IGNORECASE)
    return int(m[1]) * _JVM_UNITS[m[2].lower()] if m else None


def _jvm_size_env(name: str, default: str) -> tuple[str, int]:
    """(raw value, bytes) of a driver-heap knob of at least 450 MB."""
    raw = os.environ.get(name, default)
    size = jvm_size_bytes(raw)
    if size is None or size < MIN_DRIVER_HEAP:
        raise ValueError(f"{name} must be a JVM size of at least 450m, such as 8g, got {raw!r}")
    return raw, size


def page_size_bytes(heap_bytes: int) -> int:
    """Tungsten page size for a driver heap (see the module docstring):
    the smallest power of two >= 1 MB such that PAGE_TABLE_SIZE pages
    cover the heap."""
    page = 1 << 20
    while page * PAGE_TABLE_SIZE < heap_bytes:
        page <<= 1
    return page


def get_spark(
    app_name: str = "etl-city-directories-spark",
    cpus: int | None = None,
) -> SparkSession:
    # env knobs are checked before the session is built: getOrCreate on a
    # live session would otherwise write a bad value into its conf
    if cpus is None:
        cpus = int_env("SPARK_GRAFT_CPUS", "32")
    driver_mem, heap_bytes = _jvm_size_env("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # local mode: one shuffle partition per core; AQE coalesces
        # further at runtime. On a real cluster this would be set to
        # ~2-3x total cores and AQE still right-sizes per stage.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call in a
        # call-site capture for richer error messages (a traceback walk
        # plus extra py4j round trips per call: PySparkCurrentOrigin
        # set/clear + a conf read). That is pure driver-side plan-
        # construction overhead (guide §7.3) with zero effect on query
        # results — profiled at ~35-40% of warm construction time on
        # expression-heavy operators. Scale-independent: the same tax
        # exists on a 1000-executor cluster driver. PySpark reads the
        # flag once per process (pyspark.errors.utils), so it is fixed
        # here rather than offered as a knob.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Harmless fallback for events.parquet generations that store
        # ts as INT64 TIMESTAMP(NANOS) (the conf is a no-op for
        # micros/millis files). sources.tables.load_table inspects the
        # actual footer per sf_dir and normalizes ts either way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # pages sized to cover the heap, not to a core's share of it: a
        # consumer holding a few rows pins one page, not 32-64 MB of old
        # generation (module docstring)
        .config("spark.buffer.pageSize", str(page_size_bytes(heap_bytes)))
        # Python workers import the package from its root, whatever the cwd
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    return builder.getOrCreate()


def clone_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` (same runtime conf, same SparkContext) with
    ``conf`` set on top. Frames built in the clone plan and run under
    its conf; the caller's conf is never written."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in conf.items():
        clone.conf.set(key, value)
    return clone

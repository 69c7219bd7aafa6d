"""``get_spark`` rejects a bad env knob before it builds a session, so a
live shared session never receives the bad value; the set of env knobs
is pinned; the session's Tungsten page size follows its heap."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from etl_city_directories_spark.session import (
    PAGE_TABLE_SIZE,
    get_spark,
    jvm_size_bytes,
    page_size_bytes,
)


@pytest.mark.parametrize(
    "knob,value",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "abc"),
        ("SPARK_GRAFT_DRIVER_MEM", "8 GB"),
        # below Spark's 450 MB floor: the JVM or SparkContext would
        # refuse them only once started, without naming the knob
        ("SPARK_GRAFT_DRIVER_MEM", "0"),
        ("SPARK_GRAFT_DRIVER_MEM", "512"),
    ],
)
def test_bad_env_knob_fails_early(spark, monkeypatch, knob, value):
    before = dict(spark.conf.getAll)
    monkeypatch.setenv(knob, value)
    with pytest.raises(ValueError, match=knob):
        get_spark()
    assert dict(spark.conf.getAll) == before


@pytest.mark.parametrize("heap,page_mb", [("2g", 1), ("8g", 1), ("16g", 2), ("64g", 8)])
def test_page_size_rule(heap, page_mb):
    heap_bytes = jvm_size_bytes(heap)
    page = page_size_bytes(heap_bytes)
    assert page == page_mb << 20
    # one task can address the whole heap, so no aggregate runs out of
    # page-table entries before it runs out of memory
    assert page * PAGE_TABLE_SIZE >= heap_bytes


def test_live_session_page_size_follows_its_heap(spark):
    heap_bytes = jvm_size_bytes(spark.conf.get("spark.driver.memory"))
    env = spark._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == page_size_bytes(heap_bytes)


ROOT = pathlib.Path(__file__).resolve().parent.parent
ENV_KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_BENCH_GC_EVERY",
    "SPARK_GRAFT_BENCH_KEYS",
    "SPARK_GRAFT_BENCH_DETAIL",
}


def test_env_knobs_are_pinned():
    """Every ``SPARK_GRAFT_*`` name in a string literal of the package
    or ``bench.py`` is one of the known knobs, and each known knob is
    still read. A new knob has to be added here."""
    files = [*(ROOT / "etl_city_directories_spark").rglob("*.py"), ROOT / "bench.py"]
    found = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                found.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", node.value))
    assert found == ENV_KNOBS

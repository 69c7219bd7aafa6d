"""Pins for the load_table analyzed-relation cache (r10 optimization).

The cache holds lazy plan objects only — it must return the same
relation for an unchanged file (no repeated listing/footer reads), and
a rewritten file (new mtime/size) must produce a fresh relation that
reads the NEW bytes, proving no row/result caching sneaks in.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession

from etl_city_directories_spark.functions import memo
from etl_city_directories_spark.sources import tables


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("test-load-table-cache")
        .getOrCreate()
    )
    yield s


def _write_dir(tmpdir: str, rows) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(tmpdir, exist_ok=True)
    t = pa.table(
        {
            "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "c_name": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(t, f"{tmpdir}/customer.parquet")
    return tmpdir


def test_same_stamp_returns_cached_relation(spark, tmp_path):
    sf = _write_dir(str(tmp_path / "sf"), [(1, "a"), (2, "b")])
    d1 = tables.load_table(spark, sf, "customer")
    d2 = tables.load_table(spark, sf, "customer")
    assert d1 is d2  # identical plan object — no second listing
    assert d1.count() == 2


def test_rewrite_invalidates_and_reads_new_bytes(spark, tmp_path):
    sf = _write_dir(str(tmp_path / "sf2"), [(1, "a"), (2, "b")])
    d1 = tables.load_table(spark, sf, "customer")
    assert d1.count() == 2
    # rewrite with different contents (different size => new stamp)
    _write_dir(sf, [(1, "a"), (2, "b"), (3, "ccc")])
    d2 = tables.load_table(spark, sf, "customer")
    assert d2 is not d1
    assert d2.count() == 3
    # the stale stamp was evicted, not stacked
    assert len([k for k in memo.keys() if k[-3:-1] == (sf, "customer")]) == 1


def test_reset_keeps_relation(spark, tmp_path):
    """A relation is a lazy plan with no rows: ``memo.reset()`` keeps it."""
    sf = _write_dir(str(tmp_path / "sr"), [(1, "a")])
    d1 = tables.load_table(spark, sf, "customer")
    memo.reset()
    assert tables.load_table(spark, sf, "customer") is d1


def test_cache_is_per_sf_dir(spark, tmp_path):
    sa = _write_dir(str(tmp_path / "sa"), [(1, "a")])
    sb = _write_dir(str(tmp_path / "sb"), [(1, "a"), (2, "b")])
    assert tables.load_table(spark, sa, "customer").count() == 1
    assert tables.load_table(spark, sb, "customer").count() == 2

"""functions.memo invalidation: a testdata regeneration (new mtime /
size on the source parquet) must rebuild memoized index artifacts and
cached sinks instead of serving stale ones — the r02 failure mode was
exactly a silent stale assumption surviving a regeneration. Evicting
or resetting an entry must free what it holds."""

from __future__ import annotations

import ast
import collections
import os
import pathlib
import shutil

from pyspark.sql import functions as F

from etl_city_directories_spark.functions import memo
from etl_city_directories_spark.functions.memo import (
    cached_sink_dir,
    memo_df,
    rolling_persist,
    table_stamp,
)


def _copy_table(tmp, name="documents"):
    d = str(tmp)
    shutil.copy(f"/root/testdata/sf0.001/{name}.parquet", d)
    return d


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_rdd(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _live(*prefix) -> list[tuple]:
    """Live keys whose elements just before the last one are ``prefix``."""
    n = len(prefix)
    return [k for k in memo.keys() if k[-n - 1 : -1] == prefix]


def test_table_stamp_changes_on_rewrite(tmp_path):
    d = _copy_table(tmp_path)
    s1 = table_stamp(d, ("documents",))
    # touch mtime (regeneration without size change)
    os.utime(f"{d}/documents.parquet", ns=(1, 1))
    assert table_stamp(d, ("documents",)) != s1


def test_memo_df_rebuilds_on_new_stamp(spark, tmp_path):
    d = _copy_table(tmp_path)
    builds = []

    def build():
        builds.append(1)
        return spark.range(3).select(F.col("id"))

    key1 = ("t", d, table_stamp(d, ("documents",)))
    memo_df(spark, key1, build)
    memo_df(spark, key1, build)  # cache hit
    assert len(builds) == 1
    os.utime(f"{d}/documents.parquet", ns=(2, 2))
    key2 = ("t", d, table_stamp(d, ("documents",)))
    assert key2 != key1
    memo_df(spark, key2, build)  # regeneration → rebuild
    assert len(builds) == 2


def test_memo_df_evicts_superseded_stamp(spark, tmp_path):
    """A mid-process regeneration must REPLACE the old stamp's entry,
    and free its localCheckpoint blocks instead of leaving them pinned
    beside the new one."""
    d = _copy_table(tmp_path)
    key1 = ("evict_t", d, table_stamp(d, ("documents",)))
    old = memo_df(spark, key1, lambda: spark.range(3))
    old_rdd = _checkpoint_rdd(old)
    assert old_rdd in _persistent_rdds(spark)
    assert [k[-1] for k in _live("evict_t", d)] == [key1[-1]]
    os.utime(f"{d}/documents.parquet", ns=(5, 5))
    key2 = ("evict_t", d, table_stamp(d, ("documents",)))
    new = memo_df(spark, key2, lambda: spark.range(4))
    assert [k[-1] for k in _live("evict_t", d)] == [key2[-1]]  # superseded dropped
    persistent = _persistent_rdds(spark)
    assert old_rdd not in persistent  # ... and its blocks freed
    assert _checkpoint_rdd(new) in persistent
    assert new.count() == 4


def test_rolling_persist_replaces_previous(spark):
    """One live persisted artifact per callsite: re-entry releases the
    previous invocation's blocks (storage stays bounded across repeated
    gate/bench runs) and each call still computes the NEW DataFrame."""
    df1 = rolling_persist(spark, ("roll_t", "k"), spark.range(5))
    assert df1.count() == 5
    assert df1.storageLevel.useMemory
    df2 = rolling_persist(spark, ("roll_t", "k"), spark.range(7))
    assert df2.count() == 7
    assert len(_live("roll_t")) == 1
    assert df2.storageLevel.useMemory  # the store holds the new one
    assert not df1.storageLevel.useMemory  # released


_KEYED = ("rolling_persist", "memo_df", "plan_memo", "rolling_dir")


def _literal_key_sites() -> dict[str, list[str]]:
    """Literal first key element -> its callsites ("file:line"), over
    every ``rolling_persist`` / ``memo_df`` / ``plan_memo`` /
    ``rolling_dir`` call in the package whose key is a tuple display
    starting with a string."""
    pkg = pathlib.Path(memo.__file__).resolve().parents[1]
    sites = collections.defaultdict(list)
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name not in _KEYED:
                continue
            key = next((k.value for k in node.keywords if k.arg == "key"),
                       node.args[1] if len(node.args) > 1 else None)
            if (isinstance(key, ast.Tuple) and key.elts
                    and isinstance(key.elts[0], ast.Constant)
                    and isinstance(key.elts[0].value, str)):
                sites[key.elts[0].value].append(
                    f"{path.relative_to(pkg)}:{node.lineno}")
    return sites


def test_each_literal_memo_key_has_one_callsite():
    """A rolling or memo key names one callsite: a second callsite
    under the same key would release (or serve) the first one's frame
    for a different plan."""
    sites = _literal_key_sites()
    assert len(sites) > 40, sorted(sites)  # the scan found the callsites
    shared = {k: v for k, v in sites.items() if len(v) > 1}
    assert not shared, shared


def test_cached_sink_rebuilds_on_new_stamp(tmp_path):
    d = _copy_table(tmp_path)
    writes = []

    def write(p):
        writes.append(p)
        open(os.path.join(p, "marker"), "w").write("x")

    p1 = cached_sink_dir("memo_test", d, ("documents",), write)
    p2 = cached_sink_dir("memo_test", d, ("documents",), write)
    assert p1 == p2 and len(writes) == 1
    os.utime(f"{d}/documents.parquet", ns=(3, 3))
    p3 = cached_sink_dir("memo_test", d, ("documents",), write)
    assert p3 != p1 and len(writes) == 2
    assert not os.path.exists(p1)  # the superseded sink is removed


def test_reset_frees_data_and_keeps_plans(spark, tmp_path):
    """``reset()`` releases every entry that holds data — checkpoint,
    persisted frame, sink dir, driver-side result — so each rebuilds on
    its next call, and keeps lazy plans, which hold no rows."""
    d = _copy_table(tmp_path)
    stamp = table_stamp(d, ("documents",))
    memo.reset()
    baseline = _persistent_rdds(spark)
    builds = {"checkpoint": 0, "sink": 0, "value": 0, "plan": 0}

    def counted(kind, value):
        def build(*_):
            builds[kind] += 1
            return value() if callable(value) else value

        return build

    def make_all():
        ck = memo_df(spark, ("reset_t", d, stamp), counted("checkpoint", lambda: spark.range(3)))
        roll = rolling_persist(spark, ("reset_t", d), spark.range(6))
        assert roll.count() == 6
        sink = cached_sink_dir("reset_t", d, ("documents",), counted("sink", None))
        value = memo.cached(("reset_t", d, stamp), counted("value", 42))
        plan = memo.plan_memo(spark, ("reset_t", d, stamp), counted("plan", lambda: spark.range(2)))
        return ck, roll, sink, value, plan

    ck, roll, sink, value, plan = make_all()
    assert os.path.isdir(sink) and value == 42
    held = _persistent_rdds(spark) - baseline
    assert _checkpoint_rdd(ck) in held and len(held) == 2  # checkpoint + persist

    memo.reset()
    assert _persistent_rdds(spark) <= baseline  # every block freed
    assert not roll.storageLevel.useMemory
    assert not os.path.exists(sink)

    ck2, _, sink2, value2, plan2 = make_all()
    assert builds == {"checkpoint": 2, "sink": 2, "value": 2, "plan": 1}
    assert ck2 is not ck and ck2.count() == 3
    assert os.path.isdir(sink2) and value2 == 42
    assert plan2 is plan
    memo.reset()

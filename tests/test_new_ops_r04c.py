"""Properties for the r04 batch-3 operators: ordered string_agg,
gaps-and-islands, distributed equi-depth histogram."""

import pyspark.sql.functions as F

from etl_city_directories_spark.operators.shaping import q_string_agg
from etl_city_directories_spark.operators.windows import (
    N_DEPTH_BUCKETS,
    q_gaps_islands,
    q_histogram_equidepth,
)
from etl_city_directories_spark.sources.tables import load_table
from tools.plan_audit import fingerprint, plan_of

SF = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"


def test_string_agg_order_and_membership(spark):
    """The joined string is the top-3 by (acctbal desc, custkey), in
    rank order, for every segment."""
    rows = {r["c_mktsegment"]: r for r in q_string_agg(spark, SF).collect()}
    cust = load_table(spark, SF, "customer").collect()
    by_seg = {}
    for c in cust:
        by_seg.setdefault(c["c_mktsegment"], []).append(c)
    for seg, members in by_seg.items():
        expect = [
            c["c_name"]
            for c in sorted(
                members, key=lambda c: (-c["c_acctbal"], c["c_custkey"])
            )[:3]
        ]
        assert rows[seg]["top_customers"] == ", ".join(expect), seg
        assert rows[seg]["n"] == len(expect)


def test_gaps_islands_invariants_and_replay(spark):
    """Engine output equals a per-user Python replay of the island
    definition (consecutive calendar days)."""
    out = {r["user_id"]: r for r in q_gaps_islands(spark, SF_TINY).collect()}
    days = (
        load_table(spark, SF_TINY, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .collect()
    )
    by_user = {}
    for r in days:
        by_user.setdefault(r["user_id"], set()).add(r["day"])
    assert set(out) == set(by_user)
    for uid, dset in by_user.items():
        ordered = sorted(dset)
        islands = [1]
        for prev, cur in zip(ordered, ordered[1:]):
            if (cur - prev).days == 1:
                islands[-1] += 1
            else:
                islands.append(1)
        row = out[uid]
        assert row["n_islands"] == len(islands), uid
        assert row["longest_streak"] == max(islands), uid
        assert row["active_days"] == len(ordered), uid


def test_equidepth_matches_ntile_semantics(spark):
    """Distributed rank + closed-form bucketing must reproduce NTILE
    exactly: fill-first sizes, complete coverage, ordered disjoint
    [lo, hi] ranges."""
    rows = sorted(
        q_histogram_equidepth(spark, SF).collect(), key=lambda r: r["bucket"]
    )
    n = load_table(spark, SF, "orders").count()
    assert [r["bucket"] for r in rows] == list(range(1, N_DEPTH_BUCKETS + 1))
    q, rem = divmod(n, N_DEPTH_BUCKETS)
    expect_sizes = [q + 1] * rem + [q] * (N_DEPTH_BUCKETS - rem)
    assert [r["n_orders"] for r in rows] == expect_sizes
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"] <= b["hi"]


def test_equidepth_no_single_reducer_sort(spark):
    """The DATA path stays distributed: the plan range-partitions the
    orders rows and contains no windowed NTILE (which would force the
    whole table through one reducer)."""
    plan = plan_of(q_histogram_equidepth(spark, SF))
    assert "ntile" not in plan.lower()
    moved = fingerprint(plan).shuffles
    assert any(a.startswith("rangepartitioning") for a, _ in moved), moved


def test_hierarchy_rollup_replay(spark):
    """Pointer doubling equals a Python root-chase of the same derived
    parent relation, and the rollup partitions all orders."""
    from etl_city_directories_spark.operators.scale_ops import (
        HIERARCHY_ROOT_BOUND,
        q_hierarchy_rollup,
    )

    rows = q_hierarchy_rollup(spark, SF_TINY).collect()
    orders = load_table(spark, SF_TINY, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    keys = {r["o_orderkey"] for r in orders}

    def root(k):
        while k >= HIERARCHY_ROOT_BOUND and (k // 10) in keys:
            k = k // 10
        return k

    expect_counts = {}
    for r in orders:
        expect_counts[root(r["o_orderkey"])] = (
            expect_counts.get(root(r["o_orderkey"]), 0) + 1
        )
    got_counts = {r["root"]: r["n_orders"] for r in rows}
    assert got_counts == expect_counts
    assert sum(got_counts.values()) == len(orders)
    assert all(r < HIERARCHY_ROOT_BOUND for r in got_counts)


def test_cross_source_consistent_with_pairs(spark):
    """The audit is exactly the cross-source subset of the verified
    minhash pairs, canonically ordered."""
    from etl_city_directories_spark.operators.dedup import (
        dedup_cross_source,
        dedup_minhash_lsh,
    )

    audit = dedup_cross_source(spark, SF).collect()
    pairs = dedup_minhash_lsh(spark, SF).collect()
    src = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF, "documents").collect()
    }
    expect = {}
    for p in pairs:
        a, b = src[p["doc_a"]], src[p["doc_b"]]
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        expect[key] = expect.get(key, 0) + 1
    got = {(r["source_lo"], r["source_hi"]): r["n_pairs"] for r in audit}
    assert got == expect
    assert all(lo < hi for lo, hi in got)

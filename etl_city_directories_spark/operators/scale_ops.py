"""Scale-pattern operators: the shapes that keep a 100 TB pipeline
healthy — skew-salted aggregation, CUBE summaries, SCD-style upsert
merge, sketch-based approximate distincts, and an explicit-schema CSV
source roundtrip.

Each is oracle-checked where exactly SQL-expressible; the HLL sketch
is tolerance-checked against the exact answer in pytest instead
(tests/test_scale_ops.py).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_city_directories_spark.functions.memo import cached_sink_dir, rolling_persist
from etl_city_directories_spark.functions.numeric import dec2, money_sum
from etl_city_directories_spark.session import clone_session
from etl_city_directories_spark.sources.tables import (
    load_table,
    load_table_parallel,
)

N_SALTS = 16


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-salted aggregation: per-user event totals.

    Phase 1 groups by (user_id, salt) where salt = hash(event_id) mod
    16, so a hot user's rows spread over 16 reducers instead of one;
    phase 2 folds the ≤16 partials per user. Decimal partials stay
    exact, so the result is bit-identical to the unsalted plan the
    oracle runs. At uniform skew this costs one extra tiny shuffle; at
    pathological skew it caps any single reducer's input at 1/16 of
    the hot key — the standard AQE-independent salting pattern.
    """
    events = load_table(spark, sf_dir, "events")
    partial = (
        events.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
        .groupBy("user_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec2("value")).alias("pv"),
        )
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (orderstatus, orderpriority) with grouping id
    — all 2^2 grouping sets in one pass (partial-aggregated map-side,
    one shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("grp_id"),
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(dec2("o_totalprice"), "total_price"),
    )


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-(type, day) rollup kept
    current by MERGING yesterday's materialized partials with today's
    delta instead of recomputing the corpus — the pattern that turns a
    daily 100 TB re-aggregation into an O(delta) job.

    The events stream splits at its midpoint: the first half plays the
    standing materialized aggregate, the second half the newly-arrived
    delta. Both halves aggregate independently (decimal partials —
    count and sum are the mergeable state), then one full-outer merge
    adds them. The oracle aggregates the whole table in one pass, so
    the hash match PROVES merge(partials) ≡ recompute — the algebraic
    property incremental maintenance depends on."""
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).collect()[0]
    split_us = (lo + hi) // 2

    def _partial(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                "event_type", F.to_date("ts").alias("day")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec2("value")).alias("v"),
            )
        )

    base = _partial(events.filter(F.unix_micros("ts") < split_us))
    delta = _partial(events.filter(F.unix_micros("ts") >= split_us))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d,
        (F.col("b.event_type") == F.col("d.event_type"))
        & (F.col("b.day") == F.col("d.day")),
        "full_outer",
    ).select(
        F.coalesce("b.event_type", "d.event_type").alias("event_type"),
        F.coalesce("b.day", "d.day").cast("string").alias("day"),
        (
            F.coalesce("b.n", F.lit(0)) + F.coalesce("d.n", F.lit(0))
        ).cast("bigint").alias("n_events"),
        (
            F.coalesce("b.v", F.lit(0).cast("decimal(18,2)"))
            + F.coalesce("d.v", F.lit(0).cast("decimal(18,2)"))
        ).cast("double").alias("total_value"),
    )
    return merged.orderBy("event_type", "day")


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1-style MERGE: latest purchase value per user upserted into
    the customer snapshot.

    The change stream collapses to one row per key first (row_number
    over ts DESC — one shuffle on the key, no growing state), then a
    single full-outer join applies updates and inserts in one pass.
    This is the batch-incremental pattern: at 100 TB the snapshot and
    the collapsed delta shuffle once each on the same key, and AQE
    handles the delta being ~1000× smaller.
    """
    customer = load_table(spark, sf_dir, "customer")
    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        purchases.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            dec2("value").cast("double").alias("latest_value"),
            F.unix_micros("ts").alias("updated_at_us"),
        )
    )
    return (
        customer.join(
            latest, customer.c_custkey == latest.user_id, "full_outer"
        )
        .select(
            F.coalesce("c_custkey", "user_id").alias("custkey"),
            "c_name",
            dec2("c_acctbal").cast("double").alias("old_acctbal"),
            F.coalesce(
                "latest_value", dec2("c_acctbal").cast("double")
            ).alias("new_balance"),
            F.when(F.col("latest_value").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("was_updated"),
            "updated_at_us",
        )
        .orderBy("custkey")
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: the purchase-event change stream
    becomes validity-interval rows per user — valid_from = event time,
    valid_to = next change (NULL while current), is_current flag.

    One shuffle on the key; the interval assembly is a single lead()
    window pass (no self-join). This is the dimension-history twin of
    q_upsert_merge's SCD1 snapshot.
    """
    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return (
        purchases.select(
            "user_id",
            dec2("value").cast("double").alias("attr_value"),
            F.unix_micros("ts").alias("valid_from_us"),
            F.col("event_id"),
        )
        .withColumn("valid_to_us", F.lead("valid_from_us").over(w))
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .select(
            "user_id", "attr_value", "valid_from_us", "valid_to_us", "is_current"
        )
        .orderBy("user_id", "valid_from_us")
    )


_PROFILE_CAT_COLS = ("o_orderstatus", "o_orderpriority")


def profile_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical twin of profile_numeric: per string column, row /
    null / distinct counts plus the modal value — in ONE fact scan.

    ``stack`` unpivots the scan to (column_name, val); the first
    groupBy collapses to per-(column, value) counts with map-side
    partial aggregation, so everything after it is O(distinct values),
    not O(rows) — the property that keeps column profiling feasible on
    a 100 TB fact table. Counts and the argmax-by-count both derive
    from that one collapsed table (window over column_name).
    """
    o = load_table(spark, sf_dir, "orders")
    stack_args = ", ".join(f"'{c}', {c}" for c in _PROFILE_CAT_COLS)
    stacked = o.selectExpr(
        f"stack({len(_PROFILE_CAT_COLS)}, {stack_args}) as (column_name, val)"
    )
    vc = stacked.groupBy("column_name", "val").agg(F.count(F.lit(1)).alias("cnt"))
    wcol = Window.partitionBy("column_name")
    wtop = Window.partitionBy("column_name").orderBy(
        F.desc("cnt"), F.col("val").asc_nulls_last()
    )
    return (
        vc.withColumn("n_rows", F.sum("cnt").over(wcol))
        .withColumn(
            "n_null",
            F.sum(F.when(F.col("val").isNull(), F.col("cnt")).otherwise(0)).over(
                wcol
            ),
        )
        .withColumn(
            "n_distinct",
            F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0)).over(wcol),
        )
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "column_name",
            "n_rows",
            "n_null",
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.col("val").alias("top_value"),
            F.col("cnt").alias("top_count"),
        )
        .orderBy("column_name")
    )


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via two-level BITMAP
    aggregation (the bitmap-index distinct of Doris/ClickHouse,
    Spark-native since 3.5): ids map to (bucket, bit position), each
    (group, bucket) folds into a fixed-size bitmap map-side, and the
    final count sums popcounts. The shuffle carries bitmaps —
    O(groups × buckets × 4KB) — never raw id values, which is the
    exact-COUNT(DISTINCT) shape that survives a skewed billion-user
    key where the naive distinct shuffles every id occurrence.
    """
    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return (
        events.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias(
                "n_distinct_users"
            )
        )
        .orderBy("event_type")
    )


ERASURE_MOD = 97


def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-list propagation (right-to-be-forgotten sweep): a
    deletion set of user keys is anti-joined through every table that
    carries the key, and the audit reports per-table purge counts —
    the compliance op every data platform runs.

    The deletion list is tiny relative to the corpus → broadcast anti
    join, so each fact table streams through map-side once; the audit
    is three scans (one per table), no shuffles beyond the 1-row
    counts.
    """
    deletions = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % ERASURE_MOD == 0)
        .select(F.col("c_custkey").alias("k"))
    )
    parts = []
    for name, df, key in (
        ("customer", load_table(spark, sf_dir, "customer"), "c_custkey"),
        ("events", load_table(spark, sf_dir, "events"), "user_id"),
        ("orders", load_table(spark, sf_dir, "orders"), "o_custkey"),
    ):
        kept = df.join(
            F.broadcast(deletions), df[key] == deletions.k, "left_anti"
        )
        parts.append(
            df.agg(F.count(F.lit(1)).alias("n_total"))
            .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_remaining")))
            .select(
                F.lit(name).alias("table_name"),
                "n_total",
                (F.col("n_total") - F.col("n_remaining")).alias("n_purged"),
                "n_remaining",
            )
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2]).orderBy(
        "table_name"
    )


def q_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by event_type; joining it to a filtered dim makes
    Catalyst evaluate the dim side FIRST and prune fact partitions by
    the join keys it actually produced —
    ``PartitionFilters: [... dynamicpruningexpression(...)]`` in the
    plan (asserted in tests/test_plans.py). At 100 TB, DPP plus a
    date/category partition layout is what turns a full-table scan
    into reading only the matching directories.

    The partitioned copy is written once per (process, sf_dir, source
    stamp) and reused — the partitioned LAYOUT is the precondition the
    demo queries against, exactly like the bucketed tables: pay the
    layout write once, amortize it over every pruned read
    (memo.cached_sink_dir; a testdata regeneration re-writes).
    """

    def _write(p: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                dec2("value").cast("double").alias("value"),
                "event_type",
            )
            .write.partitionBy("event_type")
            .mode("overwrite")
            .parquet(p)
        )

    out = cached_sink_dir("dpp", sf_dir, ("events",), _write)
    fact = spark.read.parquet(out)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .filter(F.col("event_type").startswith("p"))
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # local test data is KBs; zero the application-side threshold so the
    # optimizer inserts the filter here exactly as it would at TB scale
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def q_bloom_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction: the selective orders
    filter (URGENT only) is condensed into a bloom filter that is
    pushed into the lineitem probe side BEFORE the shuffle — rows that
    can't join are dropped at the scan, so shuffle volume falls by
    ~the filter's selectivity. At 100 TB this (plus DPP) is the
    difference between shuffling the whole fact table and shuffling
    the matching fraction; Catalyst inserts it automatically once the
    creation side is selective (tests/test_plans.py asserts the
    might_contain probe in this frame's plan).

    The join is built in a clone of the caller's session that carries
    ``_BLOOM_CONFS``, so it plans and runs under them while the
    caller's conf stays untouched. The tables are read in the clone:
    ``load_table``'s memoized relations belong to the caller's session.
    The clone reads them with those relations' schemas, so building the
    frame runs no schema-inference job.
    """
    clone = clone_session(spark, _BLOOM_CONFS)

    def read(name: str) -> DataFrame:
        schema = load_table(spark, sf_dir, name).schema
        return clone.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")

    o = read("orders").filter(F.col("o_orderpriority") == "1-URGENT")
    l = read("lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money_sum(dec2("l_extendedprice"), "revenue"),
        )
        .orderBy("l_returnflag")
    )


# Accuracy contracts for the sketch operators (the q_hll_partial_rollup
# device, r05): the sketch binaries aren't replayable in DuckDB, but
# the deterministic skeleton IS, and a per-group boolean asserts the
# estimate landed within tolerance — the oracle hash-checks that every
# group satisfied the contract. HLL++ merges are register-max (order-
# independent) and GK-summary merges are within-bound under ANY merge
# order, so the booleans are partition-layout-stable even though the
# raw estimates may not be.
APPROX_DISTINCT_REL_TOL = 0.05  # rsd 2% sketch, 5% contract ceiling
APPROX_QUANT_REL_TOL = 0.02  # accuracy-10000 sketch, 2% ceiling
APPROX_QUANT_ABS_EPS = 0.01  # one cent: zero-valued exact percentiles
# r10 audit-sampling devices (VERDICT r9 order #5: bound the audit side
# so the headline sketch keys cost sketch + O(sample), not 2× corpus).
# Both moduli are deterministic md5 buckets replayed bit-identically by
# DuckDB (the shuffle_global_permute / er_blocking_quality idiom).
APPROX_QUANT_SAMPLE_MOD = 8  # rank audit reads 1/8 of events
APPROX_DISTINCT_STRATUM_MOD = 4  # exact distinct over 1/4 of users


def _approx_quantiles_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw sketch estimates + exact percentiles (pytest surface)."""
    events = load_table(spark, sf_dir, "events")
    acc = F.lit(10000)
    v = dec2("value").cast("double")
    return events.groupBy("event_type").agg(
        F.percentile_approx(v, F.lit(0.5), acc).alias("a50"),
        F.percentile_approx(v, F.lit(0.9), acc).alias("a90"),
        F.percentile_approx(v, F.lit(0.99), acc).alias("a99"),
        F.round(F.expr("percentile(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles per event type (``percentile_approx``,
    accuracy 10000) — at 100 TB this replaces q_percentiles' exact
    per-group sort with a fixed-size mergeable sketch per partition:
    shuffle volume is O(groups × sketch), independent of row count.

    Oracle-checkable since r09; audit-bounded since r10 (VERDICT r9
    order #5: the r9 version replayed full exact percentiles AND a
    full-corpus rank count — a 2× corpus audit inside the headline
    sketch key). The audit side now reads only the deterministic
    md5(event_id) % APPROX_QUANT_SAMPLE_MOD == 0 sample:

    - skeleton (hash-checked by DuckDB): n_events (full corpus, from
      the same sketch pass), n_sample, and the exact interpolated
      percentiles OF THE SAMPLE (p50_s/p90_s/p99_s) — full-corpus
      exact percentile algebra is already oracle-covered by
      q_percentiles, so repeating it here was pure audit cost;
    - booleans assert the sketch's RANK contract within the sample:
      the full-corpus sketch element's sample-rank window
      [cnt_lt+1, cnt_le] must intersect p·n_s ± slack, where slack =
      n_s/accuracy (the GK guarantee) + 6·sqrt(n_s·p(1-p)) (Binomial
      sampling noise of a rank under md5 subsampling) + 2. A VALUE
      tolerance is the wrong contract — the sketch returns a dataset
      element while the exact percentile interpolates (found at
      sf0.001: p99 booleans flipped); rank is what GK sketches
      guarantee. The sample is a pure function of event_id, so both
      engines and every partition layout agree.

    Cost shape: pass 1 = ONE full-corpus agg (sketch + counts + the
    sampled exact percentiles via null-skipping percentile); pass 2
    aggregates only the 1/8 sample against the broadcast 5-row
    estimate frame. The tight full-corpus tolerance check stays in
    tests/test_scale_ops.py via _approx_quantiles_detail.
    """
    mod = APPROX_QUANT_SAMPLE_MOD
    events = load_table(spark, sf_dir, "events")
    sampled = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % mod == 0
    )
    base = events.select(
        "event_type",
        dec2("value").cast("double").alias("v"),
        sampled.alias("in_sample"),
    ).withColumn("v_s", F.when(F.col("in_sample"), F.col("v")))
    acc = F.lit(10000)
    d = base.groupBy("event_type").agg(
        F.percentile_approx("v", F.lit(0.5), acc).alias("a50"),
        F.percentile_approx("v", F.lit(0.9), acc).alias("a90"),
        F.percentile_approx("v", F.lit(0.99), acc).alias("a99"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sample"),
        F.round(F.expr("percentile(v_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(v_s, 0.9)"), 4).alias("p90_s"),
        F.round(F.expr("percentile(v_s, 0.99)"), 4).alias("p99_s"),
    )
    cnt_cols = []
    for a in ("a50", "a90", "a99"):
        cnt_cols.append(
            F.sum(F.when(F.col("v") < F.col(a), 1).otherwise(0))
            .cast("bigint")
            .alias(f"lt_{a}")
        )
        cnt_cols.append(
            F.sum(F.when(F.col("v") <= F.col(a), 1).otherwise(0))
            .cast("bigint")
            .alias(f"le_{a}")
        )
    audit = (
        base.filter(F.col("in_sample"))
        .join(F.broadcast(d.select("event_type", "a50", "a90", "a99")), "event_type")
        .groupBy("event_type")
        .agg(*cnt_cols)
    )
    joined = d.join(audit, "event_type", "left")

    def ok(a: str, p: float) -> F.Column:
        ns = F.col("n_sample").cast("double")
        slack = (
            ns / F.lit(10000.0)
            + F.lit(6.0) * F.sqrt(ns * F.lit(p * (1.0 - p)))
            + F.lit(2.0)
        )
        target = F.lit(p) * ns
        contract = (
            (F.col(f"lt_{a}").cast("double") + F.lit(1.0) <= target + slack)
            & (F.col(f"le_{a}").cast("double") >= target - slack)
        )
        # a group with zero sampled rows has nothing to audit against
        return F.when(F.col("n_sample") == 0, F.lit(True)).otherwise(contract)

    return joined.select(
        "event_type",
        "n_events",
        "n_sample",
        "p50_s",
        "p90_s",
        "p99_s",
        ok("a50", 0.5).alias("p50_est_ok"),
        ok("a90", 0.9).alias("p90_est_ok"),
        ok("a99", 0.99).alias("p99_est_ok"),
    ).orderBy("event_type")


def _approx_distinct_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HLL++ estimate + exact distinct (pytest surface)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type (rsd
    2%). At 100 TB this replaces the exact-distinct shuffle of every
    user_id with fixed-size mergeable sketches — the only shuffle
    payload is one ~kB sketch per group per partition.

    Oracle-checkable since r09; audit-bounded since r10 (VERDICT r9
    order #5: the r9 version shuffled EVERY distinct (event_type,
    user_id) pair just to audit the sketch — at 100 TB that exact
    distinct is precisely the cost HLL exists to avoid, and the
    full-corpus exact-distinct algebra is already oracle-covered by
    q_distinct_users). The audit side is now a deterministic USER
    stratum — users with md5(user_id) % APPROX_DISTINCT_STRATUM_MOD
    == 0. Each distinct user lands in the stratum as a pure function
    of user_id, so stratum_users·MOD is an unbiased estimator of the
    true distinct count with Binomial sd sqrt(D·(MOD-1)):

    - skeleton (hash-checked by DuckDB): n_events (full) and
      users_s0, the EXACT distinct count within the stratum — a real
      cross-engine distinct computation at 1/MOD the shuffle volume;
    - est_ok asserts |approx − MOD·users_s0| ≤ rel_tol·g +
      6·sqrt(3·g) + MOD with g = greatest(MOD·users_s0, approx, 1):
      the sketch's rsd ceiling plus the stratum's sampling noise.

    One aggregation pass total: count + HLL + single-column
    conditional distinct (Spark's one-distinct plan, no Expand). The
    tight 5% full-corpus tolerance check stays in
    tests/test_scale_ops.py via _approx_distinct_detail.
    """
    mod = APPROX_DISTINCT_STRATUM_MOD
    events = load_table(spark, sf_dir, "events")
    in_stratum = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % mod == 0
    )
    d = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct(F.when(in_stratum, F.col("user_id")))
        .cast("bigint")
        .alias("users_s0"),
    )
    dhat = (F.col("users_s0") * mod).cast("double")
    g = F.greatest(dhat, F.col("approx_users").cast("double"), F.lit(1.0))
    slack = (
        F.lit(APPROX_DISTINCT_REL_TOL) * g
        + F.lit(6.0) * F.sqrt(F.lit(float(mod - 1)) * g)
        + F.lit(float(mod))
    )
    return d.select(
        "event_type",
        "n_events",
        "users_s0",
        (F.abs(F.col("approx_users").cast("double") - dhat) <= slack).alias(
            "est_ok"
        ),
    ).orderBy("event_type")


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema CSV source: write documents as RFC-4180 CSV,
    read back with a declared schema (no inference pass — at scale,
    schema inference is a full extra scan), aggregate per lang.

    quote-doubling escape + multiLine read makes embedded newlines /
    quotes in `text` roundtrip losslessly; the oracle aggregates the
    original parquet, so the check proves the CSV path is lossless.
    The CSV is written once per (process, sf_dir, source stamp) and
    reused — re-materializing identical files per invocation was the
    r02 3.2× bench regression.
    """

    def _write(p: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.write.mode("overwrite")
            .options(header=True, escape='"', quoteAll=True)
            .csv(p)
        )

    path = cached_sink_dir("csv_roundtrip", sf_dir, ("documents",), _write)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = (
        spark.read.options(header=True, escape='"', multiLine=True)
        .schema(schema)
        .csv(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .orderBy("lang")
    )


def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema JSON-lines source: write documents as JSONL,
    read back with a declared schema (inference would cost a full
    extra scan at 100 TB), aggregate per lang. JSON string escaping
    (quotes, control chars, non-ASCII) must roundtrip losslessly —
    the oracle aggregates the original parquet, proving it."""

    def _write(p: str) -> None:
        load_table(spark, sf_dir, "documents").write.mode("overwrite").json(p)

    path = cached_sink_dir("json_roundtrip", sf_dir, ("documents",), _write)
    back = spark.read.schema(_DOCS_SCHEMA).json(path)
    return _roundtrip_rollup(back)


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip — the other columnar format a Spark
    shop meets (Hive estates). Typed columnar write, schema-preserving
    read, same lossless-rollup proof as the CSV/JSON paths; predicate
    pushdown and column pruning work on ORC scans exactly as on
    parquet."""

    def _write(p: str) -> None:
        load_table(spark, sf_dir, "documents").write.mode("overwrite").orc(p)

    path = cached_sink_dir("orc_roundtrip", sf_dir, ("documents",), _write)
    back = spark.read.schema(_DOCS_SCHEMA).orc(path)
    return _roundtrip_rollup(back)


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _roundtrip_rollup(back: DataFrame) -> DataFrame:
    """The lossless-roundtrip proof rollup shared by the CSV/JSON/ORC
    source paths (vs the oracle's rollup of the original parquet)."""
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .orderBy("lang")
    )


N_BUCKETS = 8


def q_bucketed_join(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """Bucketed-table co-located join: orders and lineitem written
    ``bucketBy(8, key)`` + ``sortBy``, then joined with NO exchange on
    either side — the 100 TB pattern for repeated fact-fact joins (pay
    the shuffle once at write time, amortize it over every later
    join). tests/test_plans.py asserts the join has no shuffle.

    Pass ``path`` to force a fresh write there; otherwise the bucketed
    tables are written once per (process, sf_dir, source stamp) — the
    whole point of bucketing is paying the shuffle-at-write ONCE and
    amortizing it over every later join, so the memoized write is the
    semantics, not a shortcut (r02 bench paid 3.1 s/run re-bucketing
    identical data).
    """

    def _write(p: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", dec2("l_extendedprice").alias("price")
        )
        (
            orders.write.bucketBy(N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{p}/bkt_orders")
            .mode("overwrite")
            .saveAsTable("bkt_orders")
        )
        (
            li.write.bucketBy(N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{p}/bkt_lineitem")
            .mode("overwrite")
            .saveAsTable("bkt_lineitem")
        )

    if path is not None:
        _write(path)
        return bucketed_join_df(spark)
    p = cached_sink_dir("bucketed", sf_dir, ("orders", "lineitem"), _write)
    # cache hit in a fresh SparkSession (files on disk, catalog empty,
    # or catalog entry left over from another sf_dir): re-register.
    # Any probe failure — empty file list, or a stale catalog entry
    # pointing at a deleted directory (AnalysisException) — means the
    # registration is unusable; fall back to a fresh write rather than
    # crash the query on the probe itself.
    try:
        stale = not all(
            spark.catalog.tableExists(t) for t in ("bkt_orders", "bkt_lineitem")
        )
        if not stale:
            files = spark.table("bkt_orders").inputFiles()
            stale = not files or p not in files[0]
    except Exception:
        stale = True
    if stale:
        _write(p)
    return bucketed_join_df(spark)


def bucketed_join_df(spark: SparkSession) -> DataFrame:
    """The exchange-free join over the registered bucketed tables."""
    o = spark.table("bkt_orders")
    l = spark.table("bkt_lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass: count/min/max/mean/stddev for every numeric
    fact column in ONE scan (all 15 aggregates in a single partial-
    aggregated pass, then ``stack`` unpivots to long form — at 100 TB a
    per-column loop would scan the fact table |columns| times).

    Mean and stddev derive from exact decimal sums (sum, sum-of-
    squares), so shuffle order can't perturb a bit; the only double
    math is the final fixed-order divide/sqrt, rounded 4dp.
    """
    l = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        d = dec2(c)
        n = F.count(F.lit(1))
        s = F.sum(d).cast("double")
        s2 = F.sum(d * d).cast("double")
        aggs.extend(
            [
                n.alias(f"{c}_n"),
                F.min(d).cast("double").alias(f"{c}_min"),
                F.max(d).cast("double").alias(f"{c}_max"),
                F.round(s / n, 4).alias(f"{c}_mean"),
                F.round(
                    F.sqrt((s2 - F.pow(s, F.lit(2)) / n) / (n - F.lit(1))), 4
                ).alias(f"{c}_std"),
            ]
        )
    stack_args = ", ".join(
        f"'{c}', {c}_n, {c}_min, {c}_max, {c}_mean, {c}_std"
        for c in _PROFILE_COLS
    )
    return (
        l.agg(*aggs)
        .selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " as (column_name, n, min_val, max_val, mean_val, std_val)"
        )
        .orderBy("column_name")
    )


QUERIES = {
    "q_bucketed_join": q_bucketed_join,
    "profile_numeric": profile_numeric,
    "q_skew_salted_agg": q_skew_salted_agg,
    "q_cube_status_priority": q_cube_status_priority,
    "q_upsert_merge": q_upsert_merge,
    "q_incremental_rollup": q_incremental_rollup,
    "q_scd2_history": q_scd2_history,
    "profile_categorical": profile_categorical,
    "q_approx_distinct": q_approx_distinct,
    "q_approx_quantiles": q_approx_quantiles,
    "q_bloom_semi_reduction": q_bloom_semi_reduction,
    "q_dpp_partition_pruned": q_dpp_partition_pruned,
    "q_bitmap_distinct": q_bitmap_distinct,
    "q_gdpr_erasure": q_gdpr_erasure,
    "source_csv_roundtrip": source_csv_roundtrip,
    "source_json_roundtrip": source_json_roundtrip,
    "source_orc_roundtrip": source_orc_roundtrip,
}

_PROFILE_ORACLE = "\n        UNION ALL\n".join(
    f"""
        SELECT '{c}' AS column_name,
               COUNT(*) AS n,
               MIN({c}::DECIMAL(18,2))::DOUBLE AS min_val,
               MAX({c}::DECIMAL(18,2))::DOUBLE AS max_val,
               ROUND(SUM({c}::DECIMAL(18,2))::DOUBLE / COUNT(*), 4) AS mean_val,
               ROUND(sqrt((SUM({c}::DECIMAL(18,2) * {c}::DECIMAL(18,2))::DOUBLE
                           - POW(SUM({c}::DECIMAL(18,2))::DOUBLE, 2) / COUNT(*))
                          / (COUNT(*) - 1)), 4) AS std_val
        FROM lineitem"""
    for c in _PROFILE_COLS
)

ORACLES = {
    # sketch contracts (see the operators' docstrings): DuckDB replays
    # the deterministic skeleton and asserts every group's boolean
    "q_approx_distinct": f"""
        SELECT event_type,
               COUNT(*)::BIGINT AS n_events,
               COUNT(DISTINCT CASE
                 WHEN CAST(('0x' || substring(md5(user_id::VARCHAR), 1, 8))
                      AS BIGINT) % {APPROX_DISTINCT_STRATUM_MOD} = 0
                 THEN user_id END)::BIGINT AS users_s0,
               TRUE AS est_ok
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q_approx_quantiles": f"""
        WITH base AS (
          SELECT event_type,
                 CAST(value AS DECIMAL(18,2))::DOUBLE AS v,
                 (CAST(('0x' || substring(md5(event_id::VARCHAR), 1, 8))
                       AS BIGINT) % {APPROX_QUANT_SAMPLE_MOD} = 0)
                   AS in_sample
          FROM events
        )
        SELECT event_type,
               COUNT(*)::BIGINT AS n_events,
               COUNT(*) FILTER (in_sample)::BIGINT AS n_sample,
               ROUND(quantile_cont(CASE WHEN in_sample THEN v END, 0.5), 4) AS p50_s,
               ROUND(quantile_cont(CASE WHEN in_sample THEN v END, 0.9), 4) AS p90_s,
               ROUND(quantile_cont(CASE WHEN in_sample THEN v END, 0.99), 4) AS p99_s,
               TRUE AS p50_est_ok,
               TRUE AS p90_est_ok,
               TRUE AS p99_est_ok
        FROM base
        GROUP BY event_type
        ORDER BY event_type
    """,
    # bucketing must not change the join result
    "q_bucketed_join": """
        SELECT o_orderstatus,
               COUNT(*) AS n_lines,
               SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS total_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "profile_numeric": f"""
        SELECT * FROM (
        {_PROFILE_ORACLE}
        ) ORDER BY column_name
    """,
    # the salted two-phase plan must be bit-identical to the plain agg
    "q_skew_salted_agg": """
        SELECT user_id,
               COUNT(*) AS n_events,
               SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    "q_cube_status_priority": """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS grp_id,
               COUNT(*) AS n_orders,
               SUM(o_totalprice::DECIMAL(18,2))::DOUBLE AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "q_upsert_merge": """
        WITH latest AS (
          SELECT user_id,
                 value::DECIMAL(18,2)::DOUBLE AS latest_value,
                 epoch_us(ts) AS updated_at_us
          FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase'
          ) WHERE rn = 1
        )
        SELECT
          COALESCE(c_custkey, user_id) AS custkey,
          c_name,
          c_acctbal::DECIMAL(18,2)::DOUBLE AS old_acctbal,
          COALESCE(latest_value, c_acctbal::DECIMAL(18,2)::DOUBLE)
            AS new_balance,
          CASE WHEN latest_value IS NOT NULL THEN 1 ELSE 0 END::BIGINT
            AS was_updated,
          updated_at_us
        FROM customer FULL OUTER JOIN latest ON c_custkey = user_id
        ORDER BY custkey
    """,
    "q_bitmap_distinct": """
        SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_distinct_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q_gdpr_erasure": f"""
        WITH del AS (
          SELECT c_custkey AS k FROM customer WHERE c_custkey % {ERASURE_MOD} = 0
        )
        SELECT * FROM (
          SELECT 'customer' AS table_name,
                 (SELECT COUNT(*) FROM customer) AS n_total,
                 (SELECT COUNT(*) FROM customer JOIN del ON c_custkey = k)
                   AS n_purged,
                 (SELECT COUNT(*) FROM customer
                  WHERE c_custkey NOT IN (SELECT k FROM del)) AS n_remaining
          UNION ALL
          SELECT 'events',
                 (SELECT COUNT(*) FROM events),
                 (SELECT COUNT(*) FROM events JOIN del ON user_id = k),
                 (SELECT COUNT(*) FROM events
                  WHERE user_id NOT IN (SELECT k FROM del))
          UNION ALL
          SELECT 'orders',
                 (SELECT COUNT(*) FROM orders),
                 (SELECT COUNT(*) FROM orders JOIN del ON o_custkey = k),
                 (SELECT COUNT(*) FROM orders
                  WHERE o_custkey NOT IN (SELECT k FROM del))
        ) ORDER BY table_name
    """,
    "q_dpp_partition_pruned": """
        SELECT event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
        FROM events
        WHERE event_type LIKE 'p%'
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q_bloom_semi_reduction": """
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "profile_categorical": f"""
        WITH s AS (
          {" UNION ALL ".join(f"SELECT '{c}' AS column_name, {c} AS val FROM orders" for c in _PROFILE_CAT_COLS)}
        ),
        vc AS (
          SELECT column_name, val, COUNT(*) AS cnt
          FROM s GROUP BY column_name, val
        ),
        agg AS (
          SELECT column_name, val, cnt,
                 SUM(cnt) OVER (PARTITION BY column_name) AS n_rows,
                 SUM(CASE WHEN val IS NULL THEN cnt ELSE 0 END)
                   OVER (PARTITION BY column_name) AS n_null,
                 SUM(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY column_name) AS n_distinct,
                 ROW_NUMBER() OVER (
                   PARTITION BY column_name
                   ORDER BY cnt DESC, val ASC NULLS LAST
                 ) AS rn
          FROM vc
        )
        SELECT column_name, n_rows::BIGINT AS n_rows, n_null::BIGINT AS n_null,
               n_distinct::BIGINT AS n_distinct,
               val AS top_value, cnt AS top_count
        FROM agg WHERE rn = 1
        ORDER BY column_name
    """,
    "q_scd2_history": """
        SELECT user_id,
               value::DECIMAL(18,2)::DOUBLE AS attr_value,
               epoch_us(ts) AS valid_from_us,
               LEAD(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS valid_to_us,
               LEAD(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) IS NULL AS is_current
        FROM events
        WHERE event_type = 'purchase'
        ORDER BY user_id, valid_from_us
    """,
    "q_incremental_rollup": """
        SELECT
          event_type,
          CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
          COUNT(*)::BIGINT AS n_events,
          SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY event_type, day
    """,
    "source_csv_roundtrip": """
        SELECT lang,
               COUNT(*) AS n_docs,
               SUM(n_chars)::BIGINT AS total_chars,
               SUM(LENGTH(text))::BIGINT AS total_text_len
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    "source_json_roundtrip": """
        SELECT lang,
               COUNT(*) AS n_docs,
               SUM(n_chars)::BIGINT AS total_chars,
               SUM(LENGTH(text))::BIGINT AS total_text_len
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    "source_orc_roundtrip": """
        SELECT lang,
               COUNT(*) AS n_docs,
               SUM(n_chars)::BIGINT AS total_chars,
               SUM(LENGTH(text))::BIGINT AS total_text_len
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
}


# ---------------------------------------------------------------------------
# r04 session 2: z-order layout clustering + mergeable-sketch rollup
# ---------------------------------------------------------------------------

ZORDER_BITS = 8          # 8 bits per dimension -> 16-bit z-value
ZORDER_BUCKET_DIV = 256  # 16-bit z-space div 256 -> 256 layout buckets
_ZORDER_EPOCH = "1992-01-01"


def _morton_col(x, y):
    """16-bit Morton interleave of two 8-bit columns, built as a static
    chain of shift/mask/or expressions — pure JVM bitwise ops inside
    whole-stage codegen, and exactly replayable as the same 16-term
    integer sum in any SQL dialect."""
    z = F.lit(0)
    for i in range(ZORDER_BITS):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout clustering over orders on
    (o_custkey, o_orderdate) — the multi-dimensional data-layout
    optimization behind Delta/Iceberg OPTIMIZE ZORDER BY: interleave
    the bits of both dimensions, range-partition on the interleaved
    key, and every file's min/max footer stats become narrow in BOTH
    dimensions at once, so scans filtered on either column skip most
    files.

    The operator emits the per-bucket layout statistics a table
    optimizer would write as footer metadata: row count and min/max of
    each dimension per z-bucket. Because a z-bucket fixes the top
    ZORDER_BITS/2 bits of each dimension, within-bucket spans are
    bounded by 2^(ZORDER_BITS/2) - 1 = 15 of 256 dimension values —
    the data-skipping guarantee, asserted in pytest. Everything is one
    map-side bit-twiddle plus one partial-aggregated groupBy; the
    physical write (repartitionByRange(z).sortWithinPartitions(z))
    shares the identical key and is exercised in tests."""
    orders = load_table(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(1 << ZORDER_BITS)).cast("int")
    y = F.pmod(
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit(_ZORDER_EPOCH))),
        F.lit(1 << ZORDER_BITS),
    ).cast("int")
    z = _morton_col(x, y)
    return (
        orders.select(
            x.alias("x"), y.alias("y"), (z / F.lit(ZORDER_BUCKET_DIV)).cast("int").alias("zbucket")
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .withColumn("x_span", (F.col("max_x") - F.col("min_x")).cast("bigint"))
        .withColumn("y_span", (F.col("max_y") - F.col("min_y")).cast("bigint"))
        .orderBy("zbucket")
    )


HLL_LGK = 12
# lgK=12 → ~1.6% RSE; 2% covers the observed deterministic error at
# every test SF (0 at sf≤0.01 where the sketch is sparse-exact, 0.8%
# at sf0.1) with margin — the accuracy CONTRACT the oracle hash-checks
HLL_REL_TOL = 0.02


def _hll_rollup_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sketch-vs-exact detail behind q_hll_partial_rollup: the
    raw est_merged / est_direct estimates next to the countDistinct
    ground truth. pytest asserts the tolerances on THIS frame; the
    public query projects the oracle-checkable skeleton from it.

    Note merged-vs-direct equality is NOT an invariant: once the
    sketch leaves sparse mode (sf0.1's 1500 users/type), union of
    daily partials and one direct aggregation legally land on
    different-but-both-in-tolerance estimates (1488 vs direct at
    sf0.1) — only the exact-mode small-SF runs match bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    partials = (
        ev.select("event_type", day, "user_id")
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"))
    )
    merged = partials.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
        ).alias("est_direct"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("est_merged").cast("bigint").alias("est_merged"),
            F.col("est_direct").cast("bigint").alias("est_direct"),
            F.col("exact_users").cast("bigint").alias("exact_users"),
            F.round(
                F.abs(F.col("est_merged") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err_merged"),
            F.round(
                F.abs(F.col("est_direct") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err_direct"),
        )
        .orderBy("event_type")
    )


def q_hll_partial_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark 4's hll_sketch_agg / hll_union_agg): build one per-day
    partial sketch of distinct users per event type, then MERGE the
    partials into per-type totals — the incremental-rollup pattern for
    COUNT(DISTINCT) that makes 100 TB dashboards possible (daily
    partials are tiny, re-aggregation unions sketches instead of
    rescanning raw events; distinct counts don't sum, sketches do).

    Oracle-checkable since r05 (was rows-only): the DataSketches
    binaries themselves aren't replayable in DuckDB, but the output's
    deterministic skeleton IS — n_days and exact_users are plain
    aggregates DuckDB recomputes independently, and the two accuracy
    booleans assert the sketch CONTRACT (merged / direct estimate each
    within HLL_REL_TOL of exact). Murmur hashing is seed-fixed, so for
    given data the estimates — hence the booleans — are deterministic;
    the oracle hash-checks that every group satisfied the contract.
    Raw estimates stay available via _hll_rollup_detail for pytest."""
    return _hll_rollup_detail(spark, sf_dir).select(
        "event_type",
        "n_days",
        "exact_users",
        (F.col("rel_err_merged") <= HLL_REL_TOL).alias("merged_est_ok"),
        (F.col("rel_err_direct") <= HLL_REL_TOL).alias("direct_est_ok"),
    )


QUERIES["q_zorder_layout"] = q_zorder_layout
QUERIES["q_hll_partial_rollup"] = q_hll_partial_rollup

ORACLES["q_hll_partial_rollup"] = """
    SELECT event_type,
           COUNT(DISTINCT CAST(ts AS DATE))::BIGINT AS n_days,
           COUNT(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS merged_est_ok,
           TRUE AS direct_est_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

ORACLES["q_zorder_layout"] = f"""
    WITH pts AS (
      SELECT o_custkey % {1 << ZORDER_BITS} AS x,
             date_diff('day', DATE '{_ZORDER_EPOCH}', o_orderdate)
               % {1 << ZORDER_BITS} AS y
      FROM orders
    ),
    zed AS (
      SELECT x, y, ({_morton_sql("x", "y")}) // {ZORDER_BUCKET_DIV} AS zbucket
      FROM pts
    )
    SELECT zbucket::INT AS zbucket,
           COUNT(*)::BIGINT AS n_rows,
           MIN(x)::INT AS min_x, MAX(x)::INT AS max_x,
           MIN(y)::INT AS min_y, MAX(y)::INT AS max_y,
           (MAX(x) - MIN(x))::BIGINT AS x_span,
           (MAX(y) - MIN(y))::BIGINT AS y_span
    FROM zed
    GROUP BY zbucket
    ORDER BY zbucket
"""


# ---------------------------------------------------------------------------
# r04 session 2: CDC apply + snapshot reconciliation
# ---------------------------------------------------------------------------

# event_type → change-op code (stand-in for a Debezium/Delta-CDF `op`
# column: the testdata has no real op codes, so the mapping is fixed
# and documented — the operator's semantics are the point)
_CDC_OPS = {"signup": "I", "purchase": "U", "error": "D"}


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture feed to materialize current state —
    the Delta/Iceberg MERGE-from-CDF pattern: for each key take the
    LATEST op in (ts, event_id) order; a trailing delete removes the
    key, otherwise the last insert/update wins. One window pass
    partitioned by the key (the only shuffle, on the merge key — the
    same exchange a MERGE INTO would perform), then a partial-agg'd
    per-key rollup of op counts.

    At 100 TB the feed would be partitioned by key range and this plan
    is unchanged: no driver-side state, ties impossible (event_id is
    unique), and the window + groupBy share the user_id exchange."""
    op = F.create_map(
        *[F.lit(x) for kv in _CDC_OPS.items() for x in kv]
    )[F.col("event_type")]
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_CDC_OPS))
        .select("user_id", "ts", "event_id", "value", op.alias("op"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.withColumn("rn", F.row_number().over(w))
    state = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_inserts"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("n_updates"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
        F.max(F.when(F.col("rn") == 1, F.col("op"))).alias("last_op"),
        F.max(F.when(F.col("rn") == 1, F.round("value", 2))).alias(
            "last_value"
        ),
        F.max(F.when(F.col("rn") == 1, F.unix_micros("ts"))).alias(
            "last_ts_us"
        ),
    )
    return (
        state.filter(F.col("last_op") != "D")
        .select(
            "user_id",
            "last_op",
            "last_value",
            F.col("last_ts_us").cast("bigint").alias("last_ts_us"),
            F.col("n_ops").cast("bigint").alias("n_ops"),
            F.col("n_inserts").cast("bigint").alias("n_inserts"),
            F.col("n_updates").cast("bigint").alias("n_updates"),
            F.col("n_deletes").cast("bigint").alias("n_deletes"),
        )
        .orderBy("user_id")
    )


_SNAP_A = ("2024-01-08", "2024-01-15")
_SNAP_B = ("2024-01-22", "2024-01-29")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (table diff): classify every key as
    added / removed / changed / unchanged between two per-key activity
    snapshots — the data-quality primitive behind migration validation
    and replica drift checks. Each snapshot is one partial-aggregated
    scan; the diff is a single full-outer hash join on the key, and
    the classification is a map-side CASE over the joined row. At
    100 TB both aggregates and the join shuffle on the same key, so
    AQE coalesces the exchanges; nothing is collected.

    Absent keys surface as zero-count rows (COALESCE) rather than
    nullable metric columns, so the added/removed classes stay typed
    and cross-engine hashing is stable."""

    def snap(lo: str, hi: str) -> DataFrame:
        return (
            load_table(spark, sf_dir, "events")
            .filter(
                (F.col("ts") >= F.to_timestamp(F.lit(lo)))
                & (F.col("ts") < F.to_timestamp(F.lit(hi)))
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total"),
            )
        )

    a = snap(*_SNAP_A).select(
        "user_id", F.col("n").alias("n_a"), F.col("total").alias("sum_a")
    )
    b = snap(*_SNAP_B).select(
        "user_id", F.col("n").alias("n_b"), F.col("total").alias("sum_b")
    )
    j = a.join(b, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        F.coalesce("sum_a", F.lit(0.0)).alias("sum_a"),
        F.coalesce("sum_b", F.lit(0.0)).alias("sum_b"),
    )
    status = (
        F.when(F.col("n_a") == 0, "added")
        .when(F.col("n_b") == 0, "removed")
        .when(
            (F.col("n_a") != F.col("n_b"))
            | (F.col("sum_a") != F.col("sum_b")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return j.withColumn("status", status).orderBy("user_id")


QUERIES["q_cdc_apply"] = q_cdc_apply
QUERIES["q_snapshot_diff"] = q_snapshot_diff

_CDC_OP_CASE = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in _CDC_OPS.items()
) + " END"

ORACLES["q_cdc_apply"] = f"""
    WITH feed AS (
      SELECT user_id, ts, event_id, value, {_CDC_OP_CASE} AS op,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
      WHERE event_type IN ({", ".join(f"'{k}'" for k in _CDC_OPS)})
    ),
    state AS (
      SELECT user_id,
             COUNT(*)::BIGINT AS n_ops,
             SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END)::BIGINT AS n_inserts,
             SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END)::BIGINT AS n_updates,
             SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END)::BIGINT AS n_deletes,
             MAX(CASE WHEN rn = 1 THEN op END) AS last_op,
             MAX(CASE WHEN rn = 1 THEN ROUND(value, 2) END) AS last_value,
             MAX(CASE WHEN rn = 1 THEN epoch_us(ts) END)::BIGINT
               AS last_ts_us
      FROM feed GROUP BY user_id
    )
    SELECT user_id, last_op, last_value, last_ts_us,
           n_ops, n_inserts, n_updates, n_deletes
    FROM state WHERE last_op != 'D'
    ORDER BY user_id
"""

ORACLES["q_snapshot_diff"] = f"""
    WITH a AS (
      SELECT user_id, COUNT(*)::BIGINT AS n_a,
             ROUND(SUM(value), 2) AS sum_a
      FROM events
      WHERE ts >= TIMESTAMP '{_SNAP_A[0]}' AND ts < TIMESTAMP '{_SNAP_A[1]}'
      GROUP BY user_id
    ),
    b AS (
      SELECT user_id, COUNT(*)::BIGINT AS n_b,
             ROUND(SUM(value), 2) AS sum_b
      FROM events
      WHERE ts >= TIMESTAMP '{_SNAP_B[0]}' AND ts < TIMESTAMP '{_SNAP_B[1]}'
      GROUP BY user_id
    ),
    j AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             COALESCE(n_a, 0)::BIGINT AS n_a,
             COALESCE(n_b, 0)::BIGINT AS n_b,
             COALESCE(sum_a, 0.0) AS sum_a,
             COALESCE(sum_b, 0.0) AS sum_b
      FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    )
    SELECT user_id, n_a, n_b, sum_a, sum_b,
           CASE WHEN n_a = 0 THEN 'added'
                WHEN n_b = 0 THEN 'removed'
                WHEN n_a != n_b OR sum_a != sum_b THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM j
    ORDER BY user_id
"""


def q_bitmap_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap set algebra between event types, computed
    entirely on BITMAPS (the bitmap-index pattern of q_bitmap_distinct
    extended to set operations): per-(type, bucket) bitmaps fold
    map-side, pair union counts come from ``bitmap_or_agg`` over the
    two types' bucket bitmaps, and intersection follows exactly by
    inclusion-exclusion |A∩B| = |A| + |B| − |A∪B| (Spark ships no
    bitmap_and_agg; inclusion-exclusion needs none). The shuffle
    carries O(pairs × buckets × 4KB) bitmaps — never raw ids — which
    is how audience-overlap dashboards stay exact at a billion users.
    Jaccard overlap rounds to 4dp for the cross-engine hash."""
    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    base = (
        events.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    base = rolling_persist(spark, ("bitmap_base", sf_dir), base)
    counts = base.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n")
    )
    types = base.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    unions = (
        base.join(
            F.broadcast(pairs),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("u"))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.expr("bitmap_count(u)")).cast("bigint").alias("n_union"))
    )
    ca = counts.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        unions.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_union",
            (F.col("n_a") + F.col("n_b") - F.col("n_union"))
            .cast("bigint")
            .alias("n_intersect"),
            F.round(
                (F.col("n_a") + F.col("n_b") - F.col("n_union")).cast("double")
                / F.col("n_union").cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


QUERIES["q_bitmap_set_algebra"] = q_bitmap_set_algebra

ORACLES["q_bitmap_set_algebra"] = """
    WITH types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    counts AS (
      SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n
      FROM events GROUP BY event_type
    ),
    unions AS (
      SELECT p.type_a, p.type_b,
             COUNT(DISTINCT e.user_id)::BIGINT AS n_union
      FROM pairs p
      JOIN events e ON e.event_type IN (p.type_a, p.type_b)
      GROUP BY p.type_a, p.type_b
    )
    SELECT u.type_a, u.type_b, ca.n AS n_a, cb.n AS n_b, u.n_union,
           (ca.n + cb.n - u.n_union)::BIGINT AS n_intersect,
           ROUND((ca.n + cb.n - u.n_union)::DOUBLE / u.n_union::DOUBLE, 4)
             AS jaccard
    FROM unions u
    JOIN counts ca ON ca.event_type = u.type_a
    JOIN counts cb ON cb.event_type = u.type_b
    ORDER BY u.type_a, u.type_b
"""


# ---------------------------------------------------------------------------
# r04 session 3: recursive hierarchy rollup via pointer doubling
# ---------------------------------------------------------------------------

HIERARCHY_ROOT_BOUND = 1000   # keys below this are forest roots
HIERARCHY_DOUBLING_ROUNDS = 5  # 2^5 = 32 >= any int64 div-10 chain depth


def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy rollup (BOM / org-chart shape): every order
    rolls up to the root of its ancestor chain, where the parent
    relation is derived from the key itself (parent = key/10 while the
    parent key exists and key >= 1000) — the derived-forest analogue
    of the FK-faithful derived partsupp.

    A recursive CTE is the single-node way to chase parent pointers;
    the distributed way is POINTER DOUBLING: after r self-joins on the
    (k, p) link table each pointer has jumped 2^r ancestors, so any
    int64 div-10 chain (depth <= 19) resolves in 5 rounds — O(log
    depth) shuffles of narrow rows, each a plain equi-join Catalyst
    plans like any other, vs the O(depth) dependent scans of naive
    chasing. Roots self-map, so converged pointers are fixpoints and
    extra rounds are no-ops. The DuckDB oracle chases the same links
    with WITH RECURSIVE; min over the reachable set is the root
    because parents strictly decrease along a chain.
    """
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k"))
    cand = keys.withColumn("p0", F.floor(F.col("k") / 10).cast("bigint"))
    links = (
        cand.join(
            keys.select(F.col("k").alias("pk")),
            (F.col("p0") == F.col("pk"))
            & (F.col("k") >= HIERARCHY_ROOT_BOUND),
            "left",
        )
        .select("k", F.coalesce("pk", "k").alias("p"))
    )
    # rounds needed: pointer doubling jumps 2^r ancestors, and the
    # div-10 chain from the largest key to the root bound is
    # digits(max) - digits(bound) + 1 hops — one scalar agg (same
    # bounded collect as the CC convergence probe) sizes the loop,
    # so small keyspaces don't pay no-op rounds and huge ones still
    # converge; HIERARCHY_DOUBLING_ROUNDS stays the int64 cap.
    max_k = orders.agg(F.max("o_orderkey")).collect()[0][0] or 0
    depth_bound = max(
        1, len(str(max(max_k, 1))) - len(str(HIERARCHY_ROOT_BOUND)) + 1
    )
    rounds = min(
        HIERARCHY_DOUBLING_ROUNDS, (depth_bound - 1).bit_length()
    )
    ptr = rolling_persist(spark, ("hier_links", sf_dir), links)
    for i in range(rounds):
        hop = ptr.select(F.col("k").alias("hk"), F.col("p").alias("hp"))
        doubled = ptr.join(hop, ptr.p == F.col("hk")).select(
            "k", F.col("hp").alias("p")
        )
        # persist each round: the self-join otherwise re-expands the
        # whole 2^i-join lineage on BOTH sides (exponential plan)
        ptr = rolling_persist(spark, ("hier_ptr", sf_dir, i), doubled)
    return (
        orders.join(ptr, orders.o_orderkey == ptr.k)
        .groupBy(F.col("p").alias("root"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(dec2("o_totalprice"), "total_value"),
        )
        .orderBy("root")
    )


QUERIES["q_hierarchy_rollup"] = q_hierarchy_rollup

ORACLES["q_hierarchy_rollup"] = f"""
    WITH RECURSIVE ks AS (SELECT o_orderkey AS k FROM orders),
    links AS (
      SELECT c.k, COALESCE(p.pk, c.k) AS p
      FROM (SELECT k, k // 10 AS p0 FROM ks) c
      LEFT JOIN (SELECT k AS pk FROM ks) p
        ON c.p0 = p.pk AND c.k >= {HIERARCHY_ROOT_BOUND}
    ),
    ch(k, r) AS (
      SELECT k, p FROM links
      UNION
      SELECT ch.k, links.p FROM ch JOIN links ON links.k = ch.r
    ),
    roots AS (
      SELECT k, MIN(r) AS root FROM ch GROUP BY k
    )
    SELECT root,
           COUNT(*) AS n_orders,
           SUM(o_totalprice::DECIMAL(18,2))::DOUBLE AS total_value
    FROM orders JOIN roots ON roots.k = o_orderkey
    GROUP BY root
    ORDER BY root
"""


# ---------------------------------------------------------------------------
# r05: declarative data-quality rule audit (Deequ-style constraint suite)
# ---------------------------------------------------------------------------


def profile_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite audit over the warehouse tables (the
    Deequ/Great-Expectations shape): each rule reports rows checked,
    violations, and a pass flag.

    Scale shape: ONE scan per table — all of a table's rules are
    conditional sums inside a single aggregate (uniqueness via
    count-distinct in the same pass), and the referential-integrity
    rule is a broadcast-dim anti-join count, so the audit costs
    max(table scans), not rules × scans."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    li = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("v_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.11), 1).otherwise(0)
        ).alias("v_disc"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("v_price"),
    ).collect()[0]
    od = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("v_total"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_uniq"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("v_null"),
    ).collect()[0]
    ri = (
        orders.join(
            F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        ).count()
    )
    cu = customer.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)).alias("v_null"),
    ).collect()[0]

    rows = [
        ("lineitem.l_quantity in [1,50]", int(li["n"]), int(li["v_qty"])),
        ("lineitem.l_discount in [0,0.11]", int(li["n"]), int(li["v_disc"])),
        ("lineitem.l_extendedprice > 0", int(li["n"]), int(li["v_price"])),
        ("orders.o_totalprice > 0", int(od["n"]), int(od["v_total"])),
        ("orders.o_orderkey unique", int(od["n"]), int(od["v_uniq"])),
        ("orders.o_orderdate not null", int(od["n"]), int(od["v_null"])),
        ("orders.o_custkey references customer", int(od["n"]), int(ri)),
        ("customer.c_acctbal not null", int(cu["n"]), int(cu["v_null"])),
    ]
    return spark.createDataFrame(
        [(r, n, v, v == 0) for r, n, v in rows],
        "rule string, n_checked bigint, n_violations bigint, passed boolean",
    ).orderBy("rule")


QUERIES["profile_dq_rules"] = profile_dq_rules

ORACLES["profile_dq_rules"] = """
    WITH li AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT AS v_qty,
             SUM(CASE WHEN l_discount < 0 OR l_discount > 0.11 THEN 1 ELSE 0 END)::BIGINT AS v_disc,
             SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS v_price
      FROM lineitem
    ),
    od AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS v_total,
             (COUNT(*) - COUNT(DISTINCT o_orderkey))::BIGINT AS v_uniq,
             SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null
      FROM orders
    ),
    ri AS (
      SELECT COUNT(*)::BIGINT AS v FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    ),
    cu AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null
      FROM customer
    ),
    rules AS (
      SELECT 'lineitem.l_quantity in [1,50]' AS rule, n AS n_checked, v_qty AS n_violations FROM li
      UNION ALL SELECT 'lineitem.l_discount in [0,0.11]', n, v_disc FROM li
      UNION ALL SELECT 'lineitem.l_extendedprice > 0', n, v_price FROM li
      UNION ALL SELECT 'orders.o_totalprice > 0', n, v_total FROM od
      UNION ALL SELECT 'orders.o_orderkey unique', n, v_uniq FROM od
      UNION ALL SELECT 'orders.o_orderdate not null', n, v_null FROM od
      UNION ALL SELECT 'orders.o_custkey references customer', (SELECT n FROM od), v FROM ri
      UNION ALL SELECT 'customer.c_acctbal not null', n, v_null FROM cu
    )
    SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
    FROM rules ORDER BY rule
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-to-dim join: per-segment event revenue.

    The join-side twin of ``q_skew_salted_agg``: the dim is replicated
    across N_SALTS salt values (an O(|dim| x N_SALTS) explode — still
    dimension-sized) and each fact row picks one deterministic salt, so
    the join key becomes (key, salt) and a hot key's rows land on
    N_SALTS reducers instead of one. ``hint("merge")`` pins the
    sort-merge path the pattern exists for — at 100 TB the dim side
    exceeds any broadcast threshold, and this layout caps a hot user's
    reducer input at 1/N_SALTS with no AQE dependence. Decimal partials
    keep the result bit-identical to the oracle's unsalted join.
    """
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_dim = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    fact = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).cast("int")
    )
    joined = fact.hint("merge").join(
        salted_dim,
        (fact["user_id"] == salted_dim["c_custkey"])
        & (fact["salt"] == salted_dim["salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(dec2("value"), "total_value"),
        )
        .orderBy("c_mktsegment")
    )


K_ANON = 5  # groups smaller than this are re-identification risks


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers.

    The release-gating privacy check a training-data pipeline runs
    before shipping tabular data: group by the quasi-identifier tuple
    (segment, nation, account-balance band) and flag every group whose
    population is below k — those rows could be re-identified by an
    adversary who knows the quasi-identifiers. One map-side-combined
    shuffle on the QI tuple; the risky-row total is a scalar broadcast
    away. Band edges are integer floors, so no float boundary flips.
    """
    cust = load_table(spark, sf_dir, "customer")
    groups = (
        cust.withColumn(
            "acctbal_band",
            F.floor(dec2("c_acctbal") / 2000).cast("bigint") * 2000,
        )
        .groupBy("c_mktsegment", "c_nationkey", "acctbal_band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        groups.select(
            "c_mktsegment",
            "c_nationkey",
            "acctbal_band",
            "n",
            (F.col("n") < K_ANON).alias("risky"),
        )
        .filter(F.col("n") < K_ANON)
        .orderBy("c_mktsegment", "c_nationkey", "acctbal_band")
    )


QUERIES["q_skew_salted_join"] = q_skew_salted_join
QUERIES["q_k_anonymity"] = q_k_anonymity

ORACLES["q_skew_salted_join"] = """
    SELECT c.c_mktsegment,
           COUNT(*)::BIGINT AS n_events,
           (SUM(CAST(e.value AS DECIMAL(18,2))))::DOUBLE AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1 ORDER BY 1
"""

ORACLES["q_k_anonymity"] = f"""
    WITH groups AS (
      SELECT c_mktsegment, c_nationkey,
             (FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) / 2000)::BIGINT
              * 2000) AS acctbal_band,
             COUNT(*)::BIGINT AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment, c_nationkey, acctbal_band, n, n < {K_ANON} AS risky
    FROM groups WHERE n < {K_ANON}
    ORDER BY c_mktsegment, c_nationkey, acctbal_band
"""


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-partition-group table checksum.

    The cross-cluster reconciliation primitive: after a migration or a
    replicated load, both sides compute bit_xor over a canonical
    per-row md5 and compare O(groups) rows instead of the table. XOR
    is commutative/associative, so the result is partition- and
    order-independent — no sort, pure map-side combine, one shuffle on
    the group key. Doubles are canonicalized to exact integer cents
    before hashing so both engines hash identical byte strings.

    r10: loaded via ``load_table_parallel`` (guide §2.6 idle-capacity /
    §4 per-task work) — the per-row md5 is the dominant cost and a
    narrow single-row-group scan serialized it onto one core; at scale
    the guard makes the widening a no-op (measured 1.84 s → 1.38 s).
    """
    li = load_table_parallel(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        "|",
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        (dec2("l_quantity") * 100).cast("long"),
        (dec2("l_extendedprice") * 100).cast("long"),
        (dec2("l_discount") * 100).cast("long"),
        (dec2("l_tax") * 100).cast("long"),
        "l_returnflag",
        "l_linestatus",
        F.datediff(F.to_date("l_shipdate"), F.to_date(F.lit("1970-01-01"))),
    )
    row_hash = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        li.select("l_returnflag", row_hash.alias("h"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("checksum"),
        )
        .orderBy("l_returnflag")
    )


QUERIES["q_table_checksum"] = q_table_checksum

ORACLES["q_table_checksum"] = """
    WITH rows_c AS (
      SELECT l_returnflag,
             CAST(('0x' || substring(md5(concat_ws('|',
               l_orderkey, l_partkey, l_suppkey, l_linenumber,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT),
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT),
               CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT),
               l_returnflag, l_linestatus,
               DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
             )), 1, 8)) AS BIGINT) AS h
      FROM lineitem
    )
    SELECT l_returnflag, COUNT(*)::BIGINT AS n_rows,
           BIT_XOR(h)::BIGINT AS checksum
    FROM rows_c GROUP BY 1 ORDER BY 1
"""


_FK_EDGES = (
    # (edge label, fact table, fact key, dim table, dim key)
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
)


def q_validate_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every FK edge in the star schema.

    The pre-load contract check a warehouse runs before publishing: per
    edge, total fact rows and orphan rows (fact keys with no dim
    match). Each edge is one left join against the DISTINCT dim keys —
    Catalyst broadcasts the small dims and shuffle-joins the big ones
    (lineitem->orders) on its own; the audit output is O(edges) rows.
    This data is referentially sound (all 8 edges report 0 orphans);
    the pytest plants a synthetic orphan through the same code path to
    prove violations are actually caught, not vacuously passed.
    """
    out = None
    for label, fact, fk, dim, dk in _FK_EDGES:
        f = load_table(spark, sf_dir, fact).select(F.col(fk).alias("k"))
        d = load_table(spark, sf_dir, dim).select(F.col(dk).alias("dk")).distinct()
        edge = (
            f.join(d, f["k"] == d["dk"], "left")
            .agg(
                F.lit(label).alias("edge"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("dk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
        out = edge if out is None else out.unionByName(edge)
    return out.select(
        "edge", "n_rows", "n_orphans", (F.col("n_orphans") == 0).alias("ok")
    ).orderBy("edge")


QUERIES["q_validate_fk"] = q_validate_fk

ORACLES["q_validate_fk"] = (
    "SELECT edge, n_rows, n_orphans, n_orphans = 0 AS ok FROM (\n"
    + "\n      UNION ALL ".join(
        f"""SELECT '{label}' AS edge, COUNT(*)::BIGINT AS n_rows,
           SUM(CASE WHEN NOT EXISTS (
                 SELECT 1 FROM {dim} d WHERE d.{dk} = f.{fk})
               THEN 1 ELSE 0 END)::BIGINT AS n_orphans
        FROM {fact} f"""
        for label, fact, fk, dim, dk in _FK_EDGES
    )
    + "\n    ) ORDER BY edge"
)


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type: the
    modern engine-native path for JSON columns (binary-encoded, typed
    access, no per-query string re-parse). ``parse_json`` decodes each
    ``events.props`` once; ``try_variant_get`` pulls typed fields —
    returning NULL, not an error, for absent paths (asserted by the
    all-null probe on ``$.missing``). One map-side decode + one
    map-side-combined shuffle on event_type; at 100 TB the variant
    decode replaces the repeated get_json_object string parses of the
    legacy path (q_json_extract) with a single binary encode per row.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    typed = ev.select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.missing", "long").alias("miss"),
    )
    return (
        typed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_k"),
            F.sum(F.when(F.col("miss").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing_path"),
        )
        .orderBy("event_type")
    )


def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native XML source/sink roundtrip (spark-xml graduated
    into the engine in 4.0): documents written as XML rows, read back
    with a declared schema. XML entity escaping (&, <, >, quotes) in
    free text must roundtrip losslessly — the oracle aggregates the
    original parquet, proving it, same contract as the CSV/JSON/ORC
    roundtrips."""

    def _write(p: str) -> None:
        load_table(spark, sf_dir, "documents").write.format("xml").option(
            "rowTag", "doc"
        ).mode("overwrite").save(p)

    path = cached_sink_dir("xml_roundtrip", sf_dir, ("documents",), _write)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(_DOCS_SCHEMA)
        .load(path)
    )
    return _roundtrip_rollup(back)


QUERIES["q_variant_extract"] = q_variant_extract
QUERIES["source_xml_roundtrip"] = source_xml_roundtrip

ORACLES["q_variant_extract"] = """
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           SUM(CAST(props->>'$.k' AS BIGINT))::BIGINT AS sum_k,
           MAX(CAST(props->>'$.k' AS BIGINT))::BIGINT AS max_k,
           SUM(CASE WHEN props->>'$.k' IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_null_k,
           COUNT(*)::BIGINT AS n_missing_path
    FROM events GROUP BY 1 ORDER BY 1
"""

ORACLES["source_xml_roundtrip"] = ORACLES["source_json_roundtrip"]


COMPACT_TARGET_CHARS = 16_000  # per-output-file byte budget


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: next-fit bin packing per source.

    The table-maintenance step every 100 TB lakehouse runs on a
    cadence: group each source's small files (modeled by the
    documents inventory: doc_id -> n_chars bytes) into target-sized
    output bins. Next-fit by running total — bin = cumulative bytes
    BEFORE the file, integer-divided by the target — is the
    one-window deterministic plan (first-fit-decreasing needs a
    sequential scan; next-fit is what Iceberg/Delta compactors
    actually ship because it preserves sort order). The window sorts
    each source's inventory only — O(files log files) per source, no
    fact data moves until the plan is executed. Output is O(bins).
    """
    docs = load_table(spark, sf_dir, "documents")
    w_prev = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w_prev), F.lit(0)).alias("prev"),
    ).select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"prev div {COMPACT_TARGET_CHARS}").cast("bigint").alias("bin"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_chars").cast("bigint").alias("total_bytes"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )


QUERIES["q_compaction_plan"] = q_compaction_plan

ORACLES["q_compaction_plan"] = f"""
    WITH binned AS (
      SELECT source, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND 1 PRECEDING), 0)
               // {COMPACT_TARGET_CHARS} AS bin
      FROM documents
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           COUNT(*)::BIGINT AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM binned GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew audit for the two natural fact partitionings.

    The planning readout run BEFORE choosing a table's partition
    column: for each candidate key (order month, ship month), the
    per-partition row counts collapse to a skew profile — partitions,
    rows, max/mean skew factor, largest-partition share, and the
    count of partitions above 2× mean (the AQE-skew-threshold shape).
    A key whose skew factor is high needs salting or a different
    layout; this makes that decision one query instead of a manual
    groupBy per candidate. One map-side-combined pass per key over
    the fact, O(partitions) everything after.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    candidates = [
        (
            "orders.o_orderdate month",
            orders.select(
                (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                    "pk"
                )
            ),
        ),
        (
            "lineitem.l_shipdate month",
            li.select(
                (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias(
                    "pk"
                )
            ),
        ),
    ]
    outs = []
    for name, keyed in candidates:
        counts = keyed.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
        wt = Window.partitionBy()
        prof = counts.select(
            F.lit(name).alias("partition_key"),
            F.count(F.lit(1)).over(wt).alias("n_partitions"),
            F.sum("n").over(wt).alias("n_rows"),
            F.max("n").over(wt).alias("max_rows"),
            F.sum(
                F.when(
                    F.col("n") * F.count(F.lit(1)).over(wt)
                    > 2 * F.sum("n").over(wt),
                    1,
                ).otherwise(0)
            )
            .over(wt)
            .alias("n_hot"),
        ).limit(1)
        outs.append(prof)
    combined = outs[0].unionByName(outs[1])
    return combined.select(
        "partition_key",
        F.col("n_partitions").cast("bigint").alias("n_partitions"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_rows").cast("bigint").alias("max_rows"),
        F.round(
            F.col("max_rows").cast("double")
            * F.col("n_partitions").cast("double")
            / F.col("n_rows").cast("double"),
            4,
        ).alias("skew_factor"),
        F.round(
            F.col("max_rows").cast("double") / F.col("n_rows").cast("double"),
            6,
        ).alias("max_share"),
        F.col("n_hot").cast("bigint").alias("n_hot_partitions"),
    ).orderBy("partition_key")


QUERIES["q_partition_skew_audit"] = q_partition_skew_audit

ORACLES["q_partition_skew_audit"] = """
    WITH keyed AS (
      SELECT 'orders.o_orderdate month' AS partition_key,
             YEAR(CAST(o_orderdate AS DATE)) * 100
               + MONTH(CAST(o_orderdate AS DATE)) AS pk
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_shipdate month',
             YEAR(CAST(l_shipdate AS DATE)) * 100
               + MONTH(CAST(l_shipdate AS DATE))
      FROM lineitem
    ),
    counts AS (
      SELECT partition_key, pk, COUNT(*) AS n
      FROM keyed GROUP BY 1, 2
    ),
    tot AS (
      SELECT partition_key, COUNT(*) AS n_partitions,
             SUM(n) AS n_rows, MAX(n) AS max_rows
      FROM counts GROUP BY 1
    ),
    hot AS (
      SELECT c.partition_key,
             SUM(CASE WHEN c.n * t.n_partitions > 2 * t.n_rows
                      THEN 1 ELSE 0 END) AS n_hot
      FROM counts c JOIN tot t USING (partition_key)
      GROUP BY 1
    )
    SELECT t.partition_key,
           n_partitions::BIGINT AS n_partitions,
           n_rows::BIGINT AS n_rows,
           max_rows::BIGINT AS max_rows,
           ROUND(max_rows::DOUBLE * n_partitions::DOUBLE / n_rows::DOUBLE, 4)
             AS skew_factor,
           ROUND(max_rows::DOUBLE / n_rows::DOUBLE, 6) AS max_share,
           n_hot::BIGINT AS n_hot_partitions
    FROM tot t JOIN hot USING (partition_key)
    ORDER BY partition_key
"""


# --- r06: KMV (k-minimum-values) distinct sketch ----------------------------

KMV_K = 64
KMV_SPACE = 281474976710656  # 2^48 — the md5-prefix hash space


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-user sketch per event
    type (Bar-Yossef et al. 2002): keep the KMV_K smallest 48-bit
    md5(user_id) values; if the k-th smallest is h_k, the estimate is
    (k−1) · 2^48 / h_k. Unlike HLL the summary is just k hashes —
    trivially mergeable across days/tables with a min-k union, and
    100 % deterministic, so the DuckDB oracle replays it bit-for-bit
    (approx_count_distinct's HLL internals never could).

    Distributed shape: after the distinct pass, every shuffle
    partition is pruned to its own k smallest FIRST (the global k
    smallest survive any partitioning, so the prune is lossless and
    partition-count-independent), and only ≤ k·P candidate rows reach
    the per-type selection window — the state that moves is O(k), not
    O(distinct users). Types with fewer than k distinct users report
    their exact count.
    """
    events = load_table(spark, sf_dir, "events")
    hashes = (
        events.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    # per-shuffle-partition prune: k smallest per (type, partition) —
    # collect_set is bounded by the partition's slice, the slice output
    # by KMV_K; deterministic because the global bottom-k is invariant
    # to where the prune runs
    pruned = (
        hashes.withColumn("pid", F.spark_partition_id())
        .groupBy("event_type", "pid")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("hs"))
        .select("event_type", F.explode("hs").alias("h"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    topk = pruned.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    exact = hashes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    agg = topk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("h_k"),
    )
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise(
        (KMV_K - 1) * F.lit(float(KMV_SPACE)) / F.col("h_k").cast("double")
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            F.floor(est + 0.5).cast("bigint").alias("kmv_estimate"),
            F.col("n_exact").cast("bigint").alias("exact_distinct"),
        )
        .orderBy("event_type")
    )


QUERIES["q_kmv_distinct"] = q_kmv_distinct

ORACLES["q_kmv_distinct"] = f"""
    WITH hashes AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashes
    ),
    agg AS (
      SELECT event_type,
             COUNT(*) FILTER (rn <= {KMV_K}) AS n_kept,
             MAX(CASE WHEN rn = {KMV_K} THEN h END) AS h_k,
             COUNT(*) AS n_exact
      FROM ranked GROUP BY 1
    )
    SELECT event_type,
           CAST(FLOOR(CASE WHEN n_kept < {KMV_K} THEN n_kept::DOUBLE
                 ELSE ({KMV_K} - 1) * {float(KMV_SPACE)} / h_k::DOUBLE
                 END + 0.5) AS BIGINT) AS kmv_estimate,
           n_exact::BIGINT AS exact_distinct
    FROM agg ORDER BY event_type
"""


# --- r06: cross-table freshness audit ----------------------------------------


def q_data_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse freshness audit: per fact table, row count, the latest
    event/order/ship date, and the staleness in days behind the
    freshest table — the landing-page check every ingestion SLA
    dashboard opens with. Three 1-row full-scan aggregates (each
    map-side-combinable min/max/count) unioned into a 3-row frame; the
    freshest-date scalar joins back by broadcast. Nothing here grows
    with data except the three scans themselves.
    """
    events = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.to_date("ts")).alias("latest"),
    ).select(F.lit("events").alias("table_name"), "n_rows", "latest")
    orders = load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.to_date("o_orderdate")).alias("latest"),
    ).select(F.lit("orders").alias("table_name"), "n_rows", "latest")
    lineitem = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.to_date("l_shipdate")).alias("latest"),
    ).select(F.lit("lineitem").alias("table_name"), "n_rows", "latest")
    all_t = events.unionAll(orders).unionAll(lineitem)
    freshest = all_t.agg(F.max("latest").alias("freshest"))
    return (
        all_t.crossJoin(F.broadcast(freshest))
        .select(
            "table_name",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.date_format("latest", "yyyy-MM-dd").alias("latest_date"),
            F.datediff("freshest", "latest").cast("bigint").alias(
                "staleness_days"
            ),
        )
        .orderBy("table_name")
    )


QUERIES["q_data_freshness_audit"] = q_data_freshness_audit

ORACLES["q_data_freshness_audit"] = """
    WITH all_t AS (
      SELECT 'events' AS table_name, COUNT(*) AS n_rows,
             MAX(CAST(ts AS DATE)) AS latest FROM events
      UNION ALL
      SELECT 'orders', COUNT(*), MAX(CAST(o_orderdate AS DATE)) FROM orders
      UNION ALL
      SELECT 'lineitem', COUNT(*), MAX(CAST(l_shipdate AS DATE)) FROM lineitem
    ),
    f AS (SELECT MAX(latest) AS freshest FROM all_t)
    SELECT table_name, n_rows::BIGINT AS n_rows,
           strftime(latest, '%Y-%m-%d') AS latest_date,
           datediff('day', latest, f.freshest)::BIGINT AS staleness_days
    FROM all_t, f
    ORDER BY table_name
"""


def q_duplicate_invoice_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate/split-invoice screen: customers with MULTIPLE orders
    on the same day — the AP audit's highest-yield tell (double
    submission, or an order split to dodge an approval threshold).
    Each group carries its exact-cent amount spread and an
    exact-duplicate flag (distinct amounts < orders means at least
    two orders match to the cent).

    One groupBy on the (customer, day) composite with HAVING n >= 2;
    amounts compare as exact cents (a double equality would leak
    near-dups at the ulp). Output is O(flagged groups); the composite
    key is high-cardinality and skew-free at any corpus size.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = (dec2("o_totalprice") * 100).cast("bigint")
    return (
        orders.groupBy(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct(cents).alias("n_amounts"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
            F.sum(cents).alias("sum_cents"),
        )
        .filter(F.col("n_orders") >= 2)
        .select(
            "o_custkey",
            "order_date",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            (F.col("min_cents").cast("double") / 100).alias("min_amount"),
            (F.col("max_cents").cast("double") / 100).alias("max_amount"),
            (F.col("sum_cents").cast("double") / 100).alias("day_total"),
            (F.col("n_amounts") < F.col("n_orders")).alias("exact_amount_dup"),
        )
        .orderBy("o_custkey", "order_date")
    )


QUERIES["q_duplicate_invoice_detect"] = q_duplicate_invoice_detect

ORACLES["q_duplicate_invoice_detect"] = """
    SELECT o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           COUNT(*)::BIGINT AS n_orders,
           MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             ::DOUBLE / 100 AS min_amount,
           MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             ::DOUBLE / 100 AS max_amount,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             ::DOUBLE / 100 AS day_total,
           (COUNT(DISTINCT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT)) < COUNT(*)) AS exact_amount_dup
    FROM orders
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY 1, 2
"""


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (mergeSchema): half the corpus is written
    under the ORIGINAL 3-column document schema, half under the
    evolved 5-column one, and a single mergeSchema scan reads both
    generations with the old files' new columns surfacing as NULLs —
    the append-only table-evolution contract every lakehouse dataset
    eventually needs (new ingest fields must not force a historical
    rewrite).

    Files materialize once per data stamp (cached_sink_dir); the
    rollup proves both the union semantics and the NULL backfill:
    per-lang counts split into with/without the evolved columns, and
    char totals only over rows that carry them. At 100 TB this is the
    same single parquet scan — mergeSchema unions footers at planning
    time, not data.
    """

    def _write(p: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).write.mode("overwrite").parquet(f"{p}/gen=v1")
        docs.filter(F.col("doc_id") % 2 == 1).write.mode(
            "overwrite"
        ).parquet(f"{p}/gen=v2")

    path = cached_sink_dir("schema_evolution", sf_dir, ("documents",), _write)
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("source").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_evolved"),
            F.sum(F.when(F.col("source").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_legacy"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("bigint")
            .alias("evolved_chars"),
        )
        .orderBy("lang")
    )


QUERIES["source_schema_evolution"] = source_schema_evolution

ORACLES["source_schema_evolution"] = """
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_evolved,
           SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_legacy,
           COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0)
             ::BIGINT AS evolved_chars
    FROM documents GROUP BY lang ORDER BY lang
"""


# --- Incremental JOIN-view maintenance -----------------------------
IVM_DELTA_DAYS = 30  # the "late-arriving partition" window


def q_ivm_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view: the per-nation revenue
    view orders⋈customer⋈nation is kept current by joining ONLY the
    delta partition (the trailing IVM_DELTA_DAYS of orders) against
    the dimension and merging the result into the standing view —
    Δ(A⋈B) = ΔA⋈B when only the fact side moves, the identity that
    turns a daily 100 TB view refresh into an O(delta) join.

    Extends q_incremental_rollup's merge(partials) ≡ recompute proof
    from aggregates to join views: the base and delta halves each flow
    through the customer→nation dimension join independently, merge by
    coalesce-sum, and the output's ``ivm_matches_recompute`` column
    compares every merged row against the single-pass recomputation —
    the oracle hash-checks that the flag is TRUE on every nation. The
    cutoff derives from a 1-row max-date aggregate (scalar-subquery
    idiom), never a literal."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    dim = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "nation")
    bounds = orders.agg(F.max("o_orderdate").alias("hi"))
    tagged = orders.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "cents",
        (
            F.col("o_orderdate") >= F.date_sub(F.col("hi"), IVM_DELTA_DAYS)
        ).alias("is_delta"),
    )

    def _view(df: DataFrame) -> DataFrame:
        return (
            df.join(dim, df.o_custkey == dim.c_custkey)
            .groupBy("nation")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").cast("decimal(38,0)").alias("c"),
            )
        )

    base = _view(tagged.filter(~F.col("is_delta"))).alias("b")
    delta = _view(tagged.filter(F.col("is_delta"))).alias("d")
    merged = base.join(
        delta, F.col("b.nation") == F.col("d.nation"), "full_outer"
    ).select(
        F.coalesce("b.nation", "d.nation").alias("nation"),
        (
            F.coalesce("b.n", F.lit(0)) + F.coalesce("d.n", F.lit(0))
        ).cast("bigint").alias("n_orders"),
        (
            F.coalesce("b.c", F.lit(0).cast("decimal(38,0)"))
            + F.coalesce("d.c", F.lit(0).cast("decimal(38,0)"))
        ).cast("bigint").alias("revenue_cents"),
    ).alias("m")
    recomputed = _view(tagged).alias("r")
    return merged.join(
        recomputed, F.col("m.nation") == F.col("r.nation"), "full_outer"
    ).select(
        F.coalesce("m.nation", "r.nation").alias("nation"),
        F.col("m.n_orders").alias("n_orders"),
        F.col("m.revenue_cents").alias("revenue_cents"),
        (
            (F.col("m.n_orders") == F.col("r.n").cast("bigint"))
            & (F.col("m.revenue_cents") == F.col("r.c").cast("bigint"))
        ).alias("ivm_matches_recompute"),
    )


QUERIES["q_ivm_delta_join"] = q_ivm_delta_join

ORACLES["q_ivm_delta_join"] = f"""
    WITH dim AS (
      SELECT c_custkey, n.n_name AS nation
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    bounds AS (SELECT MAX(o_orderdate) AS hi FROM orders),
    tagged AS (
      SELECT o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             (o_orderdate >= b.hi - INTERVAL {IVM_DELTA_DAYS} DAY) AS is_delta
      FROM orders, bounds b
    ),
    base AS (
      SELECT nation, COUNT(*) AS n, CAST(SUM(cents) AS HUGEINT) AS c
      FROM tagged t JOIN dim d ON t.o_custkey = d.c_custkey
      WHERE NOT is_delta GROUP BY 1
    ),
    delta AS (
      SELECT nation, COUNT(*) AS n, CAST(SUM(cents) AS HUGEINT) AS c
      FROM tagged t JOIN dim d ON t.o_custkey = d.c_custkey
      WHERE is_delta GROUP BY 1
    ),
    merged AS (
      SELECT COALESCE(b.nation, d.nation) AS nation,
             CAST(COALESCE(b.n, 0) + COALESCE(d.n, 0) AS BIGINT)
               AS n_orders,
             CAST(COALESCE(b.c, 0) + COALESCE(d.c, 0) AS BIGINT)
               AS revenue_cents
      FROM base b FULL OUTER JOIN delta d ON b.nation = d.nation
    ),
    recomputed AS (
      SELECT nation, COUNT(*) AS n, CAST(SUM(cents) AS HUGEINT) AS c
      FROM tagged t JOIN dim d ON t.o_custkey = d.c_custkey
      GROUP BY 1
    )
    SELECT COALESCE(m.nation, r.nation) AS nation,
           m.n_orders, m.revenue_cents,
           (m.n_orders = CAST(r.n AS BIGINT)
            AND m.revenue_cents = CAST(r.c AS BIGINT))
             AS ivm_matches_recompute
    FROM merged m FULL OUTER JOIN recomputed r ON m.nation = r.nation
"""


def q_temporal_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal referential integrity: q_validate_fk checks that a key
    EXISTS; this checks that it existed AT THE TIME — for every
    non-purchase event, was a version of the user's SCD2 purchase
    history (q_scd2_history's contiguous validity intervals) in effect
    at the event's timestamp?

    Because the change-stream intervals are contiguous from the first
    version onward, point-in-interval containment collapses to ONE
    comparison against the user's first version time — so the audit is
    a per-user min rollup + one hash join + a conditional-count
    groupBy, never an interval join. Per event type: orphan events
    (user has no dimension history at all), early events (before the
    first version), valid events, and the valid share (exact
    micro-rounded rational).
    """
    events = load_table(spark, sf_dir, "events")
    facts = events.filter(F.col("event_type") != "purchase").select(
        "event_type", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    dim_first = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_us"))
    )
    joined = facts.join(dim_first, "user_id", "left")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("first_us").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphan"),
            F.sum(
                F.when(
                    F.col("first_us").isNotNull()
                    & (F.col("ts_us") < F.col("first_us")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_before_first"),
            F.sum(
                F.when(F.col("ts_us") >= F.col("first_us"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_valid"),
        )
        .selectExpr(
            "event_type",
            "CAST(n_events AS BIGINT) AS n_events",
            "n_orphan",
            "n_before_first",
            "n_valid",
            "ROUND(CAST(n_valid AS DOUBLE) / CAST(n_events AS DOUBLE), 4)"
            " AS valid_share",
        )
    )


QUERIES["q_temporal_fk_audit"] = q_temporal_fk_audit

ORACLES["q_temporal_fk_audit"] = """
    WITH facts AS (
      SELECT event_type, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type <> 'purchase'
    ),
    dim_first AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_us
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT f.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN d.first_us IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan,
           CAST(SUM(CASE WHEN d.first_us IS NOT NULL
                         AND f.ts_us < d.first_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_before_first,
           CAST(SUM(CASE WHEN f.ts_us >= d.first_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid,
           ROUND(CAST(SUM(CASE WHEN f.ts_us >= d.first_us THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
             AS valid_share
    FROM facts f LEFT JOIN dim_first d USING (user_id)
    GROUP BY 1
"""

"""Plan-shape assertions (SURVEY §5): the physical plans Catalyst picks
must be the plans we'd want on a 1000-executor cluster.

Node counts come from ``tools.plan_audit.fingerprint`` (each operator
once); pushed filters, read schemas and expression names are read from
the plan text. Most tests only plan their query; q1's codegen check and
the fingerprint's own test run it to see AQE's final plan, the MMR and
bloom tests count their jobs, and the bucketed-join and DPP tests write
tables.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_city_directories_spark.functions import memo
from tools.plan_audit import fingerprint, plan_of

SF = "/root/testdata/sf0.001"

QUERIES = entry_mod.queries()


def fp_of(name: str, spark):
    return fingerprint(plan_of(QUERIES[name](spark, SF)))


def test_fingerprint_counts_each_node_once(spark):
    """One shuffle, one broadcast and one nested-loop join count 1 each,
    although the text names each twice (tree and detail section) and a
    substring "Exchange" also matches "BroadcastExchange". Once the plan
    has run, AQE's description carries the final plan and the initial
    plan it replaced; only the final plan counts."""
    a = spark.range(64).repartition(3, "id")
    df = a.join(F.broadcast(spark.range(4).toDF("k")), F.col("id") < F.col("k"))
    before = plan_of(df)
    df.collect()
    for plan in (before, plan_of(df)):
        fp = fingerprint(plan)
        assert (len(fp.shuffles), fp.broadcasts, fp.joins) == (1, 1, {"BroadcastNestedLoopJoin": 1}), plan
    assert "== Initial Plan ==" in plan, plan


def test_q6_filters_pushed_to_scan(spark):
    """Tight-range filter must reach the parquet scan as PushedFilters."""
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, SF))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan" in pushed or "GreaterThanOrEqual" in pushed, pushed


def test_scan_prunes_columns(spark):
    """A 2-column text op must not read the other document columns."""
    plan = plan_of(QUERIES["text_token_count"](spark, SF))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" in read
    for unused in ("lang", "source", "n_chars"):
        assert unused not in read, f"{unused} not pruned: {read}"


def test_q5_broadcasts_dimensions(spark):
    """6-way join: small dims (region/nation/supplier) broadcast, never
    shuffle the fact table on a dim key."""
    fp = fp_of("q5_local_supplier", spark)
    assert fp.joins["BroadcastHashJoin"] >= 2, fp


def test_ann_broadcasts_probe_side(spark):
    assert fp_of("ann_topk_bruteforce", spark).broadcasts >= 1


def test_jvm_operators_have_no_python_eval(spark):
    """Everything JVM-expressible must stay out of Python workers.
    (Only mm_* decode and streaming state ops legitimately use Python;
    dedup_simhash joined the JVM-only set in r05.)"""
    for name in (
        "q1_pricing_summary",
        "dedup_simhash",
        "q_sessionize",
        "q_asof_join",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_embedding",
        "text_lang_id",
        "text_fingerprint",
        "cd_parse_entries",
        "cd_geocode",
    ):
        assert not fp_of(name, spark).python, name


def test_citydir_dims_scan_no_python_rdd(spark):
    """The built-in address dims are JVM-local relations: a dim built
    with createDataFrame(<python list>) scans a pickled Python RDD
    (`Scan ExistingRDD`), which starts Python-worker tasks even though
    no Python code runs."""
    from etl_city_directories_spark.operators.citydir import (
        addresses_dim,
        streets_dim,
    )

    frames = {"addresses_dim": addresses_dim(spark), "streets_dim": streets_dim(spark)}
    for name in ("cd_geocode", "cd_transform_objects", "cd_relations", "cd_logs"):
        frames[name] = QUERIES[name](spark, SF)
    for name, df in frames.items():
        scans = fingerprint(plan_of(df)).scans
        assert not any(fmt == "ExistingRDD" for fmt, _ in scans), f"{name} scans a Python RDD"


def test_q1_uses_wholestage_codegen(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    df.collect()  # AQE finalizes the plan only after execution
    plan = plan_of(df)
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "[codegen id :" in plan
    # scan→filter→project→partial-agg must share one codegen span
    assert "Filter [codegen id : 1]" in plan
    assert "HashAggregate [codegen id : 1]" in plan


def test_exact_dedup_partial_aggregates(spark):
    """hash-groupBy dedup must partial-aggregate map-side (two
    HashAggregate levels around one exchange)."""
    fp = fp_of("dedup_exact", spark)
    assert fp.nodes["HashAggregate"] >= 2, fp
    assert len(fp.shuffles) >= 1, fp


def test_q14_month_filter_pushed_to_scan(spark):
    """Q14's ship-month range must prune the lineitem scan."""
    plan = plan_of(QUERIES["q14_promo_revenue"](spark, SF))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, pushed


def test_q18_joins_back_broadcast(spark):
    """The HAVING-filtered orderkeys (tiny) must broadcast back onto
    orders, not shuffle the fact side."""
    fp = fp_of("q18_large_orders", spark)
    assert fp.joins["BroadcastHashJoin"] >= 2, fp


def test_funnel_single_window_exchange(spark):
    """The chained-window funnel must plan exactly one shuffle for all
    three window stages plus the per-user fold (no staged re-joins)."""
    fp = fp_of("q_funnel", spark)
    assert not fp.joins["BroadcastNestedLoopJoin"], fp
    assert len(fp.shuffles) + fp.broadcasts <= 2, fp


def test_salted_agg_two_phase(spark):
    """Salted aggregation: two HashAggregate pairs (partial+final per
    phase), and the salt column must not survive into the output."""
    df = QUERIES["q_skew_salted_agg"](spark, SF)
    fp = fingerprint(plan_of(df))
    assert fp.nodes["HashAggregate"] >= 4, fp
    assert "salt" not in df.columns


def test_partsupp_queries_broadcast_dims(spark):
    """Q2/Q9: part/supplier/nation/region are dims — they must reach
    the fact joins as broadcasts, never shuffle the fact on a dim key."""
    for name, min_bcast in (("q2_min_cost_supplier", 2), ("q9_product_profit", 3)):
        fp = fp_of(name, spark)
        assert fp.joins["BroadcastHashJoin"] >= min_bcast, (name, fp)


def test_partsupp_composite_rejoin_eliminated(spark):
    """q9/q20/q16 probe the derived partsupp fact on the FULL composite
    key, whose attributes are pure key arithmetic — so the rejoin (a
    second lineitem scan + pair distinct + pair-keyed join, corpus-sized
    at 100 TB) is eliminated and the attributes compute inline (r10
    optimization; the oracle still derives partsupp and proves
    value-identity). The derivation subtree's ps_* columns must not
    appear, and q9/q20 must read lineitem exactly once."""
    for name in ("q9_product_profit", "q20_promotable_suppliers",
                 "q16_supplier_cnt"):
        plan = plan_of(QUERIES[name](spark, SF))
        assert "ps_partkey" not in plan, f"{name}: derivation subtree back"
    # q16's pair-distinct drop makes it single-scan too (judge ADVICE r10)
    for name in ("q9_product_profit", "q20_promotable_suppliers",
                 "q16_supplier_cnt"):
        scans = fp_of(name, spark).scans
        assert scans["parquet", "lineitem"] == 1, (name, scans)


def test_q7_q8_dims_filter_before_fact_join(spark):
    """q7/q8 attach their selective broadcast dims per fact side BEFORE
    the orderkey join (r10 §G): the nation/region predicate must reach
    the dim SCAN as a pushed filter (i.e. sit below everything), and
    each fact is read exactly once. Pins the 100 TB shape — shuffle
    ~2/25 (q7) / ~1/5 (q8) of each fact side, never the raw facts —
    against a Catalyst/AQE version bump silently reverting it."""
    plan = plan_of(QUERIES["q7_nation_volume"](spark, SF))
    assert "In(n_name, [NATION_1,NATION_2" in plan, plan
    assert fingerprint(plan).scans["parquet", "lineitem"] == 1, "q7: extra lineitem scan"
    plan = plan_of(QUERIES["q8_market_share"](spark, SF))
    assert "EqualTo(r_name,ASIA)" in plan, plan
    assert fingerprint(plan).scans["parquet", "lineitem"] == 1, "q8: extra lineitem scan"


def test_q2_q11_dims_filter_before_pair_distinct(spark):
    """q2/q11 broadcast their selective dims into the raw lineitem scan
    BEFORE the pair distinct (r10 §G): the dim predicates must be
    pushed scan filters, so the distinct exchange carries only the
    filtered pairs at any scale."""
    plan = plan_of(QUERIES["q2_min_cost_supplier"](spark, SF))
    assert "EqualTo(p_type,ECONOMY)" in plan, plan
    assert "EqualTo(r_name,EUROPE)" in plan, plan
    assert fingerprint(plan).scans["parquet", "lineitem"] == 1, "q2: extra lineitem scan"
    plan = plan_of(QUERIES["q11_important_stock"](spark, SF))
    assert "EqualTo(n_name,NATION_3)" in plan, plan
    # two fact reads by design (per-supplier values + the total-value
    # threshold scalar); both must be nation-filtered pre-distinct
    assert plan.count("EqualTo(n_name,NATION_3)") >= 2, plan


def test_q21_single_window_exchange(spark):
    """The decorrelated Q21 must compute all three per-order window
    aggregates (and the distinct) over ONE shuffle on l_orderkey — the
    point of decorrelating the double EXISTS — with no fact self-join.
    Remaining shuffles: the s_name groupBy and the output sort."""
    fp = fp_of("q21_waiting_suppliers", spark)
    assert len(fp.shuffles) <= 3, fp
    assert not fp.joins["SortMergeJoin"], fp  # no lineitem self-join
    assert fp.joins["BroadcastHashJoin"] >= 1, fp  # supplier dim


def test_kmeans_assignment_broadcasts_centroids(spark):
    """IVF training: the K-row centroid table must broadcast into the
    assignment (a map-side nested-loop over K rows), never shuffle the
    vector corpus. Asserted on the training build itself —
    kmeans_cells memoizes the trained assignment (functions.memo), so
    its plan is a checkpoint scan, not the Lloyd loop."""
    from etl_city_directories_spark.operators.similarity import _kmeans_assign

    fp = fingerprint(plan_of(_kmeans_assign(spark, SF, 1)))
    assert fp.joins["BroadcastNestedLoopJoin"] >= 1, fp


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Both sides bucketed+sorted on the join key: the SortMergeJoin
    must read the buckets directly — zero Exchange (and zero extra
    Sort) on the join inputs."""
    from etl_city_directories_spark.operators.scale_ops import q_bucketed_join

    # disable auto-broadcast: at tiny SF Catalyst would (correctly)
    # broadcast the small side, which proves nothing about bucketing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_bucketed_join(spark, SF, path=str(tmp_path / "bkt"))
        fp = fingerprint(plan_of(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fp.joins["SortMergeJoin"] >= 1, fp
    # only the groupBy and orderBy above the join may shuffle — an
    # unbucketed plan would add one exchange per join input (4 total)
    assert len(fp.shuffles) <= 2, fp
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_profile_categorical_single_scan(spark):
    """The stack-unpivot profiler must read the fact table ONCE —
    a per-column loop would show one scan per profiled column."""
    scans = fp_of("profile_categorical", spark).scans
    assert sum(scans.values()) == 1, scans


def test_interval_overlap_no_self_join(spark):
    """The sweep line must be union + window — no interval self-join
    (which would be O(n x overlap))."""
    fp = fp_of("q_interval_overlap", spark)
    assert not fp.joins, fp
    assert fp.nodes["Union"] and fp.nodes["Window"], fp


def test_pq_adc_scoring_broadcasts_lut(spark):
    """PQ query path: the probe LUT and probe vectors must broadcast
    into the code scan — the corpus must never shuffle on the
    (sub, code) key."""
    fp = fp_of("ann_pq_adc", spark)
    assert fp.joins["BroadcastHashJoin"] >= 1, fp
    assert not fp.joins["SortMergeJoin"], fp


def test_range_frame_single_shuffle(spark):
    """The RANGE-frame trailing total is one shuffle on the customer
    key, then a single window pass."""
    fp = fp_of("q_range_frame_total", spark)
    assert len(fp.shuffles) == 1, fp
    assert fp.nodes["Window"], fp


def test_bloom_semi_reduction_inserts_runtime_filter(spark, newest_job_id):
    """The operator's own frame pushes the urgent-orders bloom filter
    into the lineitem probe side (might_contain in the plan): it is
    built in a session clone under the bloom confs, so the caller's
    conf is untouched, and once ``load_table`` holds the two relations,
    building it runs no job: no collect, and no parquet schema read."""
    from etl_city_directories_spark.operators.scale_ops import _BLOOM_CONFS, load_table

    before = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for name in ("orders", "lineitem"):
        load_table(spark, SF, name)
    start = newest_job_id()
    df = QUERIES["q_bloom_semi_reduction"](spark, SF)
    built = newest_job_id()
    plan = plan_of(df)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    assert {k: spark.conf.get(k, None) for k in _BLOOM_CONFS} == before
    assert built - start == 0, built - start  # 2 with schema inference, 8 with a collect


def test_dpp_prunes_fact_partitions(spark, tmp_path):
    """Joining the partitioned fact to a filtered dim must plan a
    dynamicpruningexpression PartitionFilter on the fact scan."""
    from etl_city_directories_spark.operators.scale_ops import load_table

    out = str(tmp_path / "dpp")
    (
        load_table(spark, SF, "events")
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    dim = (
        load_table(spark, SF, "events")
        .select("event_type")
        .distinct()
        .filter(F.col("event_type").startswith("p"))
    )
    plan = plan_of(
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert "dynamicpruningexpression" in plan, plan


def test_mojibake_is_pure_map_side(spark):
    """Encoding audit must ride the scan: no exchange, pruned read."""
    plan = plan_of(QUERIES["text_mojibake_stats"](spark, SF))
    fp = fingerprint(plan)
    assert not fp.shuffles and not fp.broadcasts, fp
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" in read and "lang" not in read


def test_dedup_prefix_single_shuffle(spark):
    """Prefix dedup is one hash-keyed aggregation with map-side
    combine: exactly one exchange node, partial agg before it."""
    plan = plan_of(QUERIES["dedup_prefix"](spark, SF))
    assert len(fingerprint(plan).shuffles) == 1, plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_pack_sequences_partitions_by_source(spark):
    """The prefix-sum window must shuffle on the source key (never a
    global single-partition ordering)."""
    plan = plan_of(QUERIES["pack_sequences"](spark, SF))
    assert "hashpartitioning(source" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_geocode_normalization_keeps_broadcast(spark):
    """The normalized lookup must still broadcast both dims — the
    corpus side stays map-side."""
    fp = fp_of("cd_geocode", spark)
    assert fp.joins["BroadcastHashJoin"] >= 2, fp
    assert not fp.joins["SortMergeJoin"], fp


def test_validate_schema_single_agg_pass(spark):
    """All contract rules ride ONE aggregation over the transform
    output — the validator adds NO extra corpus scans beyond what
    cd_transform_objects itself performs."""
    v = fp_of("cd_validate_schema", spark).scans
    t = fp_of("cd_transform_objects", spark).scans
    assert v == t, (v, t)


def test_gopher_filter_is_pure_map_side(spark):
    """The structural quality gate must be a zero-exchange scan —
    the cheapest stage of the corpus funnel stays embarrassingly
    parallel."""
    fp = fp_of("text_gopher_filter", spark)
    assert not fp.shuffles and not fp.python, fp


def test_reservoir_uses_partial_top_k(spark):
    """Bottom-K-by-hash must compile to TakeOrderedAndProject (each
    partition keeps a local K-heap; the driver merges heaps) — never a
    global sort of the corpus."""
    fp = fp_of("sample_reservoir", spark)
    assert fp.nodes["TakeOrderedAndProject"], fp


def test_zorder_layout_single_shuffle_no_python(spark):
    """The bit-interleave chain is pure JVM codegen; the only wide op
    is the partial-aggregated bucket rollup (+ its result ordering)."""
    plan = plan_of(QUERIES["q_zorder_layout"](spark, SF))
    assert not fingerprint(plan).python, plan
    assert "partial_count" in plan or "partial_min" in plan, plan


def test_hll_rollup_ships_sketches_not_values(spark):
    """The day→type re-aggregation must merge sketch partials: the
    second shuffle carries hll_union_agg partial state, not raw
    user_ids."""
    plan = plan_of(QUERIES["q_hll_partial_rollup"](spark, SF))
    assert "hll_union_agg" in plan, plan
    assert "partial_hll_sketch_agg" in plan or "hll_sketch_agg" in plan


def test_cdc_apply_shares_the_key_exchange(spark):
    """The latest-op window and the per-key rollup must ride ONE
    user_id hash exchange (the second exchange is the presentation
    ordering) — the same single-shuffle contract as a MERGE INTO."""
    fp = fp_of("q_cdc_apply", spark)
    assert len(fp.shuffles) == 2 and not fp.python, fp


def test_snapshot_diff_is_join_not_cartesian(spark):
    """Reconciliation must be a keyed full-outer join — never a
    cartesian compare."""
    plan = plan_of(QUERIES["q_snapshot_diff"](spark, SF))
    assert not fingerprint(plan).joins["CartesianProduct"], plan
    assert "FullOuter" in plan, plan


def test_rrf_fused_topk_uses_window_group_limit(spark):
    """The fused top-K must benefit from WindowGroupLimit (map-side
    rank pruning before the final filter)."""
    fp = fp_of("ann_rrf_hybrid", spark)
    assert fp.nodes["WindowGroupLimit"], fp


def test_bitmap_algebra_shuffles_bitmaps_not_ids(spark):
    """Every aggregation in the overlap plan is a partial-aggregated
    bitmap fold — the shuffle carries bitmap_construct_agg /
    bitmap_or_agg state, never raw user ids."""
    plan = plan_of(QUERIES["q_bitmap_set_algebra"](spark, SF))
    assert "bitmap_construct_agg" in plan
    assert "bitmap_or_agg" in plan
    assert not fingerprint(plan).python, plan


def test_attribution_joins_on_user_key(spark):
    """The lookback join must be keyed on the user equi-part (SMJ or
    shuffled hash on user), with the time window as a join filter —
    never a cartesian or pure-BNL plan."""
    plan = plan_of(QUERIES["q_attribution_linear"](spark, SF))
    joins = fingerprint(plan).joins
    assert not joins["CartesianProduct"] and not joins["BroadcastNestedLoopJoin"], joins
    assert "c_user" in plan and "t_user" in plan


def test_new_analytics_plans_are_scale_shaped(spark):
    """r05 analytics additions: pruned scans, broadcast side tables,
    no Python eval anywhere."""
    # regression reads only its three order columns
    plan = plan_of(QUERIES["q_regr_trend"](spark, SF))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_orderstatus" not in read and "o_orderpriority" not in read
    assert fingerprint(plan).joins["BroadcastHashJoin"]  # customer dim broadcasts
    # market basket: support joins broadcast; no cartesian anywhere
    joins = fp_of("q_market_basket", spark).joins
    assert joins["BroadcastHashJoin"] and not joins["CartesianProduct"], joins
    # checksum: single shuffle on the group key, no sort before agg
    assert not fp_of("q_table_checksum", spark).joins["CartesianProduct"]
    for name in (
        "q_market_basket",
        "q_regr_trend",
        "q_pareto_abc",
        "q_rfm_segmentation",
        "q_skew_salted_join",
        "q_k_anonymity",
        "graph_triangle_count",
        "q_table_checksum",
        "text_char_entropy",
        "corpus_mix_epochs",
        "q_unpivot",
    ):
        assert not fp_of(name, spark).python, name


# ---- r08 batch plan shapes ----


def test_pvm_year_filter_pushed(spark):
    """The two-year window must reach the lineitem scan as
    PushedFilters — at 100 TB the bridge reads 2 years, not 7."""
    plan = plan_of(QUERIES["q_price_volume_mix"](spark, SF))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual" in pushed and "LessThan" in pushed, pushed


def test_inventory_and_stockout_push_year_and_broadcast_part(spark):
    for key in ("q_inventory_turns", "q_stockout_risk"):
        plan = plan_of(QUERIES[key](spark, SF))
        # several scans (partsupp derivation + demand); the YEAR
        # filter must be pushed on at least one of them
        pushed_blocks = [
            seg.split("]", 1)[0]
            for seg in plan.split("PushedFilters: [")[1:]
        ]
        assert pushed_blocks, key
        assert any(
            "GreaterThanOrEqual" in b for b in pushed_blocks
        ), (key, pushed_blocks)
        assert fingerprint(plan).joins["BroadcastHashJoin"], key


def test_daily_grid_windows_are_single_exchange_family(spark):
    """The drawdown/channel/RSI/WMA family pre-aggregates to the day
    grid then windows: exactly one fact aggregation exchange plus the
    single-partition window exchange — a third exchange would mean
    the window leaked onto raw events."""
    for key in (
        "q_drawdown",
        "q_donchian_channel",
        "q_rsi_sma",
        "q_weighted_moving_avg",
    ):
        fp = fp_of(key, spark)
        assert len(fp.shuffles) + fp.broadcasts <= 2, (key, fp)
        assert not fp.python, key


def test_stats_suite_scans_events_once(spark):
    """Sufficient-statistics tests must be one scan + one tiny agg:
    no join back to the fact, no Python eval."""
    for key in ("q_jarque_bera", "q_grubbs_outlier", "q_cramers_v"):
        fp = fp_of(key, spark)
        assert not fp.joins["SortMergeJoin"] and not fp.python, (key, fp)


def test_duplicate_invoice_prunes_columns(spark):
    """The audit reads 3 order columns; priority/status must prune."""
    plan = plan_of(QUERIES["q_duplicate_invoice_detect"](spark, SF))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    for used in ("o_custkey", "o_orderdate", "o_totalprice"):
        assert used in read, read
    for unused in ("o_orderpriority", "o_orderstatus"):
        assert unused not in read, read


def test_concentration_broadcasts_dims(spark):
    for key in ("q_customer_concentration", "q_share_nested"):
        joins = fp_of(key, spark).joins
        assert joins["BroadcastHashJoin"] and not joins["CartesianProduct"], (key, joins)


def test_forecast_family_is_grid_shaped(spark):
    """The forecast/experimentation family touches the fact stream
    with ONE conditional-sum groupBy, densifies on a broadcast spine,
    and runs every window on the O(days) grid: no sort-merge join, no
    cartesian, no Python eval anywhere in the family."""
    for key in (
        "q_dickey_fuller",
        "q_granger_lag1",
        "q_backtest_seasonal_naive",
        "q_cross_correlation",
        "q_fdr_bh",
    ):
        fp = fp_of(key, spark)
        assert not fp.joins["SortMergeJoin"] and not fp.joins["CartesianProduct"], key
        assert not fp.python, key


def test_cuped_is_rollup_plus_scalar_bounds(spark):
    """CUPED's only join is the 1-row span-bounds broadcast (the
    scalar-subquery idiom); the per-user rollup must not sort-merge."""
    fp = fp_of("q_cuped_adjustment", spark)
    assert not fp.joins["SortMergeJoin"] and not fp.python, fp


def test_geo_pair_joins_are_cell_keyed_not_cartesian(spark):
    """The geo pair generators must join on grid-cell keys (SMJ/BHJ)
    — a CartesianProduct would mean the 9-cell blocking leaked. The
    only nested-loop allowed is the 1-row radius scalar."""
    for key in ("geo_knn_join", "geo_dbscan_grid"):
        fp = fp_of(key, spark)
        assert not fp.joins["CartesianProduct"] and not fp.python, (key, fp)


# --- plan claims of the r10/r11 optimization notes ------------------
# OPTIMIZATION_r10.md / r11.md cite before/after plan dumps for these
# rewrites; the assertions below are what is left of that evidence.


def test_basket_graph_shuffles_order_part_and_pair_keys_only(spark):
    """r11: _basket_graph builds the per-order distinct item arrays with
    one shuffle on the order key, replacing the distinct on the
    composite (l_orderkey, l_partkey) key. The pair build has three
    fact-side shuffle keys: order, part (support) and pair. The pruned
    regroup repeats the order key (its own Exchange while the persisted
    root is live, since an AQE-cached relation hides its partitioning),
    so the pair build has at most 4 shuffles. No basket-graph consumer
    shuffles on the composite key."""
    from etl_city_directories_spark.operators.analytics import _basket_graph

    keys = fingerprint(plan_of(_basket_graph(spark, SF)[3])).hash_keys
    assert set(keys) == {"l_orderkey", "l_partkey", "part_a, part_b"}, keys
    assert sum(keys.values()) <= 4, keys
    for name in ("q_market_basket", "graph_degree_distribution",
                 "graph_triangle_count", "graph_assortativity"):
        keys = fp_of(name, spark).hash_keys
        assert "l_orderkey, l_partkey" not in keys, (name, keys)


def test_small_pair_graph_is_not_repartitioned(spark):
    """r10: _oriented_graph repartitions the pair graph only when it
    holds more than 1M edges; below that the round-robin shuffle and
    the second persisted copy are skipped."""
    moved = fp_of("graph_triangle_count", spark).shuffles
    assert not any("REPARTITION_BY_NUM" in a for a, _ in moved), moved


def test_shingle_persists_carry_no_document_text(spark):
    """r10: the one persisted shingle frame projects to (doc_id, lang,
    source, shingles) before the persist: the normalized text ``norm``
    reaches no cached block and no band or verify shuffle."""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard",
                 "dedup_shared_spans", "dedup_containment",
                 "dedup_minhash_fidelity", "decontaminate_fuzzy",
                 "decontaminate", "ann_rrf_hybrid",
                 "dedup_band_collision_stats"):
        plan = plan_of(QUERIES[name](spark, SF))
        assert not re.search(r"\bnorm#", plan), name


def test_rank_windows_run_over_preaggregated_values(spark):
    """r10: q_weighted_median and feature_robust_scale aggregate to
    (group, value) weights before the rank window, so the window sorts
    distinct values per group, not the fact."""
    for name, key in (("q_weighted_median", "l_returnflag, price_c"),
                      ("feature_robust_scale", "c_mktsegment, cents")):
        keys = fp_of(name, spark).hash_keys
        assert keys[key] == 1, (name, keys)


def test_allocation_fifo_pushes_the_returnflag_split(spark):
    """r10: both sides of q_allocation_fifo filter l_returnflag at the
    scan, one on = 'R' and one on <> 'R'."""
    plan = plan_of(QUERIES["q_allocation_fifo"](spark, SF))
    pushed = re.findall(r"PushedFilters: \[(.*)\]", plan)
    assert any("EqualTo(l_returnflag,R)" in p and "Not(" not in p for p in pushed), pushed
    assert any("Not(EqualTo(l_returnflag,R))" in p for p in pushed), pushed


def test_threshold_curve_shuffles_ids_not_vectors(spark):
    """r10: emb_cosine_threshold_curve shuffles (vec_id, table, bucket)
    ids through the cap window, the collision join and the pair dedup;
    the vectors join once per distinct pair, so no shuffle carries them."""
    moved = fp_of("emb_cosine_threshold_curve", spark).shuffles
    assert moved
    for args, cols in moved:
        assert not {"v", "nrm"} & set(cols), (args, cols)


def test_widened_scans_repartition_before_per_row_work(spark):
    """r10: q_table_checksum, q_elasticity_loglog and
    q_bootstrap_ci_mean read their single-row-group table through
    load_table_parallel, which round-robins it to the core count before
    the per-row md5 / log math / replicate fan-out."""
    widen = spark.sparkContext.defaultParallelism > 1
    for name in ("q_table_checksum", "q_elasticity_loglog", "q_bootstrap_ci_mean"):
        moved = fp_of(name, spark).shuffles
        assert any("REPARTITION_BY_NUM" in a for a, _ in moved) == widen, name


def test_union_rewrites_stay_single_explodes(spark):
    """r10: graph_pagerank_dupes, q_funnel_time_percentiles and
    q_queue_little_law build their two-sided rows with one explode of a
    2-struct array, not a 2-branch union over the same expensive
    parent; dedup_threshold_sweep rolls the cuts up in one aggregate,
    with no affected-docs join."""
    for name in ("graph_pagerank_dupes", "q_funnel_time_percentiles",
                 "q_queue_little_law"):
        assert not fp_of(name, spark).nodes["Union"], name
    fp = fp_of("dedup_threshold_sweep", spark)
    keys = fp.hash_keys
    assert keys["doc_a, doc_b"] == 1 and keys["cut_pct"] == 1, keys
    assert not fp.joins["SortMergeJoin"], fp


def test_second_run_in_a_session_keeps_its_persists(spark):
    """An operator run again in the same session, with no memo reset
    between, still reads its persisted frames: each callsite's old
    entry is released before the new frame is persisted, so the second
    plan has the first plan's cache scans and no more Exchanges. The
    same holds when another operator that persists under the same keys
    (the shingle frame, the band table) runs in between."""
    for runs in (("graph_assortativity",) * 2,
                 ("decontaminate_fuzzy", "dedup_minhash_lsh", "decontaminate_fuzzy")):
        first, *_, last = [fp_of(name, spark) for name in runs]
        assert last.cached["InMemoryRelation"], (runs, last)
        assert len(last.shuffles) <= len(first.shuffles), (runs, first, last)


def test_cold_iterative_plans_keep_their_persists(spark):
    """r10, cold plans: q_markov_stationary persists and broadcasts the
    transition matrix, so the event fact is shuffled by user once per
    pass (2 user_id shuffles), not once per power iteration (8);
    graph_pagerank_dupes embeds the dedup chain tail once (one pair
    shuffle, 2 before)."""
    keys = fp_of("q_markov_stationary", spark).hash_keys
    assert keys["user_id"] <= 2, keys
    keys = fp_of("graph_pagerank_dupes", spark).hash_keys
    assert keys["doc_a, doc_b"] == 1, keys


def test_mmr_is_one_per_probe_program(spark, newest_job_id):
    """ann_mmr_diversify runs its greedy loop as one expression per
    probe: the plan is the broadcast-probe candidate scan plus one
    probe_id shuffle shared by the top-candidate window and the
    per-probe group, with no sort-merge join and no persisted frame.
    Cold (no cache, no memo), it takes at most 6 jobs: the shared
    vector table's construction, then the broadcast, the shuffle and
    the result (3 collect jobs, against 22 for the unrolled rounds)."""
    spark.catalog.clearCache()
    memo.reset()
    start = newest_job_id()
    df = QUERIES["ann_mmr_diversify"](spark, SF)
    built = newest_job_id()
    fp = fingerprint(plan_of(df))
    df.collect()
    done = newest_job_id()
    assert not fp.joins["SortMergeJoin"] and not fp.cached, fp
    assert fp.hash_keys == {"probe_id": 1}, fp.shuffles
    assert len(fp.shuffles) == 1 and fp.broadcasts == 1, fp
    assert done - built <= 3 and done - start <= 6, (built - start, done - built)

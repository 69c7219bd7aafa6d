"""Unit coverage for the second r04 batch: Gopher structural quality
gate, deterministic reservoir sampling, segment-granular dedup,
z-order layout clustering, mergeable HLL sketch rollups, RRF hybrid
retrieval, CDC apply, and snapshot reconciliation."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_city_directories_spark.operators.dedup import (
    SEGMENT_DUP_FRAC_MAX,
    dedup_segments,
    segment_stats,
)
from etl_city_directories_spark.operators.scale_ops import (
    ZORDER_BITS,
    _morton_col,
    q_hll_partial_rollup,
    q_zorder_layout,
)
from etl_city_directories_spark.operators.textstats import (
    GOPHER_MIN_DISTINCT_FRAC,
    GOPHER_MIN_STOP_HITS,
    GOPHER_MIN_WORDS,
    GOPHER_MWL_MAX,
    GOPHER_MWL_MIN,
    GOPHER_MAX_SYMBOL_RATIO,
    RESERVOIR_K,
    gopher_cols,
    sample_reservoir,
    text_gopher_filter,
)
from etl_city_directories_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# text_gopher_filter
# ---------------------------------------------------------------------------

GOOD = (
    "the quick brown fox jumps over a lazy dog and the crew of "
    "the little boat sails far beyond the wide bay tonight"
)  # 23 words, mean length ~4, diverse, stopword-rich


def test_gopher_rule_boundaries(spark):
    rows = [
        (0, GOOD),                                # passes every rule
        (1, "the a of and to"),                   # too short
        (2, ("aa " * 30).strip()),                # diversity + stopwords fail
        (3, GOOD + " ### ... ### ... ###"),       # symbol ratio fails
        (4, " ".join("wonderfulness%d" % i for i in range(25))
            + " the a of and to"),                # mean word length > 10
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in df.select("doc_id", *gopher_cols()).collect()}
    assert got[0].keep
    assert got[0].stop_hits >= GOPHER_MIN_STOP_HITS
    assert not got[1].keep and got[1].n_words < GOPHER_MIN_WORDS
    assert not got[2].keep
    assert got[2].distinct_frac < GOPHER_MIN_DISTINCT_FRAC
    assert not got[3].keep and got[3].symbol_ratio > GOPHER_MAX_SYMBOL_RATIO
    assert not got[4].keep and got[4].mean_word_len > GOPHER_MWL_MAX


def test_gopher_keep_consistent_with_signals(spark):
    for r in text_gopher_filter(spark, SF).collect():
        expect = (
            GOPHER_MIN_WORDS <= r.n_words
            and GOPHER_MWL_MIN <= r.mean_word_len <= GOPHER_MWL_MAX
            and r.symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
            and r.distinct_frac >= GOPHER_MIN_DISTINCT_FRAC
            and r.stop_hits >= GOPHER_MIN_STOP_HITS
        )
        assert r.keep == expect, r


# ---------------------------------------------------------------------------
# sample_reservoir
# ---------------------------------------------------------------------------

def test_reservoir_matches_python_bottom_k(spark):
    ids = [r.doc_id for r in load_table(spark, SF, "documents").select("doc_id").collect()]
    expect = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:RESERVOIR_K]
    got = sample_reservoir(spark, SF).orderBy("sample_rank").collect()
    assert [r.doc_id for r in got] == expect
    assert [r.sample_rank for r in got] == list(range(1, len(expect) + 1))
    # priorities are non-decreasing in rank order
    pris = [r.priority for r in got]
    assert pris == sorted(pris)


def test_reservoir_is_nested(spark):
    """Bottom-K sampling is composable: the bottom-10 is a strict
    prefix of the bottom-K sample — the property that lets nested
    corpus subsets share one hash pass."""
    got = sample_reservoir(spark, SF).orderBy("sample_rank").collect()
    small = [r.doc_id for r in got[:10]]
    assert small == [r.doc_id for r in got][:10]


# ---------------------------------------------------------------------------
# dedup_segments
# ---------------------------------------------------------------------------

def test_dedup_segments_invariants(spark):
    for r in dedup_segments(spark, SF_CORRECT).collect():
        assert 0 <= r.n_dup_segs <= r.n_segs
        assert r.keep == (r.dup_seg_frac <= SEGMENT_DUP_FRAC_MAX)


def test_dedup_segments_synthetic(spark):
    base = " ".join("word%d" % i for i in range(16))  # exactly 2 segments
    rows = [
        (0, base),                                      # clone of 1
        (1, base),
        (2, base + " " + " ".join("tail%d" % i for i in range(8))),
        (3, " ".join("other%d" % i for i in range(16))),  # unique
    ]
    got = {
        r.doc_id: r
        for r in segment_stats(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    # exact clones: every segment duplicated → dropped
    assert got[0].dup_seg_frac == 1.0 and not got[0].keep
    assert got[1].dup_seg_frac == 1.0 and not got[1].keep
    # doc 2 shares the 2 base-aligned segments, owns its 1-segment tail
    assert got[2].n_segs == 3 and got[2].n_dup_segs == 2
    assert not got[2].keep  # 2/3 > 0.5
    # unique doc keeps everything
    assert got[3].n_dup_segs == 0 and got[3].keep


# ---------------------------------------------------------------------------
# q_zorder_layout
# ---------------------------------------------------------------------------

def test_zorder_buckets_bound_both_dimensions(spark):
    rows = q_zorder_layout(spark, SF_CORRECT).collect()
    assert rows
    span_bound = (1 << (ZORDER_BITS // 2)) - 1  # top nibble fixed per bucket
    for r in rows:
        assert 0 <= r.zbucket < 256
        assert r.x_span <= span_bound, r
        assert r.y_span <= span_bound, r


def test_zorder_range_partition_write_is_disjoint(spark):
    """The physical layout path: range-partitioning on the z-value
    yields pairwise-disjoint z-ranges per output partition (what makes
    every written file's footer min/max narrow in both dimensions)."""
    orders = load_table(spark, SF_CORRECT, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(1 << ZORDER_BITS)).cast("int")
    y = F.pmod(
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01"))),
        F.lit(1 << ZORDER_BITS),
    ).cast("int")
    parts = (
        orders.select(_morton_col(x, y).alias("z"))
        .repartitionByRange(16, "z")
        .select(F.spark_partition_id().alias("pid"), "z")
        .groupBy("pid")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(parts) > 1
    for a, b in zip(parts, parts[1:]):
        assert a.hi <= b.lo, (a, b)


# ---------------------------------------------------------------------------
# q_hll_partial_rollup
# ---------------------------------------------------------------------------

def test_hll_merge_and_direct_track_exact(spark):
    from etl_city_directories_spark.operators.scale_ops import (
        HLL_REL_TOL,
        _hll_rollup_detail,
    )

    rows = _hll_rollup_detail(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r.n_days >= 1
        assert r.exact_users > 0
        # at sf0.01 the sketch is still sparse-exact → estimates equal
        # the ground truth bit-for-bit (merged==direct==exact)
        assert r.est_merged == r.est_direct == r.exact_users, r
    pub = q_hll_partial_rollup(spark, SF_CORRECT).collect()
    assert all(r.merged_est_ok and r.direct_est_ok for r in pub), pub
    assert HLL_REL_TOL < 0.05


def test_hll_contract_holds_past_sparse_mode(spark):
    # sf0.1: 1500 users/type pushes the sketch out of sparse mode —
    # merged and direct may legally diverge, but BOTH stay in tolerance
    rows = q_hll_partial_rollup(spark, "/root/testdata/sf0.1").collect()
    assert rows
    assert all(r.merged_est_ok and r.direct_est_ok for r in rows), rows


# ---------------------------------------------------------------------------
# ann_rrf_hybrid / q_cdc_apply / q_snapshot_diff
# ---------------------------------------------------------------------------

def test_rrf_hybrid_score_is_pure_rank_function(spark):
    from etl_city_directories_spark.operators.similarity import (
        RRF_K,
        RRF_TOP,
        ann_rrf_hybrid,
    )

    rows = ann_rrf_hybrid(spark, SF).collect()
    assert rows
    by_probe: dict[int, list] = {}
    for r in rows:
        assert r.rank_vec >= 1 and r.rank_lex >= 1
        expect = round(1.0 / (RRF_K + r.rank_vec) + 1.0 / (RRF_K + r.rank_lex), 6)
        assert abs(r.rrf_score - expect) < 1e-9, r
        by_probe.setdefault(r.probe_id, []).append(r)
    for probe, rs in by_probe.items():
        ranks = sorted(x.fused_rank for x in rs)
        assert ranks == list(range(1, RRF_TOP + 1)), probe
        ordered = sorted(rs, key=lambda x: x.fused_rank)
        scores = [x.rrf_score for x in ordered]
        assert scores == sorted(scores, reverse=True), probe


def test_cdc_apply_matches_python_replay(spark):
    from etl_city_directories_spark.operators.scale_ops import (
        _CDC_OPS,
        q_cdc_apply,
    )

    ev = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type").isin(*_CDC_OPS))
        .select("user_id", "ts", "event_id", "value", "event_type")
        .collect()
    )
    last: dict[int, tuple] = {}
    counts: dict[int, int] = {}
    for r in ev:
        counts[r.user_id] = counts.get(r.user_id, 0) + 1
        key = (r.ts, r.event_id)
        if r.user_id not in last or key > last[r.user_id][0]:
            last[r.user_id] = (key, _CDC_OPS[r.event_type], round(r.value, 2))
    expect = {
        u: (t[1], t[2], counts[u]) for u, t in last.items() if t[1] != "D"
    }
    got = {r.user_id: (r.last_op, r.last_value, r.n_ops) for r in q_cdc_apply(spark, SF).collect()}
    assert got == expect
    # deleted keys really are absent
    deleted = {u for u, t in last.items() if t[1] == "D"}
    assert deleted.isdisjoint(got)
    assert deleted, "sf0.001 should contain trailing deletes"


def test_snapshot_diff_classification(spark):
    from etl_city_directories_spark.operators.scale_ops import q_snapshot_diff

    rows = q_snapshot_diff(spark, SF_CORRECT).collect()
    assert rows
    seen = set()
    for r in rows:
        if r.n_a == 0:
            expect = "added"
        elif r.n_b == 0:
            expect = "removed"
        elif r.n_a != r.n_b or r.sum_a != r.sum_b:
            expect = "changed"
        else:
            expect = "unchanged"
        assert r.status == expect, r
        seen.add(r.status)
    assert {"added", "removed", "changed"} & seen, seen


def test_stream_topk_leaderboard_shape(spark):
    from etl_city_directories_spark.streaming.stream_ops import (
        STREAM_TOPK,
        stream_topk,
    )

    rows = stream_topk(spark, SF).collect()
    assert rows
    by_win: dict[int, list] = {}
    for r in rows:
        by_win.setdefault(r.bucket_start_us, []).append(r)
    for win, rs in by_win.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= STREAM_TOPK
        counts = [r.n_events for r in rs]
        assert counts == sorted(counts, reverse=True), win


def test_domain_classify_argmax_invariants(spark):
    from etl_city_directories_spark.operators.textstats import (
        text_domain_classify,
    )

    rows = text_domain_classify(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert len(rows) == n_docs  # exactly one routing decision per doc
    for r in rows:
        assert r.mean_lp < 0  # log-probs
        assert r.is_correct == (r.pred_source == r.actual_source)
        assert r.pred_source.startswith("src")


def test_bitmap_set_algebra_inclusion_exclusion(spark):
    from etl_city_directories_spark.operators.scale_ops import (
        q_bitmap_set_algebra,
    )

    rows = q_bitmap_set_algebra(spark, SF_CORRECT).collect()
    n_types = (
        load_table(spark, SF_CORRECT, "events")
        .select("event_type")
        .distinct()
        .count()
    )
    assert len(rows) == n_types * (n_types - 1) // 2  # every unordered pair
    ev = load_table(spark, SF_CORRECT, "events").select("event_type", "user_id")
    users = {
        t: {r.user_id for r in ev.filter(F.col("event_type") == t).distinct().collect()}
        for t in {r.type_a for r in rows} | {r.type_b for r in rows}
    }
    for r in rows:
        a, b = users[r.type_a], users[r.type_b]
        assert r.n_a == len(a) and r.n_b == len(b)
        assert r.n_union == len(a | b)
        assert r.n_intersect == len(a & b)  # bitmaps are EXACT
        assert r.n_intersect == r.n_a + r.n_b - r.n_union
        assert abs(r.jaccard - round(len(a & b) / len(a | b), 4)) < 1e-9


def test_attribution_credit_conserved(spark):
    """Linear attribution distributes EXACTLY one credit unit per
    touched conversion: Σ channel credit == #conversions with ≥1
    touch in the lookback window."""
    from etl_city_directories_spark.operators.temporal import (
        ATTR_LOOKBACK_HOURS,
        _ATTR_TOUCH_TYPES,
        q_attribution_linear,
    )

    rows = q_attribution_linear(spark, SF_CORRECT).collect()
    assert {r.channel for r in rows} <= set(_ATTR_TOUCH_TYPES)
    ev = load_table(spark, SF_CORRECT, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).collect()
    touches: dict[int, list] = {}
    for e in ev:
        if e.event_type in _ATTR_TOUCH_TYPES:
            touches.setdefault(e.user_id, []).append(e.ts)
    touched_convs = 0
    lb = ATTR_LOOKBACK_HOURS * 3600
    for e in ev:
        if e.event_type == "purchase":
            ts = e.ts.timestamp()
            if any(
                0 <= ts - t.timestamp() <= lb
                for t in touches.get(e.user_id, [])
            ):
                touched_convs += 1
    assert abs(sum(r.total_credit for r in rows) - touched_convs) < 0.01


def test_mmr_diversify_greedy_semantics(spark):
    """MMR output must match a python replay of the greedy selection
    over the same rounded candidate/similarity tables, and rank-1 must
    equal the plain relevance argmax."""
    from etl_city_directories_spark.operators.similarity import (
        MMR_CAND,
        MMR_K,
        MMR_LAMBDA,
        ann_mmr_diversify,
        _vectors,
    )

    rows = ann_mmr_diversify(spark, SF).collect()
    by_probe: dict[int, list] = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    vecs = {r.vec_id: (r.v, r.nrm) for r in _vectors(spark, SF).collect()}

    def cos(a, b):
        va, na = vecs[a]
        vb, nb = vecs[b]
        dot = 0.0
        for x, y in zip(va, vb):
            dot += x * y
        return round(dot / ((na ** 0.5) * (nb ** 0.5)), 6)

    for probe, rs in by_probe.items():
        rs.sort(key=lambda r: r.mmr_rank)
        assert [r.mmr_rank for r in rs] == list(range(1, MMR_K + 1))
        cand = sorted(
            ((cos(probe, c), c) for c in vecs if c != probe),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_CAND]
        rel = {c: r for r, c in cand}
        selected = []
        for t in range(MMR_K):
            pool = [c for _, c in cand if c not in selected]
            if not selected:
                scored = [(rel[c], c) for c in pool]
            else:
                scored = [
                    (
                        round(
                            MMR_LAMBDA * rel[c]
                            - (1 - MMR_LAMBDA)
                            * max(cos(c, s) for s in selected),
                            6,
                        ),
                        c,
                    )
                    for c in pool
                ]
            scored.sort(key=lambda x: (-x[0], x[1]))
            best_score, best = scored[0]
            assert rs[t].neighbor_id == best, (probe, t, rs[t], scored[:3])
            assert abs(rs[t].mmr_score - best_score) < 1e-9
            assert abs(rs[t].relevance - rel[best]) < 1e-9, (probe, t, rs[t])
            selected.append(best)


def test_mmr_diversify_ties_match_oracle(spark, tmp_path):
    """On integer vectors with exact duplicates (equal relevance, sim
    1.0) and mirrored pairs (equal relevance, equal max-sim to the
    selected set), exact score ties fall across the top-MMR_CAND cut
    (7 of the 10 probes) and at the argmax of every greedy step (7, 2
    and 4 probes at steps 1-3). The tie-break (lowest id wins) must
    agree with the DuckDB oracle row for row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import oracle_sql
    from etl_city_directories_spark.operators.similarity import ann_mmr_diversify
    from tools.compare import canon

    vectors = [
        (1, 0, 0, 0), (0, 1, 0, 0), (1, 1, 0, 0), (1, -1, 0, 0),
        (1, 0, 0, 0), (0, 0, 1, 0), (0, 0, -1, 0), (1, 1, 1, 0),
        (1, 1, -1, 0), (1, -1, 1, 0), (1, 1, 0, 0), (0, 0, 0, 1),
        (0, 0, 0, -1), (2, 0, 0, 0), (1, 0, 1, 1), (1, 0, -1, -1),
    ]
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vectors)), pa.int64()),
            "embedding": pa.array(vectors, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vectors), pa.int32()),
        }),
        path,
    )
    got = ann_mmr_diversify(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    want = con.execute(oracle_sql()["ann_mmr_diversify"]).fetchdf()
    con.close()
    assert len(got) == len(want) == 30
    assert canon(got) == canon(want)


def test_occupation_year_stats_shape(spark):
    from etl_city_directories_spark.operators.citydir import (
        OCC_TOP_PER_YEAR,
        cd_occupation_year_stats,
    )

    rows = cd_occupation_year_stats(spark, SF).collect()
    assert rows
    by_year: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.n_geocoded_persons <= r.n_persons
        assert abs(r.geocoded_rate - round(r.n_geocoded_persons / r.n_persons, 4)) < 1e-9
        by_year.setdefault(r.year, []).append(r)
    for year, rs in by_year.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= OCC_TOP_PER_YEAR
        counts = [r.n_persons for r in rs]
        assert counts == sorted(counts, reverse=True), year


def test_global_permute_is_uniform_and_stable(spark):
    from etl_city_directories_spark.operators.textstats import (
        SHUFFLE_N_SHARDS,
        shuffle_global_permute,
    )

    rows = shuffle_global_permute(spark, SF_CORRECT).collect()
    n = len(rows)
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < SHUFFLE_N_SHARDS
        by_shard.setdefault(r.shard, []).append(r)
    # uniformity: no shard more than 2x the expected share
    for shard, rs in by_shard.items():
        assert len(rs) < 2 * n / SHUFFLE_N_SHARDS + 10, (shard, len(rs))
        ranks = sorted(r.pos_in_shard for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
    # rerun-stability: identical permutation on a second invocation
    again = shuffle_global_permute(spark, SF_CORRECT).collect()
    key = lambda rs: sorted((r.doc_id, r.shard, r.pos_in_shard) for r in rs)
    assert key(rows) == key(again)


def test_dsir_prefers_target_like_docs(spark):
    from etl_city_directories_spark.operators.textstats import (
        DSIR_KEEP,
        DSIR_TARGET_SOURCE,
        sample_dsir,
    )

    rows = sample_dsir(spark, SF_CORRECT).collect()
    assert 0 < len(rows) <= DSIR_KEEP
    assert all(r.source != DSIR_TARGET_SOURCE for r in rows)
    ratios = [r.log_ratio for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))

"""Scale probe: does each approximate operator's cost grow ~linearly?

Builds a K× corpus in /tmp by replicating sf0.1 documents/embeddings
with offset ids and per-copy text perturbation (copies of a doc are NOT
near-dups of each other, so the true-pair count grows linearly — any
super-linear runtime is algorithmic, not semantic). Runs the pair-
generating operators at 1× and K× and prints the runtime ratio; a
healthy LSH/blocked operator lands near K, an accidental all-pairs
operator lands near K².

Usage: python tools/scale_probe.py [K] [key ...]   (K defaults to 10)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

BASE = "/root/testdata/sf0.1"
# v2: per-word markers / vector rotation (v1's ' probecopy{i}' suffix
# left copies as near-dups of each other — 3-gram jaccard ≈ 0.9 — so
# the TRUE pair count grew ~K² and every scorer looked super-linear)
# v5: customer names gain a 3-char per-copy marker PREPENDED
# (cross-copy levenshtein >= 3 > MAX_EDIT with the digit tail's block
# diversity intact), so the er_* true-pair counts stay LINEAR in K and
# those ops are honestly probeable. Events timestamps stay VERBATIM:
# an interim v4 corpus shifted each copy +10y to make band-join pairs
# linear, but that grows the global calendar K x and the dense-grid
# family (users x calendar spine: gapfill/LOCF/date-spine) then does
# K^2 work BY CONSTRUCTION — you cannot make both families honest on
# one corpus, and the calendar family is the bigger surface. See
# BAND_JOIN_NOTE for the band join's standalone evidence.
PROBE_DIR = "/tmp/spark_graft_scale_probe_v5"

# q_band_join_bucketed on a fixed calendar: in-band pair mass is
# SEMANTICALLY quadratic in temporal density (10x events in the same
# span => ~100x pairs) — a property of the query, not the plan; the
# plan is a bucketed equi-join whose cost tracks emitted pairs. On the
# interim span-stretched v4 corpus (disjoint copy windows, true pairs
# linear) it measured 3.2x at 10x data — LINEAR-ish.
BAND_JOIN_NOTE = (
    "in-band pair mass is semantically quadratic in temporal density "
    "on a fixed calendar; plan is pair-bounded (bucketed equi-join) — "
    "measured 3.2x at 10x on the span-stretched v4 corpus"
)

OPS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_clusters",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding",
    "ann_ivf_bucketed",
    "text_fingerprint",
    "sample_stratified",
    "decontaminate",
    "decontaminate_fuzzy",
    "dedup_near_keep_first",
    "ann_pq_adc",
    "text_unigram_logprob",
    "text_chunk",
    "dedup_shared_spans",
    "corpus_prepare_pipeline",
    "dedup_prefix",
    "pack_sequences",
    "text_mojibake_stats",
    "graph_pagerank_dupes",
    "dedup_segments",
    "text_gopher_filter",
    "sample_reservoir",
    "ann_rrf_hybrid",
    "text_domain_classify",
    "ann_mmr_diversify",
    "shuffle_global_permute",
    "text_perplexity_buckets",
    "sample_balanced_classes",
    "sample_train_test_split",
    "dedup_cross_source",
    "dedup_semantic",
    "bpe_pair_counts",
    "bpe_train_merges",
    "bpe_encode",
    "sketch_countmin_topk",
    "dedup_bloom_incremental",
    "ann_ivf_pq",
    "emb_pca_power",
    "emb_pca_project",
    "text_ocr_spellfix",
    "emb_knn_classify",
    "emb_hard_negatives",
    "dedup_containment",
    "sample_weighted_reservoir",
    "q_time_weighted_avg",
    "q_ohlc_bars",
    "q_market_basket",
    "graph_triangle_count",
    "q_rfm_segmentation",
    "q_pareto_abc",
    "q_regr_trend",
    "q_skew_salted_join",
    "q_k_anonymity",
    "q_table_checksum",
    "text_char_entropy",
    "corpus_mix_epochs",
    "q_unpivot",
    "text_ngram_novelty",
    "dedup_lsh_tuning",
    "q_validate_fk",
    # r05 batch 2-4 additions. er_* were excluded through r7 (verbatim
    # c_name copies made their true-pair counts K²-by-construction);
    # the v5 corpus perturbs customer names, so they are probed
    # honestly below (r8). q_band_join_bucketed stays out of OPS — its
    # pair mass is semantically quadratic on a fixed calendar (see
    # BAND_JOIN_NOTE; the full-surface sweep prints it as an encoded
    # exclusion, with the span-stretched v4 measurement as evidence).
    "er_blocked_pairs",
    "er_match_clusters",
    "er_golden_record",
    "text_winnowing",
    "text_kneser_ney_logprob",
    "text_langid_confusion",
    "bpe_vocab_coverage",
    "mm_dedup_bytes",
    "q_interval_coalesce",
    "q_markov_stationary",
    "q_double_ewma_trend",
    "q_welch_ttest",
    "q_ols_two_feature",
    "sample_neyman_allocation",
    "emb_recall_at_k",
    "graph_wcc",
    # r05 batch 11-19 additions (er_blocking_quality probeable since
    # the v4 corpus perturbs customer names; q_segment_migration /
    # q_growth_accounting / q_price_index / q_did_promo are single-pass
    # grid folds and probe like the stats suite)
    "er_blocking_quality",
    "q_survival_km",
    "q_elasticity_loglog",
    "mm_audio_silence",
    "q_segment_migration",
    "text_heaps_law",
    "q_anova_oneway",
    "text_source_vocab_overlap",
    "graph_assortativity",
    "q_partition_skew_audit",
    "q_growth_accounting",
    "q_abc_xyz_matrix",
    "q_dau_wau_stickiness",
    "dedup_winnowing_pairs",
    "q_did_promo",
    "emb_ivf_balance",
    "text_length_percentiles",
    "q_price_index",
    "q_cohort_ltv",
    "q_supplier_hhi",
    "q_dow_hour_heatmap",
    "q_wilcoxon_signed_rank",
    "q_kruskal_wallis",
    "text_source_js_divergence",
    "decontaminate_split_leakage",
    # r06 additions (stream_hash_sample excluded like the other
    # stream_* keys: the probe harness is batch-only)
    "q_kmv_distinct",
    "q_theil_sen",
    "q_changepoint_argmax",
    "q_backlog_aging",
    "q_shipping_delay_profile",
    "graph_common_neighbors",
    "text_readability",
    "text_code_detect",
    "feature_target_encode",
    "feature_woe_binning",
    "feature_hash_encode",
    "emb_outlier_zscore",
    "emb_matryoshka_recall",
    "corpus_curriculum_order",
    # r06 batch 2
    "graph_kcore",
    "q_repeat_purchase_curve",
    "dedup_cluster_size_hist",
    "dedup_minhash_fidelity",
    "text_quality_by_source",
    "feature_robust_scale",
    "emb_cosine_threshold_curve",
    # r06 batch 3
    "q_cart_abandonment",
    "q_error_budget_burn",
    "q_data_freshness_audit",
    "emb_label_separation",
    "sample_coreset_kcenter",
    "feature_onehot_topk",
    # r06 batch 4
    "mm_aspect_ratio_buckets",
    "q_runlength_streaks",
    "q_new_product_adoption",
    # r06 batch 5 (stream_max_event_time excluded: batch-only harness)
    "q_seasonal_index_weekly",
    "text_hapax_ratio",
    "emb_norm_outliers",
]


# ops over the IVF quantizer (similarity.kmeans_cells). Production
# resizes its cell count K with N; the probe replays that policy by
# setting similarity.N_CELLS for the big run, so the per-cell
# population stays fixed. SemDeDup compares all pairs inside a cell,
# so at a fixed K it would come back (N/K)² instead of near-linear.
RESIZE_CELLS_WITH_N = {
    "dedup_semantic",
    "ann_ivf_bucketed",
    "ann_ivf_pq",
    "emb_hard_negatives",
    "emb_ivf_balance",
}

# Verdict bands (ratio = t_big / t_base at K× data):
# - ratio <= NOTE_BAND*k      → LINEAR-ish: total runtime grew no faster
#   than the data did, which is linear-or-better BY DEFINITION — most
#   healthy cells land far below k because per-query fixed cost
#   (session, planning, parquet open) dominates the 1× cell, so a cell
#   at, say, 0.7·k just amortizes its constant less than its siblings
#   (the affine fits in CAUSE_NOTES demonstrate this mechanism).
# - NOTE_BAND*k < r <= HARD*k → NEAR-LINEAR: runtime grew FASTER than
#   the data — acceptable only WITH a one-line cause note in
#   CAUSE_NOTES; an un-noted cell is flagged.
# - ratio > HARD*k            → SUPER-LINEAR ⚠: a defect regardless of
#   notes (r5 verdict: the old 2.5·k limit let 25× growth at 10× pass;
#   the r5 offenders — dedup_ngram_jaccard 12.2×, fixed-K
#   dedup_semantic 16.9× — both land above NOTE_BAND under these bands
#   and both were fixed in r6: df-capped buckets / K resized with N).
NOTE_BAND = 1.0
HARD = 1.5

# One-line cause notes for cells allowed to sit between NOTE_BAND*k and
# HARD*k. Each must state the mechanism, not hand-wave; the r6 round
# backs the map-op notes with a 3-point affine fit.
CAUSE_NOTES = {
    "er_blocked_pairs": (
        "data-scaled suffix width holds block population at ~6 rows "
        "across scales (w=2 at 15k rows, w=3 at 150k: candidate pairs "
        "37.5k -> 375k, exactly 10x); the small excess over k is "
        "levenshtein on the probe corpus's 3-char-longer names plus "
        "fixed-cost amortization"
    ),
    "er_pair_score_distribution": (
        "downstream rollup of the SAME blocked candidate generator as "
        "er_blocked_pairs — identical mechanism: candidate pairs grow "
        "exactly 10x under the data-scaled suffix width, the excess "
        "over k is levenshtein on the probe corpus's 3-char-longer "
        "names plus fixed-cost amortization"
    ),
    "text_fingerprint": (
        "pure map (no shuffle); 1x cell is fixed-cost dominated — "
        "3-point fit t(K)=a+b*K holds (r06: t(4) measured 2.64 s vs "
        "2.30 s affine-predicted from the (1,10) fit; a quadratic fit "
        "predicts 1.5 s), marginal cost per copy is constant"
    ),
    "decontaminate_fuzzy": (
        "minhash-band join against the fixed bench set; candidate mass "
        "is linear in corpus bands, ratio is amortized fixed cost of "
        "the two-sided signature build"
    ),
    "text_gopher_filter": (
        "pure map of per-doc gates; same fixed-cost amortization as "
        "text_fingerprint (r06 affine fit: t(4) measured 1.35 s vs "
        "1.37 s predicted from the (1,10) fit — affine to 2%)"
    ),
    "ann_rrf_hybrid": (
        "both retriever legs are probe-count-bounded (N_PROBES fixed); "
        "corpus growth only widens the per-cell scan linearly, ratio "
        "tracks the ivf leg's amortized index build"
    ),
    "graph_triangle_count": (
        "edge DISCOVERY (per-order C(b,2) explode + distinct) is the "
        "K-linear stage; the oriented wedge/closing joins run on the "
        "fixed distinct part graph (probe copies repeat the part mix)"
    ),
    "graph_jaccard_neighbors": (
        "same mechanism as graph_triangle_count: K-linear edge "
        "discovery dominates; the neighbor-set intersection joins run "
        "on the fixed distinct part graph (probe copies repeat the "
        "part mix), so the excess over k is discovery + amortization"
    ),
    "text_ngram_novelty": (
        "no pair join — explode + groupBy(shingle) + one key join, all "
        "linear in exploded shingle rows; ratio tracks shuffle volume "
        "which is exactly K-proportional"
    ),
}


def build_corpus(k: int) -> str:
    out = os.path.join(PROBE_DIR, f"x{k}")
    if os.path.exists(out):
        return out
    os.makedirs(out)
    con = duckdb.connect()
    # copy 0 is verbatim; copy i>0 suffixes EVERY word with a copy
    # marker, so no 3-gram shingle (and no simhash word hash) is shared
    # between copies — the true near-dup pair count stays linear in K
    copies = " UNION ALL ".join(
        (
            f"""SELECT doc_id AS doc_id, text, lang, source, n_chars
            FROM read_parquet('{BASE}/documents.parquet')"""
            if i == 0
            else f"""SELECT doc_id + {i * 1_000_000} AS doc_id,
                   array_to_string(
                     list_transform(string_split(text, ' '), x -> x || '{chr(96 + i)}'),
                     ' ') AS text,
                   lang, source, n_chars
            FROM read_parquet('{BASE}/documents.parquet')"""
        )
        for i in range(k)
    )
    con.execute(f"COPY ({copies}) TO '{out}/documents.parquet' (FORMAT PARQUET)")
    # copy i rotates the embedding by i dims — rotations of these
    # vectors are mutually near-orthogonal, so identical-vector K²
    # blowup disappears while corpus size still scales K×
    vcopies = " UNION ALL ".join(
        (
            f"""SELECT vec_id, embedding, label
            FROM read_parquet('{BASE}/embeddings.parquet')"""
            if i == 0
            else f"""SELECT vec_id + {i * 1_000_000} AS vec_id,
                   list_concat(embedding[{i + 1}:], embedding[1:{i}]) AS embedding,
                   label
            FROM read_parquet('{BASE}/embeddings.parquet')"""
        )
        for i in range(k)
    )
    con.execute(f"COPY ({vcopies}) TO '{out}/embeddings.parquet' (FORMAT PARQUET)")
    # v3: the relational facts replicate too (key-offset copies), so
    # relational probes (market basket, RFM, checksum, OHLC) see a real
    # K x input instead of a flat copy. Parts/suppliers stay 1x — they
    # are the dimension; per-copy baskets repeat the same part mix so
    # pair CANDIDATES stay fixed while pair work scales K x, which is
    # exactly the linear-cost shape the probe wants to verify.
    fact_copies = {
        "lineitem": "SELECT l_orderkey + {off} AS l_orderkey, l_partkey, "
        "l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, "
        "l_tax, l_returnflag, l_linestatus, l_shipdate "
        "FROM read_parquet('{base}/lineitem.parquet')",
        "orders": "SELECT o_orderkey + {off} AS o_orderkey, "
        "o_custkey + {coff} AS o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority "
        "FROM read_parquet('{base}/orders.parquet')",
        # copy i>0 PREPENDS a 3-char marker to c_name: cross-copy
        # levenshtein >= 3 (> linkage MAX_EDIT = 2) so no cross-copy
        # TRUE match exists, while the digit TAIL keeps its base
        # diversity — the suffix-block populations stay bounded by the
        # data-scaled width rule. (Appending would make the marker the
        # tail and collapse each copy into ONE block per nation.)
        "customer": "SELECT c_custkey + {coff} AS c_custkey, "
        "'{cmark}' || c_name AS c_name, "
        "c_nationkey, c_acctbal, c_mktsegment "
        "FROM read_parquet('{base}/customer.parquet')",
        # ts stays verbatim (see the v5 note above): the calendar span
        # must NOT grow with K or the dense-grid ops go quadratic
        "events": "SELECT event_id + {off} AS event_id, ts, "
        "user_id + {uoff} AS user_id, event_type, value, props "
        "FROM read_parquet('{base}/events.parquet')",
    }
    for t, tpl in fact_copies.items():
        arms = " UNION ALL ".join(
            tpl.format(
                base=BASE,
                off=i * 10_000_000,
                coff=i * 1_000_000,
                uoff=i * 10_000,
                cmark=chr(96 + i) * 3 if i else "",
            )
            for i in range(k)
        )
        con.execute(f"COPY ({arms}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    for t in ("region", "nation", "supplier", "part"):
        shutil.copy(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    ops = sys.argv[2:] or OPS  # optional key subset: probe just-landed ops
    big = build_corpus(k)

    import __spark_entry__ as m
    from etl_city_directories_spark.functions import memo
    from etl_city_directories_spark.operators import similarity
    from etl_city_directories_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    spark.read.parquet(f"{BASE}/documents.parquet").count()  # warm

    # production K-scaling policy for the in-cell-quadratic ops: within-
    # cell pair mass is ~N²/K, so holding per-cell population constant
    # (linear total pair mass) requires K ∝ N. SemDeDup's 50k cells for
    # LAION follow the same proportional sizing. Lloyd assignment is
    # O(N·K) under this policy — production trains the quantizer on a
    # fixed-size SAMPLE to keep that flat; at probe sizes it is minor.
    default_cells = similarity.N_CELLS
    scaled_cells = default_cells * k

    n_flagged = 0
    print(f"{'operator':24} {'1x sec':>8} {f'{k}x sec':>8} {'ratio':>6}  verdict")
    for name in ops:
        times = {}
        failed = None
        for label, sf_dir in (("base", BASE), ("big", big)):
            if name in RESIZE_CELLS_WITH_N and label == "big":
                similarity.N_CELLS = scaled_cells
            # best-of-2: a single-shot cell is GC/page-cache noise-prone
            # (one stray 4x reading flips the verdict at these sizes)
            best = None
            for _ in range(2):
                # cold, as in bench.py: a memoized index (IVF cells, PQ
                # codebooks, LSH buckets) is rebuilt, not read back
                spark.catalog.clearCache()
                memo.reset()
                t0 = time.perf_counter()
                try:
                    qs[name](spark, sf_dir).collect()
                except Exception as exc:  # full-surface sweeps: one bad
                    failed = f"{type(exc).__name__}: {exc}"  # cell must
                    break  # not kill the remaining ops' evidence
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[label] = best
            similarity.N_CELLS = default_cells
            if failed:
                break
        if failed:
            n_flagged += 1
            # keep the partial evidence: which label died, and the
            # surviving base timing when it was measured
            base_t = times.get("base")
            base_s = f"{base_t:8.2f}" if base_t is not None else f"{'--':>8}"
            print(
                f"{name:24} {base_s} {'--':>8} {'--':>6}  "
                f"ERROR@{label} ⚠ {failed[:110]}"
            )
            continue
        ratio = times["big"] / times["base"]
        if ratio <= NOTE_BAND * k:
            verdict = "LINEAR-ish"
            note = CAUSE_NOTES.get(name)
            if note:  # context for cells the r5 verdict asked about
                verdict = f"LINEAR-ish — {note}"
        elif ratio <= HARD * k:
            note = CAUSE_NOTES.get(name)
            if note:
                verdict = f"NEAR-LINEAR — {note}"
            else:
                verdict = "NEAR-LINEAR ⚠ (no cause note)"
                n_flagged += 1
        else:
            verdict = "SUPER-LINEAR ⚠"
            n_flagged += 1
        if name in RESIZE_CELLS_WITH_N:
            verdict += f" [big run at K={scaled_cells}]"
        print(
            f"{name:24} {times['base']:8.2f} {times['big']:8.2f} "
            f"{ratio:6.1f}  {verdict}"
        )
    print(f"flagged: {n_flagged}")
    spark.stop()


if __name__ == "__main__":
    main()

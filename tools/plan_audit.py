"""Plan audit: the one reader of physical-plan text, and the plan-shape
flags every query must pass.

``fingerprint(plan_text)`` counts each operator of a formatted plan
description (``plan_of``) once, from its ``(N) Name`` detail header
(the tree repeats every node). Where AQE's description carries a final
or current plan next to the initial one, the nodes only the initial
plan holds are dropped. ``flags(name, fp)`` names the patterns that
would hurt at 100 TB: a cartesian product, a broadcast nested-loop join
on a side that is not capped, Python eval in an operator that doesn't
declare it. ``tests/test_correctness.py`` asserts no flags on every
query; ``tests/test_plans.py`` pins shapes with the fingerprint.

Usage: python tools/plan_audit.py [sf_dir] [key ...]
Prints every query's fingerprint (or only the named keys') and the
total flag count.
"""

from __future__ import annotations

import collections
import contextlib
import io
import os
import re
import sys
from typing import NamedTuple

# ops that legitimately run Python (pandas UDF / mapInPandas)
PYTHON_OK = {"mm_image_meta", "mm_frame_sample", "mm_audio_meta",
             # archive untar + hOCR decode in one Python pass
             "hocr_parse", "hocr_source_v2",
             # trained-perceptron decode: broadcast weights + Arrow-batched
             # mapInPandas IS the operator (the reference shells to a CRF)
             "cd_parse_tagged",
             # Python UDTF lateral join IS the operator (the table-function
             # escape hatch, Arrow-batched on executors)
             "udtf_chunk_windows"}
# ops where a broadcast nested-loop join is the intended shape:
# non-equi condition against a capped broadcast side, or a 1-row
# scalar-aggregate crossJoin (Spark's DataFrame idiom for a scalar
# subquery — broadcasting one row is free at any scale)
BNLJ_OK = {
    "ann_topk_bruteforce",
    # 1-row scalar-aggregate crossJoins (corpus totals / n_orders /
    # anchor date / triangle count) — the scalar-subquery idiom
    "corpus_mix_epochs",
    "graph_triangle_count",
    "q_market_basket",
    "q_pareto_abc",
    "q_rfm_segmentation",
    # both rankers join the corpus against the capped broadcast probe
    # set on a != condition — the bruteforce-baseline shape
    "ann_rrf_hybrid",
    # candidate generation = same capped broadcast-probe != join, the
    # plan's one BNLJ; the greedy selection after it is one per-probe
    # expression with no further join
    "ann_mmr_diversify",
    # per-(type,bucket) bitmaps join the broadcast 10-row pair table
    # on an OR-of-equalities — non-equi against a capped side
    "q_bitmap_set_algebra",
    # LM-matrix build: distinct-words crossJoin broadcast(per-source
    # totals × 1-row vocab size) — the score-all-classes constant
    "text_domain_classify",
    # dual-LM build: 1-row scalar-aggregate crossJoins (corpus totals
    # + target totals) — the scalar-subquery idiom
    "sample_dsir",
    "q22_idle_customers",
    # 1-row global-total crossJoin (scalar-subquery idiom)
    "q11_important_stock",
    # PQ LUT build: probes.crossJoin(broadcast(M×K codebook rows)) —
    # same intended map-side shape as the k-means assignment
    "ann_pq_adc",
    # 1-row scalar-aggregate crossJoins (bin bounds / per-table purge
    # counts) — broadcasting one row is free at any scale; these two
    # were invisible to earlier audits only because the events ts bug
    # errored them before the plan materialized
    "q_value_histogram",
    "q_gdpr_erasure",
    # same PQ-LUT crossJoin(broadcast(M×K codebook rows)) as
    # ann_pq_adc, inherited by the composed index
    "ann_ivf_pq",
    # wraps the allowlisted brute-force baseline's capped-probe != join
    "emb_knn_classify",
    # per-iteration crossJoin(broadcast(1-row n2 scalar)) — the
    # scalar-subquery idiom for the normalization constant
    "emb_pca_power",
    # crossJoin of two 1-row conditional-aggregate frames (variant A
    # totals x variant B totals) — the scalar-subquery idiom
    "q_ab_proportion_ztest",
    # 1-row span-bounds crossJoin (the pre/post split date) — the
    # scalar-subquery idiom
    "q_cuped_adjustment",
    # 1-row density-scaled-radius crossJoin (r = C/sqrt(n)) — the
    # scalar-subquery idiom; the pair joins themselves are cell-key
    # SMJ/BHJ, never cartesian
    "geo_knn_join",
    # 1-row max-orderdate crossJoin (the delta cutoff) — the
    # scalar-subquery idiom; the view joins themselves are SMJ/BHJ
    "q_ivm_delta_join",
    # two 1-row scalar crossJoins: the span bounds into the spine and
    # the interior-window bounds into the arrivals filter
    "q_queue_little_law",
    # 1-row span-bounds crossJoin (the fold-step scalar)
    "sample_kfold_timeseries",
    # k-means-style crossJoin(broadcast(K-row centroid table)), the
    # intended map-side shape for a K-row side
    "emb_silhouette",
    # date-spine densification: users.crossJoin(broadcast(spine)) —
    # the spine is O(days), the canonical gap-fill expansion shape
    "q_gapfill_locf",
    "q_gapfill_interp",
    # ECDF lattice: event types crossJoin broadcast O(buckets) grid +
    # 1-row per-group totals — both sides dimension-sized
    "q_ks_twosample",
    # r05 batch 11-19: every flag below is crossJoin(broadcast(1-row
    # scalar)) — the split date / anchor horizon / decile-edge array /
    # arm-totals / global-total scalar-subquery idiom
    "q_psi_drift",              # split scalar + 9-edge array broadcast
    "q_survival_km",            # censor-horizon scalar
    "q_segment_migration",      # median-date scalar (x2 halves)
    "q_growth_accounting",      # median-date scalar
    "q_did_promo",              # median-shipdate scalar
    "q_price_index",            # median-shipdate scalar (x2 passes)
    "q_abc_xyz_matrix",         # revenue-total scalar (ABC boundary)
    "q_dau_wau_stickiness",     # day-bounds scalar
    "q_ab_power_mde",           # two 1-row arm frames crossJoined
    # wraps the allowlisted brute-force baseline's capped-probe != join
    "emb_recall_at_k",
    # r05 batch 20-21: median-date scalar (wilcoxon), 1-row tie-table
    # crossJoin (kruskal), and the pair-registration crossJoin against
    # the broadcast O(sources) list (JS divergence) — all
    # dimension-sized broadcast sides
    "q_wilcoxon_signed_rank",
    "q_kruskal_wallis",
    "text_source_js_divergence",
    # r06 additions: 1-row scalar-aggregate crossJoins (as-of date /
    # corpus totals) — the scalar-subquery idiom
    "q_backlog_aging",          # as-of (max order date) scalar
    "feature_woe_binning",      # 1-row good/bad-totals frame
    # capped broadcast-probe != join (the bruteforce-baseline shape,
    # both cosines computed in the one pair scan)
    "emb_matryoshka_recall",
    # r06 batch 3: freshest-date 1-row scalar; K×K centroid != join
    # (labels are dimension-sized)
    "q_data_freshness_audit",
    "emb_label_separation",
    # batch-side 1-row frontier scalar over the streaming sink
    "stream_max_event_time",
    # r08 additions — all the scalar-subquery idiom again:
    "q_mood_median_test",       # 1-row grand-median scalar
    "q_runs_test",              # 1-row series-median scalar
    "q_mutual_information",     # 1-row marginal-entropy frames (x2)
    "text_collocations_pmi",    # 1-row unigram/bigram-total scalars
    # wraps the allowlisted brute-force baseline's capped-probe != join
    "emb_topk_margin",
    # capped broadcast-probe != join (TWONN_PROBES fixed budget)
    "emb_twonn_intrinsic_dim",
    # 1-row global week-count scalar crossJoin
    "q_stockout_risk",
    # 1-row entropy-suffstat frame crossJoin (h_cond x h_uni)
    "text_bigram_cond_entropy",
    # vocab grid crossJoin broadcast O(|Ks|) cutoff ladder (the
    # q_ks_twosample lattice shape)
    "text_vocab_coverage_curve",
    # verified-pair table crossJoin broadcast O(|cuts|) ladder (same
    # lattice shape; the LSH pair table is candidate-bounded)
    "dedup_threshold_sweep",
    # fact crossJoin broadcast O(B)-row replicate grid (the Poisson-
    # bootstrap expansion is the operator) + 1-row point-estimate frame
    "q_bootstrap_ci_mean",
}
JOINS = {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct"}
# "(N) Name ..." detail header and the lines of its block; scans and
# writes keep their second word ("Scan parquet", "Execute InsertInto...")
_NODE = re.compile(r"^\((\d+)\) ((?:Scan|Execute) \S+|\S+)(.*)((?:\n.+)*)", re.M)
_AQE = re.compile(r"^ *\+- == (Final|Current|Initial) Plan ==\n.*?\((\d+)\)", re.M)


class Fingerprint(NamedTuple):
    """Each operator of one physical plan, counted once."""

    nodes: collections.Counter  # operator name -> count
    # (partitioning, input columns) of every shuffle Exchange, with
    # expression ids, partition counts and plan ids stripped, e.g.
    # ("hashpartitioning(l_orderkey), ENSURE_REQUIREMENTS", ["l_orderkey", "buf"])
    shuffles: list
    hash_keys: collections.Counter  # shuffles per hash key list, e.g. {"part_a, part_b": 1}
    broadcasts: int  # BroadcastExchange nodes
    joins: collections.Counter  # join nodes by strategy
    python: collections.Counter  # Python-eval nodes (ArrowEvalPython, MapInPandas, ...)
    scans: collections.Counter  # (format, table or file stem) -> count
    cached: collections.Counter  # InMemoryRelation / InMemoryTableScan nodes


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _superseded(plan: str) -> set[int]:
    """Ids of the nodes that only an AQE initial plan holds. Formatted
    explain numbers an adaptive plan's final (or current) plan first, in
    post-order, then the initial plan's remaining nodes: so those are
    the ids after the final plan's root, up to the initial plan's root."""
    out: set[int] = set()
    final_roots = []
    for m in _AQE.finditer(plan):
        if m.group(1) == "Initial":
            out.update(range(final_roots.pop() + 1, int(m.group(2)) + 1))
        else:
            final_roots.append(int(m.group(2)))
    return out


def fingerprint(plan: str) -> Fingerprint:
    """Count each operator of a formatted plan once (see the module doc)."""
    dropped = _superseded(plan)
    nodes, shuffles, scans = collections.Counter(), [], collections.Counter()
    for m in _NODE.finditer(plan):
        node_id, name, rest, body = int(m.group(1)), m.group(2), m.group(3), m.group(4)
        if node_id in dropped:
            continue
        nodes[name] += 1
        if name == "Exchange":
            cols = re.search(r"^Input(?: \[\d+\])?: \[(.*)\]$", body, re.M).group(1)
            args = re.search(r"^Arguments: (.*)$", body, re.M).group(1)
            args = re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", args)
            args = re.sub(r", \d+\)", ")", args)
            args = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning", args)
            shuffles.append((args, re.sub(r"#\d+L?", "", cols).split(", ") if cols else []))
        elif name.startswith("Scan "):
            loc = re.search(r"^Location: [^\[]*\[([^,\]]*)", body, re.M)
            table = rest.strip() or os.path.basename(loc.group(1) if loc else "").split(".")[0]
            scans[name[5:], table] += 1

    def only(match) -> collections.Counter:
        return collections.Counter({k: n for k, n in nodes.items() if match(k)})

    hash_keys = collections.Counter(
        m.group(1) for args, _ in shuffles if (m := re.match(r"hashpartitioning\((.*)\),", args))
    )
    return Fingerprint(
        nodes, shuffles, hash_keys, nodes["BroadcastExchange"], only(JOINS.__contains__),
        only(re.compile("Pandas|Python|Arrow").search), scans,
        only(("InMemoryRelation", "InMemoryTableScan").__contains__),
    )


def flags(name: str, fp: Fingerprint) -> list[str]:
    """The plan-shape flags of query ``name``: [] when its plan is fine."""
    out = []
    if fp.joins["CartesianProduct"]:
        out.append("CARTESIAN")
    if fp.joins["BroadcastNestedLoopJoin"] and name not in BNLJ_OK:
        out.append("BNLJ")
    if fp.python and name not in PYTHON_OK:
        out.append("PYTHON")
    return out


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as m
    from etl_city_directories_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional key subset: audit just-landed ops
    spark = get_spark("plan-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    flags_total = 0
    for name, fn in sorted(m.queries().items()):
        if only and name not in only:
            continue
        fp = fingerprint(plan_of(fn(spark, sf_dir)))
        found = flags(name, fp)
        flags_total += len(found)
        flag_str = (" ⚠ " + ",".join(found)) if found else ""
        print(f"{name:24} shuffles={len(fp.shuffles)} broadcasts={fp.broadcasts} "
              f"joins={dict(fp.joins)} python={dict(fp.python)} "
              f"scans={sum(fp.scans.values())} cached={dict(fp.cached)}{flag_str}")
    print(f"\nflags: {flags_total}")
    spark.stop()


if __name__ == "__main__":
    main()

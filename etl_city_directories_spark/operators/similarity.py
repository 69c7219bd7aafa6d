"""Approximate-nearest-neighbor search over the embedding column.

- ``ann_topk_bruteforce``: exact cosine top-k. The probe side is a
  small capped set that broadcasts; the corpus side streams — at 100 TB
  the cost is one corpus scan per batch of probes, which is the honest
  brute-force baseline.
- ``ann_ivf_bucketed``: the scale path. Vectors are coarse-partitioned
  into buckets (here the ``label`` column plays the trained IVF cell
  id; on real data it would be argmin-centroid from a k-means pass) and
  each probe searches ONLY its own bucket — the bucket id is the
  shuffle key, cutting compared pairs by ~|buckets|×.

Cosine uses sequential-left-fold dot products (bit-identical in Spark
and DuckDB); ranking orders by round(cos, 6) with vec_id tiebreak so
float noise below 1e-6 can't flip ranks across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_city_directories_spark.functions.memo import (
    cached,
    memo_df,
    rolling_persist,
    table_stamp,
)
from etl_city_directories_spark.sources.tables import load_table, load_table_parallel

N_PROBES = 10
TOP_K = 5


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # The normalized-vector table is the shared prep of EVERY ANN
    # index (norms precomputed once per vector) — memoized per
    # (session, data stamp) like the IVF cells and PQ codebooks it
    # feeds; deterministic, so the oracle replays it bit-for-bit.
    return memo_df(
        spark,
        ("ann_vectors", sf_dir, table_stamp(sf_dir, ("embeddings",))),
        lambda: e.withColumn(
            "nrm", F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
        ),
    )


def _cos(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (F.sqrt(na) * F.sqrt(nb))


def _topk(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_r6"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            "neighbor_id",
            F.round("cos_r6", 4).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast probes × streaming corpus."""
    vecs = _vectors(spark, sf_dir)
    probes = vecs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    pairs = (
        load_table_parallel(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        .withColumn("cn", F.aggregate("cv", F.lit(0.0), lambda acc, x: acc + x * x))
        .join(F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _cos(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")), 6
            ).alias("cos_r6"),
        )
    )
    return _topk(pairs)


# IVF coarse quantizer: K cells, trained with KMEANS_ITERS Lloyd
# rounds from a deterministic md5-ranked seed set; probes search their
# IVF_NPROBE nearest cells (the recall knob). Production tuning scales
# K ~ sqrt(n) and nprobe with the recall target.
N_CELLS = 8
KMEANS_ITERS = 2
IVF_NPROBE = 2


def _dist2(v: Column, c: Column) -> Column:
    """Squared L2 distance as a sequential left fold (bit-identical to
    the DuckDB list_reduce fold)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans_cells(spark: SparkSession, sf_dir: str, n_best: int = 1) -> DataFrame:
    """Train the IVF coarse quantizer and assign every vector a cell.

    Lloyd iterations expressed as DataFrame ops end-to-end:
    - init: the N_CELLS vectors with the smallest md5(vec_id) — a
      deterministic pseudo-random sample any engine can replay (no RNG
      state). TakeOrdered top-K, not a global sort.
    - assign: crossJoin(broadcast(centroids)) + row_number argmin over
      (dist², cell id) — the centroid table is K rows, so this is a
      map-side broadcast join; ties break on cell id in both engines.
    - update: per-dimension centroid means with DECIMAL(27,6) sums —
      decimal addition is associative, so shuffle order can't flip a
      bit, and the DuckDB oracle reproduces the exact same centroids;
      the mean itself divides as double.

    Returns (vec_id, label, v, nrm, cell, cell_rank) with cell_rank ≤
    n_best: rank 1 is the cell a vector BELONGS to; ranks 2..n_best are
    the next-nearest cells (what an nprobe>1 probe also searches). At
    100 TB: assignment is a broadcast map per round, the update is one
    groupBy(cell, dim) shuffle of (K × dims) partials — Lloyd's the
    classic MapReduce way.

    Training is deterministic, so the (vec_id, cell, cell_rank)
    assignment is memoized per (session, sf_dir, data stamp) — index
    construction runs once, every query amortizes it (functions.memo).
    """
    vecs = _vectors(spark, sf_dir)
    return vecs.join(
        memo_df(
            spark,
            (
                "ivf_cells",
                sf_dir,
                n_best,
                N_CELLS,
                table_stamp(sf_dir, ("embeddings",)),
            ),
            lambda: _kmeans_assign(spark, sf_dir, n_best, N_CELLS),
        ),
        "vec_id",
    )


def _kmeans_assign(
    spark: SparkSession, sf_dir: str, n_best: int, n_cells: int = N_CELLS
) -> DataFrame:
    """The Lloyd training loop behind kmeans_cells (memoized there)."""
    vecs = _vectors(spark, sf_dir)
    seeds = (
        vecs.select(
            "vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h")
        .limit(n_cells)
    )
    w_seed = Window.orderBy("h")  # 8 rows post-limit; the window is tiny
    cents = seeds.withColumn("cluster_id", F.row_number().over(w_seed)).select(
        "cluster_id", F.col("v").alias("c")
    )
    w_arg = Window.partitionBy("vec_id").orderBy("d2", "cluster_id")
    assigned = None
    for it in range(KMEANS_ITERS):
        final = it == KMEANS_ITERS - 1
        assigned = (
            vecs.select("vec_id", "v")
            .crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "v",
                "cluster_id",
                _dist2(F.col("v"), F.col("c")).alias("d2"),
            )
            .withColumn("rn", F.row_number().over(w_arg))
            .filter(F.col("rn") <= (n_best if final else 1))
            .select(
                "vec_id",
                "v",
                F.col("cluster_id").alias("cell"),
                F.col("rn").cast("bigint").alias("cell_rank"),
            )
        )
        if final:
            break
        # per-dim means via posexplode + groupBy(cell, dim): the
        # exploded row count is |vectors| × dims with map-side partial
        # aggregation — measured faster than 64 wide agg buffers
        # (decimal sums keep it shuffle-order-independent either way)
        cents = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("val")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "val"))),
                    lambda s: s["val"],
                ).alias("c")
            )
            .withColumnRenamed("cell", "cluster_id")
        )
    return assigned.select("vec_id", "cell", "cell_rank")


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index: every vector with its IVF_NPROBE nearest cells.
    Memoized because the index is reused across queries (the EDBT 2020
    incremental top-k search setting): ann_ivf_bucketed, ann_ivf_pq,
    emb_hard_negatives and emb_ivf_balance all probe the same one."""
    return memo_df(
        spark,
        (
            "ivf_vecs",
            sf_dir,
            IVF_NPROBE,
            N_CELLS,
            table_stamp(sf_dir, ("embeddings",)),
        ),
        lambda: kmeans_cells(spark, sf_dir, n_best=IVF_NPROBE),
    )


def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means-trained coarse cells; each probe searches its
    IVF_NPROBE nearest cells, the corpus lives in its rank-1 cell. The
    cell id is the shuffle key — compared pairs drop by ~|cells|/nprobe
    × vs brute force; recall vs brute force is asserted in
    tests/test_dedup_quality.py. A probe's nprobe cells are distinct,
    so no pair dedup is needed."""
    vecs = _ivf_index(spark, sf_dir)
    probes = vecs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("cell").alias("bucket"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    pairs = (
        vecs.filter(F.col("cell_rank") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell").alias("bucket"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _cos(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")), 6
            ).alias("cos_r6"),
        )
    )
    return _topk(pairs)


# 4 sign bits × 8 tables → recall@5 ≈ 0.74 vs brute force on the test
# corpus with 2× candidate pruning. Production tuning scales bits with
# corpus size (16-20 bits at 10^9+ vectors) and tables with the recall
# target; both just change these constants — bucketing stays exact.
N_PLANES = 4
N_TABLES = 8
N_DIMS = 64


def _plane_signs() -> list[list[list[float]]]:
    """Deterministic ±1 hyperplane components per (table, plane, dim):
    parity of the first hex digit of md5('table|plane|dim'). No RNG
    state, reproducible in any engine — the DuckDB oracle embeds the
    same literals."""
    import hashlib

    def sign(t: int, j: int, d: int) -> float:
        h = hashlib.md5(f"{t}|{j}|{d}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    return [
        [[sign(t, j, d) for d in range(N_DIMS)] for j in range(N_PLANES)]
        for t in range(N_TABLES)
    ]


def _bucket_expr(signs_t: list[list[float]]) -> Column:
    """Sign-bit bucket string for one hash table."""
    return F.concat(
        *[
            F.when(
                F.aggregate(
                    F.zip_with(
                        "v",
                        F.array(*[F.lit(s) for s in signs_j]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for signs_j in signs_t
        ]
    )


def _buckets_col() -> Column:
    """The full N_TABLES-element SRP bucket array over column ``v``.

    r10 optimization (guide §7.3 — driver-side plan-building is real
    work): this expression tree embeds N_TABLES × N_PLANES × N_DIMS
    (=2048) literal hyperplane components, i.e. ~2000 py4j calls and
    ~2 s of driver time PER CONSTRUCTION, previously paid by every
    invocation of every SRP consumer even when the hashed frame itself
    was memoized. Column objects are immutable unresolved expressions
    bound only by column NAME, so one instance serves every query in
    the process; the module-level singleton makes re-construction
    free. Bit-identical plans — nothing about the expression changes.
    """
    global _BUCKETS_COL
    if _BUCKETS_COL is None:
        signs = _plane_signs()
        _BUCKETS_COL = F.array(
            *[_bucket_expr(signs[t]) for t in range(N_TABLES)]
        )
    return _BUCKETS_COL


_BUCKETS_COL: Column | None = None


def _srp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-table SRP-LSH index: one (vec_id, v, nrm, t, bucket)
    row per vector and table. Memoized because the index is reused
    across queries (ann_lsh_cosine, emb_cosine_threshold_curve), and
    the 32-projection bucket expressions are the dominant cost."""
    vecs = _vectors(spark, sf_dir)
    buckets = _buckets_col()
    return memo_df(
        spark,
        ("srp_hashed", sf_dir, table_stamp(sf_dir, ("embeddings",))),
        lambda: vecs.select(
            "vec_id", "v", "nrm", F.posexplode(buckets).alias("t", "bucket")
        ),
    )


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH ANN (Charikar 2002): N_TABLES
    independent hash tables of N_PLANES sign bits each; a vector is a
    candidate for a probe if they share a bucket in ANY table (the
    OR-construction that trades a little extra candidate work for
    recall — single-table SRP recalls ~0.1 here, 4 tables ~0.8+).

    posexplode turns the table axis into rows, so (table, bucket) is
    the shuffle key — candidate generation is a hash join, never a
    cross product; pairs colliding in several tables dedup in the same
    aggregation that carries the cosine. Projections are sequential
    left-folds, bit-identical in the DuckDB oracle, so bucketing (and
    the whole result) is exactly reproducible. Recall vs brute force
    is asserted in tests/test_dedup_quality.py.
    """
    hashed = _srp_index(spark, sf_dir)
    probes = hashed.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        "t",
        "bucket",
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    pairs = (
        hashed.select(
            F.col("vec_id").alias("neighbor_id"),
            "t",
            "bucket",
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .join(F.broadcast(probes), ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(
            F.min(
                F.round(
                    _cos(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")), 6
                )
            ).alias("cos_r6")
        )
    )
    return _topk(pairs)


# Product quantization: M_SUB subspaces × K_SUB codewords → each
# 64-dim vector compresses to M_SUB code ids. Codebooks train like
# the IVF quantizer (md5-ranked seeds, decimal-exact Lloyd updates).
# Production tuning: K_SUB=256 (one byte per subspace), OPQ rotation
# before the split — all constant changes.
M_SUB = 8
K_SUB = 32
PQ_UPDATES = 2  # Lloyd mean-updates after the seed assignment
PQ_SHORTLIST = 80  # ADC candidates kept per probe for exact re-rank
_SUB_DIM = N_DIMS // M_SUB


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus.

    Returns (cents, codes): cents = (sub, cluster_id, c[_SUB_DIM]),
    codes = (vec_id, sub, code). Training mirrors kmeans_cells —
    md5-ranked seed vectors (their slices seed every subspace), one
    argmin assignment, one DECIMAL-mean update, final assignment =
    the codes. Everything is DataFrame ops; the subspace axis is just
    a column, so all M_SUB codebooks train in the SAME jobs (no
    per-subspace loop over the data).

    Both artifacts are memoized per (session, sf_dir, data stamp) —
    codebook training is index construction, paid once and amortized
    over every query (functions.memo).
    """
    stamp = table_stamp(sf_dir, ("embeddings",))
    trained: list | None = None

    def _part(i: int):
        def build() -> DataFrame:
            nonlocal trained
            if trained is None:
                trained = list(_pq_train(spark, sf_dir))
            return trained[i]

        return build

    # both keys memoize from ONE training pass (the closure is shared)
    cents = memo_df(spark, ("pq_cents", sf_dir, stamp), _part(0))
    codes = memo_df(spark, ("pq_codes", sf_dir, stamp), _part(1))
    return cents, codes


def _pq_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The training loop behind _pq_codebooks (memoized there)."""
    vecs = _vectors(spark, sf_dir)
    subs = vecs.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("v"), 1 + s * _SUB_DIM, _SUB_DIM)
                    for s in range(M_SUB)
                ]
            )
        ).alias("sub", "sv"),
    )
    subs = rolling_persist(spark, ("pq_subs", sf_dir), subs)
    seeds = (
        vecs.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(K_SUB)
    )
    w_seed = Window.orderBy("h")
    seed_ids = seeds.withColumn("cluster_id", F.row_number().over(w_seed)).select(
        "vec_id", "cluster_id"
    )
    cents = subs.join(F.broadcast(seed_ids), "vec_id").select(
        "sub", "cluster_id", F.col("sv").alias("c")
    )
    w_arg = Window.partitionBy("vec_id", "sub").orderBy("d2", "cluster_id")

    def _assign(cents_df: DataFrame) -> DataFrame:
        return (
            subs.join(F.broadcast(cents_df), "sub")
            .select(
                "vec_id",
                "sub",
                "sv",
                "cluster_id",
                _dist2(F.col("sv"), F.col("c")).alias("d2"),
            )
            .withColumn("rn", F.row_number().over(w_arg))
            .filter(F.col("rn") == 1)
        )

    for _ in range(PQ_UPDATES):
        cents = (
            _assign(cents)
            .select("sub", "cluster_id", F.posexplode("sv").alias("dim", "x"))
            .groupBy("sub", "cluster_id", "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("val")
            )
            .groupBy("sub", "cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "val"))),
                    lambda s: s["val"],
                ).alias("c")
            )
            # truncate lineage each round; read by next assign (+ LUT)
            .localCheckpoint()
        )
    codes = _assign(cents).select("vec_id", "sub", F.col("cluster_id").alias("code"))
    return cents, codes


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"): the corpus is stored as M_SUB codebook ids per vector;
    a probe precomputes a (sub, code) → partial-d² lookup table
    against the codebooks, and a neighbor's approximate distance is
    the SUM of M_SUB LUT hits — no corpus vector is ever touched at
    query time.

    The ADC pass keeps a PQ_SHORTLIST per probe; an exact-distance
    re-rank of the shortlist produces the final top-k — the standard
    two-stage PQ pipeline (quantized scan → exact re-rank of a tiny
    candidate set). Recall vs exact brute force is asserted in
    tests/test_dedup_quality.py.

    Scale shape: the LUT is probes × M_SUB × K_SUB rows (tiny —
    broadcast); the ADC scan is one broadcast hash join from the code
    table to the LUT plus a groupBy(probe, neighbor) sum, so scan
    cost is O(corpus × M_SUB) row operations on BYTE-sized codes
    regardless of dimensionality — the property that makes
    billion-vector ANN feasible; the re-rank touches only
    probes × PQ_SHORTLIST raw vectors. Partial distances are summed
    as DECIMAL so shuffle order can't perturb a bit and the DuckDB
    oracle replays training, encoding, scoring, and re-rank exactly.
    """
    cents, codes = _pq_codebooks(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)
    probes = vecs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    lut = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "probe_id",
            "sub",
            F.col("cluster_id").alias("code"),
            _dist2(
                F.slice(F.col("pv"), 1 + F.col("sub") * _SUB_DIM, _SUB_DIM),
                F.col("c"),
            )
            .cast("decimal(27,12)")
            .alias("pd2"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("pd2").cast("double"), 6).alias("adc_d2"))
    )
    w_adc = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= PQ_SHORTLIST)
        .select("probe_id", "neighbor_id")
    )
    rerank = (
        shortlist.join(F.broadcast(probes), "probe_id")
        .join(
            vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")),
            "neighbor_id",
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.round(_dist2(F.col("pv"), F.col("cv")), 6).alias("d2_r6"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("d2_r6"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            "neighbor_id",
            F.round("d2_r6", 4).alias("dist2"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


QUERIES = {
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_ivf_bucketed": ann_ivf_bucketed,
    "ann_lsh_cosine": ann_lsh_cosine,
    "ann_pq_adc": ann_pq_adc,
}

_VEC_CTE = """
  vecs AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                       (a, b) -> a + b) AS nrm
    FROM embeddings
  )
"""

_COS = (
    "list_reduce(list_transform(list_zip({a}.v, {b}.v), x -> x[1] * x[2]), "
    "(p, q) -> p + q) / (sqrt({a}.nrm) * sqrt({b}.nrm))"
)

def _bucket_sql(signs_t: list[list[float]]) -> str:
    parts = []
    for signs_j in signs_t:
        lit = "[" + ", ".join(str(s) for s in signs_j) + "]"
        proj = (
            f"list_reduce(list_transform(list_zip(v, {lit}), "
            "x -> x[1] * x[2]), (p, q) -> p + q)"
        )
        parts.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(parts)


def _hashed_sql() -> str:
    """One SELECT per hash table, unioned: (vec_id, t, bucket, v, nrm)."""
    return "\n          UNION ALL\n".join(
        f"          SELECT vec_id, {t} AS t, {_bucket_sql(signs_t)} AS bucket,"
        " v, nrm FROM vecs"
        for t, signs_t in enumerate(_plane_signs())
    )


_D2_SQL = (
    "list_reduce(list_transform(list_zip(v.v, c.c), "
    "x -> (x[1] - x[2]) * (x[1] - x[2])), (p, q) -> p + q)"
)


def _kmeans_ctes(prefix: str = "") -> str:
    """CTE chain replaying kmeans_cells exactly: md5-ranked seeds,
    then KMEANS_ITERS × (argmin assign [+ decimal-mean update]).
    ``prefix`` namespaces the CTE names so the chain can be embedded
    next to the PQ training chain (whose seeds/cents0/assign{i} names
    would otherwise collide) in the composed IVF-PQ oracle."""
    p = prefix
    ctes = [
        f"""{p}seeds AS (
          SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
          FROM vecs ORDER BY h LIMIT {N_CELLS}
        )""",
        f"""{p}cents0 AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h) AS cluster_id, v AS c
          FROM {p}seeds
        )""",
    ]
    for it in range(KMEANS_ITERS):
        n_keep = IVF_NPROBE if it == KMEANS_ITERS - 1 else 1
        ctes.append(f"""{p}assign{it} AS (
          SELECT vec_id, v, cell, rn AS cell_rank FROM (
            SELECT v.vec_id, v.v, c.cluster_id AS cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY {_D2_SQL}, c.cluster_id
                   ) AS rn
            FROM vecs v CROSS JOIN {p}cents{it} c
          ) WHERE rn <= {n_keep}
        )""")
        if it < KMEANS_ITERS - 1:
            ctes.append(f"""{p}cents{it + 1} AS (
          SELECT cell AS cluster_id, list(val ORDER BY dim) AS c
          FROM (
            SELECT cell, dim,
                   (SUM(x::DECIMAL(27,6)))::DOUBLE / COUNT(*) AS val
            FROM (
              SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x
              FROM {p}assign{it}
            )
            GROUP BY cell, dim
          )
          GROUP BY cell
        )""")
    ctes.append(f"""{p}cells AS (
          SELECT vec_id, cell, cell_rank FROM {p}assign{KMEANS_ITERS - 1}
        )""")
    return ",\n        ".join(ctes)


_SUB_D2 = (
    "list_reduce(list_transform(list_zip(s.sv, c.c), "
    "x -> (x[1] - x[2]) * (x[1] - x[2])), (p, q) -> p + q)"
)

_SUBS_VALUES = ", ".join(f"({s})" for s in range(M_SUB))


_PQ_FINAL = f"cents{PQ_UPDATES}"


def _pq_train_prefix() -> str:
    """The CTE chain replaying PQ training + corpus encoding (subs →
    seeds → cents0 → Lloyd rounds → codes), shared by the ADC oracle
    and the distortion-eval oracle. Trained centroids land in
    ``{_PQ_FINAL}``; encodings in ``codes``."""
    slice_ = f"[(t.sub * {_SUB_DIM} + 1):(t.sub * {_SUB_DIM} + {_SUB_DIM})]"
    train_ctes = []
    for it in range(PQ_UPDATES):
        train_ctes.append(f"""assign{it} AS (
          SELECT vec_id, sub, sv, cluster_id FROM (
            SELECT s.vec_id, s.sub, s.sv, c.cluster_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY s.vec_id, s.sub
                     ORDER BY {_SUB_D2}, c.cluster_id
                   ) AS rn
            FROM subs s JOIN cents{it} c ON c.sub = s.sub
          ) WHERE rn = 1
        )""")
        train_ctes.append(f"""cents{it + 1} AS (
          SELECT sub, cluster_id, list(val ORDER BY dim) AS c
          FROM (
            SELECT sub, cluster_id, dim,
                   (SUM(x::DECIMAL(27,6)))::DOUBLE / COUNT(*) AS val
            FROM (
              SELECT sub, cluster_id, generate_subscripts(sv, 1) AS dim,
                     unnest(sv) AS x
              FROM assign{it}
            )
            GROUP BY sub, cluster_id, dim
          )
          GROUP BY sub, cluster_id
        )""")
    train_sql = ",\n        ".join(train_ctes)
    return f"""subs AS (
          SELECT vec_id, t.sub, v{slice_} AS sv
          FROM vecs CROSS JOIN (VALUES {_SUBS_VALUES}) t(sub)
        ),
        seeds AS (
          SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
          FROM vecs ORDER BY h LIMIT {K_SUB}
        ),
        seed_ids AS (
          SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h) AS cluster_id FROM seeds
        ),
        cents0 AS (
          SELECT sub, cluster_id, sv AS c FROM subs JOIN seed_ids USING (vec_id)
        ),
        {train_sql},
        codes AS (
          SELECT vec_id, sub, cluster_id AS code FROM (
            SELECT s.vec_id, s.sub, c.cluster_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY s.vec_id, s.sub
                     ORDER BY {_SUB_D2}, c.cluster_id
                   ) AS rn
            FROM subs s JOIN {_PQ_FINAL} c ON c.sub = s.sub
          ) WHERE rn = 1
        )"""


def _pq_oracle(ivf: bool = False) -> str:
    """Replay PQ training, encoding, the probe LUT, and ADC scoring.
    With ``ivf`` the ADC scan is additionally restricted to the
    probe's IVF_NPROBE coarse cells (the km_-prefixed kmeans chain) —
    the composed FAISS-style IVFPQ pipeline."""
    final = _PQ_FINAL
    ivf_ctes = f"{_kmeans_ctes('km_')},\n        " if ivf else ""
    cand_cte = (
        f"""cand AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id
          FROM km_cells p JOIN km_cells c ON c.cell = p.cell
          WHERE p.vec_id < {N_PROBES} AND c.cell_rank = 1
            AND c.vec_id != p.vec_id
        ),
        """
        if ivf
        else ""
    )
    cand_join = (
        "JOIN cand ON cand.probe_id = lut.probe_id"
        " AND cand.neighbor_id = codes.vec_id"
        if ivf
        else ""
    )
    return f"""
        WITH {_VEC_CTE},
        {ivf_ctes}{_pq_train_prefix()},
        lut AS (
          SELECT s.vec_id AS probe_id, s.sub, c.cluster_id AS code,
                 ({_SUB_D2})::DECIMAL(27,12) AS pd2
          FROM subs s JOIN {final} c ON c.sub = s.sub
          WHERE s.vec_id < {N_PROBES}
        ),
        {cand_cte}scored AS (
          SELECT lut.probe_id AS probe_id, codes.vec_id AS neighbor_id,
                 ROUND((SUM(pd2))::DOUBLE, 6) AS adc_d2
          FROM codes JOIN lut
            ON lut.sub = codes.sub AND lut.code = codes.code
          {cand_join}
          WHERE codes.vec_id != lut.probe_id
          GROUP BY 1, 2
        ),
        shortlist AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY probe_id ORDER BY adc_d2 ASC, neighbor_id ASC
            ) AS adc_rank
            FROM scored
          ) WHERE adc_rank <= {PQ_SHORTLIST}
        ),
        rerank AS (
          SELECT sl.probe_id, sl.neighbor_id,
                 ROUND(list_reduce(list_transform(list_zip(p.v, c.v),
                         x -> (x[1] - x[2]) * (x[1] - x[2])),
                       (a, b) -> a + b), 6) AS d2_r6
          FROM shortlist sl
          JOIN vecs p ON p.vec_id = sl.probe_id
          JOIN vecs c ON c.vec_id = sl.neighbor_id
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY d2_r6 ASC, neighbor_id ASC
          ) AS rank
          FROM rerank
        )
        SELECT probe_id, neighbor_id, ROUND(d2_r6, 4) AS dist2, rank
        FROM ranked WHERE rank <= {TOP_K}
    """


ORACLES = {
    "ann_lsh_cosine": f"""
        WITH {_VEC_CTE},
        hashed AS (
{_hashed_sql()}
        ),
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 MIN(ROUND({_COS.format(a="p", b="c")}, 6)) AS cos_r6
          FROM hashed p JOIN hashed c
            ON c.t = p.t AND c.bucket = p.bucket AND c.vec_id != p.vec_id
          WHERE p.vec_id < {N_PROBES}
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY cos_r6 DESC, neighbor_id ASC
          ) AS rank
          FROM pairs
        )
        SELECT probe_id, neighbor_id, ROUND(cos_r6, 4) AS cos_sim, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
    "ann_topk_bruteforce": f"""
        WITH {_VEC_CTE},
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 ROUND({_COS.format(a="p", b="c")}, 6) AS cos_r6
          FROM vecs p JOIN vecs c ON c.vec_id != p.vec_id
          WHERE p.vec_id < {N_PROBES}
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY cos_r6 DESC, neighbor_id ASC
          ) AS rank
          FROM pairs
        )
        SELECT probe_id, neighbor_id, ROUND(cos_r6, 4) AS cos_sim, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
    "ann_ivf_bucketed": f"""
        WITH {_VEC_CTE},
        {_kmeans_ctes()},
        probe_cells AS (
          SELECT vecs.*, cells.cell FROM vecs JOIN cells USING (vec_id)
          WHERE vec_id < {N_PROBES}
        ),
        corpus AS (
          SELECT vecs.*, cells.cell FROM vecs JOIN cells USING (vec_id)
          WHERE cells.cell_rank = 1
        ),
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 ROUND({_COS.format(a="p", b="c")}, 6) AS cos_r6
          FROM probe_cells p JOIN corpus c
            ON c.cell = p.cell AND c.vec_id != p.vec_id
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY cos_r6 DESC, neighbor_id ASC
          ) AS rank
          FROM pairs
        )
        SELECT probe_id, neighbor_id, ROUND(cos_r6, 4) AS cos_sim, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
}

ORACLES["ann_pq_adc"] = _pq_oracle()


# ---------------------------------------------------------------------------
# r04 session 2: hybrid retrieval — reciprocal-rank fusion of the
# lexical and vector rankers
# ---------------------------------------------------------------------------

RRF_K = 60   # the standard RRF damping constant (Cormack et al. 2009)
RRF_TOP = 5


def ann_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse a lexical ranking (3-gram shingle jaccard
    between the probe document's text and every candidate) with a
    vector ranking (embedding cosine) by reciprocal-rank fusion,
    score = Σ 1/(RRF_K + rank_modality) — the standard way modern
    retrieval stacks combine BM25-ish and dense scores without tuning
    a weight (Cormack et al. 2009; both ranks are scale-free so no
    score normalization is needed).

    Both rankers broadcast the capped probe set and stream the corpus
    once (the brute-force baseline shape); at 100 TB each ranker's
    candidate universe would come from its index (inverted-index
    top-k / IVF cells) and the fusion join — keyed on (probe_id,
    neighbor_id), both sides already ranked — is unchanged. Ranks are
    computed on rounded scores (cos 6dp, jaccard 4dp) with
    neighbor_id tie-break, so both engines rank identically; the RRF
    score is then a pure function of two integer ranks."""
    from etl_city_directories_spark.operators.dedup import _doc_shingles

    # --- vector ranking over the full corpus (minus self) ---
    vecs = _vectors(spark, sf_dir)
    vprobes = vecs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    vpairs = (
        vecs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .join(F.broadcast(vprobes), F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _cos(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")), 6
            ).alias("cos_r6"),
        )
    )
    wv = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_r6"), F.asc("neighbor_id")
    )
    rv = vpairs.withColumn("rank_vec", F.row_number().over(wv))

    # --- lexical ranking: probe text vs candidate text. Broadcast the
    # capped probe shingle-sets, one per-pair set intersect/union on
    # the corpus scan. (An inverted-index posting join was measured
    # 2.5× SLOWER on this corpus — its tiny vocabulary makes shingles
    # near-universal, so postings fan out quadratically; per-pair set
    # ops bound the work at |probes| × corpus, the same shape as the
    # cosine side.) The shingled corpus MUST be materialized before
    # the pair join: shingle generation is an interpreted higher-order
    # expression, and under the join projection it would re-evaluate
    # once per (pair, side) — 10× redundant work, measured 15 s → 3 s
    # at sf0.1 with the persist + widened scan.
    docs = _doc_shingles(spark, sf_dir).select(
        "doc_id", F.col("shingles").alias("sh")
    )
    tprobes = docs.filter(F.col("doc_id") < N_PROBES).select(
        F.col("doc_id").alias("probe_id"), F.col("sh").alias("psh")
    )
    jac = F.round(
        F.size(F.array_intersect(F.col("sh"), F.col("psh"))).cast("double")
        / F.size(F.array_union(F.col("sh"), F.col("psh"))).cast("double"),
        4,
    )
    lpairs = (
        docs.withColumnRenamed("doc_id", "neighbor_id")
        .join(F.broadcast(tprobes), F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", jac.alias("jac"))
    )
    wl = Window.partitionBy("probe_id").orderBy(
        F.desc("jac"), F.asc("neighbor_id")
    )
    rl = lpairs.withColumn("rank_lex", F.row_number().over(wl))

    # --- fuse ---
    fused = rv.select("probe_id", "neighbor_id", "rank_vec").join(
        rl.select("probe_id", "neighbor_id", "rank_lex"),
        ["probe_id", "neighbor_id"],
    )
    rrf = F.round(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_vec"))
        + F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex")),
        6,
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "probe_id",
            "neighbor_id",
            F.col("rank_vec").cast("bigint").alias("rank_vec"),
            F.col("rank_lex").cast("bigint").alias("rank_lex"),
            "rrf_score",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
    )


QUERIES["ann_rrf_hybrid"] = ann_rrf_hybrid


def _rrf_oracle() -> str:
    from etl_city_directories_spark.operators.dedup import SHINGLE_CTE

    cos = (
        "list_reduce(list_transform(list_zip(p.v, c.v), x -> x[1] * x[2]),"
        " (a, b) -> a + b) / (sqrt(p.nrm) * sqrt(c.nrm))"
    )
    jac = (
        "ROUND(len(list_intersect(c.shingles, p.shingles))::DOUBLE"
        " / len(list_distinct(list_cat(c.shingles, p.shingles)))::DOUBLE, 4)"
    )
    return f"""
        WITH {SHINGLE_CTE},
        vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                             (a, b) -> a + b) AS nrm
          FROM embeddings
        ),
        rv AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY ROUND({cos}, 6) DESC, c.vec_id
                 ) AS rank_vec
          FROM vecs p JOIN vecs c
            ON p.vec_id < {N_PROBES} AND c.vec_id != p.vec_id
        ),
        rl AS (
          SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY p.doc_id
                   ORDER BY {jac} DESC, c.doc_id
                 ) AS rank_lex
          FROM shingled p JOIN shingled c
            ON p.doc_id < {N_PROBES} AND c.doc_id != p.doc_id
        ),
        fused AS (
          SELECT rv.probe_id, rv.neighbor_id, rank_vec, rank_lex,
                 ROUND(1.0 / ({RRF_K} + rank_vec)
                       + 1.0 / ({RRF_K} + rank_lex), 6) AS rrf_score
          FROM rv JOIN rl
            ON rv.probe_id = rl.probe_id AND rv.neighbor_id = rl.neighbor_id
        )
        SELECT probe_id, neighbor_id, rank_vec::BIGINT AS rank_vec,
               rank_lex::BIGINT AS rank_lex, rrf_score,
               fused_rank::BIGINT AS fused_rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY probe_id
                   ORDER BY rrf_score DESC, neighbor_id
                 ) AS fused_rank
          FROM fused
        ) WHERE fused_rank <= {RRF_TOP}
    """


ORACLES["ann_rrf_hybrid"] = _rrf_oracle()


# ---------------------------------------------------------------------------
# r04 session 2: MMR diversity re-ranking (greedy selection per probe)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_K = 3
MMR_CAND = 10


def ann_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): from each probe's top-MMR_CAND cosine candidates, greedily
    select MMR_K results maximizing λ·relevance − (1−λ)·max-similarity
    to the already-selected set — the diversity-aware final stage of a
    retrieval stack (dedups near-identical hits that plain top-k
    returns).

    The only corpus-scale work is the broadcast-probe candidate scan.
    Its ``(rel desc, cid asc)`` top-MMR_CAND window and the group that
    gathers each probe's candidates (relevance, id, vector, norm) into
    one array share one ``probe_id`` shuffle. The rest is one program
    per probe, with no further rounds of jobs: a MMR_CAND² similarity
    matrix from nested ``transform``, then the greedy loop as one
    ``aggregate`` over ``sequence(1, MMR_K)``. Each step appends the
    ``array_max`` of ``struct(score, -cid, idx)`` over the unselected
    candidates, so the highest score wins and ties go to the lower id.
    Scores are rounded to 6dp, so DuckDB replays every step
    bit-for-bit."""
    vecs = _vectors(spark, sf_dir)
    probes = vecs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    pairs = (
        vecs.select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .join(F.broadcast(probes), F.col("cid") != F.col("probe_id"))
        .select(
            "probe_id",
            "cid",
            "cv",
            "cn",
            F.round(
                _cos(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")), 6
            ).alias("rel"),
        )
    )
    wr = Window.partitionBy("probe_id").orderBy(F.desc("rel"), F.asc("cid"))
    cand = (
        pairs.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= MMR_CAND)
        .groupBy("probe_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("rk", "rel", "cid", "cv", "cn")))
            .alias("c")
        )
    )
    c = F.col("c")
    # sims[i][j] = cos(candidate i, candidate j), rounded as the oracle
    # does. It rides in the accumulator, so it is built once per probe.
    sims = F.transform(
        c,
        lambda a: F.transform(
            c, lambda b: F.round(_cos(a["cv"], b["cv"], a["cn"], b["cn"]), 6)
        ),
    )

    def step(acc: Column, t: Column) -> Column:
        picked = acc["picked"]

        def score(i: Column) -> Column:
            rel = F.get(c, i)["rel"]
            row = F.get(acc["sims"], i)
            ms = F.array_max(F.transform(picked, lambda p: F.get(row, p["idx"])))
            return F.when(t == 1, rel).otherwise(
                F.round(F.lit(MMR_LAMBDA) * rel - F.lit(1 - MMR_LAMBDA) * ms, 6)
            )

        pool = F.filter(
            F.sequence(F.lit(0), F.size(c) - 1),
            lambda i: ~F.exists(picked, lambda p: p["idx"] == i),
        )
        # one argmax per step: highest score, then lowest id; an empty
        # pool (fewer than MMR_K candidates) appends null
        best = F.array_max(
            F.transform(
                pool,
                lambda i: F.struct(
                    score(i).alias("score"),
                    (-F.get(c, i)["cid"]).alias("ncid"),
                    i.alias("idx"),
                ),
            )
        )
        return F.struct(
            acc["sims"].alias("sims"),
            F.concat(picked, F.array(best)).alias("picked"),
        )

    picked = F.aggregate(
        F.sequence(F.lit(1), F.lit(MMR_K)),
        F.struct(
            sims.alias("sims"),
            F.array()
            .cast("array<struct<score: double, ncid: bigint, idx: int>>")
            .alias("picked"),
        ),
        step,
        lambda acc: F.filter(acc["picked"], lambda p: p.isNotNull()),
    )
    # |probes|·MMR_K rows: one partition sorts them with no range shuffle
    return (
        cand.select("probe_id", "c", F.posexplode(picked))
        .select(
            "probe_id",
            (-F.col("col.ncid")).alias("neighbor_id"),
            F.get(c, F.col("col.idx"))["rel"].alias("relevance"),
            F.col("col.score").alias("mmr_score"),
            (F.col("pos") + 1).cast("bigint").alias("mmr_rank"),
        )
        .coalesce(1)
        .sortWithinPartitions("probe_id", "mmr_rank")
    )


QUERIES["ann_mmr_diversify"] = ann_mmr_diversify


def _mmr_oracle() -> str:
    cos = (
        "list_reduce(list_transform(list_zip({a}.v, {b}.v), x -> x[1] * x[2]),"
        " (p, q) -> p + q) / (sqrt({a}.nrm) * sqrt({b}.nrm))"
    )
    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA
    return f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                             (a, b) -> a + b) AS nrm
          FROM embeddings
        ),
        cand AS (
          SELECT probe_id, cid, rel FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS cid,
                   ROUND({cos.format(a="p", b="c")}, 6) AS rel,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.vec_id
                     ORDER BY ROUND({cos.format(a="p", b="c")}, 6) DESC,
                              c.vec_id
                   ) AS rk
            FROM vecs p JOIN vecs c
              ON p.vec_id < {N_PROBES} AND c.vec_id != p.vec_id
          ) WHERE rk <= {MMR_CAND}
        ),
        sims AS (
          SELECT x.probe_id, x.cid AS ca, y.cid AS cb,
                 ROUND({cos.format(a="a", b="b")}, 6) AS sim
          FROM cand x
          JOIN cand y ON x.probe_id = y.probe_id AND x.cid != y.cid
          JOIN vecs a ON a.vec_id = x.cid
          JOIN vecs b ON b.vec_id = y.cid
        ),
        s1 AS (
          SELECT probe_id, cid, rel, rel AS mmr_score, 1::BIGINT AS mmr_rank
          FROM (
            SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY probe_id ORDER BY rel DESC, cid
                   ) AS rn FROM cand
          ) WHERE rn = 1
        ),
        sc2 AS (
          SELECT c.probe_id, c.cid, c.rel,
                 ROUND({lam} * c.rel - {mu} * MAX(s.sim), 6) AS score
          FROM cand c
          JOIN s1 ON s1.probe_id = c.probe_id AND c.cid != s1.cid
          JOIN sims s ON s.probe_id = c.probe_id AND s.ca = c.cid
                     AND s.cb = s1.cid
          GROUP BY c.probe_id, c.cid, c.rel
        ),
        s2 AS (
          SELECT probe_id, cid, rel, score AS mmr_score, 2::BIGINT AS mmr_rank
          FROM (
            SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY probe_id ORDER BY score DESC, cid
                   ) AS rn FROM sc2
          ) WHERE rn = 1
        ),
        s12 AS (
          SELECT probe_id, cid FROM s1 UNION ALL SELECT probe_id, cid FROM s2
        ),
        sc3 AS (
          SELECT c.probe_id, c.cid, c.rel,
                 ROUND({lam} * c.rel - {mu} * MAX(s.sim), 6) AS score
          FROM cand c
          JOIN sims s ON s.probe_id = c.probe_id AND s.ca = c.cid
          JOIN s12 ON s12.probe_id = s.probe_id AND s12.cid = s.cb
          WHERE NOT EXISTS (
            SELECT 1 FROM s12 x
            WHERE x.probe_id = c.probe_id AND x.cid = c.cid
          )
          GROUP BY c.probe_id, c.cid, c.rel
        ),
        s3 AS (
          SELECT probe_id, cid, rel, score AS mmr_score, 3::BIGINT AS mmr_rank
          FROM (
            SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY probe_id ORDER BY score DESC, cid
                   ) AS rn FROM sc3
          ) WHERE rn = 1
        )
        SELECT probe_id, cid AS neighbor_id, rel AS relevance,
               mmr_score, mmr_rank
        FROM (
          SELECT * FROM s1 UNION ALL SELECT * FROM s2
          UNION ALL SELECT * FROM s3
        )
        ORDER BY probe_id, mmr_rank
    """


ORACLES["ann_mmr_diversify"] = _mmr_oracle()


# ---------------------------------------------------------------------------
# r05: SemDeDup — semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------

# In-cell cosine above this marks a semantic duplicate. Matches the
# corpus's near-dup band (p99.9 of in-cell cosines ≈ 0.41, max ≈ 0.49;
# EMBED_COS_THRESHOLD in dedup.py uses the same 0.35 cut).
SEMDEDUP_COS = 0.35


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate removal — k-means the corpus, compare pairs ONLY
    within a cluster, drop every vector whose cosine to a LOWER-id
    cell-mate reaches SEMDEDUP_COS (keep-min-id exemplar policy, the
    deterministic stand-in for the paper's keep-one-random).

    Shape at 100 TB: the cluster id is the shuffle key, so candidate
    generation is a hash join per cell, never corpus×corpus — the
    paper's trick, quadratic only within a cell. Production sizes K so
    cells stay small (SemDeDup used 50k clusters for LAION); here K =
    N_CELLS shared with the IVF index, and the k-means training itself
    is the memoized decimal-exact Lloyd loop (kmeans_cells) whose cell
    assignment the DuckDB oracle replays bit-for-bit — so even the
    clustering step of the oracle comparison is exact, not fuzzy.

    Output is the full per-vector dedup verdict: cell, the max cosine
    to any lower-id cell-mate (4-dp, null when the vector is its
    cell's min id or has no lower-id mates), and the drop flag."""
    cells = kmeans_cells(spark, sf_dir, n_best=IVF_NPROBE).filter(
        F.col("cell_rank") == 1
    )
    lower = cells.select(
        F.col("vec_id").alias("lower_id"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "cell",
    )
    mine = cells.select(
        "vec_id", F.col("v").alias("vb"), F.col("nrm").alias("nb"), "cell"
    )
    best = (
        mine.join(lower, "cell")
        .filter(F.col("lower_id") < F.col("vec_id"))
        .select(
            "vec_id",
            F.round(
                _cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4
            ).alias("c"),
        )
        .groupBy("vec_id")
        .agg(F.max("c").alias("best_lower_sim"))
    )
    return (
        cells.select("vec_id", F.col("cell").cast("int").alias("cell"))
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "best_lower_sim",
            F.coalesce(
                F.col("best_lower_sim") >= SEMDEDUP_COS, F.lit(False)
            ).alias("dropped"),
        )
        .orderBy("vec_id")
    )


QUERIES["dedup_semantic"] = dedup_semantic


def _semdedup_oracle() -> str:
    cos = (
        "list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]),"
        " (p, q) -> p + q) / (sqrt(a.nrm) * sqrt(b.nrm))"
    )
    return f"""
        WITH {_VEC_CTE},
        {_kmeans_ctes()},
        mine AS (
          SELECT vec_id, cell FROM cells WHERE cell_rank = 1
        ),
        best AS (
          SELECT hi.vec_id, MAX(ROUND({cos}, 4)) AS best_lower_sim
          FROM mine lo
          JOIN mine hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
          JOIN vecs a ON a.vec_id = lo.vec_id
          JOIN vecs b ON b.vec_id = hi.vec_id
          GROUP BY hi.vec_id
        )
        SELECT m.vec_id, m.cell::INT AS cell, b.best_lower_sim,
               COALESCE(b.best_lower_sim >= {SEMDEDUP_COS}, FALSE) AS dropped
        FROM mine m LEFT JOIN best b USING (vec_id)
        ORDER BY m.vec_id
    """


ORACLES["dedup_semantic"] = _semdedup_oracle()


# ---------------------------------------------------------------------------
# r05: IVF-PQ — the composed two-level FAISS-style index
# ---------------------------------------------------------------------------


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §IV; the FAISS IVFPQ layout): the
    coarse IVF quantizer restricts the ADC scan to the probe's
    IVF_NPROBE cells, then PQ codes score only those candidates and an
    exact re-rank of the shortlist produces the final top-k.

    Scale shape: this is THE billion-vector layout — scan cost drops
    from O(corpus × M_SUB) (flat PQ) to
    O(corpus × M_SUB × nprobe / |cells|), and both index artifacts
    (cell assignments, codebooks+codes) are the same memoized tables
    the standalone ivf/pq operators build, so the composition adds no
    new corpus pass. Candidate generation is a broadcast join from the
    rank-1 cell table to the probes' cell lists; the LUT join carries
    probe_id so each probe scores only its own cells' codes."""
    cells = _ivf_index(spark, sf_dir)
    cents, codes = _pq_codebooks(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)

    probe_cells = cells.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "cell"
    )
    cand = (
        cells.filter(F.col("cell_rank") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "cell")
        .join(F.broadcast(probe_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
    )

    probes = vecs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    lut = probes.crossJoin(F.broadcast(cents)).select(
        "probe_id",
        "sub",
        F.col("cluster_id").alias("code"),
        _dist2(
            F.slice(F.col("pv"), 1 + F.col("sub") * _SUB_DIM, _SUB_DIM),
            F.col("c"),
        )
        .cast("decimal(27,12)")
        .alias("pd2"),
    )
    scored = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["probe_id", "sub", "code"])
        .groupBy("probe_id", "neighbor_id")
        .agg(F.round(F.sum("pd2").cast("double"), 6).alias("adc_d2"))
    )
    w_adc = Window.partitionBy("probe_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= PQ_SHORTLIST)
        .select("probe_id", "neighbor_id")
    )
    rerank = (
        shortlist.join(F.broadcast(probes), "probe_id")
        .join(
            vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")),
            "neighbor_id",
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.round(_dist2(F.col("pv"), F.col("cv")), 6).alias("d2_r6"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("d2_r6"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            "neighbor_id",
            F.round("d2_r6", 4).alias("dist2"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


QUERIES["ann_ivf_pq"] = ann_ivf_pq
ORACLES["ann_ivf_pq"] = _pq_oracle(ivf=True)


# ---------------------------------------------------------------------------
# r05: distributed PCA — top principal component by power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 3


def _pca_dec(c: Column) -> Column:
    return c.cast("decimal(18,9)")


def _pca_model(spark: SparkSession, sf_dir: str):
    """Covariance + PCA_ITERS power-iteration rounds, all in exact
    arithmetic so the DuckDB oracle replays bit-for-bit.

    Scale shape: the corpus pass is ONE map-side outer-product explode
    (each vector emits its d² upper cells from the array directly — no
    self-join, no pre-shuffle) into a single groupBy(i,j) decimal sum;
    everything after operates on the d²-cell covariance table. The
    iteration state lives in integer micro-units (the pagerank trick):
    b is BIGINT × 1e9, matvec sums decimal(18,9)×BIGINT exactly, and
    normalization squares the integer-rounded matvec exactly (Spark
    decimal(38,0) ↔ DuckDB HUGEINT) so no unordered float sum ever
    enters the chain. Returns (n, S, cmat, b_final, n2_final)
    with b in micro-units."""
    stamp = table_stamp(sf_dir, ("embeddings",))
    return cached(
        (spark.sparkContext.applicationId, "pca", sf_dir, stamp),
        lambda: _pca_build(spark, sf_dir, stamp),
    )


def _pca_build(spark: SparkSession, sf_dir: str, stamp: tuple):
    vecs = _vectors(spark, sf_dir)
    n = vecs.count()

    d = F.size(F.col("v"))
    # symmetric: emit only the upper triangle (d(d+1)/2 decimal products
    # per vector instead of d²) and mirror the AGGREGATED cell table
    cells = vecs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), d),
                    lambda i: F.transform(
                        F.sequence(i, d),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                _pca_dec(F.element_at(F.col("v"), i))
                                * _pca_dec(F.element_at(F.col("v"), j))
                            ).alias("xx"),
                        ),
                    ),
                )
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.xx")
    p_up = cells.groupBy("i", "j").agg(F.sum("xx").alias("p"))
    p = p_up.unionAll(
        p_up.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "p"
        )
    )
    s = (
        vecs.select(F.posexplode("v").alias("i0", "x"))
        .select((F.col("i0") + 1).alias("i"), _pca_dec(F.col("x")).alias("xd"))
        .groupBy("i")
        .agg(F.sum("xd").alias("s"))
    )
    si = s.select(F.col("i"), F.col("s").alias("si"))
    sj = s.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    cmat = (
        p.join(si, "i")
        .join(sj, "j")
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("p").cast("double")
                    - F.col("si").cast("double") * F.col("sj").cast("double") / n
                )
                / n,
                9,
            )
            .cast("decimal(18,9)")
            .alias("c"),
        )
    )
    cmat = memo_df(spark, ("pca_cmat", sf_dir, stamp), lambda: cmat)

    b = cmat.select("i").distinct().select("i", F.lit(125000000).cast("bigint").alias("b"))
    n2 = None
    for _ in range(PCA_ITERS):
        mv = (
            cmat.join(
                b.select(F.col("i").alias("j"), F.col("b").alias("bj")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("bj")).alias("mv"))
        )
        k = F.round(F.col("mv"), 0)  # exact decimal integer; k² ≤ ~1e21
        n2 = mv.select(F.sum(k * k).alias("n2"))  # decimal(38,0) exact
        b = mv.crossJoin(F.broadcast(n2)).select(
            "i",
            F.round(
                F.lit(1e9)
                * F.col("mv").cast("double")
                / F.sqrt(F.col("n2").cast("double"))
            )
            .cast("bigint")
            .alias("b"),
        )
    return n, s, b, n2


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus (power
    iteration on the covariance matrix): per-dim loading in integer
    micro-units plus the Rayleigh eigenvalue estimate."""
    _, _, b, n2 = _pca_model(spark, sf_dir)
    return (
        b.crossJoin(F.broadcast(n2))
        .select(
            F.col("i").cast("int").alias("dim"),
            F.col("b").alias("pc1_micro"),
            F.round(
                F.sqrt(F.col("n2").cast("double")) / F.lit(1e9), 6
            ).alias("eig_r6"),
        )
        .orderBy("dim")
    )


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every vector onto the learned first principal axis
    (mean-centered score, 6 dp). The 64-int axis and the 64 decimal
    column sums are collected as the MODEL (same artifact class as
    k-means centroids); the corpus pass is one sequential array fold
    per vector — map-side, order-fixed, so the double arithmetic is
    bit-identical to DuckDB's list_reduce."""
    n, s, b, _ = _pca_model(spark, sf_dir)
    b_rows = sorted((r["i"], r["b"]) for r in b.collect())
    s_rows = sorted((r["i"], r["s"]) for r in s.collect())
    b_arr = F.array([F.lit(int(bv)).cast("bigint") for _, bv in b_rows])
    # c0 replayed with the same left-fold order and IEEE doubles as the
    # oracle's list_reduce over (mu list, b list)
    c0 = 0.0
    for (_, sv), (_, bv) in zip(s_rows, b_rows):
        c0 = c0 + (float(sv) / n) * float(bv)
    vecs = _vectors(spark, sf_dir)
    raw = F.aggregate(
        F.zip_with(F.col("v"), b_arr, lambda x, bi: x * bi),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return vecs.select(
        "vec_id",
        F.round((raw - F.lit(c0)) / F.lit(1e9), 6).alias("pc1_score"),
    ).orderBy("vec_id")


QUERIES["emb_pca_power"] = emb_pca_power
QUERIES["emb_pca_project"] = emb_pca_project


def _pca_ctes() -> str:
    """Unrolled power-iteration replay: exact decimal covariance from
    the dims table, then PCA_ITERS × (decimal matvec → micro-unit
    renormalize)."""
    ctes = [
        """dims AS (
          SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x
          FROM vecs
        )""",
        """ncnt AS (SELECT COUNT(*)::DOUBLE AS n FROM vecs)""",
        """smat AS (
          SELECT i, SUM(x::DECIMAL(18,9)) AS s FROM dims GROUP BY i
        )""",
        """pmat AS (
          SELECT a.i AS i, b.i AS j,
                 SUM(a.x::DECIMAL(18,9) * b.x::DECIMAL(18,9)) AS p
          FROM dims a JOIN dims b USING (vec_id)
          GROUP BY 1, 2
        )""",
        """cmat AS (
          SELECT pmat.i AS i, pmat.j AS j,
                 CAST(ROUND((p::DOUBLE - si.s::DOUBLE * sj.s::DOUBLE / ncnt.n)
                            / ncnt.n, 9) AS DECIMAL(18,9)) AS c
          FROM pmat
          JOIN smat si ON si.i = pmat.i
          JOIN smat sj ON sj.i = pmat.j, ncnt
        )""",
        """b0 AS (
          SELECT i, 125000000::BIGINT AS b FROM (SELECT DISTINCT i FROM dims)
        )""",
    ]
    for r in range(1, PCA_ITERS + 1):
        ctes.append(f"""mv{r} AS (
          SELECT c.i, SUM(c.c * b.b) AS mv
          FROM cmat c JOIN b{r - 1} b ON b.i = c.j
          GROUP BY c.i
        )""")
        ctes.append(f"""n2_{r} AS (
          SELECT SUM(k * k) AS n2 FROM (
            SELECT CAST(ROUND(mv) AS HUGEINT) AS k FROM mv{r}
          )
        )""")
        ctes.append(f"""b{r} AS (
          SELECT i, CAST(ROUND(1e9 * (mv::DOUBLE)
                               / sqrt(n2::DOUBLE)) AS BIGINT) AS b
          FROM mv{r}, n2_{r}
        )""")
    return ",\n        ".join(ctes)


ORACLES["emb_pca_power"] = f"""
        WITH {_VEC_CTE},
        {_pca_ctes()}
        SELECT b.i::INT AS dim, b.b AS pc1_micro,
               ROUND(sqrt(n2::DOUBLE) / 1e9, 6) AS eig_r6
        FROM b{PCA_ITERS} b, n2_{PCA_ITERS}
        ORDER BY dim
"""

ORACLES["emb_pca_project"] = f"""
        WITH {_VEC_CTE},
        {_pca_ctes()},
        blist AS (SELECT list(b ORDER BY i) AS bl FROM b{PCA_ITERS}),
        mulist AS (
          SELECT list(s::DOUBLE / ncnt.n ORDER BY i) AS ml
          FROM smat, ncnt GROUP BY ncnt.n
        ),
        c0 AS (
          SELECT list_reduce(
                   list_transform(list_zip(ml, bl), x -> x[1] * x[2]),
                   (p, q) -> p + q) AS c0
          FROM mulist, blist
        )
        SELECT vec_id,
               ROUND((list_reduce(list_transform(list_zip(v, bl),
                        x -> x[1] * x[2]), (p, q) -> p + q) - c0) / 1e9,
                     6) AS pc1_score
        FROM vecs, blist, c0
        ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# r05: embedding-eval ops — k-NN label audit + hard-negative mining
# ---------------------------------------------------------------------------

KNN_K = TOP_K  # vote over the exact top-k neighborhood
HARDNEG_K = 3


def emb_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-agreement audit (the standard embedding-quality
    eval): each probe's label is predicted by majority vote of its
    exact top-k cosine neighbors (tie → smallest label). Reuses the
    brute-force top-k pipeline — the capped-probe exact baseline — so
    the neighborhood is the audited ground truth, not an ANN
    approximation."""
    labels = _vectors(spark, sf_dir).select("vec_id", "label")
    topk = ann_topk_bruteforce(spark, sf_dir)
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("probe_id", "n_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("n"), F.asc("n_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", F.col("n_label").alias("pred_label"), F.col("n").alias("votes"))
    )
    return (
        pred.join(
            labels.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label")),
            "probe_id",
        )
        .select(
            "probe_id",
            "true_label",
            "pred_label",
            F.col("votes").cast("int").alias("votes"),
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("probe_id")
    )


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per probe, the
    HARDNEG_K highest-cosine neighbors with a DIFFERENT label, found
    inside the probe's IVF_NPROBE cells — the bucketed (never
    probe × corpus) scale path, same memoized cell index as
    ann_ivf_bucketed."""
    cells = _ivf_index(spark, sf_dir)
    probes = (
        cells.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("cell").alias("bucket"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pn"),
            F.col("label").alias("p_label"),
        )
    )
    pairs = (
        cells.filter(F.col("cell_rank") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell").alias("bucket"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
            F.col("label").alias("n_label"),
        )
        .join(F.broadcast(probes), "bucket")
        .filter(F.col("n_label") != F.col("p_label"))
        .select(
            "probe_id",
            "neighbor_id",
            "n_label",
            F.round(
                _cos(F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")), 6
            ).alias("cos_r6"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_r6"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARDNEG_K)
        .select(
            "probe_id",
            "neighbor_id",
            F.col("n_label").alias("neg_label"),
            F.round("cos_r6", 4).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


QUERIES["emb_knn_classify"] = emb_knn_classify
QUERIES["emb_hard_negatives"] = emb_hard_negatives

ORACLES["emb_knn_classify"] = f"""
    WITH topk AS ({ORACLES["ann_topk_bruteforce"]}),
    labels AS (SELECT vec_id, label FROM embeddings),
    votes AS (
      SELECT t.probe_id, l.label AS n_label, COUNT(*) AS n
      FROM topk t JOIN labels l ON l.vec_id = t.neighbor_id
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT probe_id, n_label AS pred_label, n AS votes,
             ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY n DESC, n_label ASC
             ) AS rn
      FROM votes
    )
    SELECT p.probe_id, l.label AS true_label, p.pred_label,
           p.votes::INT AS votes, p.pred_label = l.label AS correct
    FROM pred p JOIN labels l ON l.vec_id = p.probe_id
    WHERE p.rn = 1
    ORDER BY p.probe_id
"""

ORACLES["emb_hard_negatives"] = f"""
        WITH {_VEC_CTE},
        {_kmeans_ctes()},
        probes AS (
          SELECT vecs.vec_id, vecs.v, vecs.nrm, vecs.label, cells.cell
          FROM vecs JOIN cells USING (vec_id)
          WHERE vec_id < {N_PROBES}
        ),
        corpus AS (
          SELECT vecs.vec_id, vecs.v, vecs.nrm, vecs.label, cells.cell
          FROM vecs JOIN cells USING (vec_id)
          WHERE cells.cell_rank = 1
        ),
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 c.label AS neg_label,
                 ROUND({_COS.format(a="p", b="c")}, 6) AS cos_r6
          FROM probes p JOIN corpus c
            ON c.cell = p.cell AND c.label != p.label
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY cos_r6 DESC, neighbor_id ASC
          ) AS rank
          FROM pairs
        )
        SELECT probe_id, neighbor_id, neg_label,
               ROUND(cos_r6, 4) AS cos_sim, rank
        FROM ranked WHERE rank <= {HARDNEG_K}
"""


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding table.

    The vector-compression step a 100 TB embedding store runs before
    ANN serving: per-dimension scale = max|x| (a D-row broadcast
    table, one narrow agg over the exploded dims), code = clamp(
    round_half_up(x * 127 / scale), ±127), reported per vector as a
    position-weighted code checksum (order-independent SUM, so the
    driver can hash the full code content without array ordering
    hazards) plus the squared reconstruction error. All float math is
    IEEE basic ops (deterministic cross-engine); per-element errors
    are micro-rounded to BIGINT before summing so the reduction order
    never matters. Two shuffles total: the per-dim max and the
    per-vector regroup — both keyed, both map-side combinable.
    """
    vecs = _vectors(spark, sf_dir)
    dims = vecs.select(
        "vec_id", F.posexplode("v").alias("i0", "x")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "x")
    maxabs = dims.groupBy("i").agg(F.max(F.abs(F.col("x"))).alias("m"))
    j = dims.join(F.broadcast(maxabs), "i")
    raw_code = F.greatest(
        F.lit(-127).cast("bigint"),
        F.least(
            F.lit(127).cast("bigint"),
            F.floor(F.col("x") * 127 / F.col("m") + F.lit(0.5)).cast("bigint"),
        ),
    )
    code = F.when(F.col("m") == 0, F.lit(0).cast("bigint")).otherwise(raw_code)
    recon = code.cast("double") * F.col("m") / 127
    err_micro = F.floor(
        (F.col("x") - recon) * (F.col("x") - recon) * 1e9 + F.lit(0.5)
    ).cast("bigint")
    return (
        j.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum((code + 128) * F.col("i")).alias("code_checksum"),
            F.sum(err_micro).alias("micro"),
        )
        .select(
            "vec_id",
            F.col("n_dims").cast("bigint").alias("n_dims"),
            F.col("code_checksum").cast("bigint").alias("code_checksum"),
            F.round(F.col("micro").cast("double") / 1e9, 6).alias("l2_err"),
        )
    )


QUERIES["emb_quantize_int8"] = emb_quantize_int8

ORACLES["emb_quantize_int8"] = """
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x
      FROM vecs
    ),
    mx AS (SELECT i, MAX(ABS(x)) AS m FROM dims GROUP BY 1),
    q AS (
      SELECT d.vec_id, d.i, d.x, mx.m,
             CASE WHEN mx.m = 0 THEN 0
                  ELSE GREATEST(-127::BIGINT, LEAST(127::BIGINT,
                         CAST(FLOOR(d.x * 127 / mx.m + 0.5) AS BIGINT)))
             END AS code
      FROM dims d JOIN mx USING (i)
    ),
    e AS (
      SELECT vec_id, i, code,
             CAST(FLOOR((x - CAST(code AS DOUBLE) * m / 127)
                        * (x - CAST(code AS DOUBLE) * m / 127)
                        * 1e9 + 0.5) AS BIGINT) AS micro
      FROM q
    )
    SELECT vec_id, COUNT(*)::BIGINT AS n_dims,
           CAST(SUM((code + 128) * i) AS BIGINT) AS code_checksum,
           ROUND(CAST(SUM(micro) AS DOUBLE) / 1e9, 6) AS l2_err
    FROM e GROUP BY 1
"""


def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding table.

    The embedding-store health check a 100 TB vector pipeline runs
    before indexing: per dimension n, mean, second moment, min/max
    and near-zero fraction expose dead dims, scale outliers, and
    anisotropy at a glance. Per-element values are micro-rounded to
    BIGINT (half-up, sign-symmetric) BEFORE the sums, so the
    reduction is order-independent integer arithmetic — the driver
    hash cannot drift with partitioning; min/max compare exact
    doubles. ONE map-side-combinable shuffle on the D dimension keys;
    output is O(D) regardless of corpus size.
    """
    vecs = _vectors(spark, sf_dir)
    dims = vecs.select(
        "vec_id", F.posexplode("v").alias("i0", "x")
    ).select((F.col("i0") + 1).alias("dim"), "x")
    micro = (
        F.signum("x") * F.floor(F.abs(F.col("x")) * 1e6 + F.lit(0.5))
    ).cast("bigint")
    sq_micro = F.floor(F.col("x") * F.col("x") * 1e6 + F.lit(0.5)).cast(
        "bigint"
    )
    agg = dims.select("dim", micro.alias("m"), sq_micro.alias("s"), "x").groupBy(
        "dim"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("sum_micro"),
        F.sum("s").alias("sq_micro"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum(F.when(F.abs(F.col("x")) < 1e-3, 1).otherwise(0)).alias("nz"),
    )
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sum_micro").cast("double") / (F.col("n") * 1e6), 6)
        .alias("mean"),
        F.round(F.col("sq_micro").cast("double") / (F.col("n") * 1e6), 6)
        .alias("second_moment"),
        F.round("mn", 6).alias("min_x"),
        F.round("mx", 6).alias("max_x"),
        F.round(F.col("nz").cast("double") / F.col("n"), 6)
        .alias("near_zero_frac"),
    ).orderBy("dim")


QUERIES["emb_dim_stats"] = emb_dim_stats

ORACLES["emb_dim_stats"] = """
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    dims AS (
      SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM vecs
    ),
    agg AS (
      SELECT dim, COUNT(*) AS n,
             SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e6 + 0.5) AS BIGINT))
               AS sum_micro,
             SUM(CAST(FLOOR(x * x * 1e6 + 0.5) AS BIGINT)) AS sq_micro,
             MIN(x) AS mn, MAX(x) AS mx,
             SUM(CASE WHEN ABS(x) < 1e-3 THEN 1 ELSE 0 END) AS nz
      FROM dims GROUP BY 1
    )
    SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
           ROUND(CAST(sum_micro AS DOUBLE) / (n * 1e6), 6) AS mean,
           ROUND(CAST(sq_micro AS DOUBLE) / (n * 1e6), 6) AS second_moment,
           ROUND(mn, 6) AS min_x, ROUND(mx, 6) AS max_x,
           ROUND(CAST(nz AS DOUBLE) / n, 6) AS near_zero_frac
    FROM agg ORDER BY dim
"""


def emb_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the IVF index against exact brute force, per probe.

    The eval every ANN deployment gates on: for each probe, what
    fraction of the true top-K (exact cosine, ann_topk_bruteforce)
    does the IVF candidate list recover? Composes the two existing
    retrievers — both memoized per data stamp, so this costs two
    dimension-sized joins, not an index rebuild — and left-joins truth
    against retrieved so a probe with zero recovered neighbors still
    reports 0.0 instead of vanishing. O(probes × K) all the way.
    """
    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "probe_id", F.col("neighbor_id").alias("true_id")
    )
    got = ann_ivf_bucketed(spark, sf_dir).select(
        "probe_id", F.col("neighbor_id").alias("got_id"), F.lit(1).alias("hit")
    )
    joined = truth.join(
        got,
        (truth.probe_id == got.probe_id) & (truth.true_id == got.got_id),
        "left",
    ).select(truth.probe_id.alias("pid"), F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    return (
        joined.groupBy(F.col("pid").alias("probe_id"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("hit").cast("bigint").alias("n_recovered"),
            F.round(
                F.sum("hit").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("recall_at_k"),
        )
        .orderBy("probe_id")
    )


QUERIES["emb_recall_at_k"] = emb_recall_at_k

ORACLES["emb_recall_at_k"] = f"""
    WITH truth AS (
      SELECT probe_id, neighbor_id AS true_id
      FROM ({ORACLES["ann_topk_bruteforce"]}) t
    ),
    got AS (
      SELECT probe_id, neighbor_id AS got_id
      FROM ({ORACLES["ann_ivf_bucketed"]}) g
    )
    SELECT t.probe_id,
           COUNT(*)::BIGINT AS k,
           SUM(CASE WHEN g.got_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_recovered,
           ROUND(SUM(CASE WHEN g.got_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 4) AS recall_at_k
    FROM truth t
    LEFT JOIN got g ON g.probe_id = t.probe_id AND g.got_id = t.true_id
    GROUP BY t.probe_id ORDER BY t.probe_id
"""


def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ reconstruction error — the codebook health check.

    recall@K (emb_recall_at_k) grades the END of the ANN pipeline;
    this grades the middle: how much geometry does the 8x32 codebook
    destroy per subspace? Mean squared reconstruction error
    ||sv − c_code||² per subspace over the whole corpus, from the
    memoized codebook artifacts (zero retraining). A subspace whose
    MSE is an outlier is where to spend more centroids — the standard
    FAISS tuning readout. Per-vector d² quantizes to DECIMAL(27,12)
    before the mean so the sum is order-independent; one broadcast
    join (32-row codebook per subspace) + one O(subspaces) rollup.
    """
    cents, codes = _pq_codebooks(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)
    subs = vecs.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("v"), 1 + s * _SUB_DIM, _SUB_DIM)
                    for s in range(M_SUB)
                ]
            )
        ).alias("sub", "sv"),
    )
    recon = subs.join(codes, ["vec_id", "sub"]).join(
        F.broadcast(cents.withColumnRenamed("cluster_id", "code")),
        ["sub", "code"],
    )
    d2 = F.aggregate(
        F.zip_with("sv", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("decimal(27,12)")
    return (
        recon.select("sub", d2.alias("d2"))
        .groupBy("sub")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("d2").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mse"),
        )
        .select(
            F.col("sub").cast("bigint").alias("sub"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            "mse",
        )
        .orderBy("sub")
    )


QUERIES["emb_pq_distortion"] = emb_pq_distortion

ORACLES["emb_pq_distortion"] = f"""
    WITH {_VEC_CTE},
    {_pq_train_prefix()},
    recon AS (
      SELECT s.sub,
             (list_reduce(list_transform(list_zip(s.sv, c.c),
                x -> (x[1] - x[2]) * (x[1] - x[2])),
                (p, q) -> p + q))::DECIMAL(27,12) AS d2
      FROM subs s
      JOIN codes ON codes.vec_id = s.vec_id AND codes.sub = s.sub
      JOIN {_PQ_FINAL} c ON c.sub = s.sub AND c.cluster_id = codes.code
    )
    SELECT sub::BIGINT AS sub, COUNT(*)::BIGINT AS n_vecs,
           ROUND((SUM(d2))::DOUBLE / COUNT(*)::DOUBLE, 6) AS mse
    FROM recon GROUP BY 1 ORDER BY 1
"""


def emb_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift between two corpus snapshots.

    The ML-ops monitor run on every embedding refresh: split the
    corpus into reference vs current (deterministic vec_id parity —
    the stand-in for yesterday/today partitions), compute each label's
    exact-decimal centroid per snapshot, and report the centroid
    cosine (1.0 = no drift) plus the population shift. Centroid means
    use the same DECIMAL(27,6) sum discipline as the PQ/k-means
    training (order-independent), the cosine is one closed-form double
    per label, and everything after the map-side per-(label, half,
    dim) partial aggregation is O(labels × dims).
    """
    vecs = _vectors(spark, sf_dir).select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
        F.posexplode("v").alias("dim", "x"),
    )
    cent = vecs.groupBy("label", "is_ref", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m"),
        F.count(F.lit(1)).alias("nd"),
    )
    ref = cent.filter(F.col("is_ref")).select(
        "label", "dim", F.col("m").alias("mr"), F.col("nd").alias("n_ref")
    )
    cur = cent.filter(~F.col("is_ref")).select(
        "label", "dim", F.col("m").alias("mc"), F.col("nd").alias("n_cur")
    )
    per_label = (
        ref.join(cur, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            F.sum(
                (F.col("mr") * F.col("mc")).cast("decimal(27,12)")
            ).alias("dot"),
            F.sum(
                (F.col("mr") * F.col("mr")).cast("decimal(27,12)")
            ).alias("nr"),
            F.sum(
                (F.col("mc") * F.col("mc")).cast("decimal(27,12)")
            ).alias("nc"),
        )
    )
    return per_label.select(
        "label",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("nr").cast("double"))
                * F.sqrt(F.col("nc").cast("double"))
            ),
            6,
        ).alias("centroid_cosine"),
        F.round(
            F.col("n_cur").cast("double") / F.col("n_ref").cast("double"), 4
        ).alias("population_ratio"),
    ).orderBy("label")


QUERIES["emb_drift_monitor"] = emb_drift_monitor

ORACLES["emb_drift_monitor"] = f"""
    WITH {_VEC_CTE},
    expl AS (
      SELECT label, vec_id % 2 = 0 AS is_ref,
             generate_subscripts(v, 1) AS dim, unnest(v) AS x
      FROM vecs
    ),
    cent AS (
      SELECT label, is_ref, dim,
             (SUM(x::DECIMAL(27,6)))::DOUBLE / COUNT(*)::DOUBLE AS m,
             COUNT(*) AS nd
      FROM expl GROUP BY 1, 2, 3
    ),
    paired AS (
      SELECT r.label, r.dim, r.m AS mr, c.m AS mc,
             r.nd AS n_ref, c.nd AS n_cur
      FROM (SELECT * FROM cent WHERE is_ref) r
      JOIN (SELECT * FROM cent WHERE NOT is_ref) c
        ON c.label = r.label AND c.dim = r.dim
    )
    SELECT label,
           MAX(n_ref)::BIGINT AS n_ref,
           MAX(n_cur)::BIGINT AS n_cur,
           ROUND((SUM((mr * mc)::DECIMAL(27,12)))::DOUBLE
                 / (sqrt((SUM((mr * mr)::DECIMAL(27,12)))::DOUBLE)
                    * sqrt((SUM((mc * mc)::DECIMAL(27,12)))::DOUBLE)), 6)
             AS centroid_cosine,
           ROUND(MAX(n_cur)::DOUBLE / MAX(n_ref)::DOUBLE, 4)
             AS population_ratio
    FROM paired GROUP BY label ORDER BY label
"""


def emb_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-balance audit — the index-ops health check.

    Probe latency on an IVF index is gated by its LARGEST cells (a
    probe scans whole cells), so the balance profile — per-cell
    population, share, and the max/mean balance factor — is the
    number an ANN operator watches after every retrain. Reads the
    memoized rank-1 cell assignments (zero training cost here),
    O(cells) output. Balance factor near 1 = healthy; a factor near
    n_cells means one mega-cell owns the corpus and nprobe tuning
    can't save it.
    """
    cells = _ivf_index(spark, sf_dir).filter(F.col("cell_rank") == 1)
    per_cell = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy()
    return (
        per_cell.select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.round(
                F.col("n").cast("double") / F.sum("n").over(wt).cast("double"),
                6,
            ).alias("share"),
            F.round(
                F.col("n").cast("double")
                * F.count(F.lit(1)).over(wt).cast("double")
                / F.sum("n").over(wt).cast("double"),
                4,
            ).alias("balance_factor"),
        )
        .orderBy("cell")
    )


QUERIES["emb_ivf_balance"] = emb_ivf_balance

ORACLES["emb_ivf_balance"] = f"""
    WITH {_VEC_CTE},
    {_kmeans_ctes()},
    per_cell AS (
      SELECT cell, COUNT(*) AS n FROM cells WHERE cell_rank = 1 GROUP BY 1
    )
    SELECT cell::BIGINT AS cell, n::BIGINT AS n_vectors,
           ROUND(n::DOUBLE / SUM(n) OVER ()::DOUBLE, 6) AS share,
           ROUND(n::DOUBLE * COUNT(*) OVER ()::DOUBLE
                 / SUM(n) OVER ()::DOUBLE, 4) AS balance_factor
    FROM per_cell ORDER BY cell
"""


# --- r06: duplicate-rate-vs-threshold curve ---------------------------------

CURVE_PCTS = (30, 35, 40, 45, 50, 55, 60, 65, 70, 75, 80)
# Per-(table, bucket) deterministic sample cap: the SRP bucket space is
# FIXED (N_TABLES × 2^N_PLANES), so bucket occupancy grows with corpus
# density and the within-bucket pair mass grows quadratically (the r06
# 10× probe measured 16.6× before the cap). Keeping only the
# CURVE_MAXDF md5-smallest vectors per bucket bounds pair mass at
# O(buckets · cap²) while staying a uniform (hash-ordered) sample of
# each bucket — the curve is a tuning estimate, and the estimate's
# sample is replayed exactly by the oracle.
CURVE_MAXDF = 32


def emb_cosine_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-tuning curve: how many candidate pairs would a cosine
    near-dup pass drop at each threshold — the sweep every SemDeDup /
    embedding-dedup deployment runs to PICK its threshold before
    committing to a full pass.

    Candidates are the SRP-LSH bucket collisions (the memoized
    multi-table index ann_lsh_cosine builds), down-sampled to the
    CURVE_MAXDF md5-smallest vectors per bucket (see above — bounded
    pair mass at any corpus density); each distinct pair scores one
    exact cosine, then the O(thresholds) curve is a single explode +
    groupBy on the scored pair set. Thresholds are integer percents so
    the group key is never a float.

    r10 optimization (guide §2.3 / §8 — decide with small rows, attach
    payloads once): the cap window, the bucket self-join and the pair
    dedup all shuffle only (vec_id, t, bucket) ids now; the 64-dim
    vectors join in exactly once per DISTINCT pair for the single
    cosine evaluation. Before, the vectors rode every exchange
    (cap sort, collision join, pair groupBy) and the cosine fold ran
    once per (pair, table) collision; a pair's cosine is
    collision-invariant, so min(cos) ≡ the one value and the result
    is unchanged.
    """
    vecs = _vectors(spark, sf_dir)
    hashed = _srp_index(spark, sf_dir)
    ids = hashed.select("vec_id", "t", "bucket")
    w_cap = Window.partitionBy("t", "bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    capped = (
        ids.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= CURVE_MAXDF)
        .drop("rn")
    )
    a = capped.select(F.col("vec_id").alias("va"), "t", "bucket")
    b = capped.select(F.col("vec_id").alias("vb"), "t", "bucket")
    pair_ids = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
    )
    va = vecs.select(
        F.col("vec_id").alias("va"),
        F.col("v").alias("xa"),
        F.col("nrm").alias("na"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("vb"),
        F.col("v").alias("xb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        pair_ids.join(va, "va")
        .join(vb, "vb")
        .select(
            "va",
            "vb",
            F.round(
                _cos(F.col("xa"), F.col("xb"), F.col("na"), F.col("nb")), 6
            ).alias("cos_r6"),
        )
    )
    pairs = rolling_persist(spark, ("cos_curve_pairs", sf_dir), pairs)
    total = pairs.count()  # scalar; the curve's denominator
    curve = (
        pairs.select(
            F.explode(F.array(*[F.lit(p) for p in CURVE_PCTS])).alias(
                "threshold_pct"
            ),
            "cos_r6",
        )
        .filter(F.col("cos_r6") * 100 >= F.col("threshold_pct"))
        .groupBy("threshold_pct")
        .agg(F.count(F.lit(1)).alias("n_pairs_at_or_above"))
    )
    # left join against the full threshold list so empty levels report 0
    grid = spark.createDataFrame(
        [(p,) for p in CURVE_PCTS], "threshold_pct int"
    )
    return (
        grid.join(curve, "threshold_pct", "left")
        .select(
            "threshold_pct",
            F.coalesce("n_pairs_at_or_above", F.lit(0))
            .cast("bigint")
            .alias("n_pairs_at_or_above"),
            F.round(
                F.coalesce("n_pairs_at_or_above", F.lit(0)).cast("double")
                / F.lit(float(max(total, 1))),
                4,
            ).alias("candidate_share"),
        )
        .orderBy("threshold_pct")
    )


QUERIES["emb_cosine_threshold_curve"] = emb_cosine_threshold_curve

ORACLES["emb_cosine_threshold_curve"] = f"""
    WITH {_VEC_CTE},
    hashed_raw AS (
{_hashed_sql()}
    ),
    hashed AS (
      SELECT * FROM (
        SELECT h.*, ROW_NUMBER() OVER (
          PARTITION BY t, bucket
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM hashed_raw h
      ) WHERE rn <= {CURVE_MAXDF}
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             MIN(ROUND({_COS.format(a="a", b="b")}, 6)) AS cos_r6
      FROM hashed a JOIN hashed b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    tot AS (SELECT COUNT(*) AS n FROM pairs),
    grid AS (SELECT unnest({list(CURVE_PCTS)}) AS threshold_pct)
    SELECT g.threshold_pct,
           COALESCE(c.n_pairs, 0)::BIGINT AS n_pairs_at_or_above,
           ROUND(COALESCE(c.n_pairs, 0)::DOUBLE
                 / greatest(tot.n, 1)::DOUBLE, 4) AS candidate_share
    FROM grid g
    LEFT JOIN (
      SELECT g2.threshold_pct, COUNT(*) AS n_pairs
      FROM pairs p JOIN (SELECT unnest({list(CURVE_PCTS)}) AS threshold_pct) g2
        ON p.cos_r6 * 100 >= g2.threshold_pct
      GROUP BY 1
    ) c USING (threshold_pct), tot
    ORDER BY g.threshold_pct
"""


MARGIN_AMBIGUOUS = 0.05  # top1-top2 cosine gap below this = ambiguous


def emb_topk_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 vs top-2 cosine margin per probe — the retrieval
    CONFIDENCE read: a wide margin means the nearest neighbor is
    unambiguous, a thin one means the ranking would flip under noise
    (the signal reranker gates and ANN-recall SLOs are set from).

    Derives from the exact brute-force top-k (same probe set and
    rounding as ann_topk_bruteforce, so the oracle composes from that
    SQL verbatim): one O(probes·k) window pass over the top-k rows —
    nothing rescans the corpus.
    """
    topk = ann_topk_bruteforce(spark, sf_dir).filter(F.col("rank") <= 2)
    picked = topk.groupBy("probe_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("cos_sim"))).alias("top1_cos"),
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias(
            "top1_neighbor"
        ),
        F.max(F.when(F.col("rank") == 2, F.col("cos_sim"))).alias("top2_cos"),
    )
    return picked.select(
        "probe_id",
        F.col("top1_neighbor").cast("bigint").alias("top1_neighbor"),
        "top1_cos",
        "top2_cos",
        F.round(F.col("top1_cos") - F.col("top2_cos"), 6).alias("margin"),
        (
            F.round(F.col("top1_cos") - F.col("top2_cos"), 6)
            < MARGIN_AMBIGUOUS
        ).alias("ambiguous"),
    ).orderBy("probe_id")


QUERIES["emb_topk_margin"] = emb_topk_margin

ORACLES["emb_topk_margin"] = f"""
    WITH topk AS ({{TOPK}})
    SELECT probe_id,
           CAST(MAX(CASE WHEN rank = 1 THEN neighbor_id END) AS BIGINT)
             AS top1_neighbor,
           MAX(CASE WHEN rank = 1 THEN cos_sim END) AS top1_cos,
           MAX(CASE WHEN rank = 2 THEN cos_sim END) AS top2_cos,
           ROUND(MAX(CASE WHEN rank = 1 THEN cos_sim END)
                 - MAX(CASE WHEN rank = 2 THEN cos_sim END), 6) AS margin,
           (ROUND(MAX(CASE WHEN rank = 1 THEN cos_sim END)
                  - MAX(CASE WHEN rank = 2 THEN cos_sim END), 6)
            < {MARGIN_AMBIGUOUS}) AS ambiguous
    FROM topk WHERE rank <= 2
    GROUP BY probe_id ORDER BY probe_id
"""
ORACLES["emb_topk_margin"] = ORACLES["emb_topk_margin"].replace(
    "{TOPK}", ORACLES["ann_topk_bruteforce"]
)


TWONN_PROBES = 32  # fixed probe budget for the intrinsic-dim MLE


def emb_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic dimension (Facco et al. 2017): the MLE
    d̂ = n / Σ ln(r2/r1) over each probe's two nearest neighbors —
    the curse-of-dimensionality read that tells you whether 64-d
    embeddings really live on a 10-d manifold (and hence how hard
    IVF/PQ can compress before recall collapses).

    A fixed probe budget (TWONN_PROBES smallest vec_ids — a
    deterministic sample) scans the corpus once: cost is
    O(probes·corpus), linear in the corpus at any scale. Squared
    distances come from the sequential zip-fold both engines evaluate
    in the same order (bit-identical IEEE); ln(r2/r1) =
    ln(d2₂/d2₁)/2 quantizes per-term to micro-nats before the sum.
    Zero-distance duplicates are excluded (r1 = 0 breaks the MLE).
    """
    vecs = _vectors(spark, sf_dir)
    probes = vecs.filter(F.col("vec_id") < TWONN_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("pv"), F.col("v"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        vecs.select(F.col("vec_id").alias("neighbor_id"), "v")
        .join(F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    two = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("probe_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("d2"))).alias("d2_1"),
            F.max(F.when(F.col("rk") == 2, F.col("d2"))).alias("d2_2"),
        )
        .filter(F.col("d2_1") > 0)
    )
    scored = two.select(
        F.floor(
            F.log(F.col("d2_2") / F.col("d2_1")) / 2 * F.lit(1e8) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mu_micro")
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n"), F.sum("mu_micro").alias("mu_sum")
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_probes_used",
        "ROUND(CAST(mu_sum AS DOUBLE) / 1e8, 6) AS sum_log_ratio",
        "ROUND(CAST(n AS DOUBLE) / (CAST(mu_sum AS DOUBLE) / 1e8), 4)"
        " AS intrinsic_dim",
    )


QUERIES["emb_twonn_intrinsic_dim"] = emb_twonn_intrinsic_dim

ORACLES["emb_twonn_intrinsic_dim"] = f"""
    WITH {_VEC_CTE},
    pairs AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             list_reduce(list_transform(list_zip(p.v, c.v),
                         x -> (x[1] - x[2]) * (x[1] - x[2])),
                         (a, b) -> a + b) AS d2
      FROM vecs p JOIN vecs c ON c.vec_id != p.vec_id
      WHERE p.vec_id < {TWONN_PROBES}
    ),
    two AS (
      SELECT probe_id,
             MAX(CASE WHEN rk = 1 THEN d2 END) AS d2_1,
             MAX(CASE WHEN rk = 2 THEN d2 END) AS d2_2
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY probe_id ORDER BY d2 ASC, neighbor_id ASC) AS rk
        FROM pairs
      ) WHERE rk <= 2 GROUP BY probe_id
      HAVING MAX(CASE WHEN rk = 1 THEN d2 END) > 0
    ),
    scored AS (
      SELECT CAST(FLOOR(ln(d2_2 / d2_1) / 2 * 1e8 + 0.5) AS BIGINT)
               AS mu_micro
      FROM two
    )
    SELECT COUNT(*)::BIGINT AS n_probes_used,
           ROUND(CAST(SUM(mu_micro) AS DOUBLE) / 1e8, 6) AS sum_log_ratio,
           ROUND(COUNT(*)::DOUBLE / (CAST(SUM(mu_micro) AS DOUBLE) / 1e8), 4)
             AS intrinsic_dim
    FROM scored
"""


# --- Simplified silhouette over the IVF cells ----------------------
# Per-point: a = euclidean distance to OWN post-hoc cell centroid,
# b = min distance to any other centroid; s = (b-a)/max(a,b). The
# "simplified silhouette" (centroid-based, Hruschka 2004) is the
# distributed-scale form: O(n·K) distances instead of O(n²) pairs.
_SIL_EXPR = (
    "(CASE WHEN GREATEST(SQRT(a2), SQRT(b2)) <= 0 THEN 0.0"
    " ELSE (SQRT(b2) - SQRT(a2)) / GREATEST(SQRT(a2), SQRT(b2)) END)"
)


def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit for the shared IVF index: per-cell
    simplified silhouette — the number that says whether the coarse
    quantizer's cells are tight-and-separated (s → 1) or mushy
    (s → 0/negative), i.e. whether nprobe can stay small.

    Reuses the memoized Lloyd assignment (kmeans_cells — built once
    per data stamp) and recomputes post-hoc centroids with the SAME
    decimal-mean device as the training update step, so the oracle
    replays them bit-for-bit. Distances to the K-row broadcast
    centroid table are the _dist2 fold; per-point s micro-quantizes
    before the per-cell average (order-independent sum). At 100 TB:
    one broadcast map per vector + one groupBy(cell) — no pair join.
    """
    assigned = kmeans_cells(spark, sf_dir, n_best=1).select(
        "vec_id", "v", "cell"
    )
    cents = (
        assigned.select("cell", F.posexplode("v").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("val")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("c")
        )
        .withColumnRenamed("cell", "ccell")
    )
    d = assigned.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        "ccell",
        _dist2(F.col("v"), F.col("c")).alias("d2"),
    )
    own = d.filter(F.col("cell") == F.col("ccell")).select(
        "vec_id", "cell", F.col("d2").alias("a2")
    )
    other = (
        d.filter(F.col("cell") != F.col("ccell"))
        .groupBy("vec_id")
        .agg(F.min("d2").alias("b2"))
    )
    scored = own.join(other, "vec_id").selectExpr(
        "cell",
        f"CAST(floor(1000000.0 * {_SIL_EXPR} + 0.5) AS BIGINT) AS s_micro",
    )
    return (
        scored.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("s_micro").alias("ssum"),
            F.sum(F.when(F.col("s_micro") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative"),
        )
        .selectExpr(
            "CAST(cell AS BIGINT) AS cell",
            "CAST(n_points AS BIGINT) AS n_points",
            "ROUND(CAST(ssum AS DOUBLE) / CAST(n_points AS DOUBLE)"
            " / 1000000.0, 6) AS mean_silhouette",
            "n_negative",
        )
    )


QUERIES["emb_silhouette"] = emb_silhouette

ORACLES["emb_silhouette"] = f"""
    WITH {_VEC_CTE},
    {_kmeans_ctes()},
    assigned AS (
      SELECT vec_id, v, cell FROM assign{KMEANS_ITERS - 1} WHERE cell_rank = 1
    ),
    postc AS (
      SELECT cell AS ccell, list(val ORDER BY dim) AS c
      FROM (
        SELECT cell, dim, (SUM(x::DECIMAL(27,6)))::DOUBLE / COUNT(*) AS val
        FROM (
          SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x
          FROM assigned
        )
        GROUP BY cell, dim
      )
      GROUP BY cell
    ),
    d AS (
      SELECT v.vec_id, v.cell, c.ccell, {_D2_SQL} AS d2
      FROM assigned v CROSS JOIN postc c
    ),
    own AS (
      SELECT vec_id, cell, d2 AS a2 FROM d WHERE cell = ccell
    ),
    other AS (
      SELECT vec_id, MIN(d2) AS b2 FROM d WHERE cell <> ccell GROUP BY 1
    ),
    scored AS (
      SELECT o.cell,
             CAST(floor(1000000.0 * {_SIL_EXPR} + 0.5) AS BIGINT) AS s_micro
      FROM own o JOIN other t USING (vec_id)
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(s_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1000000.0, 6) AS mean_silhouette,
           CAST(SUM(CASE WHEN s_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM scored GROUP BY cell
"""

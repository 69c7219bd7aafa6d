"""Deduplication operators for LLM-training-data pipelines.

Four families, each with the scale-correct shape:

- exact:   md5(normalized text) hash-groupBy — one shuffle on the hash,
           map-side combine, no pairwise work at all.
- minhash+LSH: shingle → 8 salted-md5 minhashes → 4 bands of 2 →
           band-key self-join. The band key IS the shuffle key, so
           candidate generation is O(collisions), never O(n²); exact
           jaccard runs only on candidates.
- ngram-jaccard: exact word-3-gram jaccard, pairs restricted to a
           blocking key (lang, source) — the blocking key bounds the
           quadratic blowup the way LSH bands do.
- simhash: 64-bit sign-aggregated fingerprint (Arrow-batched pandas
           UDF — genuinely bit-twiddly), candidates via 16-bit chunk
           buckets, verify via Hamming distance (xor+bit_count).

Minhash = lexicographic min of salted md5 hex — a valid minhash family
that is bit-identical in Spark and DuckDB (SURVEY §4 determinism
policy), so the whole LSH pipeline is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_city_directories_spark.functions.memo import (
    memo_df,
    rolling_persist,
    table_stamp,
)
from etl_city_directories_spark.sources.tables import load_table, load_table_parallel

NUM_HASHES = 8
NUM_BANDS = 4  # rows-per-band = 2
LSH_VERIFY_THRESHOLD = 0.2
NGRAM_REPORT_THRESHOLD = 0.05
# Per-(lang, source, band_idx, band_key) document-frequency cap for the
# r=1 ngram-jaccard bands: a bucket holding d docs emits d(d-1)/2
# candidates, so one boilerplate-heavy block would otherwise go
# quadratic at 100 TB. A hot bucket is DROPPED whole (the winnowing /
# containment device) — with 8 independent bands a true near-dup pair
# still has 7 other chances to collide, so recall loss is confined to
# pairs whose every band is boilerplate-hot. The oracle replays the
# identical cap, so output stays bit-identical.
NGRAM_BAND_MAXDF = 32
EMBED_COS_THRESHOLD = 0.35
SIMHASH_HAMMING_MAX = 12

# cached simhash expression trees (see dedup_simhash, r10)
_SIMHASH_EXPRS: tuple | None = None


# ---------------------------------------------------------------------------
# shared text expressions (Spark) + CTE (DuckDB)
# ---------------------------------------------------------------------------

def norm_col() -> Column:
    return F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))


def shingles_col(norm: Column) -> Column:
    """Distinct word-3-gram shingles (whole text if < 3 words)."""
    w = F.split(norm, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    return F.when(F.size(w) >= 3, F.array_distinct(grams)).otherwise(F.array(norm))


SHINGLE_CTE = """
  docs AS (
    SELECT doc_id, lang, source,
           trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm
    FROM documents
  ),
  shingled AS (
    SELECT doc_id, lang, source, norm,
      CASE WHEN len(string_split(norm, ' ')) >= 3
           THEN list_distinct([
             array_to_string(string_split(norm, ' ')[i:i+2], ' ')
             FOR i IN generate_series(1, len(string_split(norm, ' ')) - 2)
           ])
           ELSE [norm] END AS shingles
    FROM docs
  )
"""


def _shingled_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    return docs.select(
        "doc_id", "lang", "source", norm.alias("norm"), shingles_col(norm).alias("shingles")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, lang, source, shingles) frame every
    shingle-set operator reads: one rolling key for one plan, so
    releasing it never uncaches another callsite's copy. ``norm``, the
    full normalized text, is dropped before the persist; lang/source
    (the ngram blocking key, the eval split) add ~1 % to the shingles'
    width."""
    sh = _shingled_df(spark, sf_dir).select("doc_id", "lang", "source", "shingles")
    return rolling_persist(spark, ("doc_shingles", sf_dir), sh)


def minhash_fn(j: int):
    """Arity-1 lambda computing the salted-md5 minhash element hash.

    MUST stay single-parameter: a two-parameter lambda (e.g. a ``j=j``
    default binding) makes PySpark pass the ARRAY INDEX as the second
    argument, silently rebinding the salt to the index Column's repr —
    a valid-but-wrong hash family that only diverges from the oracle
    on near-threshold pairs at larger scale (caught by the sf0.1 sim).
    """
    salt = f"{j}|"
    return lambda s: F.md5(F.concat(F.lit(salt), s))


def minhash_sigs(shingles: str | Column) -> Column:
    """The NUM_HASHES-long minhash signature of a shingle-set column:
    element j is the least ``minhash_fn(j)`` hash over the set."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, minhash_fn(j)))
            for j in range(1, NUM_HASHES + 1)
        ]
    )


def _jaccard(a: Column, b: Column) -> Column:
    return F.round(
        F.size(F.array_intersect(a, b)).cast("double")
        / F.size(F.array_union(a, b)).cast("double"),
        4,
    )


_JACCARD_SQL = (
    "ROUND(len(list_intersect({a}, {b}))::DOUBLE / "
    "len(list_distinct(list_cat({a}, {b})))::DOUBLE, 4)"
)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate sets by md5(normalized text)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(norm_col()).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .withColumn("is_dup", F.col("n_docs") > 1)
    )


def _band_rows(sh: DataFrame) -> DataFrame:
    """The ONE definition of minhash banding: NUM_BANDS bands of two
    signature elements per document of the shingle frame ``sh``, band
    key md5(sig[2b+1] || sig[2b+2]); the rows carry ``source`` for the
    train/eval split. Every banded-LSH operator reads these rows, so
    they can never drift apart."""
    sigs = sh.select("doc_id", "source", minhash_sigs("shingles").alias("sig"))
    return sigs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat(
                            F.element_at("sig", 2 * b + 1),
                            F.element_at("sig", 2 * b + 2),
                        )
                    )
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def _minhash_bands(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(persisted shingle frame, persisted band table), shared by the
    self-join LSH, the incremental screen, the train × eval screen and
    the fidelity audit. Both frames are rolling_persist entries: at
    most one live copy per session × sf_dir."""
    sh = _doc_shingles(spark, sf_dir)
    # every reader's two sides scan it; avoids a 2× signature pass.
    # rolling: the previous invocation's blocks release on re-entry
    bands = rolling_persist(spark, ("minhash_bands", sf_dir), _band_rows(sh))
    return sh, bands


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs that share a band bucket."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup candidates, verified with exact jaccard.

    The shingle stage is persisted before the band self-join: the plan
    references it four times (both band sides + both verify sides), and
    a self-join does not reuse the exchange, so an unpersisted plan
    would re-shingle the corpus 4×. This is the staged-materialization
    every production LSH pipeline does (MLlib's MinHashLSH caches its
    transformed dataset the same way); at 100 TB the persist becomes a
    signature table written once and joined twice.
    """
    sh, bands = _minhash_bands(spark, sf_dir)
    cand = _band_pairs(bands)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram jaccard scoring over LSH-generated candidates.

    Exact math is the VERIFY stage, never the pair generator: candidate
    pairs come from single-signature minhash bands (8 bands of 1 — the
    high-recall banding for the low 0.05 report threshold: P[collide] =
    1-(1-j)^8, so even j≈0.3 pairs are caught w.p. ~0.94) restricted to
    the (lang, source) block, then exact jaccard scores only those. The
    band key is the shuffle key, and each (block, band, key) bucket is
    df-capped at NGRAM_BAND_MAXDF (hot buckets dropped whole before the
    self-join), so candidate mass is O(Σ min(df, cap)²) — bounded even
    when a boilerplate-heavy block floods one band value at 100 TB. The
    DuckDB oracle replays the identical candidate generation including
    the cap, so the threshold-filtered output is bit-identical.
    """
    sh = _doc_shingles(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(minhash_sigs("shingles")).alias("band_idx", "band_key"),
    )
    bands = rolling_persist(spark, ("ngram_bands", sf_dir), bands)
    # df cap: drop hot buckets whole before the self-join (see
    # NGRAM_BAND_MAXDF). The cap scan reuses the persisted bands.
    bucket_ok = (
        bands.groupBy("lang", "source", "band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= NGRAM_BAND_MAXDF)
        .select("lang", "source", "band_idx", "band_key")
    )
    bands = bands.join(bucket_ok, ["lang", "source", "band_idx", "band_key"])
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "lang",
            "source",
            "doc_a",
            "doc_b",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_REPORT_THRESHOLD)
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over SRP-LSH candidates.

    Candidate pairs come from the same signed-random-projection buckets
    ann_lsh_cosine uses (8 tables × 4 sign bits, deterministic md5
    hyperplanes): two vectors are candidates iff they share a (table,
    bucket) AND a label. Exact cosine then scores only candidates —
    the (table, bucket) key is the shuffle key, so pair generation is
    O(collisions), never O(n² per label block). For the 0.35 report
    threshold, SRP collision prob per table is (1-θ/π)^4 ≈ 0.14 at the
    threshold and rises steeply with cosine; 8 OR-ed tables catch ≥0.7
    of borderline pairs and essentially all true near-dups. Norms are
    precomputed per vector (O(n), not O(pairs)); dot products are
    sequential left folds so Spark and DuckDB round identically, and
    the oracle replays the identical buckets.
    """
    from etl_city_directories_spark.operators.similarity import (
        _buckets_col,
        _vectors,
    )

    # the (vec_id, label, v, nrm) table every ANN index reads; its SRP
    # buckets are the dedup INDEX (same artifact family as the memoized
    # LSH cluster labels) — both built once per (session, data stamp)
    e = _vectors(spark, sf_dir)
    stamp = table_stamp(sf_dir, ("embeddings",))
    # r10: the 2048-literal bucket array is a cached module singleton
    # (similarity._buckets_col) — its per-call construction was ~2 s of
    # pure driver/py4j time even when the hashed frame memo below hit.
    hashed = e.select(
        "vec_id", "label", F.posexplode(_buckets_col()).alias("t", "bucket")
    )
    hashed_plan = hashed
    hashed = memo_df(
        spark, ("emb_hashed", sf_dir, stamp), lambda: hashed_plan
    )
    ha, hb = hashed.alias("ha"), hashed.alias("hb")
    cand = (
        ha.join(
            hb,
            (F.col("ha.label") == F.col("hb.label"))
            & (F.col("ha.t") == F.col("hb.t"))
            & (F.col("ha.bucket") == F.col("hb.bucket"))
            & (F.col("ha.vec_id") < F.col("hb.vec_id")),
        )
        .select(
            F.col("ha.label").alias("label"),
            F.col("ha.vec_id").alias("vec_a"),
            F.col("hb.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    va = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    vb = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.sqrt(F.col("n_a")) * F.sqrt(F.col("n_b")))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", "label", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= EMBED_COS_THRESHOLD)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash near-dup pairs — oracle-checkable (r05 upgrade).

    Fingerprint: per-word 64-bit hash = four 16-bit md5-hex chunks
    (``conv(substring(md5(w), 4c+1, 4), 16, 10)``) — the same
    md5-derived integer algebra DuckDB replays bit-identically for
    minhash and the permute hash, so the whole pipeline is now
    hash-checkable (was rows-only through r04). The per-bit majority
    fold is explode → one hash-groupBy on doc_id with 64 partial-summed
    bit counters — map-side combine shrinks the shuffle to one
    65-int row per (mapper, doc), and the former pandas UDF is gone
    entirely: everything is JVM-side expression eval. Candidate
    generation splits the fingerprint into its four 16-bit chunks —
    near-dups within Hamming distance 16/4 share ≥1 chunk by
    pigeonhole — then verifies with xor + bit_count. Chunk buckets are
    the shuffle key, so this scales like LSH, not like all-pairs.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    # r10: the ~200-node bit-counter/majority expression trees below
    # are static (they reference fixed column names only) — cached as
    # module singletons so re-invocation skips ~2 s of per-call
    # py4j expression construction (guide §7.3). Plans are unchanged.
    global _SIMHASH_EXPRS
    if _SIMHASH_EXPRS is None:
        chunk_exprs = [
            F.conv(F.substring(F.md5("w"), 4 * c + 1, 4), 16, 10)
            .cast("int")
            .alias(f"c{c}")
            for c in range(4)
        ]
        cnt_exprs = [
            F.sum(F.shiftright(F.col(f"c{c}"), b).bitwiseAND(F.lit(1))).alias(
                f"b{c}_{b}"
            )
            for c in range(4)
            for b in range(16)
        ]

        def _fp(c: int) -> Column:
            expr: Column = F.lit(0)
            for b in range(16):
                expr = expr + F.when(
                    2 * F.col(f"b{c}_{b}") > F.col("n"), F.lit(1 << b)
                ).otherwise(F.lit(0))
            return expr.alias(f"fp{c}")

        _SIMHASH_EXPRS = (chunk_exprs, cnt_exprs, [_fp(c) for c in range(4)])
    chunk_exprs, cnt_exprs, fp_exprs = _SIMHASH_EXPRS
    wh = docs.select(
        "doc_id", F.explode(F.split(norm_col(), " ")).alias("w")
    ).select("doc_id", *chunk_exprs)
    cnts = wh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *cnt_exprs
    )
    # persisted: the chunk self-join reads the fingerprints twice
    fps = rolling_persist(
        spark,
        ("simhash_docs", sf_dir),
        cnts.select("doc_id", *fp_exprs),
    )
    chunks = fps.select(
        "doc_id",
        "fp0",
        "fp1",
        "fp2",
        "fp3",
        F.posexplode(F.array("fp0", "fp1", "fp2", "fp3")).alias(
            "chunk_idx", "chunk_val"
        ),
    )
    a, c2 = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            c2,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.fp{c}").alias(f"a{c}") for c in range(4)],
            *[F.col(f"b.fp{c}").alias(f"b{c}") for c in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}"))) for c in range(4)
    )
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup as a corpus FILTER: the surviving documents (lowest doc_id
    per exact-hash set) — what a training pipeline actually feeds
    downstream. One shuffle on the hash; row_number instead of
    groupBy+rejoin so the corpus passes through once."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", "source", F.md5(norm_col()).alias("text_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "text_hash")
    )


def dedup_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the verified
    LSH near-dup pairs (cluster id = min doc_id in the component).

    Components run as alternating large-star/small-star contractions
    (functions.graph, Kiveris et al. 2014): O(log² n) rounds
    REGARDLESS of component diameter — chained near-dup families
    (successive page revisions A~B~C~…) would force plain min-label
    propagation into diameter-many shuffle rounds; the star steps
    contract such chains in a handful. Verified against a union-find
    reference incl. a 200-node chain in tests/test_graph.py.

    The (doc_id, cluster_id) label table is memoized per (session,
    sf_dir, data stamp) — it is the dedup INDEX three consumers share
    (clusters, near_keep_first, report); construction runs once.
    ``dedup_minhash_lsh`` itself stays un-memoized so the bench keeps
    measuring the cold LSH pipeline.
    """
    from pyspark.sql import Window

    labels = memo_df(
        spark,
        ("lsh_cluster_labels", sf_dir, table_stamp(sf_dir, ("documents",))),
        lambda: _cluster_labels_build(spark, sf_dir),
    )
    w = Window.partitionBy("cluster_id")
    return labels.withColumn("cluster_size", F.count(F.lit(1)).over(w))


def _cluster_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH pairs (memoized by
    dedup_lsh_clusters); returns (doc_id, cluster_id)."""
    from etl_city_directories_spark.functions.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").persist()
    pairs.count()  # materialize once: the star rounds re-read the pair
    # set; an unpersisted plan would re-run the whole minhash pipeline
    labels = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    # connected_components eagerly localCheckpoints its node/edge state,
    # so the returned plan no longer references `pairs` — release it
    # here instead of pinning one pair set per data stamp forever
    pairs.unpersist()
    return labels


def dedup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span audit: for every document, how many
    of its word-3-gram spans also appear in ANY other document — the
    per-doc signal behind substring-level training-data dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better": memorized spans come from text repeated ACROSS documents,
    which document-level dedup can't see).

    Scale shape: explode to (span, doc) pairs, partial-aggregated
    groupBy(span) to find spans in >1 doc (shuffle volume O(distinct
    spans), not O(tokens)), then one hash join back on the span key —
    the identical machinery as decontaminate, pointed corpus-wide.
    Spans are distinct per doc (shingles_col), so 'shared' means
    across documents, never self-repetition (text_repetition_stats
    covers that axis).
    """
    # explode + final join read it; rolling: released on the next call
    sh = _doc_shingles(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    shared = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("s", F.lit(1).alias("is_shared"))
    )
    per_doc = (
        ex.join(shared, "s", "left")
        .groupBy("doc_id")
        .agg(F.count("is_shared").alias("n_shared_spans"))
    )
    return (
        sh.select("doc_id", F.size("shingles").cast("bigint").alias("n_spans"))
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_spans",
            F.col("n_shared_spans").cast("bigint").alias("n_shared_spans"),
            F.round(
                F.col("n_shared_spans").cast("double")
                / F.col("n_spans").cast("double"),
                4,
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


def dedup_near_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup dedup as a corpus FILTER — the operation a training
    pipeline actually applies: every document survives except non-
    canonical members of a near-dup cluster (canonical = min doc_id =
    the cluster id from dedup_lsh_clusters' connected components).

    The loser set is tiny relative to the corpus (only clustered
    near-dups), so the final subtraction is a broadcast anti join —
    the corpus streams through map-side untouched. Everything upstream
    is the banded-LSH pipeline: no all-pairs anywhere.
    """
    clusters = dedup_lsh_clusters(spark, sf_dir)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return docs.join(F.broadcast(losers), "doc_id", "left_anti")


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the per-source duplication report a
    pipeline dashboard shows after every ingest — document counts,
    exact-duplicate documents (hash appears >1), near-dup cluster
    members (from the LSH connected components), and the exact-dup
    rate.

    Exact side is one window count over the hash (single shuffle);
    the near side reuses the banded-LSH cluster pipeline and arrives
    as a tiny broadcast. Nothing here rescans pairs.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(norm_col()).alias("text_hash")
    )
    w = Window.partitionBy("text_hash")
    exact = docs.withColumn("n_same", F.count(F.lit(1)).over(w))
    members = dedup_lsh_clusters(spark, sf_dir).select("doc_id")
    return (
        exact.join(
            F.broadcast(members.withColumn("is_near", F.lit(1))), "doc_id", "left"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_same") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
            F.sum(F.coalesce("is_near", F.lit(0))).cast("bigint").alias(
                "n_near_dup_docs"
            ),
            F.round(
                F.sum(F.when(F.col("n_same") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


PREFIX_LEN = 40


def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix duplicate sets: documents grouped by the md5
    of the first PREFIX_LEN normalized chars — the cheap detector for
    template/boilerplate openings (scraped pages share headers long
    before they share whole bodies), sitting between exact dedup
    (whole-hash) and shared-span dedup (any-position n-grams) in the
    §2.C family. Same scale shape as dedup_exact: one hash-keyed
    groupBy with map-side combine, no pairwise work."""
    docs = load_table(spark, sf_dir, "documents")
    pfx = F.md5(F.substring(norm_col(), 1, PREFIX_LEN))
    return (
        docs.select("doc_id", pfx.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .withColumn("is_dup", F.col("n_docs") > 1)
    )


PAGERANK_ITERS = 3


def graph_pagerank_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph — which documents sit at the
    CENTER of duplication families (hub pages whose text leaks into
    many others), the ranking a dedup dashboard sorts by when choosing
    canonical survivors.

    Iterative numeric graph analytics as pure DataFrame ops: 3 unrolled
    power iterations, each one join on the rank key + one aggregation
    on the destination — O(E) shuffle per round, no adjacency gathers.
    All arithmetic is INTEGER MICRO-UNITS (rank×1e6; contribution =
    rank div degree; damping 0.85 as (850000·Σ) div 1e6), so the sum
    is order-independent and DuckDB replays every iteration
    bit-for-bit — the same determinism device as the decimal Lloyd
    iterations in similarity.kmeans_cells. Edges are the verified LSH
    pairs (symmetrized), so the pair generation stays O(band
    collisions)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # r10 (guide §1.2 don't compute twice): symmetrize via one explode
    # of a 2-struct array instead of a 2-branch union — the union plan
    # contained the chain's band-join + verify tail TWICE (sh/bands
    # persists only cover the stages below it), the explode form
    # contains it once. Row multiset is identical.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
                ),
                F.struct(
                    F.col("doc_b").alias("s"), F.col("doc_a").alias("d")
                ),
            )
        ).alias("e")
    ).select("e.s", "e.d")
    sym = rolling_persist(spark, ("pr_edges", sf_dir), sym)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
    # Degree is static across iterations: attach it to the edge list
    # ONCE (r10 optimization, guide §2.4 — don't re-run the same join
    # every round) instead of re-joining deg inside every power
    # iteration; each round is then a single join on the rank key.
    sym_deg = rolling_persist(
        spark, ("pr_edges_deg", sf_dir), sym.join(deg, "s")
    )
    ranks = deg.select(
        F.col("s").alias("node"), F.lit(1_000_000).cast("long").alias("r")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            sym_deg.join(ranks, sym_deg.s == ranks.node)
            .select(F.col("d").alias("dst"), F.expr("r div degree").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150_000) + F.expr("(850000 * sc) div 1000000"))
                .cast("long")
                .alias("r"),
            )
        )
    return (
        ranks.join(deg, ranks.node == deg.s)
        .select(
            F.col("node").alias("doc_id"),
            F.col("degree").cast("bigint").alias("degree"),
            F.round(F.col("r").cast("double") / 1_000_000.0, 6).alias(
                "pagerank"
            ),
        )
        .orderBy("doc_id")
    )


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication audit: how much verified near-dup
    content crosses source (dump/crawl) boundaries — the number that
    tells a corpus builder whether two dumps are worth keeping both of.

    Reuses the banded-minhash candidate machinery end-to-end
    (``dedup_minhash_lsh``): pair generation stays O(band collisions),
    the per-pair source lookup is a hash join at O(matched pairs), and
    the output is the per-(source, source) rollup with a canonical
    (least, greatest) pair order. No new corpus pass, no new shuffle
    shape — this is the cheap aggregate DOWNSTREAM of the existing
    LSH pipeline, exactly how a production audit would consume it.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            "jaccard",
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("jaccard"), 4).alias("max_jaccard"),
        )
        .orderBy("source_lo", "source_hi")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_cross_source": dedup_cross_source,
    "dedup_prefix": dedup_prefix,
    "graph_pagerank_dupes": graph_pagerank_dupes,
    "dedup_report": dedup_report,
    "dedup_near_keep_first": dedup_near_keep_first,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding": dedup_embedding,
    "dedup_simhash": dedup_simhash,
    "dedup_keep_first": dedup_keep_first,
    "dedup_lsh_clusters": dedup_lsh_clusters,
    "dedup_shared_spans": dedup_shared_spans,
}

_SIG_COLS = ",\n      ".join(
    f"list_min(list_transform(shingles, s -> md5('{j}|' || s))) AS sig{j}"
    for j in range(1, NUM_HASHES + 1)
)
_BAND_SELECTS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band_idx, md5(sig{2 * b + 1} || sig{2 * b + 2}) AS band_key FROM sigs"
    for b in range(NUM_BANDS)
)
# ngram scorer candidates: 8 single-signature bands (r=1, b=8) carrying
# the (lang, source) blocking key
_NGRAM_BAND_SELECTS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, lang, source, {j - 1} AS band_idx, sig{j} AS band_key FROM sigs"
    for j in range(1, NUM_HASHES + 1)
)

ORACLES = {
    "dedup_prefix": f"""
        SELECT
          md5(substr(trim(regexp_replace(lower(text), ' +', ' ', 'g')),
                     1, {PREFIX_LEN})) AS prefix_hash,
          COUNT(*) AS n_docs,
          MIN(doc_id) AS min_doc,
          MAX(doc_id) AS max_doc,
          COUNT(*) > 1 AS is_dup
        FROM documents
        GROUP BY 1
    """,
    "dedup_shared_spans": f"""
        WITH {SHINGLE_CTE},
        ex AS (
          SELECT doc_id, unnest(shingles) AS s FROM shingled
        ),
        shared AS (
          SELECT s FROM ex GROUP BY s HAVING COUNT(*) > 1
        ),
        per_doc AS (
          SELECT e.doc_id, COUNT(sh.s) AS n_shared
          FROM ex e LEFT JOIN shared sh ON e.s = sh.s
          GROUP BY e.doc_id
        )
        SELECT s.doc_id,
               len(s.shingles)::BIGINT AS n_spans,
               p.n_shared::BIGINT AS n_shared_spans,
               ROUND(p.n_shared::DOUBLE / len(s.shingles)::DOUBLE, 4)
                 AS shared_frac
        FROM shingled s JOIN per_doc p USING (doc_id)
        ORDER BY s.doc_id
    """,
    "dedup_exact": """
        SELECT
          md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS text_hash,
          COUNT(*) AS n_docs,
          MIN(doc_id) AS min_doc,
          MAX(doc_id) AS max_doc,
          COUNT(*) > 1 AS is_dup
        FROM documents
        GROUP BY 1
    """,
    "dedup_minhash_lsh": f"""
        WITH {SHINGLE_CTE},
        sigs AS (
          SELECT doc_id, shingles, {_SIG_COLS}
          FROM shingled
        ),
        bands AS (
{_BAND_SELECTS}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")} AS jaccard
        FROM cand
        JOIN shingled sa ON sa.doc_id = doc_a
        JOIN shingled sb ON sb.doc_id = doc_b
        WHERE {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")} >= {LSH_VERIFY_THRESHOLD}
    """,
    "dedup_ngram_jaccard": f"""
        WITH {SHINGLE_CTE},
        sigs AS (
          SELECT doc_id, lang, source, {_SIG_COLS}
          FROM shingled
        ),
        bands AS (
{_NGRAM_BAND_SELECTS}
        ),
        bucket_ok AS (
          SELECT lang, source, band_idx, band_key
          FROM bands GROUP BY 1, 2, 3, 4
          HAVING COUNT(*) <= {NGRAM_BAND_MAXDF}
        ),
        capped AS (
          SELECT b.* FROM bands b
          JOIN bucket_ok USING (lang, source, band_idx, band_key)
        ),
        cand AS (
          SELECT DISTINCT a.lang, a.source,
                          a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM capped a JOIN capped b
            ON a.lang = b.lang AND a.source = b.source
           AND a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        )
        SELECT cand.lang, cand.source, doc_a, doc_b,
               {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")} AS jaccard
        FROM cand
        JOIN shingled sa ON sa.doc_id = doc_a
        JOIN shingled sb ON sb.doc_id = doc_b
        WHERE {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")} >= {NGRAM_REPORT_THRESHOLD}
    """,
    "dedup_keep_first": """
        SELECT doc_id, lang, source, text_hash FROM (
          SELECT doc_id, lang, source,
                 md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS text_hash,
                 ROW_NUMBER() OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                   ORDER BY doc_id
                 ) AS rn
          FROM documents
        ) WHERE rn = 1
    """,
    "dedup_lsh_clusters": None,  # assembled below from _CC_CTES
    "dedup_near_keep_first": None,  # assembled below from _CC_CTES
    "dedup_embedding": None,  # assembled below (needs similarity's bucket SQL)
}


def _embedding_oracle() -> str:
    """SRP-LSH candidate generation + exact-cosine verify, mirroring
    dedup_embedding: same deterministic hyperplane literals as
    ann_lsh_cosine's oracle, with the label blocking key carried."""
    from etl_city_directories_spark.operators.similarity import (
        _bucket_sql,
        _plane_signs,
    )

    hashed = "\n          UNION ALL\n".join(
        f"          SELECT vec_id, label, {t} AS t, {_bucket_sql(signs_t)} AS bucket"
        " FROM vecs"
        for t, signs_t in enumerate(_plane_signs())
    )
    cos = (
        "list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]),"
        " (p, q) -> p + q) / (sqrt(a.nrm) * sqrt(b.nrm))"
    )
    return f"""
        WITH vecs AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v,
                 list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                             (a, b) -> a + b) AS nrm
          FROM embeddings
        ),
        hashed AS (
{hashed}
        ),
        cand AS (
          SELECT DISTINCT ha.label, ha.vec_id AS vec_a, hb.vec_id AS vec_b
          FROM hashed ha JOIN hashed hb
            ON ha.label = hb.label AND ha.t = hb.t AND ha.bucket = hb.bucket
           AND ha.vec_id < hb.vec_id
        )
        SELECT vec_a, vec_b, cand.label,
               ROUND({cos}, 4) AS cos_sim
        FROM cand
        JOIN vecs a ON a.vec_id = vec_a
        JOIN vecs b ON b.vec_id = vec_b
        WHERE ROUND({cos}, 4) >= {EMBED_COS_THRESHOLD}
    """


ORACLES["dedup_embedding"] = _embedding_oracle()

# shared recursive-CTE chain: banded LSH candidates → jaccard-verified
# pairs → symmetric edges → transitive closure → min-label components
_CC_CTES = f"""
        WITH RECURSIVE {SHINGLE_CTE},
        sigs AS (
          SELECT doc_id, shingles, {_SIG_COLS}
          FROM shingled
        ),
        bands AS (
{_BAND_SELECTS}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT doc_a, doc_b
          FROM cand
          JOIN shingled sa ON sa.doc_id = doc_a
          JOIN shingled sb ON sb.doc_id = doc_b
          WHERE {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")}
                >= {LSH_VERIFY_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        full_reach AS (
          SELECT s, d FROM reach
          UNION
          SELECT DISTINCT s, s FROM edges
        ),
        comp AS (
          SELECT s AS doc_id, MIN(d) AS cluster_id FROM full_reach GROUP BY s
        )
"""


# PageRank: integer micro-unit power iterations — `//` is BIGINT floor
# division in DuckDB, matching Spark's `div`, so every iteration is
# bit-identical across engines (sums of integers are order-free)
_PR_ITERS = "".join(
    f""",
        r{k} AS (
          SELECT e.d AS node,
                 (150000 + (850000 * SUM(r{k - 1}.r // dg.degree)) // 1000000)::BIGINT AS r
          FROM edges e
          JOIN r{k - 1} ON r{k - 1}.node = e.s
          JOIN deg dg ON dg.node = e.s
          GROUP BY e.d
        )"""
    for k in range(1, 4)
)

ORACLES["graph_pagerank_dupes"] = f"""
        WITH {SHINGLE_CTE},
        sigs AS (
          SELECT doc_id, shingles, {_SIG_COLS}
          FROM shingled
        ),
        bands AS (
{_BAND_SELECTS}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT doc_a, doc_b
          FROM cand
          JOIN shingled sa ON sa.doc_id = doc_a
          JOIN shingled sb ON sb.doc_id = doc_b
          WHERE {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")}
                >= {LSH_VERIFY_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        deg AS (
          SELECT s AS node, COUNT(*)::BIGINT AS degree FROM edges GROUP BY s
        ),
        r0 AS (
          SELECT node, 1000000::BIGINT AS r FROM deg
        ){_PR_ITERS}
        SELECT
          r3.node AS doc_id,
          deg.degree,
          ROUND(r3.r::DOUBLE / 1000000.0, 6) AS pagerank
        FROM r3 JOIN deg ON deg.node = r3.node
        ORDER BY doc_id
"""

ORACLES["dedup_lsh_clusters"] = f"""{_CC_CTES}
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    """

ORACLES["dedup_near_keep_first"] = f"""{_CC_CTES}
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        LEFT JOIN comp ON comp.doc_id = d.doc_id AND comp.cluster_id <> d.doc_id
        WHERE comp.doc_id IS NULL
    """

ORACLES["dedup_report"] = f"""{_CC_CTES},
        hashes AS (
          SELECT doc_id, source,
                 md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h
          FROM documents
        ),
        counted AS (
          SELECT doc_id, source,
                 COUNT(*) OVER (PARTITION BY h) AS n_same
          FROM hashes
        )
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(CASE WHEN n_same > 1 THEN 1 ELSE 0 END)::BIGINT
                 AS n_exact_dup_docs,
               SUM(CASE WHEN comp.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_near_dup_docs,
               ROUND(SUM(CASE WHEN n_same > 1 THEN 1 ELSE 0 END)::DOUBLE
                     / COUNT(*)::DOUBLE, 4) AS exact_dup_rate
        FROM counted LEFT JOIN comp ON comp.doc_id = counted.doc_id
        GROUP BY source
        ORDER BY source
    """


# ---------------------------------------------------------------------------
# r04 session 2: segment-granular exact dedup (Lee et al. 2022 EXACTSUBSTR,
# at fixed-window granularity)
# ---------------------------------------------------------------------------

SEGMENT_WORDS = 8
SEGMENT_DUP_FRAC_MAX = 0.5


def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup: split each normalized document into
    consecutive non-overlapping SEGMENT_WORDS-word segments, hash each,
    and flag documents whose corpus-duplicated-segment fraction exceeds
    SEGMENT_DUP_FRAC_MAX. This is the fixed-window form of
    paragraph/substring dedup (Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better"), sitting between dedup_exact
    (whole-doc hash) and dedup_shared_spans (any-position 3-gram spans)
    in granularity.

    Scale shape: explode is O(words / SEGMENT_WORDS) rows; the only
    wide ops are one partial-aggregated groupBy on the segment hash
    (distinct-doc counts) and one hash join back on the same key — no
    pairwise work at any corpus size, and the segment-hash key is
    uniform by construction (md5), so no skew."""
    return segment_stats(load_table_parallel(spark, sf_dir, "documents"))


def segment_stats(docs: DataFrame) -> DataFrame:
    """dedup_segments core over any frame with (doc_id, text)."""
    norm = norm_col()
    w = F.split(norm, " ")
    n_segs_expr = F.ceil(F.size(w) / F.lit(SEGMENT_WORDS)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs_expr - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(w, i * SEGMENT_WORDS + 1, SEGMENT_WORDS))
        ),
    )
    per_seg = docs.select(
        "doc_id", F.explode(segs).alias("seg_hash")
    )
    seg_docs = per_seg.groupBy("seg_hash").agg(
        F.countDistinct("doc_id").alias("n_docs_with_seg")
    )
    joined = per_seg.join(seg_docs, "seg_hash")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(
                F.when(F.col("n_docs_with_seg") > 1, 1).otherwise(0)
            ).alias("n_dup_segs"),
        )
        .select(
            "doc_id",
            F.col("n_segs").cast("bigint").alias("n_segs"),
            F.col("n_dup_segs").cast("bigint").alias("n_dup_segs"),
            F.round(
                F.col("n_dup_segs").cast("double") / F.col("n_segs"), 4
            ).alias("dup_seg_frac"),
            (
                F.col("n_dup_segs").cast("double") / F.col("n_segs")
                <= SEGMENT_DUP_FRAC_MAX
            ).alias("keep"),
        )
    )


QUERIES["dedup_segments"] = dedup_segments

ORACLES["dedup_segments"] = f"""
    WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ),
    per_seg AS (
      SELECT doc_id,
             md5(array_to_string(
               w[i * {SEGMENT_WORDS} + 1 : i * {SEGMENT_WORDS} + {SEGMENT_WORDS}],
               ' ')) AS seg_hash
      FROM docs,
           LATERAL (SELECT unnest(generate_series(
             0, CAST(ceil(len(w) / {SEGMENT_WORDS}.0) AS INT) - 1)) AS i)
    ),
    seg_docs AS (
      SELECT seg_hash, COUNT(DISTINCT doc_id) AS n_docs_with_seg
      FROM per_seg GROUP BY seg_hash
    )
    SELECT p.doc_id,
           COUNT(*)::BIGINT AS n_segs,
           SUM(CASE WHEN s.n_docs_with_seg > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_segs,
           ROUND(SUM(CASE WHEN s.n_docs_with_seg > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS dup_seg_frac,
           (SUM(CASE WHEN s.n_docs_with_seg > 1 THEN 1 ELSE 0 END)::DOUBLE
            / COUNT(*) <= {SEGMENT_DUP_FRAC_MAX}) AS keep
    FROM per_seg p JOIN seg_docs s USING (seg_hash)
    GROUP BY p.doc_id
"""


# simhash: replay the md5-chunk word hashes, the per-bit majority fold,
# the 16-bit-chunk candidate join, and the Hamming verify — the same
# md5→integer algebra the minhash/permute oracles already replay
# bit-identically, so the driver can hash-check the pairs.
_SIMHASH_CNT_COLS = ",\n          ".join(
    f"SUM((c{c} >> {b}) & 1) AS b{c}_{b}" for c in range(4) for b in range(16)
)
_SIMHASH_FP_COLS = ",\n          ".join(
    "("
    + " + ".join(
        f"CASE WHEN 2 * b{c}_{b} > n THEN {1 << b} ELSE 0 END"
        for b in range(16)
    )
    + f") AS fp{c}"
    for c in range(4)
)
ORACLES["dedup_simhash"] = f"""
    WITH docs AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM docs
    ),
    wh AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) AS c0,
        CAST('0x' || substr(md5(w), 5, 4) AS INTEGER) AS c1,
        CAST('0x' || substr(md5(w), 9, 4) AS INTEGER) AS c2,
        CAST('0x' || substr(md5(w), 13, 4) AS INTEGER) AS c3
      FROM words
    ),
    cnts AS (
      SELECT doc_id, COUNT(*) AS n,
          {_SIMHASH_CNT_COLS}
      FROM wh GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
          {_SIMHASH_FP_COLS}
      FROM cnts
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1))
            + bit_count(xor(a.fp2, b.fp2)) + bit_count(xor(a.fp3, b.fp3)))::INT
             AS hamming
    FROM fp a JOIN fp b
      ON a.doc_id < b.doc_id
     AND (a.fp0 = b.fp0 OR a.fp1 = b.fp1 OR a.fp2 = b.fp2 OR a.fp3 = b.fp3)
    WHERE bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1))
          + bit_count(xor(a.fp2, b.fp2)) + bit_count(xor(a.fp3, b.fp3))
          <= {SIMHASH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
"""


ORACLES["dedup_cross_source"] = f"""
    WITH pairs AS ({ORACLES["dedup_minhash_lsh"]})
    SELECT least(da.source, db.source) AS source_lo,
           greatest(da.source, db.source) AS source_hi,
           COUNT(*) AS n_pairs,
           ROUND(MAX(jaccard), 4) AS max_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE da.source != db.source
    GROUP BY source_lo, source_hi
    ORDER BY source_lo, source_hi
"""


# ---------------------------------------------------------------------------
# r05: bloom-filter incremental dedup — the streaming-ingest batch check
# ---------------------------------------------------------------------------

BLOOM_M = 4096  # bits
BLOOM_K = 3  # hash functions


def _bloom_pos(i: int, key: Column) -> Column:
    h = F.md5(F.concat(F.lit(f"bl{i}|"), key))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % BLOOM_M


def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact-dedup pre-filter: a bloom filter built
    over the existing corpus's content hashes screens an incoming
    batch (docs with doc_id % 10 == 0 stand in for the new shipment)
    without joining the full corpus.

    Scale shape: the filter is the DISTINCT set-bit table — bounded at
    BLOOM_M rows regardless of corpus size — so at 100 TB the corpus
    pass is one map-side hash+dedup and the batch check is a broadcast
    join against <= 4096 rows, never corpus x batch. md5-salted bit
    positions make the filter (and its deterministic false positives)
    bit-identical in DuckDB, so bloom_hit, is_true_dup, false_positive
    AND the provable no-false-negative contract all hash-check."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.md5(norm_col()).alias("k"))
    corpus = base.filter(F.col("doc_id") % 10 != 0)
    batch = base.filter(F.col("doc_id") % 10 == 0)

    bits = None
    for i in range(BLOOM_K):
        b = corpus.select(_bloom_pos(i, F.col("k")).alias("pos"))
        bits = b if bits is None else bits.unionAll(b)
    bits = bits.distinct()

    probes = None
    for i in range(BLOOM_K):
        p = batch.select(
            "doc_id", "k", F.lit(i).alias("i"), _bloom_pos(i, F.col("k")).alias("pos")
        )
        probes = p if probes is None else probes.unionAll(p)
    nhit = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    truth = corpus.select("k").distinct().withColumn("is_true_dup", F.lit(True))
    return (
        batch.join(nhit.select("doc_id", "n"), "doc_id", "left")
        .join(truth, "k", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("n"), F.lit(0)) == BLOOM_K).alias("bloom_hit"),
            F.coalesce(F.col("is_true_dup"), F.lit(False)).alias("is_true_dup"),
        )
        .withColumn(
            "false_positive", F.col("bloom_hit") & ~F.col("is_true_dup")
        )
        .withColumn(
            "no_false_negative", F.col("bloom_hit") | ~F.col("is_true_dup")
        )
        .orderBy("doc_id")
    )


QUERIES["dedup_bloom_incremental"] = dedup_bloom_incremental

_BLOOM_POS_SQL = (
    "CAST(('0x' || substring(md5('bl' || i::VARCHAR || '|' || k), 1, 8)) AS BIGINT) % "
    + str(BLOOM_M)
)

ORACLES["dedup_bloom_incremental"] = f"""
    WITH base AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS k
      FROM documents
    ),
    corpus AS (SELECT * FROM base WHERE doc_id % 10 != 0),
    batch  AS (SELECT * FROM base WHERE doc_id % 10 = 0),
    bits AS (
      SELECT DISTINCT {_BLOOM_POS_SQL} AS pos
      FROM corpus, (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i)
    ),
    probes AS (
      SELECT doc_id, k, i, {_BLOOM_POS_SQL} AS pos
      FROM batch, (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i)
    ),
    nhit AS (
      SELECT doc_id, COUNT(*) AS n
      FROM probes JOIN bits USING (pos)
      GROUP BY doc_id
    ),
    truth AS (SELECT DISTINCT k FROM corpus)
    SELECT b.doc_id,
           COALESCE(n.n, 0) = {BLOOM_K} AS bloom_hit,
           t.k IS NOT NULL AS is_true_dup,
           (COALESCE(n.n, 0) = {BLOOM_K}) AND t.k IS NULL AS false_positive,
           (COALESCE(n.n, 0) = {BLOOM_K}) OR t.k IS NULL AS no_false_negative
    FROM batch b
    LEFT JOIN nhit n ON n.doc_id = b.doc_id
    LEFT JOIN truth t ON t.k = b.k
    ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# r05: containment scoring — the subset/quote relation jaccard misses
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.5


CONTAINMENT_MAXDF = 3  # rare-shingle cap: common shingles never generate pairs


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric Broder containment — |A∩B|/|A| and |A∩B|/|B| — the
    subset/quote relation jaccard-tuned LSH structurally misses (a
    short doc inside a long one shares ~all ITS shingles but few of
    the long doc's, so no minhash band collides). Candidates therefore
    come from a rare-shingle INVERTED INDEX: docs sharing any shingle
    whose doc-frequency ≤ CONTAINMENT_MAXDF pair up — the standard
    containment blocking (common shingles are capped out, so a shingle
    contributes at most MAXDF² pairs and the join is O(Σ df²) over
    rare shingles, never corpus²; on this corpus the cap cuts the
    candidate set 436k → ~1.2k with no loss on true subsets, which
    share ALL their shingles at df 2). Exact set math stays the
    VERIFY stage."""
    sh = _doc_shingles(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("shingles").alias("g"))
    rare = ex.join(
        ex.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= CONTAINMENT_MAXDF)
        .select("g"),
        "g",
        "left_semi",
    )
    rare = rolling_persist(spark, ("cont_rare", sf_dir), rare)
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    cont_ab = F.round(inter / F.size("sh_a"), 4)
    cont_ba = F.round(inter / F.size("sh_b"), 4)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            cont_ab.alias("cont_a_in_b"),
            cont_ba.alias("cont_b_in_a"),
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= CONTAINMENT_THRESHOLD
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES["dedup_containment"] = dedup_containment

_CONT_SQL = "ROUND(len(list_intersect({a}, {b}))::DOUBLE / len({a}), 4)"

ORACLES["dedup_containment"] = f"""
        WITH {SHINGLE_CTE},
        ex AS (
          SELECT doc_id, unnest(shingles) AS g FROM shingled
        ),
        rare AS (
          SELECT doc_id, g FROM ex
          WHERE g IN (
            SELECT g FROM ex GROUP BY g
            HAVING COUNT(DISTINCT doc_id) <= {CONTAINMENT_MAXDF}
          )
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b
            ON a.g = b.g AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               {_CONT_SQL.format(a="sa.shingles", b="sb.shingles")} AS cont_a_in_b,
               {_CONT_SQL.format(a="sb.shingles", b="sa.shingles")} AS cont_b_in_a,
               {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")} AS jaccard
        FROM cand
        JOIN shingled sa ON sa.doc_id = doc_a
        JOIN shingled sb ON sb.doc_id = doc_b
        WHERE greatest({_CONT_SQL.format(a="sa.shingles", b="sb.shingles")},
                       {_CONT_SQL.format(a="sb.shingles", b="sa.shingles")})
              >= {CONTAINMENT_THRESHOLD}
        ORDER BY doc_a, doc_b
"""


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty: the share of a doc's word-3-grams
    whose FIRST corpus occurrence (min doc_id) is this doc.

    The curation signal behind "how much of this document is new
    text?" — boilerplate-heavy or near-duplicate docs score low, so
    the corpus funnel can down-weight them without pairwise scoring.
    Cost is O(distinct shingles): one explode, one groupBy(shingle) for
    the first-occurrence table, one join back on the shingle key, one
    groupBy(doc). No pair join anywhere — this is the linear-cost
    complement to the LSH pair pipeline.
    """
    # Persist the shingle ARRAYS before exploding: a Generate over the
    # inline shingles_col expression re-evaluates the split/concat tree
    # per output row (12 s at sf0.1), while exploding a cached array
    # column is a plain iterator (sub-second) — the same staged
    # materialization the LSH pipeline uses. The shuffle/sort key is a
    # 48-bit md5-derived long, not the raw shingle string: the hash
    # algebra DuckDB replays bit-identically, ~3x narrower shuffle
    # rows, and a long sort instead of a string sort. (48 bits over
    # ~10^6 distinct shingles: collision expectation ~1e-3 — and a
    # collision changes both engines identically.)
    sh_docs = _doc_shingles(spark, sf_dir)
    sh = (
        sh_docs.select("doc_id", F.explode("shingles").alias("gs"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("gs"), 1, 12), 16, 10)
            .cast("long")
            .alias("g"),
        )
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
                4,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# Banding-design sweep: detection probability p(s) = 1 - (1 - s^r)^b
# for each candidate (b bands, r rows) layout, evaluated on an exact
# s = k/20 grid. With r*b = NUM_HASHES = 8 every config shares the
# denominator 20^8, so p is an exact integer ratio: the numerator is
# pure bigint power arithmetic both engines compute identically.
LSH_TUNING_CONFIGS = (("b8r1", 8, 1), ("b4r2", 4, 2), ("b2r4", 2, 4))
_LSH_D = 20**8


def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design table: detection probability per candidate
    banding on an exact similarity grid, weighted by the observed
    verified-pair jaccard histogram.

    THE MinHash design decision is (bands, rows): more bands catch
    lower-similarity pairs but flood the verifier with false
    candidates. This op turns that tradeoff into data: for each
    layout of the repo's 8 minhashes (8x1, the production 4x2, 2x4) it
    evaluates p(s) = 1-(1-s^r)^b on the s = k/20 grid in exact bigint
    arithmetic (shared denominator 20^8 since r*b = 8), then joins the
    observed pair histogram from the verified LSH pipeline to estimate
    how many known pairs each layout would catch. Pure O(grid) math +
    one O(pairs) rollup — the pair set is the memoized candidate
    pipeline, no new corpus pass.
    """
    grid = spark.range(1, 20).select(F.col("id").cast("int").alias("k"))
    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("config"),
                    F.lit(b).alias("b"),
                    F.lit(r).alias("r"),
                )
                for name, b, r in LSH_TUNING_CONFIGS
            ]
        )
    ).alias("c")
    k = F.col("k").cast("long")
    inner_pow = (
        F.when(F.col("c.config") == "b8r1",
               _pow_int(20 - k, 8))
        .when(F.col("c.config") == "b4r2",
              _pow_int(400 - k * k, 4))
        .otherwise(_pow_int(F.lit(160000) - k * k * k * k, 2))
    )
    sweep = grid.select("k", cfg).select(
        F.col("c.config").alias("config"),
        "k",
        F.round(k.cast("double") / 20, 2).alias("s"),
        ((F.lit(_LSH_D) - inner_pow).cast("double") / F.lit(_LSH_D))
        .alias("p_raw"),
    )
    observed = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(
            F.least(F.floor(F.col("jaccard") * 20).cast("int"), F.lit(19))
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return (
        sweep.join(F.broadcast(observed), "k", "left")
        .na.fill(0, ["n_pairs"])
        .select(
            "config",
            "s",
            F.round(F.col("p_raw"), 6).alias("detect_prob"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(F.col("p_raw") * F.col("n_pairs"), 4).alias(
                "expected_caught"
            ),
        )
        .orderBy("config", "s")
    )


def _pow_int(base, e: int):
    """Exact integer power by squaring on a long column (e in {2,4,8})."""
    c = base.cast("long")
    out = c * c  # e == 2
    if e >= 4:
        out = out * out
    if e == 8:
        out = out * out
    return out


QUERIES["text_ngram_novelty"] = text_ngram_novelty
QUERIES["dedup_lsh_tuning"] = dedup_lsh_tuning

ORACLES["text_ngram_novelty"] = f"""
    WITH {SHINGLE_CTE},
    grams AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(unnest(shingles)), 1, 12))
                  AS BIGINT) AS g
      FROM shingled
    ),
    first_occ AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
    )
    SELECT gr.doc_id,
           COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)::BIGINT
             AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 4) AS novelty
    FROM grams gr JOIN first_occ f ON f.g = gr.g
    GROUP BY gr.doc_id ORDER BY gr.doc_id
"""

_LSH_TUNING_CASE = f"""
    CASE config
      WHEN 'b8r1' THEN ((20 - k) * (20 - k)
                        * (20 - k) * (20 - k)
                        * (20 - k) * (20 - k)
                        * (20 - k) * (20 - k))::BIGINT
      WHEN 'b4r2' THEN ((400 - k * k) * (400 - k * k)
                        * (400 - k * k) * (400 - k * k))::BIGINT
      ELSE ((160000 - k * k * k * k)
            * (160000 - k * k * k * k))::BIGINT
    END
"""

ORACLES["dedup_lsh_tuning"] = f"""
    WITH pairs AS ({{MINHASH_ORACLE}}),
    observed AS (
      SELECT LEAST(FLOOR(jaccard * 20)::INT, 19) AS k,
             COUNT(*)::BIGINT AS n_pairs
      FROM pairs GROUP BY 1
    ),
    sweep AS (
      SELECT config, k::BIGINT AS k
      FROM (VALUES ('b8r1'), ('b4r2'), ('b2r4')) c(config)
      CROSS JOIN generate_series(1, 19) g(k)
    ),
    scored AS (
      SELECT config, k,
             ({_LSH_D}::BIGINT - {_LSH_TUNING_CASE})::DOUBLE
               / {_LSH_D} AS p_raw
      FROM sweep
    )
    SELECT s.config,
           ROUND(s.k::DOUBLE / 20, 2) AS s,
           ROUND(s.p_raw, 6) AS detect_prob,
           COALESCE(o.n_pairs, 0)::BIGINT AS n_pairs,
           ROUND(s.p_raw * COALESCE(o.n_pairs, 0), 4) AS expected_caught
    FROM scored s LEFT JOIN observed o USING (k)
    ORDER BY s.config, s.k
"""
ORACLES["dedup_lsh_tuning"] = ORACLES["dedup_lsh_tuning"].replace(
    "{MINHASH_ORACLE}", ORACLES["dedup_minhash_lsh"]
)


# Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 "Winnowing:
# Local Algorithms for Document Fingerprinting"): k-gram size, window
# width, and the 20-bit hash prefix width used for gram hashing.
WINNOW_K = 8
WINNOW_W = 4
# combined key packs (hash, position) into one int64 so a single MIN
# implements "smallest hash, rightmost position on ties" — the paper's
# tie rule — identically in both engines: h * 2^40 + (2^40 - p).
_WINNOW_POS_BASE = 1 << 40


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003).

    The guarantee-carrying local fingerprinting scheme MOSS uses: hash
    every k-gram of the alnum-normalized text, slide a w-gram window,
    and keep each window's minimal hash (rightmost on ties). Any match
    of length >= k+w-1 between two documents is then guaranteed to
    share a fingerprint, at expected density 2/(w+1) — the property
    per-doc minhash lacks (minhash sketches whole-doc similarity;
    winnowing localizes shared substrings).

    Spark-first shape: explode gram positions (map-side, O(chars)),
    one window per doc ordered by position with a [current, w-1
    following] frame doing the per-window MIN, distinct on the packed
    (hash, pos) key, one groupBy per doc. The only shuffle key is
    doc_id — at 100 TB this is one fact-shuffle pass, and the window
    never leaves the doc partition. The (hash, rightmost-pos) tie rule
    is packed into a single int64 (h * 2^40 + (2^40 - p)) so MIN picks
    the paper's fingerprint without a struct comparator, bit-identical
    in DuckDB.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("clean"),
    )
    grams = (
        docs.filter(F.length("clean") >= WINNOW_K)
        .select(
            "doc_id",
            (F.length("clean") - WINNOW_K + 1).alias("n_grams"),
            F.explode(
                F.sequence(F.lit(1), F.length("clean") - WINNOW_K + 1)
            ).alias("p"),
            "clean",
        )
        .select(
            "doc_id",
            "n_grams",
            "p",
            (
                F.conv(
                    F.substring(
                        F.md5(F.expr(f"substring(clean, p, {WINNOW_K})")), 1, 5
                    ),
                    16,
                    10,
                ).cast("long")
                * F.lit(_WINNOW_POS_BASE)
                + (F.lit(_WINNOW_POS_BASE) - F.col("p"))
            ).alias("combined"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    selected = (
        grams.select(
            "doc_id",
            "n_grams",
            "p",
            F.min("combined").over(w).alias("fp_key"),
        )
        .filter(F.col("p") <= F.col("n_grams") - WINNOW_W + 1)
        .select("doc_id", "n_grams", "fp_key")
        .distinct()
    )
    return (
        selected.groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            # integer div: fp_key spans 60 bits, a double divide would
            # round past the 53-bit mantissa and corrupt the hash part
            F.countDistinct(
                F.expr(f"fp_key div {_WINNOW_POS_BASE}")
            ).alias("n_hashes"),
            F.min(F.expr(f"fp_key div {_WINNOW_POS_BASE}")).alias("min_hash"),
            F.max(F.expr(f"fp_key div {_WINNOW_POS_BASE}")).alias("max_hash"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_fingerprints").cast("bigint").alias("n_fingerprints"),
            F.col("n_hashes").cast("bigint").alias("n_hashes"),
            "min_hash",
            "max_hash",
        )
        .orderBy("doc_id")
    )


QUERIES["text_winnowing"] = text_winnowing

ORACLES["text_winnowing"] = f"""
    WITH docs AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS clean
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             len(clean) - {WINNOW_K} + 1 AS n_grams,
             unnest(generate_series(1, len(clean) - {WINNOW_K} + 1)) AS p,
             clean
      FROM docs
      WHERE len(clean) >= {WINNOW_K}
    ),
    keyed AS (
      SELECT doc_id, n_grams, p,
             CAST('0x' || substr(md5(substr(clean, p, {WINNOW_K})), 1, 5)
                  AS BIGINT) * {_WINNOW_POS_BASE}
               + ({_WINNOW_POS_BASE} - p) AS combined
      FROM grams
    ),
    winmin AS (
      SELECT doc_id, n_grams, p,
             MIN(combined) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING
             ) AS fp_key
      FROM keyed
    ),
    selected AS (
      SELECT DISTINCT doc_id, n_grams, fp_key
      FROM winmin
      WHERE p <= n_grams - {WINNOW_W} + 1
    )
    SELECT doc_id,
           n_grams::BIGINT AS n_grams,
           COUNT(*)::BIGINT AS n_fingerprints,
           COUNT(DISTINCT fp_key // {_WINNOW_POS_BASE})::BIGINT AS n_hashes,
           MIN(fp_key // {_WINNOW_POS_BASE})::BIGINT AS min_hash,
           MAX(fp_key // {_WINNOW_POS_BASE})::BIGINT AS max_hash
    FROM selected
    GROUP BY doc_id, n_grams
    ORDER BY doc_id
"""


# hot-fingerprint cap: a fingerprint shared by more than this many docs
# is boilerplate, not evidence — drop it before pair generation
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 4


def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints.

    Closes text_winnowing into an actual dedup stage: documents
    sharing >= WINNOW_MIN_SHARED selected fingerprint hashes are
    candidates for substring-level overlap (the guarantee: any shared
    run >= k+w−1 chars forces >= 1 shared fingerprint, so recall for
    long overlaps is structural). Pair generation is an inverted
    index on the fingerprint hash — df-capped at WINNOW_MAX_DF so a
    boilerplate fingerprint can never go quadratic — followed by one
    groupBy on the pair; the shuffle key is the fingerprint, cost
    O(Σ df²) over rare fingerprints, never corpus². Same banding
    algebra as minhash-LSH, but localized overlap instead of whole-doc
    similarity.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("clean"),
    )
    grams = (
        docs.filter(F.length("clean") >= WINNOW_K)
        .select(
            "doc_id",
            (F.length("clean") - WINNOW_K + 1).alias("n_grams"),
            F.explode(
                F.sequence(F.lit(1), F.length("clean") - WINNOW_K + 1)
            ).alias("p"),
            "clean",
        )
        .select(
            "doc_id",
            "n_grams",
            "p",
            (
                F.conv(
                    F.substring(
                        F.md5(F.expr(f"substring(clean, p, {WINNOW_K})")), 1, 5
                    ),
                    16,
                    10,
                ).cast("long")
                * F.lit(_WINNOW_POS_BASE)
                + (F.lit(_WINNOW_POS_BASE) - F.col("p"))
            ).alias("combined"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    selected = (
        grams.select(
            "doc_id",
            "n_grams",
            "p",
            F.min("combined").over(w).alias("fp_key"),
        )
        .filter(F.col("p") <= F.col("n_grams") - WINNOW_W + 1)
        .select(
            "doc_id", F.expr(f"fp_key div {_WINNOW_POS_BASE}").alias("h")
        )
        .distinct()
    )
    df_ok = (
        selected.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("h")
    )
    postings = selected.join(df_ok, "h")
    a = postings.select(F.col("doc_id").alias("doc_a"), "h")
    b = postings.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("n_shared_fp").cast("bigint").alias("n_shared_fp"),
    ).orderBy(F.desc("n_shared_fp"), "doc_a", "doc_b")


QUERIES["dedup_winnowing_pairs"] = dedup_winnowing_pairs

ORACLES["dedup_winnowing_pairs"] = f"""
    WITH docs AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS clean
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             len(clean) - {WINNOW_K} + 1 AS n_grams,
             unnest(generate_series(1, len(clean) - {WINNOW_K} + 1)) AS p,
             clean
      FROM docs
      WHERE len(clean) >= {WINNOW_K}
    ),
    keyed AS (
      SELECT doc_id, n_grams, p,
             CAST('0x' || substr(md5(substr(clean, p, {WINNOW_K})), 1, 5)
                  AS BIGINT) * {_WINNOW_POS_BASE}
               + ({_WINNOW_POS_BASE} - p) AS combined
      FROM grams
    ),
    winmin AS (
      SELECT doc_id, n_grams, p,
             MIN(combined) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING
             ) AS fp_key
      FROM keyed
    ),
    selected AS (
      SELECT DISTINCT doc_id, fp_key // {_WINNOW_POS_BASE} AS h
      FROM winmin
      WHERE p <= n_grams - {WINNOW_W} + 1
    ),
    df_ok AS (
      SELECT h FROM selected GROUP BY h
      HAVING COUNT(*) <= {WINNOW_MAX_DF}
    ),
    postings AS (
      SELECT s.doc_id, s.h FROM selected s JOIN df_ok USING (h)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fp
      FROM postings a JOIN postings b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    )
    SELECT doc_a, doc_b, n_shared_fp::BIGINT AS n_shared_fp
    FROM pairs ORDER BY n_shared_fp DESC, doc_a, doc_b
"""


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the per-feed dedup scoreboard.

    dedup_report grades the corpus as a whole; operations needs the
    rate PER FEED to know which crawler to fix. One md5-groupBy within
    (source, hash) — map-side combinable — then an O(sources) rollup:
    docs, distinct texts, dup rate, and the wasted-bytes share the
    feed pays for re-crawled content. Exact integers to ROUND 6.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    groups = docs.groupBy(
        "source", F.md5(norm_col()).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.min("n_chars").alias("keep_chars"),
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.col("chars")).cast("bigint").alias("total_chars"),
            F.sum(F.col("chars") - F.col("keep_chars"))
            .cast("bigint")
            .alias("dup_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            F.round(
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            F.round(
                F.col("dup_chars").cast("double")
                / F.col("total_chars").cast("double"),
                6,
            ).alias("wasted_char_share"),
        )
        .orderBy("source")
    )


QUERIES["dedup_rate_by_source"] = dedup_rate_by_source

ORACLES["dedup_rate_by_source"] = """
    WITH groups AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h,
             COUNT(*) AS n, SUM(n_chars) AS chars,
             MIN(n_chars) AS keep_chars
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           SUM(n)::BIGINT AS n_docs,
           COUNT(*)::BIGINT AS n_distinct,
           ROUND((SUM(n) - COUNT(*))::DOUBLE / SUM(n)::DOUBLE, 6) AS dup_rate,
           ROUND(SUM(chars - keep_chars)::DOUBLE / SUM(chars)::DOUBLE, 6)
             AS wasted_char_share
    FROM groups GROUP BY 1 ORDER BY 1
"""


# --- r06: dedup diagnostics --------------------------------------------------


def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: for each exact-dup cluster
    size s, how many clusters and how many documents — the one-line
    answer to "how much of the corpus is copies?" that sizes the dedup
    stage's savings before anyone runs it. Two map-side-combinable
    groupBys (hash, then size); corpus share is a ratio of exact
    integer counts against a 1-row total.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = (
        docs.select(F.md5(norm_col()).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    total = docs.count()  # scalar; reused as an output literal
    return (
        clusters.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("s").alias("cluster_size"),
            "n_clusters",
            (F.col("s") * F.col("n_clusters")).alias("n_docs"),
            F.round(
                (F.col("s") * F.col("n_clusters")).cast("double") / total, 4
            ).alias("corpus_share"),
        )
        .orderBy("cluster_size")
    )


def dedup_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-fidelity audit for the minhash index: on every banded-LSH
    candidate pair, the signature-agreement jaccard ESTIMATE
    (matching minhashes / NUM_HASHES — the unbiased sketch estimator)
    against the exact jaccard, with the absolute error. The eval that
    tells you whether NUM_HASHES is big enough BEFORE trusting the
    sketch at 100 TB, over exactly the pairs the index will surface.
    Reads the persisted shingle frame and band table of
    dedup_minhash_lsh; pair mass is the LSH collision set, never n².
    """
    sh, bands = _minhash_bands(spark, sf_dir)
    cand = _band_pairs(bands)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # signatures of candidate docs only: the pair set is the LSH
    # collision set, far smaller than the corpus the bands were cut from
    n_match = F.aggregate(
        F.zip_with(
            minhash_sigs("sh_a"),
            minhash_sigs("sh_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(n_match.cast("double") / NUM_HASHES, 4).alias("est_jaccard"),
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 4),
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES["dedup_cluster_size_hist"] = dedup_cluster_size_hist
QUERIES["dedup_minhash_fidelity"] = dedup_minhash_fidelity

ORACLES["dedup_cluster_size_hist"] = """
    WITH clusters AS (
      SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h,
             COUNT(*) AS s
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT s AS cluster_size,
           COUNT(*) AS n_clusters,
           (s * COUNT(*))::BIGINT AS n_docs,
           ROUND((s * COUNT(*))::DOUBLE / tot.n::DOUBLE, 4) AS corpus_share
    FROM clusters, tot
    GROUP BY s, tot.n ORDER BY cluster_size
"""

_SIG_MATCH = " + ".join(
    f"CASE WHEN sa.sig{j} = sb.sig{j} THEN 1 ELSE 0 END"
    for j in range(1, NUM_HASHES + 1)
)

ORACLES["dedup_minhash_fidelity"] = f"""
    WITH {SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, shingles, {_SIG_COLS}
      FROM shingled
    ),
    bands AS (
{_BAND_SELECTS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(({_SIG_MATCH})::DOUBLE / {NUM_HASHES}, 4) AS est_jaccard,
           {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")}
             AS exact_jaccard,
           ROUND(ABS(ROUND(({_SIG_MATCH})::DOUBLE / {NUM_HASHES}, 4)
                     - {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")}), 4)
             AS abs_err
    FROM cand
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
    ORDER BY doc_a, doc_b
"""


def dedup_band_collision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-size audit: how much candidate mass does
    each band actually generate? — the capacity-planning companion to
    dedup_lsh_tuning (which predicts the s-curve; this MEASURES the
    buckets on the live corpus). Σ C(size,2) per band is exactly the
    band's pair-join output, so this is the number an operator reads
    BEFORE unleashing the self-join at a new scale.

    Counts the same band rows as dedup_minhash_lsh (``_band_rows``
    over the persisted shingle frame); the rollup is O(buckets) and
    the stats are exact integers.
    """
    # one scan of the band rows: persisting them would add a job and a
    # cached copy for a single reader
    bands = _band_rows(_doc_shingles(spark, sf_dir))
    buckets = bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_colliding_buckets"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .select(
            F.col("band_idx").cast("bigint").alias("band_idx"),
            "n_buckets",
            "max_bucket",
            "n_colliding_buckets",
            "candidate_pairs",
        )
        .orderBy("band_idx")
    )


QUERIES["dedup_band_collision_stats"] = dedup_band_collision_stats

ORACLES["dedup_band_collision_stats"] = f"""
    WITH {SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, shingles, {_SIG_COLS}
      FROM shingled
    ),
    bands AS (
{_BAND_SELECTS}
    ),
    buckets AS (
      SELECT band_idx, band_key, COUNT(*) AS sz
      FROM bands GROUP BY 1, 2
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           COUNT(*)::BIGINT AS n_buckets,
           MAX(sz)::BIGINT AS max_bucket,
           SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_colliding_buckets,
           CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band_idx ORDER BY band_idx
"""


SWEEP_PCTS = (20, 30, 40, 50, 60, 70, 80, 90)  # jaccard cutoffs (x100)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured dedup-rate curve: for a ladder of jaccard thresholds,
    how many verified near-dup pairs and affected documents survive?
    — the EMPIRICAL answer to the question dedup_lsh_tuning answers
    theoretically, and the knob-setting read before committing a
    removal threshold on a new corpus.

    Pure rollup of the already-verified LSH pair table (no new pair
    mass): pairs and their doc endpoints join the broadcast O(|cuts|)
    grid, distinct-doc counts per cutoff via one exact
    countDistinct. Integer jaccard comparison at 2-dp percent grain
    (cos the verify emits ROUND(..., r6→4-ish) — comparing r6*100 to
    integer cutoffs is exact).
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    cuts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in SWEEP_PCTS])).alias("cut_pct")
    )
    hit = F.col("jaccard") * 100 >= F.col("cut_pct")
    # r10 (guide §1.2 don't compute twice): the pair-level rollup and
    # the affected-doc distinct previously aggregated TWO copies of the
    # pairs×cuts subtree (each re-running the chain's band-join +
    # verify tail above the persisted sh/bands). One unfiltered doc
    # explode feeds a single aggregate: each pair contributes two
    # endpoint rows, so n_pairs = hits/2 exactly, and the hit-gated
    # countDistinct yields 0 for all-miss cuts — identical output in
    # every case, including the empty-pairs corpus (no group rows, as
    # before).
    exploded = pairs.crossJoin(F.broadcast(cuts)).select(
        "cut_pct", hit.alias("hit"), F.explode(F.array("doc_a", "doc_b")).alias("doc")
    )
    return (
        exploded.groupBy("cut_pct")
        .agg(
            (F.sum(F.when(F.col("hit"), 1).otherwise(0)) / 2)
            .cast("bigint")
            .alias("n_pairs"),
            F.countDistinct(F.when(F.col("hit"), F.col("doc")))
            .cast("bigint")
            .alias("n_docs_affected"),
        )
        .select(
            F.col("cut_pct").cast("bigint").alias("cut_pct"),
            "n_pairs",
            "n_docs_affected",
        )
        .orderBy("cut_pct")
    )


QUERIES["dedup_threshold_sweep"] = dedup_threshold_sweep

ORACLES["dedup_threshold_sweep"] = None  # assembled below


def _threshold_sweep_oracle() -> str:
    return f"""
    WITH lsh AS ({ORACLES["dedup_minhash_lsh"]}),
    cuts AS (SELECT UNNEST({list(SWEEP_PCTS)}) AS cut_pct)
    SELECT CAST(cut_pct AS BIGINT) AS cut_pct,
           SUM(CASE WHEN jaccard * 100 >= cut_pct THEN 1 ELSE 0 END)::BIGINT
             AS n_pairs,
           COALESCE((
             SELECT COUNT(DISTINCT doc)
             FROM (
               SELECT doc_a AS doc FROM lsh l2
               WHERE l2.jaccard * 100 >= cuts.cut_pct
               UNION ALL
               SELECT doc_b FROM lsh l3
               WHERE l3.jaccard * 100 >= cuts.cut_pct
             )
           ), 0)::BIGINT AS n_docs_affected
    FROM lsh, cuts
    GROUP BY cut_pct ORDER BY cut_pct
"""


ORACLES["dedup_threshold_sweep"] = _threshold_sweep_oracle()


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: dedup a NEW batch against the
    STANDING corpus index — the shape every recurring crawl runs
    (dedup_bloom_incremental is the exact-hash version; this is its
    near-duplicate sibling). The corpus (even doc_ids) keeps its
    banded minhash signature table materialized; the batch (odd
    doc_ids) builds signatures only for itself and probes the corpus
    bands — candidate volume is O(|batch| × band collisions), the
    corpus is never self-joined.

    Band collisions verify with exact jaccard ≥ the shared
    LSH_VERIFY_THRESHOLD; per flagged batch doc the best corpus match
    elects deterministically (max jaccard, then min corpus id). At
    100 TB the corpus band table is a bucketed standing table and each
    increment is one shuffle join against it.
    """
    sh, bands = _minhash_bands(spark, sf_dir)
    corpus = bands.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("doc_corpus"), "band_idx", "band_key"
    )
    batch = bands.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("doc_new"), "band_idx", "band_key"
    )
    cand = (
        batch.join(corpus, ["band_idx", "band_key"])
        .select("doc_new", "doc_corpus")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_new"), F.col("shingles").alias("sh_a"))
    sb = sh.select(
        F.col("doc_id").alias("doc_corpus"), F.col("shingles").alias("sh_b")
    )
    verified = (
        cand.join(sa, "doc_new")
        .join(sb, "doc_corpus")
        .select(
            "doc_new",
            "doc_corpus",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
    )
    w = Window.partitionBy("doc_new").orderBy(
        F.col("jaccard").desc(), F.col("doc_corpus")
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_new")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corpus_dups"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_corpus"))).alias(
                "best_match"
            ),
            F.min(F.when(F.col("rn") == 1, F.col("jaccard"))).alias(
                "best_jaccard"
            ),
        )
    )


QUERIES["dedup_minhash_incremental"] = dedup_minhash_incremental

ORACLES["dedup_minhash_incremental"] = f"""
    WITH {SHINGLE_CTE},
    sigs AS (
      SELECT doc_id, shingles, {_SIG_COLS}
      FROM shingled
    ),
    bands AS (
{_BAND_SELECTS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_corpus
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ),
    verified AS (
      SELECT doc_new, doc_corpus,
             {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")} AS jaccard
      FROM cand
      JOIN shingled sa ON sa.doc_id = doc_new
      JOIN shingled sb ON sb.doc_id = doc_corpus
      WHERE {_JACCARD_SQL.format(a="sa.shingles", b="sb.shingles")}
            >= {LSH_VERIFY_THRESHOLD}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_new ORDER BY jaccard DESC, doc_corpus
      ) AS rn
      FROM verified
    )
    SELECT doc_new,
           CAST(COUNT(*) AS BIGINT) AS n_corpus_dups,
           MIN(CASE WHEN rn = 1 THEN doc_corpus END) AS best_match,
           MIN(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard
    FROM ranked GROUP BY doc_new
"""

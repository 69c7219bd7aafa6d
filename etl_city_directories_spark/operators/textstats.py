"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All four are embarrassingly parallel map-side column expressions — no
shuffle at all (the ideal 100 TB shape: whole-stage-codegen'd scans).
Each has an exact DuckDB oracle; ratios follow the 4-dp rounding policy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_city_directories_spark.operators.dedup import (
    SHINGLE_CTE as _DEDUP_SHINGLE_CTE,
    _doc_shingles,
    _jaccard,
    _minhash_bands,
    norm_col,
    shingles_col,
)
from etl_city_directories_spark.functions.memo import cached, rolling_persist, table_stamp
from etl_city_directories_spark.sources.tables import (
    load_table,
    load_table_parallel,
)

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "una", "por"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}
LANG_ORDER = ("en", "de", "fr", "es", "zh")

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _words(norm: Column) -> Column:
    return F.split(norm, " ")


def _hits(words: Column, lang: str) -> Column:
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(vocab, w))).cast("bigint")


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic argmax tie order."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    cols = {lang: _hits(w, lang) for lang in LANG_ORDER}
    best = F.greatest(*cols.values())
    pred = F.lit("unknown")
    for lang in reversed(LANG_ORDER):  # earlier language wins ties
        pred = F.when((cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return docs.select(
        "doc_id",
        "lang",
        *[cols[lang].alias(f"{lang}_hits") for lang in LANG_ORDER],
        pred.alias("pred_lang"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length, punctuation ratio, stopword ratio."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    n_chars = F.length(norm)
    n_words = F.size(w)
    punct = n_chars - F.length(F.regexp_replace(norm, "[^a-z0-9 ]", ""))
    punct_ratio = F.round(punct.cast("double") / n_chars.cast("double"), 4)
    stop_ratio = F.round(
        _hits(w, "en").cast("double") / n_words.cast("double"), 4
    )
    score = F.round(
        F.least(F.lit(1.0), n_words.cast("double") / 100.0) * 0.5
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2,
        4,
    )
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_norm"),
        n_words.cast("bigint").alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letters / digits /
    single non-alnum), per document and corpus-level ratio."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    ws = F.size(_words(norm)).cast("bigint")
    bpe = F.size(F.regexp_extract_all(norm, F.lit(_BPE_RE), 0)).cast("bigint")
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe.cast("double") / ws.cast("double"), 4).alias("tokens_per_word"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-gram min-hash document fingerprint (min md5 over 3-gram
    shingles) — the rolling-hash fingerprint of SURVEY §2.C in its
    cross-engine-deterministic form.

    Skips ``array_distinct``: min over duplicated shingles equals min
    over the distinct set, so the dedup pass (the costliest step of
    shingles_col on long docs) is pure waste here — one fewer O(grams)
    array walk per document. The r04 scale probe flagged this key's
    7.5× cell at 10× data; measurement showed it is linear map work
    (executor-only ratio 5.5× ≤ data ratio, fixed overhead dominating
    the 0.8 s 1× cell), and this shave cuts the constant."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = F.split(norm, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    sh = F.when(F.size(w) >= 3, grams).otherwise(F.array(norm))
    fp = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("fp_bucket"),
    )


REP_TOP_BIGRAM_MAX = 0.18
REP_DUP_WORD_MAX = 0.3


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    duplicate-word fraction, duplicate-bigram fraction, and the
    fraction of tokens covered by the single most frequent bigram,
    plus the resulting keep/drop repetition flag.

    (Rae et al. 2021, "Scaling Language Models" — the repetition
    filters of Table A1, re-expressed over word tokens.) All four
    signals are array expressions over the split token list — pure
    map-side, zero shuffle, whole-stage-codegen'd. The per-doc
    most-frequent-bigram scan is O(distinct_bigrams x bigrams) inside
    one row; at 100 TB that stays embarrassingly parallel.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    n = F.size(w)
    grams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    ng = F.size(grams)
    dup_word_frac = F.round(
        F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n.cast("double"), 4
    )
    has_grams = F.col("ng") > 0
    dup_bigram_frac = F.when(has_grams, F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(F.col("grams"))).cast("double")
        / F.col("ng").cast("double"),
        4,
    )).otherwise(F.lit(0.0))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(F.col("grams")),
            lambda g: F.size(F.filter(F.col("grams"), lambda x: x == g)),
        )
    )
    top_bigram_frac = F.when(has_grams, F.round(
        top_cnt.cast("double") * 2.0 / F.col("n").cast("double"), 4
    )).otherwise(F.lit(0.0))
    return (
        docs.select(
            "doc_id", n.alias("n"), grams.alias("grams"), ng.alias("ng"),
            dup_word_frac.alias("dup_word_frac"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_words"),
            "dup_word_frac",
            dup_bigram_frac.alias("dup_bigram_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
        )
        .withColumn(
            "repetitive",
            (F.col("top_bigram_frac") > REP_TOP_BIGRAM_MAX)
            | (F.col("dup_word_frac") > REP_DUP_WORD_MAX),
        )
    )


SAMPLE_PER_STRATUM = 5


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: K docs per (lang, source)
    stratum, ranked by md5(doc_id). Hash-ranked sampling is the
    scalable form — rerun-stable, no RNG state, no driver coordination;
    one shuffle on the stratum key.

    Plain ``load_table``, NOT ``load_table_parallel``: ranking is not
    CPU-heavy per row, and the widening repartition added a round-robin
    shuffle of the full row (text included) ahead of the stratum
    exchange — 3× the wall time at sf0.1 and it defeated the partial
    WindowGroupLimit (map-side top-K) that makes this plan scale: with
    the pruned scan, each input split emits at most K rows per stratum
    before the only shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang", "source").orderBy(skey.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .select(
            "lang",
            "source",
            "doc_id",
            F.col("rn").cast("bigint").alias("sample_rank"),
        )
    )


BERNOULLI_P_NUM = 1
BERNOULLI_P_DEN = 4  # keep rate p = 1/4
_BERNOULLI_THRESHOLD = "4" + "0" * 31  # md5-hex space * p


def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli(p=1/4) sample: keep a document iff
    md5(doc_id) falls in the first p of the hash space (hex-string
    compare against p·16^32). The hash IS the randomness — rerun-
    stable, coordination-free, embarrassingly parallel (pure map-side
    filter, no shuffle), and composable: a later p'=1/8 sample is a
    strict subset of this one, which is what makes hash-threshold
    sampling the production way to draw nested corpus subsets.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    return docs.select(
        "doc_id", "lang", "source", key.alias("sample_key")
    ).filter(F.col("sample_key") < _BERNOULLI_THRESHOLD)


def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics: doc counts, token totals,
    length moments — the rollup a pipeline operator dashboards. Pure
    map-side expressions then one partial-aggregated shuffle."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    n_words = F.size(_words(norm)).cast("bigint")
    n_chars = F.length(norm).cast("bigint")
    return (
        docs.select("lang", "source", n_words.alias("nw"), n_chars.alias("nc"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("total_tokens"),
            F.round(F.sum("nw").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_tokens"
            ),
            F.max("nc").alias("max_chars"),
            F.min("nc").alias("min_chars"),
        )
        .orderBy("lang", "source")
    )


SAMPLE_TEMP_ALPHA = 0.3


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing: per-language sampling weights
    p_temp ∝ n^α (α = 0.3), the standard multilingual rebalancing
    trick (Conneau & Lample 2019, XLM) that up-samples low-resource
    languages relative to their raw share.

    One partial-aggregated groupBy to per-lang counts, then the
    global normalizers (Σn, Σn^α) arrive via an empty-frame window —
    the broadcast-a-scalar pattern (same shape as TPC-H Q11): the
    per-lang table is tiny whatever the corpus size, so the second
    stage is O(languages) regardless of scale. boost = p_temp/p_raw
    is computed from unrounded doubles, all outputs rounded 4dp.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    n = F.col("n_docs").cast("double")
    total = F.sum(n).over(w)
    pow_total = F.sum(F.pow(n, F.lit(SAMPLE_TEMP_ALPHA))).over(w)
    p_raw = n / total
    p_temp = F.pow(n, F.lit(SAMPLE_TEMP_ALPHA)) / pow_total
    return counts.select(
        "lang",
        "n_docs",
        F.round(p_raw, 4).alias("p_raw"),
        F.round(p_temp, 4).alias("p_temp"),
        F.round(p_temp / p_raw, 4).alias("boost"),
    ).orderBy("lang")


QUALITY_MIN = 0.5


def corpus_prepare_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete LLM-corpus preparation funnel in ONE call — the
    §2.C twin of cd_pipeline: quality filter → exact dedup
    (keep-first) → near-dup removal (LSH clusters) → eval
    decontamination, reported as a per-stage survivor funnel (the
    audit table every data pipeline publishes per ingest).

    Stage semantics:
      quality        — composite score (text_quality_score formula)
                       ≥ QUALITY_MIN
      exact_dedup    — among quality survivors, keep the smallest
                       doc_id per normalized-text hash
      near_dedup     — drop non-canonical members of corpus-wide LSH
                       near-dup clusters (dedup_lsh_clusters, memoized)
      decontaminated — drop eval-source documents AND any training doc
                       sharing ≥1 3-gram shingle with the eval set

    Scale shape: every flag is computed in one pass over the corpus
    (window over the text hash, two broadcast-able side tables: cluster
    losers and contaminated ids), and the funnel is a single aggregate
    unpivoted with ``stack`` — no per-stage rescans of the data.
    """
    from pyspark.sql import Window

    from etl_city_directories_spark.operators.dedup import dedup_lsh_clusters

    norm = norm_col()
    w_ = _words(norm)
    n_chars = F.length(norm)
    n_words = F.size(w_)
    punct = n_chars - F.length(F.regexp_replace(norm, "[^a-z0-9 ]", ""))
    punct_ratio = F.round(punct.cast("double") / n_chars.cast("double"), 4)
    stop_ratio = F.round(
        _hits(w_, "en").cast("double") / n_words.cast("double"), 4
    )
    score = F.round(
        F.least(F.lit(1.0), n_words.cast("double") / 100.0) * 0.5
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2,
        4,
    )
    # flag pass + contamination explode both read it; rolling: the
    # previous invocation's blocks are released on re-entry
    base = rolling_persist(
        spark,
        ("cpp_base", sf_dir),
        load_table_parallel(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            F.md5(norm).alias("text_hash"),
            (score >= QUALITY_MIN).alias("pass_q"),
            shingles_col(norm).alias("shingles"),
        ),
    )
    losers = (
        dedup_lsh_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(1).alias("is_loser"))
    )
    eval_sh = (
        base.filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    contaminated = (
        base.filter(F.col("source") != EVAL_SOURCE)
        .select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(eval_sh), "s")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    min_pass = F.min(F.when(F.col("pass_q"), F.col("doc_id"))).over(
        Window.partitionBy("text_hash")
    )
    flags = (
        base.withColumn(
            "pass_e", F.col("pass_q") & (F.col("doc_id") == min_pass)
        )
        .join(F.broadcast(losers), "doc_id", "left")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .withColumn("pass_n", F.col("pass_e") & F.col("is_loser").isNull())
        .withColumn(
            "pass_d",
            F.col("pass_n")
            & (F.col("source") != EVAL_SOURCE)
            & F.col("is_cont").isNull(),
        )
    )

    def _n(c: str):
        return F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint")

    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("raw"),
        _n("pass_q").alias("quality"),
        _n("pass_e").alias("exact_dedup"),
        _n("pass_n").alias("near_dedup"),
        _n("pass_d").alias("decontaminated"),
    )
    return agg.selectExpr(
        "stack(5, "
        "bigint(1), 'raw', raw, "
        "bigint(2), 'quality', quality, "
        "bigint(3), 'exact_dedup', exact_dedup, "
        "bigint(4), 'near_dedup', near_dedup, "
        "bigint(5), 'decontaminated', decontaminated"
        ") as (stage_ord, stage, n_docs)"
    ).orderBy("stage_ord")


DOMAIN_MIX_BUDGET_FRAC = 0.4


def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sampler: draw a corpus subset that EQUALIZES source
    (domain) shares under a global document budget — the 'domain
    weights' step of every LLM data recipe (each source gets
    budget/|sources| slots; over-represented sources are down-sampled
    to their slot, small sources keep everything).

    The per-source keep-rate becomes a deterministic hash threshold:
    keep doc iff the first 8 hex chars of md5(doc_id) sort below
    lpad(hex(floor(rate·16⁸))). The hash IS the randomness —
    coordination-free, rerun-stable, nested (a smaller budget's sample
    is a strict subset). Scale shape: one partial-aggregated groupBy
    to per-source counts (O(|sources|) rows → broadcast), then a pure
    map-side filter over the corpus; no shuffle of the data itself.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    w = Window.partitionBy()
    total = F.sum("n_docs").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    fair = F.floor(total * F.lit(DOMAIN_MIX_BUDGET_FRAC)).cast("double") / n_sources
    rate = F.least(F.lit(1.0), fair / F.col("n_docs").cast("double"))
    rates = counts.select(
        "source",
        rate.alias("keep_rate"),
        F.lpad(
            F.lower(F.hex(F.floor(rate * F.lit(4294967296.0)).cast("bigint"))),
            8,
            "0",
        ).alias("thr_hex"),
    )
    key8 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return (
        docs.select("doc_id", "source", key8.alias("key8"))
        .join(F.broadcast(rates), "source")
        .filter((F.col("keep_rate") >= 1.0) | (F.col("key8") < F.col("thr_hex")))
        .select(
            "doc_id", "source", F.round("keep_rate", 4).alias("keep_rate")
        )
        .orderBy("doc_id")
    )


TOP_TERMS_K = 20
MIN_TERM_LEN = 4


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-K terms via explode (lateral view): normalize →
    split → explode → filter → count, with document frequency.

    The explode multiplies rows ~|words-per-doc|× BEFORE the shuffle,
    but partial aggregation collapses each partition to its distinct
    terms, so shuffle volume is O(vocabulary), not O(tokens) — the
    property that makes corpus term-counting feasible at 100 TB. Top-K
    via TakeOrderedAndProject (no global sort).
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(_words(norm_col())).alias("term"))
        .filter(F.length("term") >= MIN_TERM_LEN)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(TOP_TERMS_K)
    )


TFIDF_TOP_K = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K distinguishing terms by TF-IDF (smooth
    idf = ln(N/df) + 1) — the keyword-extraction pass of a corpus
    pipeline.

    Scale shape: explode → (doc, term) counts with map-side partial
    aggregation; the document-frequency table is O(vocabulary) and
    BROADCASTS into the tf table (no shuffle of the big side on the
    term key); N arrives via a window over the tiny df table. Ranking
    compares the 4-dp ROUNDED score (+ term tiebreak) so a last-ulp
    ln() difference between engines can't flip a rank.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar; the corpus count is cheap & exact
    tf = (
        docs.select("doc_id", F.explode(_words(norm_col())).alias("term"))
        .filter(F.length("term") >= MIN_TERM_LEN)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(float(n_docs)) / F.col("df").cast("double")) + F.lit(1.0)
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf").cast("double") * idf, 4).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rk").cast("bigint").alias("rk"))
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48
EVAL_SOURCE = "src0"
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b"


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride sliding-window chunking — how a training pipeline
    turns documents into model-context-sized samples (64-token windows,
    stride 48 → 16-token overlap).

    Contract: window starts march by the stride up to the last FULL
    window; documents shorter than one window yield one whole-doc
    chunk. Pure map-side (split + sequence + slice) — zero shuffle,
    the ideal 100 TB shape.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    n = F.size(w)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), n - F.lit(CHUNK_TOKENS) + 1),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("w"), F.col("start"), F.lit(CHUNK_TOKENS))
    return (
        docs.select(
            "doc_id",
            w.alias("w"),
            n.cast("bigint").alias("doc_tokens"),
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            "doc_tokens",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("chunk_tokens"),
        )
    )


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: emails and phone-shaped numbers replaced
    with typed placeholders, per-doc match counts reported.

    JVM ``regexp_replace``/``regexp_extract_all`` end to end (patterns
    restricted to the Java∩RE2 common dialect so the DuckDB oracle is
    exact). The synthetic corpus is PII-free — the oracle verifies the
    pass-through + zero counts on it; the regex behavior itself is
    pinned by tests/test_textstats_quality.py on adversarial rows.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    redacted = F.regexp_replace(
        F.regexp_replace(norm, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted_text"),
        F.size(F.regexp_extract_all(norm, F.lit(PII_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(norm, F.lit(PII_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: for every training document,
    how many of its 3-gram shingles appear anywhere in the held-out
    eval source — the overlap audit every LLM data pipeline runs
    before training.

    The shingle VALUE is the join key: both sides explode to
    (shingle, doc) and meet in a hash join keyed on the shingle, so
    cost is O(matching shingles), never train × eval. The distinct
    eval-shingle set is small relative to the corpus → broadcast; at
    larger eval sets the same join degrades gracefully to a shuffle
    join on the shingle.

    Train and eval both read the persisted shingle frame
    (``_doc_shingles``): an unpersisted plan inlines the shingle
    expression into each explode generator where it re-evaluates per
    OUTPUT row (~60× the work — measured 13 s vs 5 s at sf0.1).
    """
    sh = _doc_shingles(spark, sf_dir)
    train = sh.filter(F.col("source") != EVAL_SOURCE).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    eval_shingles = (
        sh.filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    return (
        train.join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") > 0)
        .orderBy("doc_id")
    )


TARGET_SHARD_BYTES = 4000


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing manifest (the WebDataset/tar-shard
    export step): documents are packed into ~fixed-byte shards per
    source in a deterministic hash order, and the manifest reports
    each shard's membership stats — what a dataloader consumes.

    Scale shape: sharding is PER SOURCE (the window partitions by the
    source key), so no global single-partition prefix sum exists; at
    100 TB each source's running sum is one shuffle, and a hot source
    would sub-partition by hash prefix the same way. Assignment is
    shard = floor(prefix_bytes / target) over the md5-ranked order —
    rerun-stable, no RNG.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    w = (
        Window.partitionBy("source")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.floor(
            (F.sum("n_chars").over(w) - F.col("n_chars"))
            / F.lit(TARGET_SHARD_BYTES)
        ).alias("shard_id"),
    )
    return (
        assigned.groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "shard_id")
    )


FUZZY_DECON_THRESHOLD = 0.2


def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY train/eval contamination: training documents that are
    near-duplicates of a held-out eval document — catches the
    paraphrased/partially-edited leaks the exact 3-gram audit
    (decontaminate) can miss at its shingle granularity.

    Same band table as dedup_minhash_lsh (``_minhash_bands``: 8
    salted-md5 minhashes → 4 bands of 2), but the banded join is train
    × eval instead of a self-join; the band key is the shuffle key and
    the EVAL band table (the small side by construction) broadcasts,
    so cost is O(train corpus) + O(collisions) however big training
    gets. Exact jaccard verifies candidates only.
    """
    sh, bands = _minhash_bands(spark, sf_dir)
    train_b = bands.filter(F.col("source") != EVAL_SOURCE).select(
        F.col("doc_id").alias("train_doc"), "band_idx", "band_key"
    )
    eval_b = bands.filter(F.col("source") == EVAL_SOURCE).select(
        F.col("doc_id").alias("eval_doc"), "band_idx", "band_key"
    )
    cand = (
        train_b.join(F.broadcast(eval_b), ["band_idx", "band_key"])
        .select("train_doc", "eval_doc")
        .distinct()
    )
    st = sh.select(F.col("doc_id").alias("train_doc"), F.col("shingles").alias("sh_t"))
    se = sh.select(F.col("doc_id").alias("eval_doc"), F.col("shingles").alias("sh_e"))
    return (
        cand.join(st, "train_doc")
        .join(se, "eval_doc")
        .select(
            "train_doc",
            "eval_doc",
            _jaccard(F.col("sh_t"), F.col("sh_e")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_DECON_THRESHOLD)
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score per document: mean token
    surprisal −ln((count(w)+1)/(N+V)) against the corpus unigram
    distribution (add-1 smoothing) — the cheap stand-in for the
    KenLM-style perplexity filter (CCNet, Wenzek et al. 2020) a
    production pipeline runs; unusually high surprisal flags boilerplate
    and garbage.

    Scale shape: the vocabulary table is O(V) and BROADCASTS into the
    exploded token stream (map-side join), then one shuffle back to
    per-doc means. Per-token surprisals are quantized to DECIMAL(18,8)
    before the sum so accumulation order can't perturb a bit in either
    engine; the mean divides as double, rounded 4dp.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_words(norm_col())).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.partitionBy()
    vocab = vocab.select(
        "w",
        "cnt",
        F.sum("cnt").over(wv).alias("n_tokens"),
        F.count(F.lit(1)).over(wv).alias("v_size"),
    )
    lp = -F.log(
        (F.col("cnt") + 1).cast("double")
        / (F.col("n_tokens") + F.col("v_size")).cast("double")
    )
    return (
        toks.join(F.broadcast(vocab), "w")
        .select("doc_id", lp.cast("decimal(18,8)").alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("mean_surprisal"),
        )
    )


MOJIBAKE_MIN_ASCII = 0.7
# control chars except \t \n \r — encoding damage markers
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
_NON_ASCII_RE = r"[^\x00-\x7f]"


def mojibake_cols(text: Column) -> list[Column]:
    """Encoding-damage metrics for one text column: U+FFFD replacement
    chars, stray control chars, ASCII ratio, and the keep/drop flag —
    the CCNet/C4-style encoding filter. Shared by the corpus operator
    and the unit tests."""
    n = F.length(text)
    n_repl = (n - F.length(F.replace(text, F.lit("�"), F.lit("")))).cast(
        "bigint"
    )
    n_ctrl = (n - F.length(F.regexp_replace(text, _CTRL_RE, ""))).cast("bigint")
    ascii_ratio = F.round(
        F.length(F.regexp_replace(text, _NON_ASCII_RE, "")).cast("double")
        / F.greatest(n, F.lit(1)).cast("double"),
        4,
    )
    keep = (
        (n_repl == 0) & (n_ctrl == 0) & (ascii_ratio >= MOJIBAKE_MIN_ASCII)
    )
    return [
        n_repl.alias("n_replacement_chars"),
        n_ctrl.alias("n_control_chars"),
        ascii_ratio.alias("ascii_ratio"),
        keep.alias("keep"),
    ]


def text_mojibake_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document encoding-damage audit — pure map-side expressions,
    no shuffle at all; at 100 TB this rides the ingest scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *mojibake_cols(F.col("text")))


SEQ_LEN_TOKENS = 256


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): documents are laid
    end-to-end per source in deterministic md5 order and cut into
    fixed SEQ_LEN_TOKENS training sequences; each doc reports the
    sequences it spans and its offset in the first — exactly what a
    dataloader needs to build attention-boundary masks.

    Scale shape mirrors shard_manifest: the prefix sum is PER SOURCE
    (window partitioned on the source key), so no global
    single-partition ordering exists; a hot source sub-partitions by
    hash prefix the same way.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    norm = norm_col()
    n_tokens = F.size(_words(norm)).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_start")
    packed = sized.select("doc_id", "source", "n_tokens", start)
    L = F.lit(SEQ_LEN_TOKENS)
    seq_first = F.floor(F.col("tok_start") / L)
    seq_last = F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / L)
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        seq_first.cast("bigint").alias("seq_first"),
        seq_last.cast("bigint").alias("seq_last"),
        (F.col("tok_start") % L).cast("bigint").alias("offset_in_first"),
        (seq_last - seq_first + 1).cast("bigint").alias("n_seqs_spanned"),
    )


QUERIES = {
    "text_mojibake_stats": text_mojibake_stats,
    "pack_sequences": pack_sequences,
    "text_chunk": text_chunk,
    "text_redact_pii": text_redact_pii,
    "decontaminate": decontaminate,
    "decontaminate_fuzzy": decontaminate_fuzzy,
    "text_unigram_logprob": text_unigram_logprob,
    "shard_manifest": shard_manifest,
    "text_repetition_stats": text_repetition_stats,
    "sample_temperature": sample_temperature,
    "text_lang_id": text_lang_id,
    "text_top_terms": text_top_terms,
    "text_tfidf_topk": text_tfidf_topk,
    "text_quality_score": text_quality_score,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "sample_stratified": sample_stratified,
    "sample_bernoulli": sample_bernoulli,
    "sample_domain_mix": sample_domain_mix,
    "text_corpus_stats": text_corpus_stats,
    "corpus_prepare_pipeline": corpus_prepare_pipeline,
}

_NORM = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"
_W = f"string_split({_NORM}, ' ')"


def _hits_sql(lang: str) -> str:
    vocab = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter({_W}, w -> list_contains({vocab}, w)))::BIGINT"


_PRED = "CASE "
for _lang in LANG_ORDER:
    _others = ", ".join(f"{l}_hits" for l in LANG_ORDER)
    _PRED += (
        f"WHEN {_lang}_hits = greatest({_others}) AND {_lang}_hits > 0 "
        f"THEN '{_lang}' "
    )
_PRED += "ELSE 'unknown' END"

ORACLES = {
    "text_mojibake_stats": f"""
        SELECT
          doc_id,
          (length(text) - length(replace(text, '�', '')))::BIGINT
            AS n_replacement_chars,
          (length(text) - length(regexp_replace(text,
             '{_CTRL_RE}', '', 'g')))::BIGINT AS n_control_chars,
          ROUND(length(regexp_replace(text, '{_NON_ASCII_RE}', '', 'g'))::DOUBLE
                / greatest(length(text), 1)::DOUBLE, 4) AS ascii_ratio,
          ((length(text) - length(replace(text, '�', ''))) = 0
           AND (length(text) - length(regexp_replace(text,
                  '{_CTRL_RE}', '', 'g'))) = 0
           AND ROUND(length(regexp_replace(text, '{_NON_ASCII_RE}', '', 'g'))::DOUBLE
                     / greatest(length(text), 1)::DOUBLE, 4)
               >= {MOJIBAKE_MIN_ASCII}) AS keep
        FROM documents
    """,
    "pack_sequences": f"""
        WITH sized AS (
          SELECT doc_id, source,
                 len({_W})::BIGINT AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents
        ),
        packed AS (
          SELECT doc_id, source, n_tokens,
                 (SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY h, doc_id) - n_tokens
                 ) AS tok_start
          FROM sized
        )
        SELECT
          doc_id, source, n_tokens,
          (tok_start // {SEQ_LEN_TOKENS})::BIGINT AS seq_first,
          ((tok_start + n_tokens - 1) // {SEQ_LEN_TOKENS})::BIGINT AS seq_last,
          (tok_start % {SEQ_LEN_TOKENS})::BIGINT AS offset_in_first,
          ((tok_start + n_tokens - 1) // {SEQ_LEN_TOKENS}
           - tok_start // {SEQ_LEN_TOKENS} + 1)::BIGINT AS n_seqs_spanned
        FROM packed
    """,
    "text_chunk": f"""
        WITH words AS (
          SELECT doc_id, {_W} AS w, len({_W}) AS n FROM documents
        ),
        exploded AS (
          SELECT doc_id, w, n,
                 unnest(generate_series(1, greatest(1, n - {CHUNK_TOKENS} + 1),
                                        {CHUNK_STRIDE})) AS s,
                 generate_subscripts(generate_series(1, greatest(1, n - {CHUNK_TOKENS} + 1),
                                                     {CHUNK_STRIDE}), 1) AS i
          FROM words
        )
        SELECT doc_id,
               n::BIGINT AS doc_tokens,
               (i - 1)::BIGINT AS chunk_idx,
               array_to_string(w[s:s + {CHUNK_TOKENS} - 1], ' ') AS chunk_text,
               len(w[s:s + {CHUNK_TOKENS} - 1])::BIGINT AS chunk_tokens
        FROM exploded
    """,
    "text_redact_pii": f"""
        SELECT doc_id,
               regexp_replace(regexp_replace({_NORM}, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted_text,
               len(regexp_extract_all({_NORM}, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
               len(regexp_extract_all({_NORM}, '{PII_PHONE_RE}'))::BIGINT AS n_phones
        FROM documents
    """,
    "decontaminate_fuzzy": None,  # assembled below (needs dedup's sig SQL)
    "shard_manifest": f"""
        WITH assigned AS (
          SELECT doc_id, source, n_chars,
                 FLOOR((SUM(n_chars) OVER (
                          PARTITION BY source
                          ORDER BY md5(doc_id::VARCHAR), doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_chars) / {TARGET_SHARD_BYTES})::BIGINT
                   AS shard_id
          FROM documents
        )
        SELECT source, shard_id,
               COUNT(*) AS n_docs,
               SUM(n_chars)::BIGINT AS shard_bytes,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc
        FROM assigned
        GROUP BY source, shard_id
        ORDER BY source, shard_id
    """,
    "text_unigram_logprob": f"""
        WITH toks AS (
          SELECT doc_id, UNNEST({_W}) AS w FROM documents
        ),
        vocab AS (
          SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
        ),
        g AS (
          SELECT w, cnt,
                 SUM(cnt) OVER () AS n_tokens,
                 COUNT(*) OVER () AS v_size
          FROM vocab
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               ROUND((SUM((-ln((cnt + 1)::DOUBLE
                           / (g.n_tokens + g.v_size)::DOUBLE)
                      )::DECIMAL(18,8)))::DOUBLE / COUNT(*), 4)
                 AS mean_surprisal
        FROM toks JOIN g USING (w)
        GROUP BY doc_id
    """,
    "decontaminate": f"""
        WITH {_DEDUP_SHINGLE_CTE},
        train AS (
          SELECT doc_id, unnest(shingles) AS shingle
          FROM shingled WHERE source != '{EVAL_SOURCE}'
        ),
        ev AS (
          SELECT DISTINCT unnest(shingles) AS shingle
          FROM shingled WHERE source = '{EVAL_SOURCE}'
        )
        SELECT doc_id, COUNT(*) AS n_shared_shingles
        FROM train JOIN ev USING (shingle)
        GROUP BY doc_id
        HAVING COUNT(*) > 0
        ORDER BY doc_id
    """,
    "text_tfidf_topk": f"""
        WITH w AS (
          SELECT doc_id, UNNEST({_W}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM w WHERE LENGTH(term) >= {MIN_TERM_LEN}
          GROUP BY doc_id, term
        ),
        dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
        scored AS (
          SELECT doc_id, term, tf, df,
                 ROUND(tf::DOUBLE * (ln((SELECT nd FROM n) / df::DOUBLE)
                       + 1.0), 4) AS tfidf
          FROM tf JOIN dfreq USING (term)
        )
        SELECT doc_id, term, tf, df, tfidf, rk FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
          ) AS rk
          FROM scored
        ) WHERE rk <= {TFIDF_TOP_K}
    """,
    "text_top_terms": f"""
        SELECT term,
               COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS doc_freq
        FROM (SELECT doc_id, UNNEST({_W}) AS term FROM documents)
        WHERE LENGTH(term) >= {MIN_TERM_LEN}
        GROUP BY term
        ORDER BY n_occurrences DESC, term ASC
        LIMIT {TOP_TERMS_K}
    """,
    "sample_temperature": f"""
        WITH c AS (
          SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        ),
        t AS (
          SELECT lang, n_docs,
                 n_docs::DOUBLE AS n,
                 SUM(n_docs::DOUBLE) OVER () AS total,
                 SUM(pow(n_docs::DOUBLE, {SAMPLE_TEMP_ALPHA})) OVER () AS pow_total
          FROM c
        )
        SELECT lang, n_docs,
               ROUND(n / total, 4) AS p_raw,
               ROUND(pow(n, {SAMPLE_TEMP_ALPHA}) / pow_total, 4) AS p_temp,
               ROUND((pow(n, {SAMPLE_TEMP_ALPHA}) / pow_total) / (n / total), 4)
                 AS boost
        FROM t
        ORDER BY lang
    """,
    "text_repetition_stats": f"""
        WITH t AS (
          SELECT doc_id, {_W} AS w, len({_W}) AS n FROM documents
        ),
        g AS (
          SELECT doc_id, n,
                 [w[i] || ' ' || w[i + 1] FOR i IN generate_series(1, n - 1)]
                   AS grams,
                 ROUND(1.0 - len(list_distinct(w))::DOUBLE / n::DOUBLE, 4)
                   AS dup_word_frac
          FROM t
        )
        SELECT doc_id,
               n::BIGINT AS n_words,
               dup_word_frac,
               CASE WHEN len(grams) > 0
                    THEN ROUND(1.0 - len(list_distinct(grams))::DOUBLE
                               / len(grams)::DOUBLE, 4)
                    ELSE 0.0 END AS dup_bigram_frac,
               CASE WHEN len(grams) > 0
                    THEN ROUND(list_max(list_transform(list_distinct(grams),
                           gr -> len(list_filter(grams, x -> x = gr))))::DOUBLE
                         * 2.0 / n::DOUBLE, 4)
                    ELSE 0.0 END AS top_bigram_frac,
               (CASE WHEN len(grams) > 0
                     THEN ROUND(list_max(list_transform(list_distinct(grams),
                            gr -> len(list_filter(grams, x -> x = gr))))::DOUBLE
                          * 2.0 / n::DOUBLE, 4)
                     ELSE 0.0 END > {REP_TOP_BIGRAM_MAX}
                OR dup_word_frac > {REP_DUP_WORD_MAX}) AS repetitive
        FROM g
    """,
    "text_lang_id": f"""
        WITH hits AS (
          SELECT doc_id, lang,
            {", ".join(f"{_hits_sql(lang)} AS {lang}_hits" for lang in LANG_ORDER)}
          FROM documents
        )
        SELECT doc_id, lang,
               {", ".join(f"{lang}_hits" for lang in LANG_ORDER)},
               {_PRED} AS pred_lang
        FROM hits
    """,
    "text_quality_score": f"""
        WITH t AS (
          SELECT doc_id,
            length({_NORM}) AS n_chars_norm,
            len({_W}) AS n_words,
            length({_NORM}) - length(regexp_replace({_NORM}, '[^a-z0-9 ]', '', 'g'))
              AS punct,
            {_hits_sql("en")} AS en_hits
          FROM documents
        ),
        r AS (
          SELECT doc_id,
            n_chars_norm::BIGINT AS n_chars_norm,
            n_words::BIGINT AS n_words,
            ROUND(punct::DOUBLE / n_chars_norm::DOUBLE, 4) AS punct_ratio,
            ROUND(en_hits::DOUBLE / n_words::DOUBLE, 4) AS stopword_ratio
          FROM t
        )
        SELECT doc_id, n_chars_norm, n_words, punct_ratio, stopword_ratio,
          ROUND(
            least(1.0, n_words::DOUBLE / 100.0) * 0.5
            + (1.0 - punct_ratio) * 0.3
            + least(stopword_ratio * 5.0, 1.0) * 0.2, 4) AS quality_score
        FROM r
    """,
    "text_token_count": f"""
        SELECT doc_id,
          len({_W})::BIGINT AS ws_tokens,
          len(regexp_extract_all({_NORM}, '{_BPE_RE}'))::BIGINT AS bpe_tokens,
          ROUND(len(regexp_extract_all({_NORM}, '{_BPE_RE}'))::DOUBLE
                / len({_W})::DOUBLE, 4) AS tokens_per_word
        FROM documents
    """,
    "text_fingerprint": """
        WITH docs AS (
          SELECT doc_id, trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm
          FROM documents
        ),
        shingled AS (
          SELECT doc_id,
            CASE WHEN len(string_split(norm, ' ')) >= 3
                 THEN list_distinct([
                   array_to_string(string_split(norm, ' ')[i:i+2], ' ')
                   FOR i IN generate_series(1, len(string_split(norm, ' ')) - 2)
                 ])
                 ELSE [norm] END AS shingles
          FROM docs
        )
        SELECT doc_id,
               list_min(list_transform(shingles, s -> md5(s))) AS fingerprint,
               substr(list_min(list_transform(shingles, s -> md5(s))), 1, 4) AS fp_bucket
        FROM shingled
    """,
    "sample_bernoulli": f"""
        SELECT doc_id, lang, source,
               md5(doc_id::VARCHAR) AS sample_key
        FROM documents
        WHERE md5(doc_id::VARCHAR) < '{_BERNOULLI_THRESHOLD}'
    """,
    "sample_domain_mix": f"""
        WITH counts AS (
          SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ),
        tot AS (
          SELECT SUM(n_docs) AS total, COUNT(*) AS n_sources FROM counts
        ),
        rates AS (
          SELECT source, n_docs,
            LEAST(1.0,
              (FLOOR(total * {DOMAIN_MIX_BUDGET_FRAC})::DOUBLE / n_sources)
                / n_docs::DOUBLE) AS keep_rate
          FROM counts, tot
        ),
        r2 AS (
          SELECT source, keep_rate,
            lpad(to_hex(FLOOR(keep_rate * 4294967296.0)::BIGINT), 8, '0')
              AS thr_hex
          FROM rates
        )
        SELECT d.doc_id, d.source, ROUND(r2.keep_rate, 4) AS keep_rate
        FROM documents d JOIN r2 USING (source)
        WHERE r2.keep_rate >= 1.0
           OR substr(md5(d.doc_id::VARCHAR), 1, 8) < r2.thr_hex
        ORDER BY d.doc_id
    """,
    "sample_stratified": f"""
        SELECT lang, source, doc_id, sample_rank FROM (
          SELECT lang, source, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
                 ) AS sample_rank
          FROM documents
        ) WHERE sample_rank <= {SAMPLE_PER_STRATUM}
    """,
    "text_corpus_stats": f"""
        WITH t AS (
          SELECT lang, source,
                 len({_W})::BIGINT AS nw,
                 length({_NORM})::BIGINT AS nc
          FROM documents
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               SUM(nw)::BIGINT AS total_tokens,
               ROUND(SUM(nw)::DOUBLE / COUNT(*), 4) AS avg_tokens,
               MAX(nc) AS max_chars,
               MIN(nc) AS min_chars
        FROM t
        GROUP BY lang, source
        ORDER BY lang, source
    """,
}


def _fuzzy_decon_oracle() -> str:
    """Minhash-banded train x eval candidates + exact-jaccard verify,
    replaying decontaminate_fuzzy with dedup's signature SQL."""
    from etl_city_directories_spark.operators.dedup import (
        NUM_BANDS,
        _JACCARD_SQL,
        _SIG_COLS,
    )

    band_selects = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, source, {b} AS band_idx,"
        f" md5(sig{2 * b + 1} || sig{2 * b + 2}) AS band_key FROM sigs"
        for b in range(NUM_BANDS)
    )
    j = _JACCARD_SQL.format(a="st.shingles", b="se.shingles")
    return f"""
        WITH {_DEDUP_SHINGLE_CTE},
        sigs AS (
          SELECT doc_id, source, shingles, {_SIG_COLS}
          FROM shingled
        ),
        bands AS (
{band_selects}
        ),
        cand AS (
          SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
          FROM bands t JOIN bands e
            ON t.band_idx = e.band_idx AND t.band_key = e.band_key
          WHERE t.source != '{EVAL_SOURCE}' AND e.source = '{EVAL_SOURCE}'
        )
        SELECT train_doc, eval_doc, {j} AS jaccard
        FROM cand
        JOIN shingled st ON st.doc_id = train_doc
        JOIN shingled se ON se.doc_id = eval_doc
        WHERE {j} >= {FUZZY_DECON_THRESHOLD}
    """


ORACLES["decontaminate_fuzzy"] = _fuzzy_decon_oracle()


def _pipeline_oracle() -> str:
    """Funnel oracle: composes dedup's recursive-CC chain (for the
    near-dup losers) with the quality/hash/decontamination flags, all
    over the shared shingled CTE."""
    from etl_city_directories_spark.operators.dedup import _CC_CTES

    score_sql = (
        "ROUND("
        "LEAST(1.0, len(string_split(s.norm, ' '))::DOUBLE / 100.0) * 0.5"
        " + (1.0 - ROUND((length(s.norm) - length(regexp_replace(s.norm,"
        " '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(s.norm)::DOUBLE, 4)) * 0.3"
        " + LEAST(ROUND(len(list_filter(string_split(s.norm, ' '),"
        " w -> list_contains(['the','a','of','and','to'], w)))::DOUBLE"
        " / len(string_split(s.norm, ' '))::DOUBLE, 4) * 5.0, 1.0) * 0.2"
        ", 4)"
    )
    return f"""{_CC_CTES},
        fl0 AS (
          SELECT s.doc_id, s.source, s.shingles, md5(s.norm) AS text_hash,
                 {score_sql} >= {QUALITY_MIN} AS pass_q
          FROM shingled s
        ),
        fl1 AS (
          SELECT f.*,
            (pass_q AND doc_id = MIN(CASE WHEN pass_q THEN doc_id END)
               OVER (PARTITION BY text_hash)) AS pass_e
          FROM fl0 f
        ),
        losers AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
        eval_sh AS (
          SELECT DISTINCT unnest(shingles) AS sv FROM shingled
          WHERE source = '{EVAL_SOURCE}'
        ),
        cont AS (
          SELECT DISTINCT t.doc_id FROM (
            SELECT doc_id, unnest(shingles) AS sv FROM shingled
            WHERE source <> '{EVAL_SOURCE}'
          ) t JOIN eval_sh USING (sv)
        ),
        fl2 AS (
          SELECT f.doc_id, f.source, f.pass_q, f.pass_e,
            (f.pass_e AND l.doc_id IS NULL) AS pass_n,
            (f.pass_e AND l.doc_id IS NULL AND f.source <> '{EVAL_SOURCE}'
             AND c.doc_id IS NULL) AS pass_d
          FROM fl1 f
          LEFT JOIN losers l ON l.doc_id = f.doc_id
          LEFT JOIN cont c ON c.doc_id = f.doc_id
        )
        SELECT stage_ord, stage, n_docs FROM (
          SELECT 1::BIGINT AS stage_ord, 'raw' AS stage,
                 COUNT(*)::BIGINT AS n_docs FROM fl2
          UNION ALL SELECT 2::BIGINT, 'quality',
                 COALESCE(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END), 0)::BIGINT
                 FROM fl2
          UNION ALL SELECT 3::BIGINT, 'exact_dedup',
                 COALESCE(SUM(CASE WHEN pass_e THEN 1 ELSE 0 END), 0)::BIGINT
                 FROM fl2
          UNION ALL SELECT 4::BIGINT, 'near_dedup',
                 COALESCE(SUM(CASE WHEN pass_n THEN 1 ELSE 0 END), 0)::BIGINT
                 FROM fl2
          UNION ALL SELECT 5::BIGINT, 'decontaminated',
                 COALESCE(SUM(CASE WHEN pass_d THEN 1 ELSE 0 END), 0)::BIGINT
                 FROM fl2
        ) ORDER BY stage_ord
    """


ORACLES["corpus_prepare_pipeline"] = _pipeline_oracle()


# ---------------------------------------------------------------------------
# r04 session 2: Gopher-rule quality gate + deterministic reservoir sample
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3.0
GOPHER_MWL_MAX = 10.0
GOPHER_MIN_STOP_HITS = 2
GOPHER_MIN_DISTINCT_FRAC = 0.3
GOPHER_MAX_SYMBOL_RATIO = 0.1


def gopher_cols() -> list[Column]:
    """The six Gopher-gate signal columns over a ``text`` column —
    factored so synthetic frames unit-test the rule boundaries the
    same way mojibake_cols does."""
    norm = norm_col()
    w = _words(norm)
    n_words = F.size(w).cast("bigint")
    mean_wl = F.round(
        (F.length(norm) - (n_words - F.lit(1))).cast("double")
        / n_words.cast("double"),
        4,
    )
    hash_chars = F.length(norm) - F.length(F.regexp_replace(norm, "#", ""))
    ellipses = F.floor(
        (F.length(norm) - F.length(F.regexp_replace(norm, r"\.\.\.", ""))) / 3
    )
    symbol_ratio = F.round(
        (hash_chars + ellipses).cast("double") / n_words.cast("double"), 4
    )
    distinct_frac = F.round(
        F.size(F.array_distinct(w)).cast("double") / n_words.cast("double"), 4
    )
    stop_hits = _hits(w, "en")
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wl.between(GOPHER_MWL_MIN, GOPHER_MWL_MAX)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (distinct_frac >= GOPHER_MIN_DISTINCT_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return [
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        distinct_frac.alias("distinct_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    ]


def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style structural quality gate (Rae et al. 2021, Table A1
    minus the repetition block, which text_repetition_stats owns):
    word-count bounds, mean-word-length band, symbol-to-word ratio,
    lexical diversity (distinct-word fraction), and minimum stopword
    evidence, folded into one keep flag.

    Everything is a map-side column expression over the split word
    list — zero shuffle, whole-stage-codegen'd, the ideal 100 TB
    filter shape (this gate typically runs FIRST in a corpus funnel
    precisely because it is the cheapest). Mean word length uses the
    single-spaced norm identity chars_excl_spaces = len(norm) -
    (n_words - 1), avoiding a per-word aggregate. Plain ``load_table``
    (like text_mojibake_stats): a widening repartition would insert
    the only exchange in an otherwise shuffle-free plan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *gopher_cols())


RESERVOIR_K = 100


def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed reservoir sample of K docs: bottom-K
    by md5(doc_id). Bottom-K-by-random-priority IS reservoir sampling
    (same output law); with a hash as the priority it is additionally
    rerun-stable and mergeable — each partition keeps its local
    bottom-K and the driver merges K-sized heaps, which is exactly
    Spark's TakeOrderedAndProject physical operator, so no full sort
    and no full shuffle ever happens. The post-limit rank window runs
    over K rows only."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    picked = (
        docs.select("doc_id", "lang", "source", key.alias("priority"))
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(RESERVOIR_K)
    )
    w = Window.orderBy(F.col("priority").asc(), F.col("doc_id").asc())
    return picked.withColumn(
        "sample_rank", F.row_number().over(w).cast("bigint")
    )


QUERIES["text_gopher_filter"] = text_gopher_filter
QUERIES["sample_reservoir"] = sample_reservoir

ORACLES["text_gopher_filter"] = f"""
    WITH t AS (
      SELECT doc_id,
        len({_W})::BIGINT AS n_words,
        length({_NORM}) AS n_chars,
        length({_NORM}) - length(replace({_NORM}, '#', '')) AS hash_chars,
        (length({_NORM}) - length(replace({_NORM}, '...', ''))) // 3
          AS ellipses,
        len(list_distinct({_W})) AS n_distinct,
        {_hits_sql("en")} AS stop_hits
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_words,
        ROUND((n_chars - (n_words - 1))::DOUBLE / n_words::DOUBLE, 4)
          AS mean_word_len,
        ROUND((hash_chars + ellipses)::DOUBLE / n_words::DOUBLE, 4)
          AS symbol_ratio,
        ROUND(n_distinct::DOUBLE / n_words::DOUBLE, 4) AS distinct_frac,
        stop_hits
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, distinct_frac,
      stop_hits,
      (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
       AND mean_word_len BETWEEN {GOPHER_MWL_MIN} AND {GOPHER_MWL_MAX}
       AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
       AND distinct_frac >= {GOPHER_MIN_DISTINCT_FRAC}
       AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
    FROM r
"""

ORACLES["sample_reservoir"] = f"""
    SELECT doc_id, lang, source, priority,
           ROW_NUMBER() OVER (ORDER BY priority, doc_id)::BIGINT
             AS sample_rank
    FROM (
      SELECT doc_id, lang, source, md5(doc_id::VARCHAR) AS priority
      FROM documents
      ORDER BY priority, doc_id
      LIMIT {RESERVOIR_K}
    )
"""


def text_domain_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain classification by per-source unigram language models —
    the mixing-pipeline step that routes unlabeled documents to a
    domain (DoReMi/DSIR-style importance routing, in its naive-Bayes
    form): score every document against each source's add-1-smoothed
    unigram LM and take the argmax.

    Plan shape: one token explode, one (source, word) count shuffle,
    then the scoring join broadcasts the LM matrix (at production
    scale the per-source vocab is capped to the top-V words, keeping
    the broadcast bounded) and re-aggregates on (doc, source) — the
    naive-Bayes score-all-classes cost is a constant |sources| factor
    on the token stream, never a second corpus pass. Log-probs are
    quantized to decimal(18,8) before summation (same device as
    text_unigram_logprob) so the per-engine sums are bit-identical;
    the argmax tie-breaks on source name."""
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(_words(norm_col())).alias("w")
    )
    counts = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy("source").agg(F.sum("cnt").alias("nts"))
    vsize = counts.select("w").distinct().select(
        F.count(F.lit(1)).alias("v")
    )
    words = counts.select("w").distinct()
    matrix = (
        words.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["source", "w"], "left")
        .select(
            "w",
            F.col("source").alias("lm_source"),
            F.log(
                (F.coalesce("cnt", F.lit(0)) + 1).cast("double")
                / (F.col("nts") + F.col("v")).cast("double")
            )
            .cast("decimal(18,8)")
            .alias("lp"),
        )
    )
    scores = (
        toks.join(F.broadcast(matrix), "w")
        .groupBy("doc_id", "lm_source")
        .agg(F.sum("lp").alias("score"), F.count(F.lit(1)).alias("n_toks"))
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("lm_source")
    )
    best = scores.withColumn("rk", F.row_number().over(wr)).filter(
        F.col("rk") == 1
    )
    return (
        best.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            F.col("lm_source").alias("pred_source"),
            F.round(
                F.col("score").cast("double") / F.col("n_toks").cast("double"),
                4,
            ).alias("mean_lp"),
            F.col("source").alias("actual_source"),
            (F.col("lm_source") == F.col("source")).alias("is_correct"),
        )
    )


QUERIES["text_domain_classify"] = text_domain_classify

ORACLES["text_domain_classify"] = f"""
    WITH toks AS (
      SELECT doc_id, source, UNNEST({_W}) AS w FROM documents
    ),
    counts AS (
      SELECT source, w, COUNT(*) AS cnt FROM toks GROUP BY source, w
    ),
    totals AS (
      SELECT source, SUM(cnt) AS nts FROM counts GROUP BY source
    ),
    vsize AS (
      SELECT COUNT(DISTINCT w) AS v FROM counts
    ),
    matrix AS (
      SELECT ws.w, t.source AS lm_source,
             CAST(ln((COALESCE(c.cnt, 0) + 1)::DOUBLE
                     / (t.nts + vsize.v)::DOUBLE) AS DECIMAL(18,8)) AS lp
      FROM (SELECT DISTINCT w FROM counts) ws
      CROSS JOIN totals t
      CROSS JOIN vsize
      LEFT JOIN counts c ON c.source = t.source AND c.w = ws.w
    ),
    scores AS (
      SELECT toks.doc_id, m.lm_source,
             SUM(m.lp) AS score, COUNT(*) AS n_toks
      FROM toks JOIN matrix m ON m.w = toks.w
      GROUP BY toks.doc_id, m.lm_source
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, lm_source
             ) AS rk
      FROM scores
    )
    SELECT b.doc_id, b.lm_source AS pred_source,
           ROUND(b.score::DOUBLE / b.n_toks::DOUBLE, 4) AS mean_lp,
           d.source AS actual_source,
           (b.lm_source = d.source) AS is_correct
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rk = 1
"""


SHUFFLE_N_SHARDS = 16


def shuffle_global_permute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus into training shards
    — the 'randomize example order' step every training run needs, in
    its coordination-free form: shard = md5(doc_id) mod N (uniform by
    construction), position = rank of the hash within the shard. No
    global ordering ever materializes — one shuffle on the shard key
    and a per-shard rank window (each shard sorts independently, which
    is exactly how a 1000-executor job writes N shard files in
    parallel). Rerun-stable: the permutation is a pure function of
    doc_id, so restarts and engines agree; reading shards 0..N-1
    sequentially replays one fixed global permutation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        % SHUFFLE_N_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", "source", h.alias("h"), shard.alias("shard"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "lang", "source", "shard", "pos_in_shard")
    )


QUERIES["shuffle_global_permute"] = shuffle_global_permute

ORACLES["shuffle_global_permute"] = f"""
    WITH h AS (
      SELECT doc_id, lang, source, md5(doc_id::VARCHAR) AS hh,
             (CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                   AS BIGINT) % {SHUFFLE_N_SHARDS})::INT AS shard
      FROM documents
    )
    SELECT doc_id, lang, source, shard,
           ROW_NUMBER() OVER (
             PARTITION BY shard ORDER BY hh, doc_id
           )::BIGINT AS pos_in_shard
    FROM h
"""


DSIR_TARGET_SOURCE = "src0"
DSIR_KEEP = 100


def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023), in its unigram form: score every candidate document by the
    log importance ratio between a TARGET-domain language model (here
    the DSIR_TARGET_SOURCE docs) and the general corpus LM, and keep
    the DSIR_KEEP candidates whose token distribution looks most like
    the target. This is the principled replacement for hand-written
    quality rules when curating toward a reference corpus.

    Plan shape: the two LMs are two count aggregations over one token
    explode (the target LM is a filtered re-aggregation, not a second
    corpus scan of raw text); both broadcast; per-doc scoring is one
    join + one groupBy with decimal(18,8)-quantized log-prob sums
    (order-independent, oracle-replayable); selection is a global
    top-K on the rounded ratio — TakeOrdered-sized, not a full sort.
    Target-source docs are excluded from selection (they ARE the
    target)."""
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(_words(norm_col())).alias("w")
    )
    gcounts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("gcnt"))
    tcounts = (
        toks.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("tcnt"))
    )
    gtot = gcounts.agg(
        F.sum("gcnt").alias("gn"), F.count(F.lit(1)).alias("v")
    )
    ttot = tcounts.agg(F.sum("tcnt").alias("tn"))
    lm = (
        gcounts.join(tcounts, "w", "left")
        .crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "w",
            F.log(
                (F.col("gcnt") + 1).cast("double")
                / (F.col("gn") + F.col("v")).cast("double")
            )
            .cast("decimal(18,8)")
            .alias("glp"),
            F.log(
                (F.coalesce("tcnt", F.lit(0)) + 1).cast("double")
                / (F.col("tn") + F.col("v")).cast("double")
            )
            .cast("decimal(18,8)")
            .alias("tlp"),
        )
    )
    scored = (
        toks.filter(F.col("source") != DSIR_TARGET_SOURCE)
        .join(F.broadcast(lm), "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("tlp").alias("t_sum"),
            F.sum("glp").alias("g_sum"),
        )
        .select(
            "doc_id",
            "source",
            F.round(
                (F.col("t_sum") - F.col("g_sum")).cast("double")
                / F.col("n_toks").cast("double"),
                6,
            ).alias("log_ratio"),
        )
    )
    w = Window.orderBy(F.desc("log_ratio"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("log_ratio"), F.asc("doc_id"))
        .limit(DSIR_KEEP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


QUERIES["sample_dsir"] = sample_dsir

ORACLES["sample_dsir"] = f"""
    WITH toks AS (
      SELECT doc_id, source, UNNEST({_W}) AS w FROM documents
    ),
    gcounts AS (
      SELECT w, COUNT(*) AS gcnt FROM toks GROUP BY w
    ),
    tcounts AS (
      SELECT w, COUNT(*) AS tcnt FROM toks
      WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY w
    ),
    gtot AS (
      SELECT SUM(gcnt) AS gn, COUNT(*) AS v FROM gcounts
    ),
    ttot AS (
      SELECT COALESCE(SUM(tcnt), 0) AS tn FROM tcounts
    ),
    lm AS (
      SELECT g.w,
             CAST(ln((g.gcnt + 1)::DOUBLE / (gtot.gn + gtot.v)::DOUBLE)
                  AS DECIMAL(18,8)) AS glp,
             CAST(ln((COALESCE(t.tcnt, 0) + 1)::DOUBLE
                     / (ttot.tn + gtot.v)::DOUBLE)
                  AS DECIMAL(18,8)) AS tlp
      FROM gcounts g
      LEFT JOIN tcounts t ON t.w = g.w
      CROSS JOIN gtot CROSS JOIN ttot
    ),
    scored AS (
      SELECT toks.doc_id, toks.source,
             ROUND((SUM(lm.tlp) - SUM(lm.glp))::DOUBLE
                   / COUNT(*)::DOUBLE, 6) AS log_ratio
      FROM toks JOIN lm ON lm.w = toks.w
      WHERE toks.source != '{DSIR_TARGET_SOURCE}'
      GROUP BY toks.doc_id, toks.source
    )
    SELECT doc_id, source, log_ratio,
           ROW_NUMBER() OVER (ORDER BY log_ratio DESC, doc_id)::BIGINT
             AS rank
    FROM (
      SELECT * FROM scored
      ORDER BY log_ratio DESC, doc_id
      LIMIT {DSIR_KEEP}
    )
"""


# ---------------------------------------------------------------------------
# r05: BPE tokenizer training — the distributed pair-count hot loop
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 32


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot loop of BPE tokenizer training (Sennrich et al. 2016):
    count adjacent symbol pairs across the corpus and rank the merge
    candidates — one training round, distributed.

    Scale shape: the ONLY corpus-size pass is the pre-token frequency
    count (map-side combine on Zipf-skewed keys); pair counting then
    runs over the DISTINCT-word table weighted by frequency — the same
    vocabulary compression Sennrich's reference implementation uses,
    |vocab| ≪ corpus tokens. Pre-tokens are the repo's BPE_RE classes
    (letter runs / digit runs / single other — the GPT-2-style
    pre-tokenizer stand-in, shared with text_token_count), each closed
    with an end-of-word marker '_' so word-final pairs are distinct
    merge candidates from word-internal ones. The final rollup is
    bounded by alphabet², and the top-K lands as
    TakeOrderedAndProject, never a global sort."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.regexp_extract_all(norm_col(), F.lit(_BPE_RE), 0)).alias("w")
    )
    wfreq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    mw = F.concat(F.col("w"), F.lit("_"))
    pairs = wfreq.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(mw) - 1),
                lambda i: F.substr(mw, i, F.lit(2)),
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("pair_count"))
    top = agg.orderBy(F.desc("pair_count"), F.asc("pair")).limit(BPE_TOP_PAIRS)
    w_rank = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return top.select(
        F.row_number().over(w_rank).cast("int").alias("rank"),
        "pair",
        "pair_count",
    )


QUERIES["bpe_pair_counts"] = bpe_pair_counts

ORACLES["bpe_pair_counts"] = f"""
    WITH words AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_extract_all({_NORM}, '{_BPE_RE}')) AS w
        FROM documents
      ) GROUP BY w
    ),
    pos AS (
      SELECT w || '_' AS mw, freq,
             unnest(generate_series(1, length(w))) AS i
      FROM words
    ),
    agg AS (
      SELECT substring(mw, i, 2) AS pair, SUM(freq)::BIGINT AS pair_count
      FROM pos GROUP BY 1
    )
    SELECT ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)::INT AS rank,
           pair, pair_count
    FROM agg
    ORDER BY pair_count DESC, pair
    LIMIT {BPE_TOP_PAIRS}
"""


# ---------------------------------------------------------------------------
# r05: full BPE tokenizer training + corpus encoding
# ---------------------------------------------------------------------------

BPE_MERGE_ROUNDS = 8
# Symbol sentinels: every symbol in a word's working representation is
# wrapped \x01sym\x02, so applying a merge is ONE literal string
# replace — adjacent occurrences share no characters (unlike
# space-joined symbols, where replace(' a a ') on 'a a a a' would miss
# the second merge) and a pair pattern can never match across a
# multi-char symbol boundary. Identical semantics in Spark and DuckDB.
_BPE_W1 = "\x01"
_BPE_W2 = "\x02"


def _bpe_sym(repr_col: Column) -> Column:
    """Wrapped repr → symbol array (both sentinels stripped)."""
    inner = F.substr(repr_col, F.lit(2), F.length(repr_col) - 2)
    return F.split(inner, _BPE_W2 + _BPE_W1)


def _bpe_pairs(sym: Column) -> Column:
    """Adjacent symbol pairs as 'l r' keys (symbols never contain a
    space, so the key is unambiguous). slice+zip_with instead of
    sequence(): sequence(1, 0) would generate a DESCENDING [1, 0]."""
    n = F.size(sym)
    return F.zip_with(
        F.slice(sym, F.lit(1), n - 1),
        F.slice(sym, F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def _bpe_wfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.regexp_extract_all(norm_col(), F.lit(_BPE_RE), 0)).alias("w")
    )
    return toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple:
    """Run BPE_MERGE_ROUNDS of true iterative BPE training (pair
    counts recomputed on the merged representation each round, not the
    one-shot initial ranking) over the distinct-word table. Returns
    (merges, final_words) where merges is the 5-tuple merge table and
    final_words maps w → fully-merged repr.

    Scale shape: ONE corpus pass builds the word-frequency table; each
    round is then a groupBy over O(vocab × word_len) exploded pairs
    plus a 1-row TakeOrdered argmax collect (scalar — the merge rule
    IS driver state, like k-means centroids). The repr column chains
    one literal replace per round on the persisted vocab, so round
    cost never touches the corpus again."""
    stamp = table_stamp(sf_dir, ("documents",))
    return cached(
        (spark.sparkContext.applicationId, "bpe_train", sf_dir, stamp),
        lambda: _bpe_train_build(spark, sf_dir),
    )


def _bpe_train_build(spark: SparkSession, sf_dir: str) -> tuple:
    wrap_chars = F.concat_ws(
        "",
        F.transform(
            F.split(F.col("w"), ""),
            lambda c: F.concat(F.lit(_BPE_W1), c, F.lit(_BPE_W2)),
        ),
    )
    words = _bpe_wfreq(spark, sf_dir).select(
        "w",
        "freq",
        F.concat(wrap_chars, F.lit(_BPE_W1 + "_" + _BPE_W2)).alias("repr"),
    )
    words = rolling_persist(spark, ("bpe_words", sf_dir), words)

    merges = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        pc = (
            words.select("freq", F.explode(_bpe_pairs(_bpe_sym(F.col("repr")))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        )
        row = pc.orderBy(F.desc("pair_count"), F.asc("pair")).limit(1).collect()[0]
        lhs, rhs = row["pair"].split(" ")
        merges.append((rnd, lhs, rhs, lhs + rhs, row["pair_count"]))
        words = words.withColumn(
            "repr",
            F.replace(
                "repr",
                F.lit(_BPE_W1 + lhs + _BPE_W2 + _BPE_W1 + rhs + _BPE_W2),
                F.lit(_BPE_W1 + lhs + rhs + _BPE_W2),
            ),
        )
    final_words = rolling_persist(spark, ("bpe_final", sf_dir), words)
    return merges, final_words


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table: one row per training round with the
    winning pair and its corpus frequency at the time it won (ties
    broken by pair string — deterministic cross-engine)."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "round int, lhs string, rhs string, merged string, pair_count bigint"
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the trained BPE merges: per document, the
    whitespace/pre-token count and the post-merge BPE token count.

    Scale shape: docs explode to (doc_id, w, cnt) once; the vocab's
    final representation joins in by word (hash join on the
    vocab-sized side — never re-tokenizes per round) and the per-doc
    rollup is a plain sum. Compression ratio rounded 4dp."""
    _, final_words = _bpe_train(spark, sf_dir)
    docs = load_table_parallel(spark, sf_dir, "documents")
    dw = (
        docs.select(
            "doc_id",
            F.explode(F.regexp_extract_all(norm_col(), F.lit(_BPE_RE), 0)).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = final_words.select("w", F.size(_bpe_sym(F.col("repr"))).alias("n_sym"))
    return (
        dw.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint").alias("n_bpe_tokens"),
        )
        .withColumn(
            "bpe_per_word",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 4),
        )
    )


QUERIES["bpe_train_merges"] = bpe_train_merges
QUERIES["bpe_encode"] = bpe_encode


def _bpe_cte(rounds: int) -> str:
    """Unrolled-CTE replay of the training loop for the DuckDB oracle:
    w0 is the wrapped vocab; each round r computes pair counts from
    w{r-1}, picks the argmax (count desc, pair asc), and applies the
    merge with the same sentinel-literal replace as the Spark side."""
    parts = [
        f"""
    wfreq AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_extract_all({_NORM}, '{_BPE_RE}')) AS w
        FROM documents
      ) GROUP BY w
    ),
    w0 AS (
      SELECT w, freq,
             chr(1) || array_to_string(string_split(w, ''), chr(2)||chr(1))
                    || chr(2) || chr(1) || '_' || chr(2) AS repr
      FROM wfreq
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    p{r} AS (
      SELECT s[i] || ' ' || s[i+1] AS pair, SUM(freq)::BIGINT AS pair_count
      FROM (
        SELECT string_split(substring(repr, 2, length(repr)-2), chr(2)||chr(1)) AS s,
               freq
        FROM w{r-1}
      ), LATERAL unnest(generate_series(1, len(s)-1)) AS t(i)
      GROUP BY 1
    ),
    b{r} AS (
      SELECT pair, pair_count,
             split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs
      FROM p{r} ORDER BY pair_count DESC, pair LIMIT 1
    ),
    w{r} AS (
      SELECT w, freq,
             replace(repr, chr(1)||lhs||chr(2)||chr(1)||rhs||chr(2),
                           chr(1)||lhs||rhs||chr(2)) AS repr
      FROM w{r-1}, b{r}
    )""")
    return ",".join(parts)


ORACLES["bpe_train_merges"] = (
    "WITH "
    + _bpe_cte(BPE_MERGE_ROUNDS)
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {r}::INT AS round, lhs, rhs, lhs || rhs AS merged, pair_count FROM b{r}"
        for r in range(1, BPE_MERGE_ROUNDS + 1)
    )
    + "\n    ORDER BY round"
)

ORACLES["bpe_encode"] = (
    "WITH "
    + _bpe_cte(BPE_MERGE_ROUNDS)
    + f""",
    dw AS (
      SELECT doc_id, w, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(regexp_extract_all({_NORM}, '{_BPE_RE}')) AS w
        FROM documents
      ) GROUP BY doc_id, w
    ),
    vocab AS (
      SELECT w, len(string_split(substring(repr, 2, length(repr)-2),
                                 chr(2)||chr(1))) AS n_sym
      FROM w{BPE_MERGE_ROUNDS}
    )
    SELECT doc_id,
           SUM(cnt)::BIGINT AS n_words,
           SUM(cnt * n_sym)::BIGINT AS n_bpe_tokens,
           ROUND(SUM(cnt * n_sym)::DOUBLE / SUM(cnt), 4) AS bpe_per_word
    FROM dw JOIN vocab USING (w)
    GROUP BY doc_id
"""
)


# ---------------------------------------------------------------------------
# r05: count-min sketch heavy hitters — deterministic, oracle-replayable
# ---------------------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 256  # buckets per row
CM_TOPK = 20


def _cm_bucket(j: int, w_col: Column) -> Column:
    h = F.md5(F.concat(F.lit(f"cm{j}|"), w_col))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CM_W


def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimates, checked against exact counts for the corpus's top-K
    words. The sketch is md5-salted and therefore bit-identical in
    DuckDB — the whole d×w cell table AND every estimate hash-check.

    Scale shape: the corpus pass is ONE word-count groupBy (map-side
    combine); sketch cells are built from the AGGREGATED vocab, not by
    re-exploding the corpus d times, so sketch construction is
    O(vocab × d) and the finished sketch (≤ d·w = 1024 cells) is a
    broadcast join against the candidate probes. is_overestimate is
    the CM guarantee (est ≥ exact, provable) — emitted so the driver's
    hash check pins the accuracy contract row-by-row."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(norm_col(), " ")).alias("w")).filter(
        F.col("w") != ""
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wc = rolling_persist(spark, ("cm_wc", sf_dir), wc)

    cells = None
    for j in range(CM_D):
        c = wc.select(
            F.lit(j).alias("j"), _cm_bucket(j, F.col("w")).alias("bucket"), "cnt"
        )
        cells = c if cells is None else cells.unionAll(c)
    sketch = cells.groupBy("j", "bucket").agg(F.sum("cnt").alias("cell"))

    cand = wc.orderBy(F.desc("cnt"), F.asc("w")).limit(CM_TOPK)
    probes = None
    for j in range(CM_D):
        p = cand.select(
            "w", "cnt", F.lit(j).alias("j"), _cm_bucket(j, F.col("w")).alias("bucket")
        )
        probes = p if probes is None else probes.unionAll(p)
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("w", "cnt")
        .agg(F.min("cell").cast("bigint").alias("cm_estimate"))
    )
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("w"))
    return est.select(
        F.row_number().over(w_rank).cast("int").alias("rank"),
        "w",
        F.col("cnt").alias("exact_count"),
        "cm_estimate",
        (F.col("cm_estimate") >= F.col("cnt")).alias("is_overestimate"),
    )


QUERIES["sketch_countmin_topk"] = sketch_countmin_topk

_CM_BUCKET_SQL = (
    "CAST(('0x' || substring(md5('cm' || j::VARCHAR || '|' || w), 1, 8)) AS BIGINT) % "
    + str(CM_W)
)

ORACLES["sketch_countmin_topk"] = f"""
    WITH wc AS (
      SELECT w, COUNT(*)::BIGINT AS cnt FROM (
        SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    cells AS (
      SELECT j, {_CM_BUCKET_SQL} AS bucket, cnt
      FROM wc, (SELECT unnest(generate_series(0, {CM_D - 1})) AS j)
    ),
    sketch AS (
      SELECT j, bucket, SUM(cnt) AS cell FROM cells GROUP BY j, bucket
    ),
    cand AS (
      SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT {CM_TOPK}
    ),
    probes AS (
      SELECT w, cnt, j, {_CM_BUCKET_SQL} AS bucket
      FROM cand, (SELECT unnest(generate_series(0, {CM_D - 1})) AS j)
    ),
    est AS (
      SELECT w, cnt, MIN(cell)::BIGINT AS cm_estimate
      FROM probes JOIN sketch USING (j, bucket)
      GROUP BY w, cnt
    )
    SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, w)::INT AS rank,
           w, cnt AS exact_count, cm_estimate,
           cm_estimate >= cnt AS is_overestimate
    FROM est
    ORDER BY rank
"""


# ---------------------------------------------------------------------------
# r05: blocked fuzzy matching — OCR-token spellfix against the vocab
# ---------------------------------------------------------------------------

SPELLFIX_SAMPLE_MOD = 2  # 1-in-2 vocab words become corrupted probes
SPELLFIX_MAX_DIST = 2


def text_ocr_spellfix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution-style blocked fuzzy match: OCR-damaged tokens
    (a deterministic 1-char deletion stands in for scanner noise, the
    city-directories failure mode per city-directories.js:170-259's
    messy-line handling) are matched back to the corpus vocabulary by
    levenshtein distance.

    Scale shape: NEVER probes × vocab — candidates are blocked on
    (first char, ±1 length band), the standard ER blocking key, so the
    join is per-block; edit distance (JVM levenshtein, identical
    algorithm in DuckDB) scores only in-block candidates and the
    argmin is a groupBy min-struct, not a window over the cross
    product."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.regexp_extract_all(norm_col(), F.lit("[a-z]+"), 0)).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    vocab = rolling_persist(spark, ("spellfix_vocab", sf_dir), vocab)
    probes = (
        vocab.filter(
            (F.length("w") >= 4)
            & (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % SPELLFIX_SAMPLE_MOD
                == 0
            )
        )
        .select(
            F.col("w").alias("orig"),
            F.concat(F.substring("w", 1, 1), F.expr("substring(w, 3)")).alias("tok"),
        )
    )
    cand = (
        probes.join(
            vocab.select(F.col("w").alias("v")),
            (F.substring(F.col("tok"), 1, 1) == F.substring(F.col("v"), 1, 1))
            & (
                F.abs(F.length(F.col("tok")) - F.length(F.col("v")))
                <= F.lit(1)
            ),
        )
        .withColumn("dist", F.levenshtein("tok", "v"))
        .filter(F.col("dist") <= SPELLFIX_MAX_DIST)
    )
    best = cand.groupBy("tok", "orig").agg(
        F.min(F.struct(F.col("dist"), F.col("v"))).alias("b")
    )
    return best.select(
        "tok",
        "orig",
        F.col("b.v").alias("best_match"),
        F.col("b.dist").cast("int").alias("dist"),
        (F.col("b.v") == F.col("orig")).alias("recovered"),
    ).orderBy("tok", "orig")


QUERIES["text_ocr_spellfix"] = text_ocr_spellfix

ORACLES["text_ocr_spellfix"] = f"""
    WITH vocab AS (
      SELECT w, COUNT(*)::BIGINT AS freq FROM (
        SELECT unnest(regexp_extract_all({_NORM}, '[a-z]+')) AS w
        FROM documents
      ) GROUP BY w
    ),
    probes AS (
      SELECT w AS orig,
             substring(w, 1, 1) || substring(w, 3) AS tok
      FROM vocab
      WHERE length(w) >= 4
        AND CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)
            % {SPELLFIX_SAMPLE_MOD} = 0
    ),
    cand AS (
      SELECT p.tok, p.orig, v.w AS v, levenshtein(p.tok, v.w) AS dist
      FROM probes p JOIN vocab v
        ON substring(p.tok, 1, 1) = substring(v.w, 1, 1)
       AND abs(length(p.tok) - length(v.w)) <= 1
      WHERE levenshtein(p.tok, v.w) <= {SPELLFIX_MAX_DIST}
    ),
    best AS (
      SELECT tok, orig, v, dist,
             ROW_NUMBER() OVER (
               PARTITION BY tok, orig ORDER BY dist, v
             ) AS rn
      FROM cand
    )
    SELECT tok, orig, v AS best_match, dist::INT AS dist,
           v = orig AS recovered
    FROM best WHERE rn = 1
    ORDER BY tok, orig
"""


# ---------------------------------------------------------------------------
# r05: weighted reservoir sampling (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

WRES_K = 100


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (Efraimidis & Spirakis 2006): each doc
    draws a deterministic md5-uniform u and is ranked by ln(u)/weight
    (monotone-equivalent to the paper's u^(1/w) key) — top-K by key is
    an exact weighted-without-replacement sample.

    Scale shape: one map-side key expression + TakeOrderedAndProject,
    the same no-global-sort path as the unweighted reservoir; rerun-
    and engine-stable because u is a pure function of doc_id. Weight =
    n_chars (longer docs proportionally likelier), doc_id tiebreak."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars").cast("double")
    ranked = (
        docs.select("doc_id", F.col("n_chars").alias("weight"), key.alias("k"))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(WRES_K)
    )
    w_rank = Window.orderBy(F.desc("k"), F.asc("doc_id"))
    return ranked.select(
        F.row_number().over(w_rank).cast("int").alias("rank"),
        "doc_id",
        "weight",
    )


QUERIES["sample_weighted_reservoir"] = sample_weighted_reservoir

ORACLES["sample_weighted_reservoir"] = f"""
    WITH keyed AS (
      SELECT doc_id, n_chars AS weight,
             ln((CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT)::DOUBLE
                 + 0.5) / 4294967296.0) / n_chars::DOUBLE AS k
      FROM documents
    )
    SELECT ROW_NUMBER() OVER (ORDER BY k DESC, doc_id)::INT AS rank,
           doc_id, weight
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {WRES_K}
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char).

    A cheap complementary quality signal to text_repetition_stats:
    mojibake, base64 blobs and key-mash have entropy far from the
    ~4.1-bit English band, so the corpus funnel can gate on it without
    tokenizing. H = (ln n - (1/n) * sum c*ln c) / ln 2 over per-doc
    character counts. The float sum is ORDER-FIXED — counts are
    collected sorted by character and folded sequentially (same
    discipline as the PCA fold), so Spark's aggregate and DuckDB's
    list_reduce see term-identical additions. Shuffles are per-doc
    keyed and O(distinct chars) per doc; everything else is map-side.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counts = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.array_sort(F.collect_list(F.struct("ch", "c"))).alias("cs"),
    )
    s_term = F.aggregate(
        F.transform(
            F.col("cs"), lambda x: x["c"].cast("double") * F.log(x["c"])
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return per_doc.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.round(
            (F.log(F.col("n")) - s_term / F.col("n")) / F.log(F.lit(2.0)), 4
        ).alias("entropy_bits"),
    ).orderBy("doc_id")


QUERIES["text_char_entropy"] = text_char_entropy

ORACLES["text_char_entropy"] = """
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    cnt AS (
      SELECT doc_id, ch, COUNT(*)::BIGINT AS c
      FROM ch WHERE ch <> '' GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct,
             list(c ORDER BY ch) AS cs
      FROM cnt GROUP BY 1
    )
    SELECT doc_id,
           n::BIGINT AS n_chars,
           n_distinct::BIGINT AS n_distinct,
           ROUND((ln(n) - list_reduce(
                    list_transform(cs, c -> c::DOUBLE * ln(c)),
                    (a, b) -> a + b) / n) / ln(2), 4) AS entropy_bits
    FROM agg ORDER BY doc_id
"""


def udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking through a Python UDTF (Spark
    3.5+ API) — the table-function escape hatch for per-row
    one-to-many logic, here the RAG/pretraining context-window pattern
    (W-word windows at stride S, so consecutive chunks overlap W-S
    words). The UDTF runs Arrow-batched on executors and joins
    LATERALly, so the ~8x fan-out stays distributed — no collect, no
    driver-built column. The windowing rule is deliberately
    SQL-replicable, so even this Python path keeps a DuckDB oracle;
    contrast text_chunk, which emits NON-overlapping fixed spans with
    pure JVM expressions.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="win_idx int, n_words int, chunk string")
    class _WinChunk:
        def eval(self, text: str):
            words = text.split(" ")
            for idx, start in enumerate(
                range(0, len(words), UDTF_CHUNK_STRIDE)
            ):
                w = words[start : start + UDTF_CHUNK_WORDS]
                yield idx, len(w), " ".join(w)

    name = "win_chunk_udtf"
    spark.udtf.register(name, _WinChunk)
    docs = load_table_parallel(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        f"""
        SELECT d.doc_id, s.win_idx, s.n_words, s.chunk
        FROM _udtf_docs d, LATERAL {name}(d.text) s
        ORDER BY d.doc_id, s.win_idx
        """
    )


UDTF_CHUNK_WORDS = 32
UDTF_CHUNK_STRIDE = 16


QUERIES["udtf_chunk_windows"] = udtf_chunk_windows

ORACLES["udtf_chunk_windows"] = f"""
    WITH parts AS (
      SELECT doc_id, string_split(text, ' ') AS p FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             unnest([{{'idx': (i // {UDTF_CHUNK_STRIDE}),
                      'w': p[i + 1 : least(i + {UDTF_CHUNK_WORDS}, len(p))]}}
                     FOR i IN generate_series(0, len(p) - 1,
                                              {UDTF_CHUNK_STRIDE})]) AS u
      FROM parts
    )
    SELECT doc_id,
           (u.idx)::INT AS win_idx,
           len(u.w)::INT AS n_words,
           array_to_string(u.w, ' ') AS chunk
    FROM exploded
    ORDER BY doc_id, win_idx
"""


BIGRAM_LAMBDA = "0.75"  # interpolation weight as a literal (exact parse)


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM surprisal per document.

    One step up from text_unigram_logprob toward the KenLM-style
    perplexity filter (CCNet, Wenzek et al. 2020): P(w|prev) =
    0.75 * c(prev,w)/c(prev,*) + 0.25 * (c(w)+1)/(N+V) — bigram MLE
    backed off to the add-1 unigram. Mean -ln P over a doc's bigrams
    flags garbage that unigram stats miss (shuffled word salad scores
    high here, normal here).

    Scale shape: bigram extraction is ONE lag window per doc (shuffle
    keyed on doc_id, a single corpus pass); the bigram and context
    tables join back SHUFFLE-keyed on their own keys — at 100 TB the
    bigram vocabulary is far too large to broadcast, and nothing
    here assumes it fits anywhere. Only the O(V) unigram table
    broadcasts. Per-bigram surprisals are quantized to DECIMAL(18,8)
    before the per-doc sum so accumulation order cannot perturb a
    bit in either engine.
    """
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_words(norm_col())).alias("pos", "w")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = toks.select(
        "doc_id",
        F.lag("w").over(w_doc).alias("w1"),
        F.col("w").alias("w2"),
    ).filter(F.col("w1").isNotNull())
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bcnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    wv = Window.partitionBy()
    uni = uni.select(
        F.col("w").alias("w2"),
        "cu",
        F.sum("cu").over(wv).alias("n_tok"),
        F.count(F.lit(1)).over(wv).alias("v_size"),
    )
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(ctx, "w1")
        .join(F.broadcast(uni), "w2")
    )
    p = F.expr(
        f"{BIGRAM_LAMBDA} * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))"
        f" + (1 - {BIGRAM_LAMBDA})"
        " * (CAST(cu + 1 AS DOUBLE) / CAST(n_tok + v_size AS DOUBLE))"
    )
    return (
        scored.select("doc_id", (-F.log(p)).cast("decimal(18,8)").alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mean_surprisal"),
        )
    )


QUERIES["text_bigram_logprob"] = text_bigram_logprob

ORACLES["text_bigram_logprob"] = f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM (SELECT doc_id, {_W} AS ws FROM documents)
    ),
    big AS (
      SELECT doc_id,
             LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             w AS w2
      FROM toks
      QUALIFY w1 IS NOT NULL
    ),
    bcnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM bcnt GROUP BY 1),
    uni AS (
      SELECT w AS w2, COUNT(*) AS cu,
             SUM(COUNT(*)) OVER () AS n_tok,
             COUNT(*) OVER () AS v_size
      FROM toks GROUP BY w
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND((SUM((-ln({BIGRAM_LAMBDA}
                           * (c12::DOUBLE / c1::DOUBLE)
                           + (1 - {BIGRAM_LAMBDA})
                           * ((cu + 1)::DOUBLE
                              / (n_tok + v_size)::DOUBLE))
                      )::DECIMAL(18,8)))::DOUBLE / COUNT(*), 4)
             AS mean_surprisal
    FROM big b
    JOIN bcnt USING (w1, w2)
    JOIN ctx USING (w1)
    JOIN uni USING (w2)
    GROUP BY b.doc_id
"""


# ---------------------------------------------------------------------------
# r05 batch 3: BPE vocab coverage, Kneser-Ney bigram LM, lang-ID audit
# ---------------------------------------------------------------------------

def bpe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility distribution after the trained BPE merges.

    THE go/no-go readout for a tokenizer at corpus scale: how many
    symbols does each word cost after BPE_MERGE_ROUNDS merges? Groups
    the trained vocab (shared _bpe_train memo — training is paid once
    per session, also serving bpe_train_merges/bpe_encode) by
    symbols-per-word and weights by corpus token frequency: one row
    per fertility level with word-type count, token mass, and token
    share. Fully-merged share (n_symbols=1+the _ end marker) is what
    the vocab "covers"; a fat tail of high-fertility words is wasted
    sequence length at training time. O(vocab) work after the shared
    training pass — the corpus is never re-read.
    """
    _, final_words = _bpe_train(spark, sf_dir)
    sized = final_words.select(
        "freq", F.size(_bpe_sym(F.col("repr"))).alias("n_symbols")
    )
    per_level = sized.groupBy("n_symbols").agg(
        F.count(F.lit(1)).alias("n_word_types"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
    )
    wv = Window.partitionBy()
    return (
        per_level.select(
            F.col("n_symbols").cast("bigint").alias("n_symbols"),
            "n_word_types",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double")
                / F.sum("n_tokens").over(wv).cast("double"),
                6,
            ).alias("token_share"),
        )
        .orderBy("n_symbols")
    )


QUERIES["bpe_vocab_coverage"] = bpe_vocab_coverage

ORACLES["bpe_vocab_coverage"] = (
    "WITH "
    + _bpe_cte(BPE_MERGE_ROUNDS)
    + f""",
    sized AS (
      SELECT freq,
             len(string_split(substring(repr, 2, length(repr)-2),
                              chr(2)||chr(1))) AS n_symbols
      FROM w{BPE_MERGE_ROUNDS}
    ),
    per_level AS (
      SELECT n_symbols, COUNT(*)::BIGINT AS n_word_types,
             SUM(freq)::BIGINT AS n_tokens
      FROM sized GROUP BY 1
    )
    SELECT n_symbols::BIGINT AS n_symbols, n_word_types, n_tokens,
           ROUND(n_tokens::DOUBLE / SUM(n_tokens) OVER ()::DOUBLE, 6)
             AS token_share
    FROM per_level ORDER BY n_symbols
"""
)


# Kneser-Ney absolute discount: 0.75 = 3/4 is exact in binary, so the
# discounted probability is rational until the final ln().
KN_DISCOUNT = 0.75


def text_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram surprisal per document.

    The canonical LM smoothing (Kneser & Ney 1995; Chen & Goodman
    1999's benchmark winner), one step past text_bigram_logprob's
    simple interpolation: P(w2|w1) = max(c12 - d, 0)/c1 +
    d·N1+(w1,·)/c1 · P_cont(w2), where the continuation probability
    P_cont(w2) = N1+(·,w2)/|bigram types| ranks words by how many
    DISTINCT contexts they follow — the "San Francisco" fix (frequent
    but context-locked words stop leaking probability). d = 0.75 is
    exact in binary, so everything is rational until one final ln per
    bigram, quantized to DECIMAL(18,8) before the per-doc sum.

    Scale shape mirrors text_bigram_logprob: one lag window keyed on
    doc_id, count tables shuffle on their own keys (never broadcast —
    the bigram vocabulary outgrows any executor at 100 TB), and the
    two KN-specific tables (distinct continuations per context,
    distinct predecessors per word) are one groupBy each over the
    ALREADY-AGGREGATED bigram table, O(bigram types) not O(corpus).
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_words(norm_col())).alias("pos", "w")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = toks.select(
        "doc_id",
        F.lag("w").over(w_doc).alias("w1"),
        F.col("w").alias("w2"),
    ).filter(F.col("w1").isNotNull())
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bcnt.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_after")
    )
    wv = Window.partitionBy()
    cont = bcnt.groupBy("w2").agg(F.count(F.lit(1)).alias("n_before"))
    cont = cont.select("w2", "n_before", F.sum("n_before").over(wv).alias("b_types"))
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
    )
    p = F.expr(
        f"greatest(CAST(c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0) / CAST(c1 AS DOUBLE)"
        f" + ({KN_DISCOUNT} * CAST(n_after AS DOUBLE) / CAST(c1 AS DOUBLE))"
        " * (CAST(n_before AS DOUBLE) / CAST(b_types AS DOUBLE))"
    )
    return (
        scored.select("doc_id", (-F.log(p)).cast("decimal(18,8)").alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mean_kn_surprisal"),
        )
    )


QUERIES["text_kneser_ney_logprob"] = text_kneser_ney_logprob

ORACLES["text_kneser_ney_logprob"] = f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM (SELECT doc_id, {_W} AS ws FROM documents)
    ),
    big AS (
      SELECT doc_id,
             LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             w AS w2
      FROM toks
      QUALIFY w1 IS NOT NULL
    ),
    bcnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
    ctx AS (
      SELECT w1, SUM(c12) AS c1, COUNT(*) AS n_after FROM bcnt GROUP BY 1
    ),
    cont AS (
      SELECT w2, COUNT(*) AS n_before,
             SUM(COUNT(*)) OVER () AS b_types
      FROM bcnt GROUP BY w2
    )
    SELECT b.doc_id, COUNT(*)::BIGINT AS n_bigrams,
           ROUND(SUM(CAST(-ln(
             greatest(CAST(c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0)
               / CAST(c1 AS DOUBLE)
             + ({KN_DISCOUNT} * CAST(n_after AS DOUBLE) / CAST(c1 AS DOUBLE))
               * (CAST(n_before AS DOUBLE) / CAST(b_types AS DOUBLE))
           ) AS DECIMAL(18,8)))::DOUBLE / COUNT(*)::DOUBLE, 4)
             AS mean_kn_surprisal
    FROM big b
    JOIN bcnt USING (w1, w2)
    JOIN ctx USING (w1)
    JOIN cont USING (w2)
    GROUP BY b.doc_id
"""


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID audit: confusion matrix of predicted vs labeled lang.

    The eval-side companion of text_lang_id — every model-derived
    label in a corpus pipeline needs exactly this rollup before anyone
    trusts a lang filter. Reuses the classifier expression (same
    stopword-hit argmax, same tie order) and collapses the per-doc
    verdicts into (actual, predicted) cells with per-actual row share.
    O(langs²) output from one corpus pass; the rollup rides the same
    map-side partial aggregation as any low-cardinality groupBy.
    """
    verdicts = text_lang_id(spark, sf_dir).select("lang", "pred_lang")
    cells = verdicts.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wr = Window.partitionBy("lang")
    return (
        cells.select(
            F.col("lang").alias("actual_lang"),
            "pred_lang",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(wr).cast("double"),
                6,
            ).alias("row_share"),
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
        .orderBy("actual_lang", "pred_lang")
    )


QUERIES["text_langid_confusion"] = text_langid_confusion


ORACLES["text_langid_confusion"] = f"""
    WITH verdicts AS ({ORACLES['text_lang_id']}),
    cells AS (
      SELECT lang AS actual_lang, pred_lang, COUNT(*)::BIGINT AS n_docs
      FROM verdicts GROUP BY 1, 2
    )
    SELECT actual_lang, pred_lang, n_docs,
           ROUND(n_docs::DOUBLE / SUM(n_docs)
                 OVER (PARTITION BY actual_lang)::DOUBLE, 6) AS row_share,
           actual_lang = pred_lang AS is_correct
    FROM cells ORDER BY actual_lang, pred_lang
"""


def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: TTR, hapax share, top-word mass.

    The corpus-linguistics quality trio a repetition filter can't see:
    type-token ratio (distinct words / words), hapax legomena share
    (words occurring once — low = template/spam), and the mass of the
    single most frequent word (high = keyword stuffing). One explode +
    per-(doc, word) count + per-doc rollup — the same doc_id-keyed
    single shuffle as every per-doc text op, exact integers until the
    final ROUND 4 divides.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(_words(norm_col())).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.max("c").alias("top_count"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_types").cast("bigint").alias("n_types"),
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            4,
        ).alias("ttr"),
        F.round(
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
            4,
        ).alias("hapax_share"),
        F.round(
            F.col("top_count").cast("double") / F.col("n_tokens").cast("double"),
            4,
        ).alias("top_word_mass"),
    ).orderBy("doc_id")


QUERIES["text_lexical_diversity"] = text_lexical_diversity

ORACLES["text_lexical_diversity"] = f"""
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM (
        SELECT doc_id, unnest({_W}) AS w FROM documents
      ) GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax,
             MAX(c) AS top_count
      FROM wc GROUP BY 1
    )
    SELECT doc_id,
           n_tokens::BIGINT AS n_tokens,
           n_types::BIGINT AS n_types,
           ROUND(n_types::DOUBLE / n_tokens::DOUBLE, 4) AS ttr,
           ROUND(n_hapax::DOUBLE / n_types::DOUBLE, 4) AS hapax_share,
           ROUND(top_count::DOUBLE / n_tokens::DOUBLE, 4) AS top_word_mass
    FROM per_doc ORDER BY doc_id
"""


ZIPF_TOP_RANKS = 100


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope of the corpus word-frequency distribution.

    Natural corpora fit log(freq) ≈ a − s·log(rank) with s ≈ 1;
    machine-generated or heavily-templated corpora bend away — the
    quickest whole-corpus authenticity check there is. Ranks come from
    the exact global word counts (count desc, word asc tiebreak);
    the OLS over the top-100 (rank, freq) pairs runs in log space with
    every log quantized to DECIMAL(18,8) BEFORE the sufficient sums
    (the repo's transcendental-function discipline), closed-form slope
    with one double divide. The corpus collapses to O(vocab) counts in
    one pass; the fit input is 100 rows.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_words(norm_col())).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    top = counts.select(
        F.row_number().over(w_rank).alias("rank"), "c"
    ).filter(F.col("rank") <= ZIPF_TOP_RANKS)
    logged = top.select(
        F.log(F.col("rank").cast("double")).cast("decimal(18,8)").alias("lx"),
        F.log(F.col("c").cast("double")).cast("decimal(18,8)").alias("ly"),
    )
    suff = logged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(38,16)")).alias("sxx"),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(38,16)")).alias("sxy"),
    )
    return suff.selectExpr(
        "CAST(n AS BIGINT) AS n_ranks",
        "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope",
        "ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE), 6) AS log_intercept",
    )


QUERIES["text_zipf_slope"] = text_zipf_slope

ORACLES["text_zipf_slope"] = f"""
    WITH counts AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest({_W}) AS w FROM documents
      ) GROUP BY 1
    ),
    top AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank, c
      FROM counts QUALIFY rank <= {ZIPF_TOP_RANKS}
    ),
    logged AS (
      SELECT CAST(ln(rank::DOUBLE) AS DECIMAL(18,8)) AS lx,
             CAST(ln(c::DOUBLE) AS DECIMAL(18,8)) AS ly
      FROM top
    ),
    suff AS (
      SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
             SUM(CAST(lx * lx AS DECIMAL(38,16))) AS sxx,
             SUM(CAST(lx * ly AS DECIMAL(38,16))) AS sxy
      FROM logged
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS log_intercept
    FROM suff
"""


HEAPS_BUCKET_DOCS = 50


def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law) over the corpus in doc order.

    Zipf's companion diagnostic: natural corpora grow vocabulary like
    V(n) ≈ K·n^β with β ≈ 0.4–0.6; templated or looped generations
    flatline early. Each word charges its FIRST-occurrence doc (one
    min per word — O(vocab) rows), first-docs bucket by
    HEAPS_BUCKET_DOCS, and a running sum over the bucket grid yields
    cumulative vocabulary alongside cumulative tokens — both exact
    integers, shares ROUND 6. One corpus pass + O(buckets) windows.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_words(norm_col())).alias("w"))
    firsts = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    bucket = (F.col("first_doc") / HEAPS_BUCKET_DOCS).cast("long")
    new_per_bucket = firsts.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    tok_bucket = (F.col("doc_id") / HEAPS_BUCKET_DOCS).cast("long")
    toks_per_bucket = toks.groupBy(tok_bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    grid = toks_per_bucket.join(new_per_bucket, "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("new_words", F.lit(0)).alias("new_words"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return grid.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("new_words").cast("bigint").alias("new_words"),
        F.sum("new_words").over(wc).cast("bigint").alias("cum_vocab"),
        F.sum("n_tokens").over(wc).cast("bigint").alias("cum_tokens"),
        F.round(
            F.sum("new_words").over(wc).cast("double")
            / F.sum("n_tokens").over(wc).cast("double"),
            6,
        ).alias("vocab_per_token"),
    ).orderBy("bucket")


QUERIES["text_heaps_law"] = text_heaps_law

ORACLES["text_heaps_law"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_W}) AS w FROM documents
    ),
    firsts AS (
      SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY 1
    ),
    new_per_bucket AS (
      SELECT first_doc // {HEAPS_BUCKET_DOCS} AS bucket,
             COUNT(*) AS new_words
      FROM firsts GROUP BY 1
    ),
    toks_per_bucket AS (
      SELECT doc_id // {HEAPS_BUCKET_DOCS} AS bucket, COUNT(*) AS n_tokens
      FROM toks GROUP BY 1
    ),
    grid AS (
      SELECT t.bucket, t.n_tokens, COALESCE(n.new_words, 0) AS new_words
      FROM toks_per_bucket t LEFT JOIN new_per_bucket n USING (bucket)
    )
    SELECT bucket::BIGINT AS bucket,
           new_words::BIGINT AS new_words,
           (SUM(new_words) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             AS cum_vocab,
           (SUM(n_tokens) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             AS cum_tokens,
           ROUND(SUM(new_words) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
                 / SUM(n_tokens) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE,
                 6) AS vocab_per_token
    FROM grid ORDER BY bucket
"""


def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources.

    The domain-similarity matrix mixture planners read before setting
    sampling weights (near-duplicate sources waste budget; disjoint
    ones need their own quality gates). Each source collapses to its
    distinct word set once — O(Σ per-source vocab) rows, never
    corpus² — pair intersections come from ONE self-join on the word
    key, and union sizes derive as |A| + |B| − |A∩B| from the
    broadcast per-source totals. Upper-triangle output, exact
    integers, one ROUND 6.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    sv = (
        docs.select("source", F.explode(_words(norm_col())).alias("w"))
        .distinct()
    )
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = sv.select(F.col("source").alias("src_a"), "w")
    b = sv.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("v").alias("va")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("v").alias("vb")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("va").cast("bigint").alias("vocab_a"),
            F.col("vb").cast("bigint").alias("vocab_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


QUERIES["text_source_vocab_overlap"] = text_source_vocab_overlap

ORACLES["text_source_vocab_overlap"] = f"""
    WITH sv AS (
      SELECT DISTINCT source, w FROM (
        SELECT source, unnest({_W}) AS w FROM documents
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS v FROM sv GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           sa.v::BIGINT AS vocab_a, sb.v::BIGINT AS vocab_b,
           n_common::BIGINT AS n_common,
           ROUND(n_common::DOUBLE / (sa.v + sb.v - n_common)::DOUBLE, 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = inter.src_a
    JOIN sizes sb ON sb.source = inter.src_b
    ORDER BY src_a, src_b
"""


def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact document-length percentiles per source.

    The first fact on any new corpus source's dataset card: the
    length distribution (min / p25 / median / p90 / max chars). The
    closed-form rank rule (row_number vs ceil(q·n), doc_id tiebreak)
    shared across the repo's percentile ops keeps it bit-stable; one
    shuffle on source, O(docs) narrow rows.
    """
    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max(
                F.when(F.col("rn") == F.ceil(F.col("n") / 4), F.col("n_chars"))
            ).alias("p25_chars"),
            F.max(
                F.when(F.col("rn") == F.ceil(F.col("n") / 2), F.col("n_chars"))
            ).alias("median_chars"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * 9 / 10), F.col("n_chars")
                )
            ).alias("p90_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


QUERIES["text_length_percentiles"] = text_length_percentiles

ORACLES["text_length_percentiles"] = """
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source,
           MAX(n)::BIGINT AS n_docs,
           MIN(n_chars)::BIGINT AS min_chars,
           MAX(CASE WHEN rn = CEIL(n / 4.0) THEN n_chars END)::BIGINT
             AS p25_chars,
           MAX(CASE WHEN rn = CEIL(n / 2.0) THEN n_chars END)::BIGINT
             AS median_chars,
           MAX(CASE WHEN rn = CEIL(n * 9 / 10.0) THEN n_chars END)::BIGINT
             AS p90_chars,
           MAX(n_chars)::BIGINT AS max_chars
    FROM ranked GROUP BY source ORDER BY source
"""


def text_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram LMs.

    The distributional companion to text_source_vocab_overlap:
    overlap asks "same words?", JS asks "same word FREQUENCIES?" —
    templated mirrors score ≈0 nats, disjoint domains approach ln 2.
    Per-source unigram probabilities are exact count ratios; each
    p·ln(p/m) term (m = the pairwise mixture) quantizes to
    DECIMAL(18,8) before the per-pair sum, per the repo's
    transcendental discipline. The word-keyed FULL join per pair is
    the same O(union vocab) shape as the overlap matrix — never
    corpus²; absent words contribute their closed-form
    0.5·p·ln 2 terms exactly.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(_words(norm_col())).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source", "w", (F.col("c").cast("double") / F.col("t").cast("double")).alias("p")
    )
    sources = totals.select("source")
    # register every (word, p) of source X into each pair (X, other):
    # the per-pair UNION vocabulary then falls out of one full outer
    # join on (pair, word) — absent-side words keep their 0.5·p·ln 2
    # mass instead of silently dropping with a NULL pair key
    left = (
        probs.crossJoin(
            F.broadcast(sources.select(F.col("source").alias("src_b")))
        )
        .filter(F.col("source") < F.col("src_b"))
        .select(
            F.col("source").alias("src_a"), "src_b", "w", F.col("p").alias("pa")
        )
    )
    right = (
        probs.crossJoin(
            F.broadcast(sources.select(F.col("source").alias("src_a")))
        )
        .filter(F.col("src_a") < F.col("source"))
        .select(
            "src_a", F.col("source").alias("src_b"), "w", F.col("p").alias("pb")
        )
    )
    pairs = left.join(right, ["src_a", "src_b", "w"], "full")
    pa = F.coalesce(F.col("pa"), F.lit(0.0))
    pb = F.coalesce(F.col("pb"), F.lit(0.0))
    m = (pa + pb) / 2
    term = (
        (
            F.when(pa > 0, 0.5 * pa * F.log(pa / m)).otherwise(F.lit(0.0))
            + F.when(pb > 0, 0.5 * pb * F.log(pb / m)).otherwise(F.lit(0.0))
        )
    ).cast("decimal(18,8)")
    return (
        pairs.select("src_a", "src_b", term.alias("t"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_union_words"),
            F.round(F.sum("t").cast("double"), 6).alias("js_divergence"),
        )
        .orderBy("src_a", "src_b")
    )


QUERIES["text_source_js_divergence"] = text_source_js_divergence

ORACLES["text_source_js_divergence"] = f"""
    WITH counts AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source, unnest({_W}) AS w FROM documents
      ) GROUP BY 1, 2
    ),
    totals AS (SELECT source, SUM(c) AS t FROM counts GROUP BY 1),
    probs AS (
      SELECT c.source, c.w, c.c::DOUBLE / t.t::DOUBLE AS p
      FROM counts c JOIN totals t USING (source)
    ),
    lefts AS (
      SELECT p.source AS src_a, t.source AS src_b, p.w, p.p AS pa
      FROM probs p JOIN totals t ON p.source < t.source
    ),
    rights AS (
      SELECT t.source AS src_a, p.source AS src_b, p.w, p.p AS pb
      FROM probs p JOIN totals t ON t.source < p.source
    ),
    pairs AS (
      SELECT COALESCE(l.src_a, r.src_a) AS src_a,
             COALESCE(l.src_b, r.src_b) AS src_b,
             COALESCE(l.pa, 0.0) AS pa, COALESCE(r.pb, 0.0) AS pb
      FROM lefts l FULL JOIN rights r
        ON r.src_a = l.src_a AND r.src_b = l.src_b AND r.w = l.w
    ),
    terms AS (
      SELECT src_a, src_b,
             CAST(
               CASE WHEN pa > 0
                    THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0.0 END
               + CASE WHEN pb > 0
                      THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0.0 END
               AS DECIMAL(18,8)) AS t
      FROM pairs
    )
    SELECT src_a, src_b,
           COUNT(*)::BIGINT AS n_union_words,
           ROUND((SUM(t))::DOUBLE, 6) AS js_divergence
    FROM terms GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- r06: readability + code-vs-prose detection ----------------------------

LONG_WORD_CHARS = 6  # LIX "long word" threshold
CODE_SYMBOL_RATIO = 0.05
CODE_DIGIT_RATIO = 0.30


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIX readability per document (Björnsson 1968): words/sentences
    + 100·longwords/words — the language-agnostic readability index
    (no syllable model, so it ports across the corpus' five langs).
    Sentence count falls back to 1 when a doc carries no [.!?]
    terminator (this corpus' synthetic docs mostly don't; real text
    hits the standard formula). Pure map pass: two integer ratios,
    one shared expression, ONE ROUND — bit-stable and shuffle-free at
    any scale.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = F.split(norm, " ")
    n_words = F.size(w)
    n_sent = F.greatest(
        F.lit(1),
        F.length(norm) - F.length(F.regexp_replace(norm, "[.!?]", "")),
    )
    n_long = F.size(F.filter(w, lambda x: F.length(x) > LONG_WORD_CHARS))
    lix = F.round(
        n_words.cast("double") / n_sent.cast("double")
        + F.lit(100.0) * n_long.cast("double") / n_words.cast("double"),
        4,
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_long.cast("bigint").alias("n_long_words"),
        lix.alias("lix_score"),
    )


def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose signal per document: symbol density (non-alnum,
    non-space chars) and digit density over the normalized text, with
    the keep/route flag a training-data pipeline uses to send code to
    a code-specific tokenizer. The flag compares the ROUNDED ratios
    against the thresholds so an engine's last-ulp division difference
    can never flip it. Map-only; no shuffle.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    n_chars = F.length(norm)
    n_sym = n_chars - F.length(F.regexp_replace(norm, "[^a-z0-9 ]", ""))
    n_dig = n_chars - F.length(F.regexp_replace(norm, "[0-9]", ""))
    sym_ratio = F.round(n_sym.cast("double") / n_chars.cast("double"), 4)
    dig_ratio = F.round(n_dig.cast("double") / n_chars.cast("double"), 4)
    return docs.select(
        "doc_id",
        sym_ratio.alias("symbol_ratio"),
        dig_ratio.alias("digit_ratio"),
        (
            (sym_ratio >= CODE_SYMBOL_RATIO) | (dig_ratio >= CODE_DIGIT_RATIO)
        ).alias("looks_like_code"),
    )


QUERIES["text_readability"] = text_readability
QUERIES["text_code_detect"] = text_code_detect

ORACLES["text_readability"] = f"""
    SELECT doc_id,
           len({_W})::BIGINT AS n_words,
           greatest(1, length({_NORM})
                       - length(regexp_replace({_NORM}, '[.!?]', '', 'g')))::BIGINT
             AS n_sentences,
           len(list_filter({_W}, x -> length(x) > {LONG_WORD_CHARS}))::BIGINT
             AS n_long_words,
           ROUND(len({_W})::DOUBLE
                 / greatest(1, length({_NORM})
                     - length(regexp_replace({_NORM}, '[.!?]', '', 'g')))::DOUBLE
                 + 100.0 * len(list_filter({_W}, x -> length(x) > {LONG_WORD_CHARS}))::DOUBLE
                   / len({_W})::DOUBLE, 4) AS lix_score
    FROM documents
"""

ORACLES["text_code_detect"] = f"""
    WITH m AS (
      SELECT doc_id,
             length({_NORM}) AS n_chars,
             length({_NORM})
               - length(regexp_replace({_NORM}, '[^a-z0-9 ]', '', 'g')) AS n_sym,
             length({_NORM})
               - length(regexp_replace({_NORM}, '[0-9]', '', 'g')) AS n_dig
      FROM documents
    )
    SELECT doc_id,
           ROUND(n_sym::DOUBLE / n_chars::DOUBLE, 4) AS symbol_ratio,
           ROUND(n_dig::DOUBLE / n_chars::DOUBLE, 4) AS digit_ratio,
           (ROUND(n_sym::DOUBLE / n_chars::DOUBLE, 4) >= {CODE_SYMBOL_RATIO}
            OR ROUND(n_dig::DOUBLE / n_chars::DOUBLE, 4) >= {CODE_DIGIT_RATIO})
             AS looks_like_code
    FROM m
"""


# --- r06 batch 2: per-source quality rollup ---------------------------------


def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-triage rollup: quality components aggregated per
    (source, lang) — the dashboard a curation team reads before
    deciding which feeds to keep, re-crawl, or drop.

    Every reported ratio is a ratio of EXACT integer sums (chars,
    punct chars, words, English stopword hits) aggregated
    map-side-combinably — never an average of per-doc doubles, whose
    shuffle order would differ between engines. One groupBy; output is
    dimension-sized (sources × langs).
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    n_chars = F.length(norm)
    n_punct = n_chars - F.length(F.regexp_replace(norm, "[^a-z0-9 ]", ""))
    agg = (
        docs.select(
            "source",
            "lang",
            n_chars.alias("c"),
            n_punct.alias("p"),
            F.size(w).alias("nw"),
            _hits(w, "en").alias("sh"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("sc"),
            F.sum("p").alias("sp"),
            F.sum("nw").alias("sw"),
            F.sum("sh").alias("ss"),
        )
    )
    return agg.select(
        "source",
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("sw").cast("double") / F.col("n_docs"), 4).alias(
            "avg_words_per_doc"
        ),
        F.round(F.col("sp").cast("double") / F.col("sc"), 4).alias(
            "punct_share"
        ),
        F.round(F.col("ss").cast("double") / F.col("sw"), 4).alias(
            "en_stopword_share"
        ),
    ).orderBy("source", "lang")


QUERIES["text_quality_by_source"] = text_quality_by_source

ORACLES["text_quality_by_source"] = f"""
    WITH m AS (
      SELECT source, lang,
             length({_NORM}) AS c,
             length({_NORM})
               - length(regexp_replace({_NORM}, '[^a-z0-9 ]', '', 'g')) AS p,
             len({_W}) AS nw,
             {_hits_sql('en')} AS sh
      FROM documents
    )
    SELECT source, lang,
           COUNT(*)::BIGINT AS n_docs,
           ROUND(SUM(nw)::DOUBLE / COUNT(*), 4) AS avg_words_per_doc,
           ROUND(SUM(p)::DOUBLE / SUM(c), 4) AS punct_share,
           ROUND(SUM(sh)::DOUBLE / SUM(nw), 4) AS en_stopword_share
    FROM m GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- r06 batch 5: hapax legomena share ---------------------------------------


def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per source: the share of the source's
    vocabulary occurring exactly once — the classical
    vocabulary-health signal (OCR noise and boilerplate both distort
    it, in opposite directions). One explode + one (source, word)
    count + one dimension-sized rollup; all ratios from exact integer
    counts.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(_words(norm_col())).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    return (
        wc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum("n").alias("n_tokens"),
        )
        .select(
            "source",
            F.col("vocab_size").cast("bigint").alias("vocab_size"),
            F.col("n_hapax").cast("bigint").alias("n_hapax"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.col("n_hapax").cast("double") / F.col("vocab_size"), 4
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


QUERIES["text_hapax_ratio"] = text_hapax_ratio

ORACLES["text_hapax_ratio"] = f"""
    WITH words AS (
      SELECT source, unnest({_W}) AS w FROM documents
    ),
    wc AS (
      SELECT source, w, COUNT(*) AS n FROM words WHERE w != ''
      GROUP BY 1, 2
    )
    SELECT source,
           COUNT(*)::BIGINT AS vocab_size,
           SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS hapax_ratio
    FROM wc GROUP BY 1 ORDER BY 1
"""


# ---- r08 corpus-science batch ----

COLL_MIN_COUNT = 5  # bigram support floor for PMI collocations
COLL_TOP_K = 50  # reported collocations
BURST_TOP_K = 20  # most frequent words profiled for burstiness


def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by pointwise mutual information — the
    classic Church-Hanks collocation extractor ("which word pairs
    co-occur far above chance?"), the phrase-mining pass a tokenizer
    or phrase-vocab builder runs before training.

    One explode to the adjacent-bigram stream + one to the unigram
    stream; PMI = ln((c_ab/M) / ((c_a/N)(c_b/N))) joins the bigram
    rollup against two broadcast unigram rollups. Support floor
    COLL_MIN_COUNT kills the noise tail (and bounds the join). The
    ranking runs on the ROUNDED pmi with a lexicographic tiebreak, so
    the emitted top-K is deterministic even if two engines' ln differ
    in the last ulp below the rounding.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    n = F.size(w)
    grams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    docs_g = docs.select(F.explode(grams).alias("g")).select(
        F.split(F.col("g"), " ").getItem(0).alias("w1"),
        F.split(F.col("g"), " ").getItem(1).alias("w2"),
    )
    bigrams = docs_g.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_ab")
    ).filter(F.col("c_ab") >= COLL_MIN_COUNT)
    unigrams = (
        docs.select(F.explode(_words(norm_col())).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = unigrams.agg(
        F.sum("c").alias("n_uni")
    )
    m_tot = bigrams.agg(F.sum("c_ab").alias("m_bi"))
    u1 = F.broadcast(unigrams.select(F.col("word").alias("w1"), F.col("c").alias("c_a")))
    u2 = F.broadcast(unigrams.select(F.col("word").alias("w2"), F.col("c").alias("c_b")))
    scored = (
        bigrams.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(m_tot))
        .selectExpr(
            "w1",
            "w2",
            "c_ab",
            "ROUND(ln((CAST(c_ab AS DOUBLE) / CAST(m_bi AS DOUBLE))"
            " / ((CAST(c_a AS DOUBLE) / CAST(n_uni AS DOUBLE))"
            " * (CAST(c_b AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6) AS pmi",
        )
    )
    w_rank = Window.partitionBy().orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= COLL_TOP_K)
        .select("w1", "w2", F.col("c_ab").cast("bigint").alias("c_ab"),
                "pmi", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("rk")
    )


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (variance-to-mean ratio of per-document counts,
    zeros included) for the top-K corpus words — Church & Gale's
    dispersion diagnostic: function words spread evenly (VMR ≈ 1,
    Poisson), topical words "burst" in few documents (VMR >> 1).
    A quality signal for boilerplate detection the plain frequency
    table can't see.

    Per-(word, doc) counts roll up map-side; zeros enter the moments
    as closed-form corrections (N − doc_freq zero cells contribute 0
    to both Σx and Σx²), so the corpus-wide doc count never explodes
    into a dense matrix. Exact integer moments, one double chain.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar: the zero-cell count in the moments
    per_doc = (
        docs.select("doc_id", F.explode(_words(norm_col())).alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_word = per_doc.groupBy("word").agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sumsq"),
    )
    w_rank = Window.partitionBy().orderBy(F.desc("total"), F.asc("word"))
    vmr = (
        f"(CAST(sumsq AS DOUBLE) / {n_docs}"
        f" - (CAST(total AS DOUBLE) / {n_docs})"
        f" * (CAST(total AS DOUBLE) / {n_docs}))"
        f" / (CAST(total AS DOUBLE) / {n_docs})"
    )
    return (
        per_word.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= BURST_TOP_K)
        .selectExpr(
            "word",
            "CAST(total AS BIGINT) AS total_count",
            "CAST(doc_freq AS BIGINT) AS doc_freq",
            f"ROUND({vmr}, 4) AS vmr",
            "CAST(rk AS BIGINT) AS rk",
        )
        .orderBy("rk")
    )


def text_word_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-length histogram of the corpus (occurrences, distinct
    words, and share per length) — the first profile a tokenizer
    design or a mojibake hunt reads: natural text has a stable
    length distribution, OCR noise and binary bleed-through don't.

    One explode + one O(lengths) rollup; the share divides exact
    counts once per output row.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    words = docs.select(F.explode(_words(norm_col())).alias("word"))
    w_all = Window.partitionBy()
    return (
        words.groupBy(F.length("word").alias("word_len"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("word").alias("n_distinct_words"),
        )
        .select(
            F.col("word_len").cast("bigint").alias("word_len"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.col("n_distinct_words").cast("bigint").alias("n_distinct_words"),
            F.round(
                F.col("n_occurrences").cast("double")
                / F.sum("n_occurrences").over(w_all).cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("word_len")
    )


QUERIES["text_collocations_pmi"] = text_collocations_pmi
QUERIES["text_burstiness"] = text_burstiness
QUERIES["text_word_length_hist"] = text_word_length_hist

ORACLES["text_collocations_pmi"] = f"""
    WITH words AS (
      SELECT doc_id, UNNEST({_W}) AS word FROM documents
    ),
    docs_w AS (SELECT {_W} AS w FROM documents),
    bigrams AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM (
        SELECT list_extract(w, i) AS w1, list_extract(w, i + 1) AS w2
        FROM (
          SELECT w, UNNEST(generate_series(1, len(w) - 1)) AS i
          FROM docs_w
        )
      ) GROUP BY 1, 2 HAVING COUNT(*) >= {COLL_MIN_COUNT}
    ),
    unigrams AS (SELECT word, COUNT(*) AS c FROM words GROUP BY 1),
    tot AS (SELECT SUM(c) AS n_uni FROM unigrams),
    m_tot AS (SELECT SUM(c_ab) AS m_bi FROM bigrams),
    scored AS (
      SELECT w1, w2, c_ab,
             ROUND(ln((CAST(c_ab AS DOUBLE) / CAST(m_bi AS DOUBLE))
               / ((CAST(c_a AS DOUBLE) / CAST(n_uni AS DOUBLE))
                  * (CAST(c_b AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6)
               AS pmi
      FROM bigrams
      JOIN (SELECT word AS w1, c AS c_a FROM unigrams) u1 USING (w1)
      JOIN (SELECT word AS w2, c AS c_b FROM unigrams) u2 USING (w2)
      CROSS JOIN tot CROSS JOIN m_tot
    )
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab, pmi,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rk
      FROM scored
    ) WHERE rk <= {COLL_TOP_K} ORDER BY rk
"""

ORACLES["text_burstiness"] = f"""
    WITH words AS (
      SELECT doc_id, UNNEST({_W}) AS word FROM documents
    ),
    n_docs AS (SELECT COUNT(*) AS nd FROM documents),
    per_doc AS (
      SELECT word, doc_id, COUNT(*) AS cnt FROM words GROUP BY 1, 2
    ),
    per_word AS (
      SELECT word, SUM(cnt) AS total, COUNT(*) AS doc_freq,
             SUM(cnt * cnt) AS sumsq
      FROM per_doc GROUP BY 1
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY total DESC, word) AS rk
      FROM per_word
    )
    SELECT word,
           CAST(total AS BIGINT) AS total_count,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           ROUND((CAST(sumsq AS DOUBLE) / nd
                  - (CAST(total AS DOUBLE) / nd)
                  * (CAST(total AS DOUBLE) / nd))
                 / (CAST(total AS DOUBLE) / nd), 4) AS vmr,
           CAST(rk AS BIGINT) AS rk
    FROM ranked, n_docs WHERE rk <= {BURST_TOP_K} ORDER BY rk
"""

ORACLES["text_word_length_hist"] = f"""
    WITH words AS (
      SELECT UNNEST({_W}) AS word FROM documents
    )
    SELECT CAST(LENGTH(word) AS BIGINT) AS word_len,
           COUNT(*)::BIGINT AS n_occurrences,
           COUNT(DISTINCT word)::BIGINT AS n_distinct_words,
           ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER ()::DOUBLE, 6)
             AS share
    FROM words GROUP BY 1 ORDER BY 1
"""


COVERAGE_KS = (10, 50, 100, 500, 1000)  # coverage-curve cutoffs


def text_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(next word | current word) next to
    the unigram entropy H(word) — the predictability pair: their gap
    is the information one word of context buys, the corpus-level
    statistic LM-data curation uses to spot templated/boilerplate
    sources (tiny H(W2|W1)) before any model run.

    Both entropies fold over count grids (bigram cells, unigram
    cells) with per-term micro-nat quantization; prefix totals come
    from a window over the bigram grid, never a second corpus pass.
    One output row.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    norm = norm_col()
    w = _words(norm)
    n = F.size(w)
    grams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bi = (
        docs.select(F.explode(grams).alias("g"))
        .select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    w_prefix = Window.partitionBy("w1")
    w_all = Window.partitionBy()
    p_ab = F.col("c_ab").cast("double") / F.sum("c_ab").over(w_all).cast("double")
    p_cond = F.col("c_ab").cast("double") / F.sum("c_ab").over(w_prefix).cast("double")
    bi_scored = bi.select(
        F.col("c_ab"),
        F.floor(-p_ab * F.log(p_cond) * F.lit(1e8) + F.lit(0.5))
        .cast("bigint")
        .alias("hc_micro"),
    )
    h_cond = bi_scored.agg(
        F.sum("c_ab").alias("m_bigrams"), F.sum("hc_micro").alias("hc_sum")
    )
    uni = (
        docs.select(F.explode(_words(norm_col())).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p_w = F.col("c").cast("double") / F.sum("c").over(w_all).cast("double")
    h_uni = uni.select(
        F.col("c"),
        F.floor(-p_w * F.log(p_w) * F.lit(1e8) + F.lit(0.5))
        .cast("bigint")
        .alias("hu_micro"),
    ).agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("hu_micro").alias("hu_sum"),
    )
    return h_cond.crossJoin(F.broadcast(h_uni)).selectExpr(
        "CAST(m_bigrams AS BIGINT) AS m_bigrams",
        "CAST(vocab AS BIGINT) AS vocab_size",
        "ROUND(CAST(hu_sum AS DOUBLE) / 1e8, 6) AS h_unigram_nats",
        "ROUND(CAST(hc_sum AS DOUBLE) / 1e8, 6) AS h_cond_nats",
        "ROUND(1.0 - CAST(hc_sum AS DOUBLE) / CAST(hu_sum AS DOUBLE), 6)"
        " AS context_gain",
    )


def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve: what share of all token occurrences do
    the top-K vocabulary words cover, for a ladder of K — THE
    tokenizer-budget curve (how big a word vocab buys how much of the
    stream) and the Zipf tail read in applied form.

    Vocabulary ranks once (count DESC, word ASC tiebreak — ulp-free:
    counts are integers); each cutoff is a conditional sum against
    the broadcast O(|Ks|) grid. Costs one explode + one vocab-sized
    sort, nothing corpus-sized downstream.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(_words(norm_col())).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.partitionBy().orderBy(F.desc("c"), F.asc("word"))
    ranked = uni.select(
        "c", F.row_number().over(w_rank).alias("rk")
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in COVERAGE_KS])).alias("k")
    )
    joined = ranked.crossJoin(F.broadcast(ks))
    return (
        joined.groupBy("k")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("c")).otherwise(0))
            .alias("covered"),
            F.sum("c").alias("total"),
            F.sum(F.when(F.col("rk") <= F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("vocab_used"),
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            "vocab_used",
            F.round(
                F.col("covered").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("covered_share"),
        )
        .orderBy("k")
    )


def text_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the word-frequency distribution — the
    inequality summary of the vocabulary (0 = uniform usage, →1 =
    a few words dominate), the single-number companion to
    text_zipf_slope's power-law fit.

    Rank-based exact form G = 2·Σ(rank·c)/(n·Σc) − (n+1)/n over the
    vocabulary grid (count ASC, word ASC — a deterministic total
    order), integer sums until the closed-form chain. The sort is
    vocab-sized, not corpus-sized.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(_words(norm_col())).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.partitionBy().orderBy(F.asc("c"), F.asc("word"))
    ranked = uni.select("c", F.row_number().over(w_rank).alias("rk"))
    suff = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("tot"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("c")).alias("rc"),
    )
    g = (
        "2.0 * CAST(rc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))"
        " - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE)"
    )
    return suff.selectExpr(
        "CAST(n AS BIGINT) AS vocab_size",
        "CAST(tot AS BIGINT) AS n_tokens",
        f"ROUND({g}, 6) AS vocab_gini",
    )


QUERIES["text_bigram_cond_entropy"] = text_bigram_cond_entropy
QUERIES["text_vocab_coverage_curve"] = text_vocab_coverage_curve
QUERIES["text_vocab_gini"] = text_vocab_gini

ORACLES["text_bigram_cond_entropy"] = f"""
    WITH docs_w AS (SELECT {_W} AS w FROM documents),
    bi AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM (
        SELECT list_extract(w, i) AS w1, list_extract(w, i + 1) AS w2
        FROM (
          SELECT w, UNNEST(generate_series(1, len(w) - 1)) AS i
          FROM docs_w
        )
      ) GROUP BY 1, 2
    ),
    bi_scored AS (
      SELECT c_ab,
             CAST(FLOOR(
               -(c_ab::DOUBLE / SUM(c_ab) OVER ()::DOUBLE)
               * ln(c_ab::DOUBLE / SUM(c_ab) OVER (PARTITION BY w1)::DOUBLE)
               * 1e8 + 0.5) AS BIGINT) AS hc_micro
      FROM bi
    ),
    h_cond AS (
      SELECT SUM(c_ab) AS m_bigrams, SUM(hc_micro) AS hc_sum FROM bi_scored
    ),
    uni AS (
      SELECT word, COUNT(*) AS c FROM (
        SELECT UNNEST({_W}) AS word FROM documents
      ) GROUP BY 1
    ),
    h_uni AS (
      SELECT COUNT(*) AS vocab, SUM(hu_micro) AS hu_sum FROM (
        SELECT CAST(FLOOR(
                 -(c::DOUBLE / SUM(c) OVER ()::DOUBLE)
                 * ln(c::DOUBLE / SUM(c) OVER ()::DOUBLE)
                 * 1e8 + 0.5) AS BIGINT) AS hu_micro
        FROM uni
      )
    )
    SELECT CAST(m_bigrams AS BIGINT) AS m_bigrams,
           CAST(vocab AS BIGINT) AS vocab_size,
           ROUND(CAST(hu_sum AS DOUBLE) / 1e8, 6) AS h_unigram_nats,
           ROUND(CAST(hc_sum AS DOUBLE) / 1e8, 6) AS h_cond_nats,
           ROUND(1.0 - CAST(hc_sum AS DOUBLE) / CAST(hu_sum AS DOUBLE), 6)
             AS context_gain
    FROM h_cond, h_uni
"""

ORACLES["text_vocab_coverage_curve"] = f"""
    WITH uni AS (
      SELECT word, COUNT(*) AS c FROM (
        SELECT UNNEST({_W}) AS word FROM documents
      ) GROUP BY 1
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rk FROM uni
    ),
    ks AS (SELECT UNNEST({list(COVERAGE_KS)}) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           SUM(CASE WHEN rk <= k THEN 1 ELSE 0 END)::BIGINT AS vocab_used,
           ROUND(SUM(CASE WHEN rk <= k THEN c ELSE 0 END)::DOUBLE
                 / SUM(c)::DOUBLE, 6) AS covered_share
    FROM ranked, ks GROUP BY k ORDER BY k
"""

ORACLES["text_vocab_gini"] = f"""
    WITH uni AS (
      SELECT word, COUNT(*) AS c FROM (
        SELECT UNNEST({_W}) AS word FROM documents
      ) GROUP BY 1
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, word ASC) AS rk FROM uni
    ),
    suff AS (
      SELECT COUNT(*) AS n, SUM(c) AS tot,
             SUM(rk::HUGEINT * c) AS rc
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS vocab_size,
           CAST(tot AS BIGINT) AS n_tokens,
           ROUND(2.0 * CAST(rc AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 6)
             AS vocab_gini
    FROM suff
"""

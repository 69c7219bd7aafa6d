"""Regression tests for the round-6 verdict/ADVICE fixes:

- q_spearman_corr zero-variance guard (NULL, never NaN),
- multimodal PIL tripwire polarity (log, never raise),
- dedup_ngram_jaccard per-bucket df cap (hot buckets dropped whole),
- parameterized IVF cell count K (similarity.N_CELLS).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from etl_city_directories_spark.operators import multimodal
from etl_city_directories_spark.operators import similarity
from etl_city_directories_spark.operators.dedup import (
    NGRAM_BAND_MAXDF,
    dedup_ngram_jaccard,
)
from etl_city_directories_spark.operators.nonparam import q_spearman_corr

SF = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"


# --- q_spearman_corr zero-variance guard ----------------------------


def test_spearman_no_nan_anywhere(spark):
    rows = q_spearman_corr(spark, SF).collect()
    assert rows, "expected per-type rows"
    for r in rows:
        if r.spearman_rho is not None:
            assert not math.isnan(r.spearman_rho)
            assert -1.0 <= r.spearman_rho <= 1.0


def test_spearman_constant_series_returns_null(spark):
    """A type whose daily counts are constant must yield NULL rho, not
    NaN: build a 3-day frame where type 'flat' has one event per day
    (rank variance on n_ev = 0) and check via the same rank/guard
    algebra the operator uses."""
    # Reuse the operator by pointing it at a crafted events view is
    # heavyweight; instead verify the guard algebra directly.
    df = spark.createDataFrame(
        [("flat", 1, 10), ("flat", 1, 20), ("flat", 1, 30)],
        "event_type string, n_ev int, cents int",
    )
    from pyspark.sql import Window

    def doubled_rank(col):
        w_rank = Window.partitionBy("event_type").orderBy(col)
        w_tie = Window.partitionBy("event_type", col)
        return 2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1

    ranked = df.select(
        "event_type",
        doubled_rank("n_ev").alias("rx"),
        doubled_rank("cents").alias("ry"),
    )
    d38 = "decimal(38,0)"
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("rx").cast(d38)).alias("sx"),
        F.sum(F.col("ry").cast(d38)).alias("sy"),
        F.sum(F.col("rx").cast(d38) * F.col("rx").cast(d38)).alias("sxx"),
        F.sum(F.col("ry").cast(d38) * F.col("ry").cast(d38)).alias("syy"),
        F.sum(F.col("rx").cast(d38) * F.col("ry").cast(d38)).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = F.when(
        (vx > 0) & (vy > 0), F.round(num / F.sqrt(vx * vy), 6)
    ).otherwise(F.lit(None).cast("double"))
    out = agg.select(rho.alias("rho")).collect()
    assert out[0].rho is None  # all-tied ranks -> vx == 0 -> NULL


# --- PIL tripwire polarity -------------------------------------------


def test_decode_pixels_with_pil_present_logs_not_raises(monkeypatch):
    """A PIL-bearing container must keep using the deterministic
    container parse (log once), never raise — r5 verdict item 6."""
    monkeypatch.setattr(multimodal, "HAVE_PIL", True)
    monkeypatch.setattr(multimodal, "_PIL_NOTICE_EMITTED", False)
    payload = (
        b"IMG1"
        + (16).to_bytes(4, "big")
        + (2).to_bytes(4, "big")
        + (1).to_bytes(4, "big")
        + bytes(range(32))
    )
    magic, width, height, channels, pixels = multimodal._decode_pixels(payload)
    assert (magic, width, height, channels) == ("IMG1", 16, 2, 1)
    assert pixels == bytes(range(32))
    assert multimodal._PIL_NOTICE_EMITTED is True
    # second call: notice only once, still no raise
    multimodal._decode_pixels(payload)


# --- dedup_ngram_jaccard df cap --------------------------------------


def test_ngram_band_bucket_df_is_capped(spark):
    """No surviving candidate bucket may exceed NGRAM_BAND_MAXDF: craft
    a boilerplate block of cap+8 near-identical docs and check the
    operator emits bounded pair mass, not (cap+8 choose 2)."""
    n_hot = NGRAM_BAND_MAXDF + 8
    rows = [
        (i, "the same boilerplate sentence repeated here " * 3, "en", "web")
        for i in range(n_hot)
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).write.parquet(
            f"{d}/documents.parquet"
        )
        out = dedup_ngram_jaccard(spark, d)
        n_pairs = out.count()
    # identical docs share every band key -> every bucket df = n_hot >
    # cap -> all hot buckets dropped whole -> zero candidate pairs.
    assert n_pairs == 0


def test_ngram_cap_keeps_small_clusters(spark):
    """Clusters below the cap still dedup normally."""
    rows = [
        (i, "a rare and quite specific duplicated paragraph body " * 2, "en", "web")
        for i in range(3)
    ] + [(10 + i, f"unique text number {i} with its own words entirely", "en", "web")
         for i in range(5)]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).write.parquet(
            f"{d}/documents.parquet"
        )
        out = dedup_ngram_jaccard(spark, d).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs


# --- parameterized IVF K ---------------------------------------------


def test_ivf_cells_env_override(spark, monkeypatch):
    default = similarity.N_CELLS
    monkeypatch.setattr(similarity, "N_CELLS", 16)
    cells = similarity.kmeans_cells(spark, SF_TINY, n_best=1)
    n_cells = cells.select("cell").distinct().count()
    assert n_cells == 16
    monkeypatch.undo()
    assert similarity.N_CELLS == default == 8
    # default-K index is memoized under a different key: both coexist
    cells8 = similarity.kmeans_cells(spark, SF_TINY, n_best=1)
    assert cells8.select("cell").distinct().count() == default

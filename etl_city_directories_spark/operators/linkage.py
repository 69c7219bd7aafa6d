"""Blocked record linkage (entity resolution) operators.

The reference links person entries to geocoded addresses by exact id
(nypl-spacetime/etl-city-directories city-directories.js:409-442)
and its person-linking stage compares normalized names within a page
neighborhood; at warehouse scale the same problem — "which records
are the same real-world entity?" — needs the classical blocked
pipeline: BLOCK on cheap deterministic keys so candidate generation
never goes quadratic in the corpus, SCORE candidate pairs with an
edit-distance kernel, then CLUSTER matches with a distributed
connected-components pass. Both engines ship the identical classic
Wagner-Fischer ``levenshtein`` (unit-cost integer DP), so every
score is cross-engine exact and the whole pipeline is
oracle-checkable.

Scale shape: the block key is (nationkey, name-suffix); pair fan-out
is O(sum of block sizes squared) with block sizes kept O(1) by
widening the suffix AS THE CORPUS GROWS (the standard blocking-key
cardinality knob — at 100 TB you block on 6-7 suffix chars plus the
partition column, never on the bare nation). The width is DERIVED
FROM THE DATA: the smallest suffix length >= BLOCK_SUFFIX such that
the expected (nation, suffix) block population
n / (N_NATIONS * 10^width) stays <= TARGET_BLOCK_POP, computed
integer-exactly as max(BLOCK_SUFFIX, digits(ceil(n/625) - 1)) so
Spark (one cached 1-row count) and the DuckDB oracle (a scalar
subquery) agree bit-for-bit with no float log10 boundary risk. Scoring touches only
blocked candidates; clustering runs the O(log^2 n)
large-star/small-star contraction on the match edges only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_city_directories_spark.functions.graph import connected_components
from etl_city_directories_spark.sources.tables import load_table

BLOCK_SUFFIX = 2  # minimum blocking-key chars from the name tail
ER_AUDIT_MOD = 10  # minimum audit-stratum modulus (custkey % mod == 0)
ER_AUDIT_TARGET = 1_500  # target audit-stratum size (rows)
MAX_EDIT = 2  # match threshold (unit-cost Levenshtein)
N_NATIONS = 25  # nation dimension cardinality (TPC-H constant)
TARGET_BLOCK_POP = 25  # expected rows per (nation, suffix) block

def _customer_count(spark: SparkSession, sf_dir: str) -> int:
    """One cached 1-row count per (corpus, stamp) — both data-scaled
    knobs (suffix width, audit modulus) derive from it."""
    from etl_city_directories_spark.functions.memo import cached, table_stamp

    return cached(
        ("customer_count", sf_dir, table_stamp(sf_dir, ("customer",))),
        lambda: load_table(spark, sf_dir, "customer").count(),
    )


def block_width(spark: SparkSession, sf_dir: str) -> int:
    """Data-scaled suffix width: smallest w >= BLOCK_SUFFIX with
    expected block population n / (N_NATIONS * 10^w) <= TARGET_BLOCK_POP
    for digit-tail names, i.e. max(BLOCK_SUFFIX, digits(ceil(n/625)-1))
    == max(BLOCK_SUFFIX, ceil(log10(ceil(n/625)))) computed in exact
    integer arithmetic — at sf0.01/sf0.1 this resolves to the
    historical width 2."""
    n = _customer_count(spark, sf_dir)
    m = (n + N_NATIONS * TARGET_BLOCK_POP - 1) // (
        N_NATIONS * TARGET_BLOCK_POP
    )
    return max(BLOCK_SUFFIX, len(str(m - 1)))


def audit_mod(spark: SparkSession, sf_dir: str) -> int:
    """Data-scaled audit-stratum modulus: max(ER_AUDIT_MOD,
    ceil(n / ER_AUDIT_TARGET)). The blocking-quality audit needs a
    quadratic truth pass, so its stratum must have a fixed SIZE
    (~ER_AUDIT_TARGET rows), not a fixed rate — a 1-in-10 rate made
    the audit itself quadratic in the corpus (r7 probe: 32.9x at
    10x). At sf0.01/sf0.1 this resolves to the historical mod 10."""
    n = _customer_count(spark, sf_dir)
    return max(ER_AUDIT_MOD, (n + ER_AUDIT_TARGET - 1) // ER_AUDIT_TARGET)


# The oracle computes the identical width as a scalar subquery —
# FLOOR((n + 624) / 625.0) is exact for every corpus below 2^53 rows
# because integer-valued doubles divide to a correctly-rounded
# representable quotient at the ceil boundary.
_W_SQL = (
    "(SELECT GREATEST(2, LENGTH(CAST(CAST(FLOOR((COUNT(*) + 624) / 625.0)"
    " AS BIGINT) - 1 AS VARCHAR))) FROM customer)"
)

# ... and the identical audit modulus (same exactness argument).
_MOD_SQL = (
    "(SELECT GREATEST(10, CAST(FLOOR((COUNT(*) + 1499) / 1500.0)"
    " AS BIGINT)) FROM customer)"
)


def _candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidate pairs with exact edit-distance scores."""
    w = block_width(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", -w, w).alias("blk"),
    )
    a = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        "blk",
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
    )
    b = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        "blk",
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
    )
    pairs = a.join(b, ["nationkey", "blk"]).filter(
        F.col("custkey_a") < F.col("custkey_b")
    )
    return pairs.select(
        "nationkey",
        "blk",
        "custkey_a",
        "custkey_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
        F.greatest(F.length("name_a"), F.length("name_b")).alias("max_len"),
    )


def er_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs within each block that score as matches.

    Match = Levenshtein distance <= MAX_EDIT; similarity is the
    normalized 1 - d/max_len (integer inputs, one double divide,
    ROUND 6). Output is the scored match list a human reviewer or
    the clustering stage consumes — O(matches), never O(corpus^2),
    because candidates exist only inside (nationkey, suffix) blocks.
    """
    return (
        _candidate_pairs(spark, sf_dir)
        .filter(F.col("edit_dist") <= MAX_EDIT)
        .select(
            "nationkey",
            "blk",
            "custkey_a",
            "custkey_b",
            "edit_dist",
            F.round(
                F.lit(1.0)
                - F.col("edit_dist").cast("double")
                / F.col("max_len").cast("double"),
                6,
            ).alias("name_sim"),
        )
        .orderBy("nationkey", "blk", "custkey_a", "custkey_b")
    )


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match-graph component labels, memoized per data stamp — the
    entity index er_match_clusters and er_golden_record both read, so
    the star-contraction rounds run once per (session, corpus)."""
    from etl_city_directories_spark.functions.memo import memo_df, table_stamp

    return memo_df(
        spark,
        ("er_components", sf_dir, table_stamp(sf_dir, ("customer",))),
        lambda: connected_components(
            er_blocked_pairs(spark, sf_dir).select(
                F.col("custkey_a").alias("src"),
                F.col("custkey_b").alias("dst"),
            )
        ),
    )


def er_match_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity clusters: connected components over the match pairs.

    Transitive closure of the pairwise matches via the alternating
    large-star/small-star contraction (Kiveris et al. 2014) —
    diameter-independent O(log^2 n) rounds on the match edges only,
    the same primitive the LSH duplicate clusters use. Component id
    = min custkey (deterministic); output is the per-cluster roster
    size + key span, O(clusters).
    """
    comp = _components(spark, sf_dir)
    return (
        comp.groupBy(F.col("component").cast("bigint").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            F.min("node").cast("bigint").alias("min_key"),
            F.max("node").cast("bigint").alias("max_key"),
        )
        .filter(F.col("n_records") > 1)
        .orderBy("entity_id")
    )


QUERIES = {
    "er_blocked_pairs": er_blocked_pairs,
    "er_match_clusters": er_match_clusters,
}

_PAIRS_SQL = f"""
  SELECT a.c_nationkey AS nationkey,
         SUBSTRING(a.c_name, LENGTH(a.c_name) - {_W_SQL} + 1,
                   {_W_SQL}) AS blk,
         a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
         GREATEST(LENGTH(a.c_name), LENGTH(b.c_name)) AS max_len
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND SUBSTRING(a.c_name, LENGTH(a.c_name) - {_W_SQL} + 1,
                 {_W_SQL})
     = SUBSTRING(b.c_name, LENGTH(b.c_name) - {_W_SQL} + 1,
                 {_W_SQL})
   AND a.c_custkey < b.c_custkey
"""

ORACLES = {
    "er_blocked_pairs": f"""
        WITH pairs AS ({_PAIRS_SQL})
        SELECT nationkey, blk, custkey_a, custkey_b, edit_dist,
               ROUND(1.0 - CAST(edit_dist AS DOUBLE)
                     / CAST(max_len AS DOUBLE), 6) AS name_sim
        FROM pairs WHERE edit_dist <= {MAX_EDIT}
        ORDER BY 1, 2, 3, 4
    """,
    "er_match_clusters": f"""
        WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
        edges AS (
          SELECT custkey_a AS u, custkey_b AS v FROM pairs
          WHERE edit_dist <= {MAX_EDIT}
        ),
        sym AS (
          SELECT u, v FROM edges UNION SELECT v, u FROM edges
        ),
        reach(node, r) AS (
          SELECT u, u FROM sym
          UNION
          SELECT s.u, p.r FROM sym s JOIN reach p ON s.v = p.node
        ),
        lab AS (SELECT node, MIN(r) AS entity_id FROM reach GROUP BY 1)
        SELECT CAST(entity_id AS BIGINT) AS entity_id,
               COUNT(*)::BIGINT AS n_records,
               CAST(MIN(node) AS BIGINT) AS min_key,
               CAST(MAX(node) AS BIGINT) AS max_key
        FROM lab GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1
    """,
}


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: one golden record per matched entity cluster.

    The step after er_match_clusters in every MDM pipeline: each
    multi-record entity elects a surviving record by a deterministic
    rule stack (highest account balance, then lowest key — the
    "most-complete record wins, stable tiebreak" pattern) and rolls up
    the cluster's span (record count, distinct nations, combined
    balance in exact cents). One row_number window over O(matched
    records) — the cluster membership is the star-contraction output,
    so nothing here rescans the customer table beyond one hash join.
    """
    from pyspark.sql import Window

    comp = _components(spark, sf_dir).select(
        F.col("node").alias("c_custkey"),
        F.col("component").cast("bigint").alias("entity_id"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    members = comp.join(cust, "c_custkey")
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("bal_cents"), F.asc("c_custkey")
    )
    ranked = members.select(
        "entity_id",
        "c_custkey",
        "c_name",
        "c_nationkey",
        "bal_cents",
        F.row_number().over(w).alias("rk"),
    )
    rollup = ranked.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.sum("bal_cents").alias("total_cents"),
        F.max(F.when(F.col("rk") == 1, F.col("c_custkey"))).alias(
            "golden_custkey"
        ),
        F.max(F.when(F.col("rk") == 1, F.col("c_name"))).alias("golden_name"),
        F.max(F.when(F.col("rk") == 1, F.col("bal_cents"))).alias(
            "golden_cents"
        ),
    )
    return (
        rollup.filter(F.col("n_records") > 1)
        .select(
            "entity_id",
            F.col("n_records").cast("bigint").alias("n_records"),
            F.col("n_nations").cast("bigint").alias("n_nations"),
            "golden_custkey",
            "golden_name",
            F.round(F.col("golden_cents").cast("double") / 100, 2).alias(
                "golden_acctbal"
            ),
            F.round(F.col("total_cents").cast("double") / 100, 2).alias(
                "total_acctbal"
            ),
        )
        .orderBy("entity_id")
    )


QUERIES["er_golden_record"] = er_golden_record

ORACLES["er_golden_record"] = f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT custkey_a AS u, custkey_b AS v FROM pairs
      WHERE edit_dist <= {MAX_EDIT}
    ),
    sym AS (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges
    ),
    reach(node, r) AS (
      SELECT u, u FROM sym
      UNION
      SELECT s.u, p.r FROM sym s JOIN reach p ON s.v = p.node
    ),
    lab AS (SELECT node, MIN(r) AS entity_id FROM reach GROUP BY 1),
    members AS (
      SELECT l.entity_id, c.c_custkey, c.c_name, c.c_nationkey,
             CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS bal_cents,
             ROW_NUMBER() OVER (
               PARTITION BY l.entity_id
               ORDER BY CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100
                             AS BIGINT) DESC, c.c_custkey
             ) AS rk
      FROM lab l JOIN customer c ON c.c_custkey = l.node
    )
    SELECT CAST(entity_id AS BIGINT) AS entity_id,
           COUNT(*)::BIGINT AS n_records,
           COUNT(DISTINCT c_nationkey)::BIGINT AS n_nations,
           CAST(MAX(CASE WHEN rk = 1 THEN c_custkey END) AS BIGINT)
             AS golden_custkey,
           MAX(CASE WHEN rk = 1 THEN c_name END) AS golden_name,
           ROUND(MAX(CASE WHEN rk = 1 THEN bal_cents END)::DOUBLE / 100, 2)
             AS golden_acctbal,
           ROUND(SUM(bal_cents)::DOUBLE / 100, 2) AS total_acctbal
    FROM members
    GROUP BY entity_id HAVING COUNT(*) > 1 ORDER BY entity_id
"""


def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy audit: reduction ratio and pairs completeness.

    The two numbers every blocking design is judged on (Christen
    2012): how many candidate pairs the blocks generate vs the
    quadratic total (reduction ratio), and what fraction of TRUE
    matches the blocks retain (pairs completeness / recall). Truth
    needs a quadratic, so the audit runs on a DETERMINISTIC customer
    stratum (custkey % mod == 0) whose modulus scales with the corpus
    to hold the stratum near ER_AUDIT_TARGET rows — a fixed SIZE (not
    rate) bounds the quadratic at a constant — the production shape at any
    scale: the per-nation quadratic is bounded by the sample, and both
    metrics are ratio estimates that a stratified sample estimates
    consistently. Output is one row per nation plus exact integer
    pair counts over the stratum.
    """
    w = block_width(spark, sf_dir)  # production width: full-corpus n
    mod = audit_mod(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % mod == 0
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", -w, w).alias("blk"),
    )
    a = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("blk").alias("blk_a"),
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
    )
    b = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("blk").alias("blk_b"),
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
    )
    nation_pairs = a.join(b, "nationkey").filter(F.col("ka") < F.col("kb"))
    scored = nation_pairs.select(
        "nationkey",
        (F.col("blk_a") == F.col("blk_b")).alias("in_block"),
        (F.levenshtein("na", "nb") <= MAX_EDIT).alias("is_match"),
    )
    per_nation = scored.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_total_pairs"),
        F.sum(F.when(F.col("in_block"), 1).otherwise(0)).alias("n_candidates"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when(F.col("in_block") & F.col("is_match"), 1).otherwise(0)
        ).alias("n_caught"),
    )
    return per_nation.select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        F.col("n_total_pairs").cast("bigint").alias("n_total_pairs"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_caught").cast("bigint").alias("n_caught"),
        F.round(
            F.lit(1.0)
            - F.col("n_candidates").cast("double")
            / F.col("n_total_pairs").cast("double"),
            6,
        ).alias("reduction_ratio"),
        F.when(
            F.col("n_true") > 0,
            F.round(
                F.col("n_caught").cast("double") / F.col("n_true").cast("double"),
                6,
            ),
        ).alias("pairs_completeness"),
    ).orderBy("nationkey")


QUERIES["er_blocking_quality"] = er_blocking_quality

ORACLES["er_blocking_quality"] = f"""
    WITH scored AS (
      SELECT a.c_nationkey AS nationkey,
             SUBSTRING(a.c_name, LENGTH(a.c_name) - {_W_SQL} + 1,
                       {_W_SQL})
               = SUBSTRING(b.c_name, LENGTH(b.c_name) - {_W_SQL} + 1,
                           {_W_SQL}) AS in_block,
             levenshtein(a.c_name, b.c_name) <= {MAX_EDIT} AS is_match
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       AND a.c_custkey % {_MOD_SQL} = 0 AND b.c_custkey % {_MOD_SQL} = 0
    ),
    per_nation AS (
      SELECT nationkey,
             COUNT(*) AS n_total_pairs,
             SUM(CASE WHEN in_block THEN 1 ELSE 0 END) AS n_candidates,
             SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_true,
             SUM(CASE WHEN in_block AND is_match THEN 1 ELSE 0 END)
               AS n_caught
      FROM scored GROUP BY 1
    )
    SELECT nationkey::BIGINT AS nationkey,
           n_total_pairs::BIGINT AS n_total_pairs,
           n_candidates::BIGINT AS n_candidates,
           n_true::BIGINT AS n_true,
           n_caught::BIGINT AS n_caught,
           ROUND(1.0 - n_candidates::DOUBLE / n_total_pairs::DOUBLE, 6)
             AS reduction_ratio,
           CASE WHEN n_true > 0 THEN
             ROUND(n_caught::DOUBLE / n_true::DOUBLE, 6)
           END AS pairs_completeness
    FROM per_nation ORDER BY nationkey
"""


def er_pair_score_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance histogram over ALL blocked candidate pairs — the
    threshold-calibration read: where does MAX_EDIT sit in the score
    mass? A healthy blocking scheme shows a bimodal histogram (true
    matches hugging 0, the candidate noise floor far right); a
    threshold inside the valley is defensible, one on a mode is not.

    Pure downstream rollup of the same blocked candidate generator
    er_blocked_pairs scores (no new pair mass); output is O(distinct
    distances). Cumulative share via one window over that grid.
    """
    cand = _candidate_pairs(spark, sf_dir)
    hist = cand.groupBy("edit_dist").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    w_cum = Window.partitionBy().orderBy("edit_dist").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return hist.select(
        F.col("edit_dist").cast("bigint").alias("edit_dist"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(
            F.col("n_pairs").cast("double")
            / F.sum("n_pairs").over(w_all).cast("double"),
            6,
        ).alias("share"),
        F.round(
            F.sum("n_pairs").over(w_cum).cast("double")
            / F.sum("n_pairs").over(w_all).cast("double"),
            6,
        ).alias("cum_share"),
        (F.col("edit_dist") <= MAX_EDIT).alias("within_match_threshold"),
    ).orderBy("edit_dist")


QUERIES["er_pair_score_distribution"] = er_pair_score_distribution

ORACLES["er_pair_score_distribution"] = f"""
    WITH pairs AS ({_PAIRS_SQL}),
    hist AS (
      SELECT edit_dist, COUNT(*) AS n_pairs FROM pairs GROUP BY 1
    )
    SELECT CAST(edit_dist AS BIGINT) AS edit_dist,
           n_pairs::BIGINT AS n_pairs,
           ROUND(n_pairs::DOUBLE / SUM(n_pairs) OVER ()::DOUBLE, 6)
             AS share,
           ROUND(SUM(n_pairs) OVER (ORDER BY edit_dist
                                    ROWS UNBOUNDED PRECEDING)::DOUBLE
                 / SUM(n_pairs) OVER ()::DOUBLE, 6) AS cum_share,
           (edit_dist <= {MAX_EDIT}) AS within_match_threshold
    FROM hist ORDER BY edit_dist
"""

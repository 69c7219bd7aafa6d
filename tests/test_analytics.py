"""Semantic invariants for operators/analytics.py beyond the driver's
hash-vs-DuckDB check: a-priori downward closure, least-squares algebra,
Pareto partition totals, and mixing-budget conservation."""

from __future__ import annotations

import duckdb
import pytest

from etl_city_directories_spark.operators.analytics import (
    BASKET_TOP_K,
    MIN_PAIR_ORDERS,
    MIX_BUDGET_X,
    MIX_EPOCH_CAP,
    corpus_mix_epochs,
    q_market_basket,
    q_pareto_abc,
    q_regr_trend,
)
from tools.plan_audit import fingerprint, plan_of

SF = "/root/testdata/sf0.001"


def test_market_basket_pairs_are_real_cooccurrences(spark):
    rows = q_market_basket(spark, SF).collect()
    assert 0 < len(rows) <= BASKET_TOP_K
    con = duckdb.connect()
    for r in rows:
        assert r.part_a < r.part_b
        assert r.n_pair >= MIN_PAIR_ORDERS
        # downward closure: each item's support bounds the pair's
        assert r.n_a >= r.n_pair and r.n_b >= r.n_pair
        n = con.execute(
            f"""
            SELECT COUNT(*) FROM (
              SELECT l_orderkey FROM '{SF}/lineitem.parquet'
              WHERE l_partkey = {r.part_a}
              INTERSECT
              SELECT l_orderkey FROM '{SF}/lineitem.parquet'
              WHERE l_partkey = {r.part_b})
            """
        ).fetchone()[0]
        assert n == r.n_pair
    # ordering contract: count desc then pair ids
    key = [(-r.n_pair, r.part_a, r.part_b) for r in rows]
    assert key == sorted(key)


def test_regr_trend_residuals_orthogonal(spark):
    """Least squares leaves residuals orthogonal to x and summing ~0."""
    rows = q_regr_trend(spark, SF).collect()
    assert len(rows) == 5  # TPC-H market segments
    con = duckdb.connect()
    for r in rows:
        xs, ys = zip(
            *con.execute(
                f"""
                SELECT ((YEAR(o_orderdate)-1995)*12 + MONTH(o_orderdate)-1),
                       o_totalprice
                FROM '{SF}/orders.parquet' o
                JOIN '{SF}/customer.parquet' c ON c_custkey = o_custkey
                WHERE c_mktsegment = '{r.c_mktsegment}'
                """
            ).fetchall()
        )
        assert len(xs) == r.n_orders
        resid = [y - (r.intercept + r.slope_per_month * x) for x, y in zip(xs, ys)]
        n = len(resid)
        assert abs(sum(resid) / n) < 1e-2  # rounding of slope/intercept only
        assert abs(sum(e * x for e, x in zip(resid, xs)) / n) < 1.0
        x_next = max(xs) + 1
        assert r.forecast_next_month == pytest.approx(
            r.intercept + r.slope_per_month * x_next, abs=0.51
        )


def test_pareto_abc_partitions_everything(spark):
    rows = {r.abc_class: r for r in q_pareto_abc(spark, SF).collect()}
    assert set(rows) == {"A", "B", "C"}
    con = duckdb.connect()
    n_parts, total = con.execute(
        f"""SELECT COUNT(DISTINCT l_partkey),
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2))))
            FROM '{SF}/lineitem.parquet'"""
    ).fetchone()
    assert sum(r.n_parts for r in rows.values()) == n_parts
    assert sum(r.class_revenue for r in rows.values()) == pytest.approx(
        float(total), rel=1e-9
    )
    assert sum(r.revenue_share for r in rows.values()) == pytest.approx(
        1.0, abs=1e-4
    )
    # A carries at most 80%, and fewer parts than it has share
    assert rows["A"].revenue_share <= 0.8 + 1e-9
    assert rows["A"].n_parts / n_parts < rows["A"].revenue_share


def test_corpus_mix_respects_budget_and_cap(spark):
    rows = q = corpus_mix_epochs(spark, SF).collect()
    total_chars = sum(r.chars for r in rows)
    budget = MIX_BUDGET_X * total_chars
    target = budget / len(rows)
    for r in rows:
        assert 0 < r.epochs <= MIX_EPOCH_CAP + 1e-9
        assert r.allocated_chars <= target + 1  # never exceeds its slice
        if r.capped:
            assert r.epochs == pytest.approx(MIX_EPOCH_CAP, abs=1e-6)
            assert r.allocated_chars == MIX_EPOCH_CAP * r.chars
        else:
            assert abs(r.allocated_chars - target) <= 1
    assert sum(r.allocated_chars for r in q) <= budget


def test_rfm_scores_are_balanced_quintiles(spark):
    from etl_city_directories_spark.operators.analytics import q_rfm_segmentation

    rows = q_rfm_segmentation(spark, SF).collect()
    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        tiles = {}
        for r in rows:
            tiles[r[col]] = tiles.get(r[col], 0) + 1
        assert set(tiles) == {1, 2, 3, 4, 5}
        assert max(tiles.values()) - min(tiles.values()) <= 1  # NTILE balance
    # recency tile 1 holds the most recent customers
    best = [r.recency_days for r in rows if r.r_score == 1]
    worst = [r.recency_days for r in rows if r.r_score == 5]
    assert max(best) <= min(worst)
    assert all(r.segment == f"{r.r_score}-{r.f_score}-{r.m_score}" for r in rows)
    assert n == len({r.c_custkey for r in rows})


def test_skew_salted_join_uses_merge_join_and_matches_plain(spark):
    from pyspark.sql import functions as F

    from etl_city_directories_spark.operators.scale_ops import q_skew_salted_join
    from etl_city_directories_spark.sources.tables import load_table

    df = q_skew_salted_join(spark, SF)
    # the salt exists for this path
    assert fingerprint(plan_of(df)).joins["SortMergeJoin"]
    got = {r.c_mktsegment: (r.n_events, r.total_value) for r in df.collect()}
    ev = load_table(spark, SF, "events")
    cust = load_table(spark, SF, "customer")
    plain = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
        .collect()
    )
    assert got == {r.c_mktsegment: (r.n, r.v) for r in plain}


def test_k_anonymity_flags_exactly_the_small_groups(spark):
    from etl_city_directories_spark.operators.scale_ops import (
        K_ANON,
        q_k_anonymity,
    )

    rows = q_k_anonymity(spark, SF).collect()
    assert all(0 < r.n < K_ANON and r.risky for r in rows)
    con = duckdb.connect()
    expected = con.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT c_mktsegment, c_nationkey,
                 FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) / 2000) AS b
          FROM '{SF}/customer.parquet'
          GROUP BY 1, 2, 3 HAVING COUNT(*) < {K_ANON})
        """
    ).fetchone()[0]
    assert len(rows) == expected


def test_triangle_count_matches_bruteforce(spark):
    from etl_city_directories_spark.operators.analytics import (
        _basket_graph,
        graph_triangle_count,
    )

    row = graph_triangle_count(spark, SF).collect()[0]
    _, _, _, pairs = _basket_graph(spark, SF)
    edges = {(r.part_a, r.part_b) for r in pairs.collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if b < c  # a < b < c counts each triangle once
    )
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_triangles == tri
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert row.n_wedges == wedges
    assert row.global_clustering == pytest.approx(
        3 * tri / wedges, abs=1e-6
    )


def test_char_entropy_matches_direct_computation(spark):
    import math
    from collections import Counter

    from etl_city_directories_spark.operators.textstats import text_char_entropy

    rows = {r.doc_id: r for r in text_char_entropy(spark, SF).collect()}
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet' LIMIT 50"
    ).fetchall()
    for doc_id, text in docs:
        c = Counter(text)
        n = sum(c.values())
        h = -sum(v / n * math.log2(v / n) for v in c.values())
        r = rows[doc_id]
        assert r.n_chars == n
        assert r.n_distinct == len(c)
        assert r.entropy_bits == pytest.approx(h, abs=1e-3)
    # uniform text pins the band: entropy of any doc is within [0, log2(distinct)]
    for r in rows.values():
        assert 0 <= r.entropy_bits <= math.log2(r.n_distinct) + 1e-9


def test_table_checksum_is_order_and_split_independent(spark):
    from pyspark.sql import functions as F

    from etl_city_directories_spark.operators.scale_ops import q_table_checksum
    from etl_city_directories_spark.sources.tables import load_table

    full = {r.l_returnflag: (r.n_rows, r.checksum) for r in
            q_table_checksum(spark, SF).collect()}
    assert len(full) == 3
    # XOR-combine of two disjoint halves must equal the full checksum
    li = load_table(spark, SF, "lineitem")
    lo = li.filter(F.col("l_orderkey") % 2 == 0)
    hi = li.filter(F.col("l_orderkey") % 2 == 1)

    def chks(df):
        import etl_city_directories_spark.operators.scale_ops as so

        orig = so.load_table_parallel
        try:
            so.load_table_parallel = lambda *_a, **_k: df
            return {r.l_returnflag: (r.n_rows, r.checksum) for r in
                    so.q_table_checksum(spark, SF).collect()}
        finally:
            so.load_table_parallel = orig

    a, b = chks(lo), chks(hi)
    for flag, (n, x) in full.items():
        na, xa = a.get(flag, (0, 0))
        nb, xb = b.get(flag, (0, 0))
        assert n == na + nb
        assert x == xa ^ xb


def test_unpivot_is_lossless_inverse_of_pivot(spark):
    from etl_city_directories_spark.operators.shaping import q_pivot, q_unpivot

    wide = {r.day: r for r in q_pivot(spark, SF).collect()}
    total = 0
    for r in q_unpivot(spark, SF).collect():
        assert r.n_events == wide[r.day][r.event_type]
        total += r.n_events
    assert total == sum(
        sum(r[t] for t in ("click", "error", "purchase", "signup", "view"))
        for r in wide.values()
    )


def test_fk_audit_catches_the_planted_orphan_edge(spark):
    from etl_city_directories_spark.operators.scale_ops import q_validate_fk

    import etl_city_directories_spark.operators.scale_ops as so
    from etl_city_directories_spark.sources.tables import load_table

    rows = {r.edge: r for r in q_validate_fk(spark, SF).collect()}
    assert len(rows) == 8
    # this data is referentially sound: every edge must report clean
    for edge, r in rows.items():
        assert r.n_orphans == 0 and r.ok, edge
        assert r.n_rows > 0
    # plant an orphan through the same code path: drop one referenced
    # customer and the events edge must flip to not-ok with the exact
    # count of that user's events
    victim = 3
    n_victim_events = (
        load_table(spark, SF, "events").filter(f"user_id = {victim}").count()
    )
    assert n_victim_events > 0
    orig = so.load_table

    def patched(spark_, sf_, name):
        df = orig(spark_, sf_, name)
        if name == "customer":
            df = df.filter(f"c_custkey != {victim}")
        return df

    try:
        so.load_table = patched
        planted = {r.edge: r for r in so.q_validate_fk(spark, SF).collect()}
    finally:
        so.load_table = orig
    ev = planted["events.user_id->customer"]
    assert ev.n_orphans == n_victim_events and not ev.ok
    ord_edge = planted["orders.o_custkey->customer"]
    assert ord_edge.n_orphans > 0 and not ord_edge.ok


def test_pit_join_matches_interval_semantics(spark):
    """The union-window PIT join must equal a literal interval lookup
    against the SCD2 history."""
    from etl_city_directories_spark.operators.scale_ops import q_scd2_history
    from etl_city_directories_spark.operators.temporal import q_pit_join
    from etl_city_directories_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    hist = {}
    for r in q_scd2_history(spark, SF).collect():
        hist.setdefault(r.user_id, []).append(r)
    clicks = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", F.unix_micros("ts").alias("t"))
        .collect()
    )
    got = {r.event_id: r for r in q_pit_join(spark, SF).collect()}
    assert set(got) == {c.event_id for c in clicks}
    n_matched = 0
    for c in clicks:
        want = None
        for v in hist.get(c.user_id, []):
            if v.valid_from_us <= c.t and (
                v.valid_to_us is None or c.t < v.valid_to_us
            ):
                want = round(v.attr_value, 2)
        g = got[c.event_id]
        assert g.has_version == (want is not None), c
        assert g.attr_value == want, (c, g)
        n_matched += want is not None
    assert 0 < n_matched < len(clicks)  # both branches exercised


def test_variant_extract_typed_and_missing_paths(spark):
    from etl_city_directories_spark.operators.scale_ops import q_variant_extract

    rows = q_variant_extract(spark, SF).collect()
    assert len(rows) == 5
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""SELECT event_type, SUM(CAST(props->>'$.k' AS BIGINT))
            FROM '{SF}/events.parquet' GROUP BY 1"""
        ).fetchall()
    )
    for r in rows:
        assert r.sum_k == want[r.event_type]
        assert r.n_null_k == 0  # every props row carries k
        assert r.n_missing_path == r.n_events  # absent path -> NULL, no error


def test_xml_roundtrip_is_lossless(spark):
    from etl_city_directories_spark.operators.scale_ops import (
        source_json_roundtrip,
        source_xml_roundtrip,
    )

    xml = {r.lang: r for r in source_xml_roundtrip(spark, SF).collect()}
    jsn = {r.lang: r for r in source_json_roundtrip(spark, SF).collect()}
    assert xml == jsn  # same rollup through both serializations


def test_udtf_chunks_overlap_and_cover(spark):
    from etl_city_directories_spark.operators.textstats import (
        UDTF_CHUNK_STRIDE,
        UDTF_CHUNK_WORDS,
        udtf_chunk_windows,
    )

    rows = udtf_chunk_windows(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    con = duckdb.connect()
    docs = dict(
        con.execute(f"SELECT doc_id, text FROM '{SF}/documents.parquet'").fetchall()
    )
    assert set(by_doc) == set(docs)
    for doc_id, text in list(docs.items())[:40]:
        words = text.split(" ")
        chunks = sorted(by_doc[doc_id], key=lambda r: r.win_idx)
        assert len(chunks) == (len(words) + UDTF_CHUNK_STRIDE - 1) // UDTF_CHUNK_STRIDE
        for r in chunks:
            start = r.win_idx * UDTF_CHUNK_STRIDE
            want = words[start : start + UDTF_CHUNK_WORDS]
            assert r.chunk.split(" ") == want and r.n_words == len(want)
        # consecutive windows overlap by W - S words
        if len(chunks) > 1:
            a, b = chunks[0].chunk.split(" "), chunks[1].chunk.split(" ")
            assert a[UDTF_CHUNK_STRIDE:] == b[: UDTF_CHUNK_WORDS - UDTF_CHUNK_STRIDE]

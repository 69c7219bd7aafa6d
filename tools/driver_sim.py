"""Simulate the driver's correctness gate: vanilla SparkSession (NOT
session.get_spark — the r01 gate failure was exactly that difference),
every queries() entry vs its DuckDB oracle at sf0.01, column-name-sorted
stringified-row compare (the driver's hash check).

Usage: python tools/driver_sim.py [sf_dir] [key ...]

Session shape overrides (the r02 ts flip only showed under a vanilla
session; an ALTERNATE shape catches partitioning-sensitive bugs):
  SPARK_SIM_CPUS=4 SPARK_SIM_PARTITIONS=200 python tools/driver_sim.py
"""
from __future__ import annotations

import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the vanilla session sets no executorEnv, so Python workers find the
# package through the PYTHONPATH the JVM inherits from this process
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
import __spark_entry__ as m  # noqa: E402
from tools.compare import canon, duckdb_connection  # noqa: E402


def cli_sim(spark) -> int:
    """End-to-end CLI step sweep (r04 verdict item 7): run
    download→parse→geocode→transform on the fixture config, then DIFF
    every transform NDJSON against an independent DuckDB replay of the
    transform logic over the CLI's OWN parse/geocode step files — the
    same engine-vs-engine oracle contract the queries() gate uses.
    Returns the number of differing rows (0 = the committed proof)."""
    import json
    import shutil
    import tempfile

    from etl_city_directories_spark.cli import run
    from etl_city_directories_spark.operators.citydir import _ADDR_CTE
    from etl_city_directories_spark.operators.ingest import (
        FIXTURES,
        fixture_archive,
    )

    work = tempfile.mkdtemp(prefix="spark_graft_cli_sim_")
    data = os.path.join(work, "data_in")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    cfg = os.path.join(work, "config.json")
    with open(cfg, "w", encoding="utf-8") as f:
        json.dump(
            {
                "tableUrl": os.path.join(FIXTURES, "manifest.html"),
                "dataUrl": data,
                "minYear": 1850,
                "maxYear": 1890,
            },
            f,
        )
    counts = run(cfg, work, spark=spark)
    print(f"cli: step counts {counts}", flush=True)
    assert all(v > 0 for v in counts.values()), counts

    con = duckdb.connect()
    for step, fname, view in (
        ("parse", "lines.ndjson", "lines"),
        ("geocode", "geocoded.ndjson", "geo"),
        ("transform", "objects.ndjson", "cli_objects"),
        ("transform", "relations.ndjson", "cli_relations"),
        ("transform", "logs.ndjson", "cli_logs"),
    ):
        con.execute(
            f"CREATE VIEW {view} AS SELECT * FROM "
            f"read_json_auto('{work}/{step}/{fname}/*.json')"
        )
    base_ctes = f"""
      WITH {_ADDR_CTE},
      keyed AS (
        SELECT *,
          CAST(string_split(year_raw, '/')[1] AS INT) AS year_lo,
          year_raw LIKE '%/%' AS is_split,
          (CASE WHEN year_raw LIKE '%/%'
                THEN CAST(string_split(year_raw, '/')[1] AS INT) || '-' ||
                     (CAST(string_split(year_raw, '/')[1] AS INT) + 1)
                ELSE string_split(year_raw, '/')[1] END)
            || '.' || page_num || '.'
            || x0 || '-' || y0 || '-' || x1 || '-' || y1 AS entry_id
        FROM lines
      ),
      pz AS (
        SELECT g.uuid, g.page_uuid, g.page_num, g.line_index,
               COUNT(g.address_id) AS n_geocoded,
               COUNT(g.loc_value) AS n_locations,
               list_sort(list({{'loc_idx': g.loc_idx,
                                'geom_x': a.geom_x,
                                'geom_y': a.geom_y}})
                         FILTER (WHERE g.address_id IS NOT NULL)) AS pts,
               list(g.address_id)
                 FILTER (WHERE g.address_id IS NOT NULL) AS address_ids
        FROM geo g LEFT JOIN addresses a USING (address_id)
        GROUP BY 1, 2, 3, 4
      )
    """
    replays = {
        "cli_objects": base_ctes
        + """
        SELECT k.entry_id AS id, 'st:Person' AS type, k.subject AS name,
               k.year_lo AS "validSince",
               CASE WHEN k.is_split THEN k.year_lo + 1 ELSE k.year_lo END
                 AS "validUntil",
               k.uuid AS "volumeUuid", k.page_uuid AS "pageUuid",
               k.page_num AS "pageNum", k.text,
               k.occupations[1] AS occupation,
               COALESCE(p.n_locations, 0) AS n_locations,
               COALESCE(p.n_geocoded, 0) AS n_geocoded,
               CASE WHEN p.n_geocoded IS NULL OR p.n_geocoded = 0 THEN NULL
                    WHEN p.n_geocoded = 1 THEN
                      'POINT(' || CAST(trunc(p.pts[1].geom_x) AS INT) || ' '
                               || CAST(trunc(p.pts[1].geom_y) AS INT) || ')'
                    ELSE 'MULTIPOINT(' || array_to_string(list_transform(
                           p.pts, q -> CAST(trunc(q.geom_x) AS INT) || ' '
                                    || CAST(trunc(q.geom_y) AS INT)), ',')
                         || ')'
               END AS geometry
        FROM keyed k LEFT JOIN pz p USING (uuid, page_uuid, page_num, line_index)
        """,
        "cli_relations": base_ctes
        + """
        SELECT entry_id AS "from", CAST(aid AS VARCHAR) AS "to",
               'st:in' AS type
        FROM (SELECT k.entry_id, unnest(p.address_ids) AS aid
              FROM keyed k JOIN pz p USING (uuid, page_uuid, page_num, line_index))
        WHERE aid IS NOT NULL
        """,
        "cli_logs": """
        SELECT 'log' AS type, uuid, page_num, line_index, loc_value,
               'geocode miss' AS error
        FROM geo WHERE NOT found
        """,
    }
    n_diff = 0
    for view, sql in replays.items():
        got = con.execute(f"SELECT * FROM {view}").fetchdf()
        want = con.execute(sql).fetchdf()
        # Spark's JSON writer omits null fields; restore any column the
        # NDJSON side lost entirely so the schemas align
        for c in want.columns:
            if c not in got.columns:
                got[c] = None
        g, w = canon(got), canon(want)
        d = sum(1 for a, b in zip(g, w) if a != b) + abs(len(g) - len(w))
        n_diff += d
        status = "PASS" if d == 0 else "FAIL"
        print(f"cli: {status} {view}: {len(g)} rows, {d} diffs", flush=True)
        if d:
            first = next(
                (i for i, (a, b) in enumerate(zip(g, w)) if a != b),
                min(len(g), len(w)),
            )
            print(
                f"  first diff @{first}:\n"
                f"  cli:    {g[first] if first < len(g) else '<none>'}\n"
                f"  replay: {w[first] if first < len(w) else '<none>'}",
                flush=True,
            )
    shutil.rmtree(work, ignore_errors=True)
    return n_diff


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = os.environ.get("SPARK_SIM_CPUS", "8")
    parts = os.environ.get("SPARK_SIM_PARTITIONS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", parts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = m.entry(spark).collect()
    print(f"entry: {len(rows)} rows", flush=True)

    con = duckdb_connection(sf)

    qs, os_ = m.queries(), m.oracle_sql()
    n_pass = n_rows_only = n_fail = 0
    fails = []
    for name in qs:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = qs[name](spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            fails.append(name)
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}", flush=True)
            continue
        dt = time.time() - t0
        if name not in os_:
            n_rows_only += 1
            print(f"rows {name}: {len(sp)} rows  ({dt:.1f}s)", flush=True)
            continue
        op = con.execute(os_[name]).fetchdf()
        if sorted(sp.columns) != sorted(op.columns):
            n_fail += 1
            fails.append(name)
            print(
                f"FAIL {name}: schema {sorted(sp.columns)} vs {sorted(op.columns)}",
                flush=True,
            )
        elif canon(sp) != canon(op):
            n_fail += 1
            fails.append(name)
            s, o = canon(sp), canon(op)
            diff = next(
                (i for i, (a, b) in enumerate(zip(s, o)) if a != b), min(len(s), len(o))
            )
            print(
                f"FAIL {name}: values differ (spark {len(s)} vs oracle {len(o)} rows); "
                f"first diff @{diff}:\n  spark:  {s[diff] if diff < len(s) else '<none>'}"
                f"\n  oracle: {o[diff] if diff < len(o) else '<none>'}",
                flush=True,
            )
        else:
            n_pass += 1
            print(f"PASS {name}: {len(sp)} rows  ({dt:.1f}s)", flush=True)
    # CLI surface: part of every full sweep, or on request via the
    # pseudo-key "cli"
    if not only or "cli" in only:
        cli_diffs = cli_sim(spark)
        if cli_diffs:
            n_fail += 1
            fails.append("cli")
        print(f"== cli transform diff vs replay: {cli_diffs} diffs")

    print(f"\n== {n_pass} pass, {n_rows_only} rows-only, {n_fail} fail: {fails}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

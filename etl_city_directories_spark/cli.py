"""spacetime-etl-compatible step runner.

The reference is executed as four framework steps — download, parse,
geocode, transform (`city-directories.js:455-460`, each
``(config, dirs, tools, callback)``) — against a configuration file
and per-step output directories. This module is that usage surface on
Spark: a user of the reference points the same shaped config at this
CLI and gets the same shaped step directories back.

Usage::

    python -m etl_city_directories_spark \
        --config config.json --work WORKDIR [download parse geocode transform]

Config keys (mirroring `city-directories.js`):

- ``tableUrl``  — path to the HTML manifest table (:135-160; a local
  path or any Hadoop-readable URI — the sandbox has no network).
- ``dataUrl``   — base URI of the ``{uuid}.tar.gz`` archives (:76-89):
  ``http(s)://``, ``file://`` or a bare local path; any other scheme
  fails before the step writes anything.
- ``minYear`` / ``maxYear`` — optional directory-year window
  (:182-195: keep directories with getMinYear >= minYear and
  getMaxYear <= maxYear).
- ``addresses`` — optional parquet path for the historical address
  dataset (columns of ``citydir.addresses_dim``); defaults to the
  built-in demo dim. The reference injects its geocoder dataset the
  same way (via @spacetime/nyc-historical-geocoder).

Step contract (the spacetime-etl dirs contract): each step writes
under ``WORKDIR/<step>/`` and reads earlier steps' directories —
``download`` fetches archives (+ ``{uuid}.xml`` error files, :91-97)
and materializes the typed manifest; ``parse`` emits column-assigned,
entry-parsed OCR lines as NDJSON, each with the reference's makeId
``id`` (year.page.bbox, :261-270), since year, page and bbox are all
known there; ``geocode`` emits per-location geocode results carrying
the line's key (``LINE_KEY``) and ``id`` and the matched address's
``geom_x`` / ``geom_y``;
``transform`` reads only the parse and geocode outputs and emits
``objects`` / ``relations`` / ``logs`` NDJSON (:443-450). Geocode is the
only step that reads the ``addresses`` key, as in the reference, whose
transform builds geometry from the geocode result (:272-336).

Every NDJSON output directory also holds a ``_schema`` file: the
written frame's schema as JSON (``sources.ndjson``). The next step reads
with it, so no step infers a schema, and a column that is null in every
row (or every column of an empty output) survives into the next step.
Each step returns the row count of its main output — ``status`` for
download, ``lines`` for parse, ``geocoded`` for geocode, ``objects``
for transform — counted by the write's own job, not by re-reading.

Scale shape: every step is the same declarative plan the operator
surface uses — parse is one scan and one Python pass (below), the entry
parser is pure JVM expressions, and all sinks are Spark's distributed
NDJSON writer (no driver funnel).

Only geocode broadcasts: its two address dims hold the address dataset,
which is real data at any scale and far smaller than the corpus side.
The other steps broadcast nothing. A broadcast hash table holds at
least one memory page until the context cleaner drops it; with pages
sized to the heap (``session.page_size_bytes``: 1 MB up to an 8 GB
driver heap) that costs about 1 MB, and geocode's two add under 4 MB.
A broadcast still costs a job of its own, so download dedupes the
manifest's uuids on the driver, parse takes the manifest columns its
lines carry from the manifest rows it has already collected, as a
literal map keyed by uuid, and transform builds each object in one
keyed aggregation over the lines and their geocode rows, with no join.

Parse reads every windowed archive in one ``binaryFile`` scan;
``spark.sql.files.maxPartitionBytes`` groups archives into partitions,
and one Python pass applies the page window before column detection.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType

from etl_city_directories_spark.operators.citydir import (
    geocode_locations,
    geocode_summary,
    make_id,
    parse_entries_real,
    point_geometry,
    validity,
)
from etl_city_directories_spark.operators.ingest import fetch_archives
from etl_city_directories_spark.sources.hocr import read_hocr_lines
from etl_city_directories_spark.sources.manifest import read_manifest
from etl_city_directories_spark.sources.ndjson import read_ndjson, write_ndjson

STEPS = ("download", "parse", "geocode", "transform")
# one parsed line: two pages of an archive may share a page number, so
# the page's uuid is part of the key
LINE_KEY = ("uuid", "page_uuid", "page_num", "line_index")


def _dir(work: str, step: str) -> str:
    d = os.path.join(work, step)
    os.makedirs(d, exist_ok=True)
    return d


def _year_lo() -> Column:
    """First year of the manifest's year form ('1850/51' → 1850)."""
    return F.split(F.col("year_raw"), "/")[0].cast("int")


def step_download(spark: SparkSession, cfg: dict, work: str) -> int:
    """Manifest-driven archive fetch with the reference's error-file
    contract (``ingest.fetch_archives``): found archives land in
    download/data/, misses produce an empty ``{uuid}.xml`` and the run
    continues (:76-106)."""
    if not cfg.get("tableUrl") or not cfg.get("dataUrl"):
        # the reference's own config validation (:141-144)
        raise ValueError("Please set both dataUrl and tableUrl in the configuration file")
    out = os.path.join(work, "download")
    data_dir = os.path.join(out, "data")
    manifest = read_manifest(spark, cfg["tableUrl"])
    # lazy; built first so a dataUrl scheme it cannot fetch fails here,
    # before the step writes anything
    status = fetch_archives(manifest, cfg["dataUrl"], data_dir)
    os.makedirs(data_dir, exist_ok=True)
    write_ndjson(manifest, os.path.join(out, "manifest.ndjson"))
    return write_ndjson(status, os.path.join(out, "status.ndjson"))


def step_parse(spark: SparkSession, cfg: dict, work: str) -> int:
    """Archives → column-assigned hOCR lines → parsed entries, windowed
    by the config's year range and the manifest's page range
    (:182-200); NDJSON out."""
    dl, out = _dir(work, "download"), _dir(work, "parse")
    manifest = read_ndjson(spark, os.path.join(dl, "manifest.ndjson"))
    if cfg.get("minYear") is not None:
        manifest = manifest.filter(F.col("year_start") >= int(cfg["minYear"]))
    if cfg.get("maxYear") is not None:
        manifest = manifest.filter(
            F.coalesce("year_end", "year_start") <= int(cfg["maxYear"])
        )
    carried = manifest.select("year_raw", "start_page", "end_page").schema
    archives, meta = {}, {}
    for r in manifest.select("uuid", "column_count", *carried.fieldNames()).collect():
        path = os.path.join(dl, "data", f"{r.uuid}.tar.gz")
        if os.path.exists(path):  # the reference re-checks at parse time (:195)
            # a uuid the manifest lists twice is read once, with its
            # last row's window and year
            archives[path] = (r.column_count, r.start_page, r.end_page)
            meta[r.uuid] = r[2:]
    # the Python pass applies the page window; the manifest columns the
    # later steps read come from the rows collected above, as a literal
    # map keyed by uuid (no join, no broadcast)
    by_uuid = F.create_map(
        *(c for u, vals in meta.items() for c in (F.lit(u), F.struct(*map(F.lit, vals))))
    ).cast(MapType(StringType(), carried))
    lines = read_hocr_lines(spark, archives)
    windowed = (
        lines.withColumn(
            # the archive's file name, as download named it: {uuid}.tar.gz
            "uuid", F.regexp_extract(F.col("archive"), r"([^/]+)\.tar\.gz$", 1)
        )
        .withColumn("m", by_uuid[F.col("uuid")])
        .filter(F.col("m").isNotNull())  # an archive name that gives no listed uuid
        .select("uuid", *lines.columns, "m.*")
    )
    entries = parse_entries_real(windowed).withColumn(
        "id",
        make_id(
            F.col("year_raw"),
            _year_lo(),
            F.col("page_num"),
            [F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")],
        ),
    )
    return write_ndjson(entries, os.path.join(out, "lines.ndjson"))


def step_geocode(spark: SparkSession, cfg: dict, work: str) -> int:
    """Every parsed location, OCR-normalized then geocoded against the
    address dataset (:272-323); per-location NDJSON with found /
    address / street."""
    pr, out = _dir(work, "parse"), _dir(work, "geocode")
    lines = read_ndjson(spark, os.path.join(pr, "lines.ndjson"))
    dim = (
        spark.read.parquet(cfg["addresses"]) if cfg.get("addresses") else None
    )
    locs = lines.select(
        *LINE_KEY,
        "id",
        F.posexplode("locations").alias("loc_idx", "loc"),
    ).select(
        *LINE_KEY,
        "id",
        "loc_idx",
        F.col("loc.value").alias("loc_value"),
        F.col("loc.loc_type").alias("loc_type"),
    )
    geo = geocode_locations(spark, locs, dim=dim)
    return write_ndjson(geo, os.path.join(out, "geocoded.ndjson"))


def step_transform(spark: SparkSession, cfg: dict, work: str) -> int:
    """st:Person objects + st:in relations + failure logs (:338-451)
    from the parse and geocode outputs alone: the id parse made, the
    validity interval from the year form, Point/MultiPoint geometry
    from the points geocode returned."""
    pr, gc, out = _dir(work, "parse"), _dir(work, "geocode"), _dir(work, "transform")
    lines = read_ndjson(spark, os.path.join(pr, "lines.ndjson"))
    geo = read_ndjson(spark, os.path.join(gc, "geocoded.ndjson"))

    since, until = validity(F.col("year_raw"), _year_lo())
    obj = lines.select(
        *LINE_KEY,
        F.struct(
            "id",
            F.lit("st:Person").alias("type"),
            F.col("subject").alias("name"),
            since.alias("validSince"),
            until.alias("validUntil"),
            F.col("uuid").alias("volumeUuid"),
            F.col("page_uuid").alias("pageUuid"),
            F.col("page_num").alias("pageNum"),
            "text",
            F.try_element_at("occupations", F.lit(1)).alias("occupation"),
        ).alias("object"),
    )
    # One keyed aggregation over the lines and their geocode rows in
    # place of a join: every line object in a key's group gets the
    # group's summary, so a repeated key gives one object per line,
    # and a geocode row with a null key part matches no line.
    hits = geo.dropna(subset=list(LINE_KEY)).select(
        *LINE_KEY, "loc_idx", "loc_value", "address_id", "geom_x", "geom_y"
    )
    objects = (
        obj.unionByName(hits, allowMissingColumns=True)
        .groupBy(*LINE_KEY)
        .agg(F.collect_list("object").alias("objects"), *geocode_summary())
        .select(F.explode("objects").alias("o"), "n_locations", "n_geocoded", "pts")
        .select("o.*", "n_locations", "n_geocoded", point_geometry(F.col("pts")).alias("geometry"))
    )
    relations = geo.filter(F.col("address_id").isNotNull()).select(
        F.col("id").alias("from"),
        # raw address id, verbatim — the reference pushes
        # `to: addressId` (city-directories.js:395-399) and
        # cd_relations emits the same
        F.col("address_id").cast("string").alias("to"),
        F.lit("st:in").alias("type"),
    )
    logs = (
        geo.filter(~F.col("found"))
        .select(
            F.lit("log").alias("type"),
            "uuid",
            "page_num",
            "line_index",
            "loc_value",
            F.lit("geocode miss").alias("error"),
        )
    )
    n_objects = write_ndjson(objects, os.path.join(out, "objects.ndjson"))
    write_ndjson(relations, os.path.join(out, "relations.ndjson"))
    write_ndjson(logs, os.path.join(out, "logs.ndjson"))
    return n_objects


_RUNNERS = {
    "download": step_download,
    "parse": step_parse,
    "geocode": step_geocode,
    "transform": step_transform,
}


def run(
    config_path: str,
    work: str,
    steps: list[str] | None = None,
    spark: SparkSession | None = None,
) -> dict[str, int]:
    with open(config_path, encoding="utf-8") as f:
        cfg = json.load(f)
    steps = list(steps) if steps else list(STEPS)
    for s in steps:
        if s not in _RUNNERS:
            raise ValueError(f"unknown step {s!r}; choose from {STEPS}")
    own_session = spark is None
    if own_session:
        from etl_city_directories_spark.session import get_spark

        spark = get_spark("etl-city-directories")
    counts = {}
    try:
        for s in steps:
            counts[s] = _RUNNERS[s](spark, cfg, work)
    finally:
        if own_session:
            spark.stop()
    return counts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="etl_city_directories_spark")
    ap.add_argument("--config", required=True, help="JSON configuration file")
    ap.add_argument("--work", required=True, help="step-output work directory")
    ap.add_argument("steps", nargs="*", choices=STEPS, help="steps to run")
    args = ap.parse_args(argv)
    counts = run(args.config, args.work, args.steps or None)
    print(json.dumps(counts))
    return 0

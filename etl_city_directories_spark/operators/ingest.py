"""Rows-only ingestion queries: hOCR archive parse, manifest parse,
NDJSON sink round-trip. Non-SQL-expressible (binary archives, HTML,
filesystem side effects) → no ORACLES entries; covered by pytest
fixtures (tests/test_sources.py) and the driver's rows-only check.
"""

from __future__ import annotations

import contextlib
import gzip
import io
import os
import shutil
import tarfile
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_city_directories_spark.functions.memo import cached_sink_dir
from etl_city_directories_spark.sources.hocr import (
    parse_hocr_lines,
    read_hocr_lines,
    read_hocr_pages,
)
from etl_city_directories_spark.sources.local import local_frame
from etl_city_directories_spark.sources.manifest import read_manifest
from etl_city_directories_spark.sources.ndjson import read_ndjson, write_ndjson

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "tests", "fixtures")
_UUID = "c6725860-7ce9-0134-fb06-00505686a51c"


def fixture_archive() -> str:
    """Build the reference-layout tar.gz from the committed .hocr fixture
    (lazily, under /tmp — fixtures stay text in git)."""
    out = os.path.join(tempfile.gettempdir(), f"{_UUID}.tar.gz")
    if not os.path.exists(out):
        hocr = open(os.path.join(FIXTURES, "sample.hocr"), "rb").read()
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            info = tarfile.TarInfo(name=f"{_UUID}/25.56886389.{_UUID}.processed.hocr")
            info.size = len(hocr)
            tf.addfile(info, io.BytesIO(hocr))
            junk = b"not ocr"
            info2 = tarfile.TarInfo(name=f"{_UUID}/readme.txt")
            info2.size = len(junk)
            tf.addfile(info2, io.BytesIO(junk))
        # unique tmp name per process + atomic rename: concurrent
        # builders never interleave writes, and readers only ever see a
        # complete archive (content is deterministic, so last-wins is
        # safe).
        tmp = f"{out}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(gzip.compress(buf.getvalue()))
        os.replace(tmp, out)
    return out


def localize_result(df: DataFrame) -> DataFrame:
    """Pin a *small* finalized result into a local DataFrame so the
    temp sink directory backing it can be deleted before return.

    Only for sink round-trip operators whose result is a tiny
    per-partition summary (≤ dozens of rows): the round-trip itself ran
    distributed; this is the deliberate finalize step, not a hot-path
    collect.
    """
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def validate_base_uri(base_uri: str) -> None:
    """Fail fast on schemes default_fetcher can't serve (s3://,
    hdfs://, gs://…): without this, an unsupported base_uri would read
    as a bare local path and silently mark EVERY manifest row
    ``error``. http(s)://, file://, and scheme-less local paths pass."""
    scheme, sep, _ = base_uri.partition("://")
    if sep and scheme.lower() not in ("http", "https", "file"):
        raise ValueError(
            f"default_fetcher supports http(s)://, file://, or bare local "
            f"paths; got scheme {scheme!r} in base_uri={base_uri!r} — pass "
            f"a custom fetcher= for object-store schemes"
        )


def default_fetcher(base_uri: str, uuid: str) -> bytes:
    """Resolve ``{base_uri}/{uuid}.tar.gz`` to archive bytes — the
    pluggable seam under fetch_archives (the reference's
    ``got.stream(url)`` at city-directories.js:76-89).

    Schemes: ``http(s)://`` streams via urllib (the real-remote path —
    loopback-proven in tests/test_sources.py); ``file://`` and bare
    paths read the local/NFS mount. Any OTHER scheme (s3://, hdfs://,
    gs://…) raises ``ValueError`` up front — ``fetch_archives``
    validates it on the driver so a misconfigured base_uri fails fast
    instead of silently turning every manifest row into an error
    artifact; plug a custom ``fetcher`` for object stores. Any per-archive exception is
    the caller's error signal; this function never swallows one. Runs
    ON THE EXECUTOR (closure-shipped), so a custom fetcher must be
    picklable.
    """
    validate_base_uri(base_uri)
    url = f"{base_uri.rstrip('/')}/{uuid}.tar.gz"
    if url.startswith(("http://", "https://")):
        import urllib.request

        with urllib.request.urlopen(url, timeout=30) as r:  # noqa: S310
            return r.read()
    path = url[len("file://"):] if url.startswith("file://") else url
    with open(path, "rb") as f:
        return f.read()


def fetch_archives(
    manifest: DataFrame,
    base_uri: str,
    dest: str,
    fetcher: Callable[[str, str], bytes] | None = None,
) -> DataFrame:
    """The reference's download loop (city-directories.js:76-106): each
    distinct manifest ``uuid`` is fetched from ``{base_uri}/{uuid}.tar.gz``
    into ``dest`` BY AN EXECUTOR inside ``mapInPandas`` (no driver
    funnel). A failed fetch writes the reference's error artifact, an
    empty ``{uuid}.xml``, marks the row ``error`` and the job keeps going
    (per-archive tolerance, :91-97). Each fetch also removes the uuid's
    other file left in ``dest`` by an earlier run, so a failed re-fetch
    leaves no stale archive for parse to read.

    The manifest is a driver-sized table (one row per directory volume),
    so its distinct uuids are taken on the driver, in manifest order; a
    ``read_manifest`` frame is a local relation, and collecting it runs
    no job. The fetch runs over a local frame of those uuids, spread
    over up to ``defaultParallelism`` tasks, with no shuffle.

    ``fetcher`` is the remote seam (``default_fetcher`` when None, and
    then ``base_uri`` is validated here, on the driver, so an s3://-style
    URI fails fast instead of per row). It runs on the executor, so a
    custom fetcher must be picklable. Returns the lazy
    (uuid, filename, status, n_bytes) frame."""
    import pandas as pd

    if fetcher is None:
        validate_base_uri(base_uri)
    fetch = fetcher if fetcher is not None else default_fetcher

    def _fetch(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                fname, err_name = f"{row.uuid}.tar.gz", f"{row.uuid}.xml"
                try:
                    content = fetch(base_uri, row.uuid)
                    if content is None:
                        raise FileNotFoundError(fname)
                    with open(os.path.join(dest, fname), "wb") as f:
                        f.write(content)
                    out.append((row.uuid, fname, "downloaded", len(content)))
                    stale = err_name
                except Exception:
                    with open(os.path.join(dest, err_name), "wb") as f:
                        f.write(b"")
                    out.append((row.uuid, err_name, "error", 0))
                    stale = fname
                # an earlier run's file for this uuid must not outlive
                # this run's status: parse reads any {uuid}.tar.gz it finds
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(dest, stale))
            yield pd.DataFrame(
                out, columns=["uuid", "filename", "status", "n_bytes"]
            )

    uuids = dict.fromkeys(r.uuid for r in manifest.select("uuid").collect())
    return local_frame(
        manifest.sparkSession, [(u,) for u in uuids], "uuid string"
    ).mapInPandas(_fetch, "uuid string, filename string, status string, n_bytes long")


def cd_download(
    spark: SparkSession,
    sf_dir: str,
    dest: str | None = None,
    base_uri: str | None = None,
    fetcher: Callable[[str, str], bytes] | None = None,
) -> DataFrame:
    """The reference's download step (city-directories.js:76-106
    download/downloadCityDirectory, :135-160 manifest fetch) over the
    fixture manifest: ``fetch_archives``, the same core the CLI's
    download step runs. Point ``base_uri`` at any ``http(s)://`` base
    URL or mounted path and the same plan fetches from it; the default
    is a ``file://`` dir seeded with the fixture archive.

    Returns (uuid, filename, status, n_bytes) per manifest row.
    Rows-only (filesystem side effects); layout + seam asserted in
    tests/test_sources.py (good archive, failing archive, and a
    custom-fetcher path).
    """
    keep = dest is not None
    src = None
    if base_uri is None:
        src = tempfile.mkdtemp(prefix="spark_graft_dl_src_")
        shutil.copy(fixture_archive(), src)
        base_uri = f"file://{src}"
    if dest is None:
        dest = tempfile.mkdtemp(prefix="spark_graft_dl_dest_")
    try:
        manifest = read_manifest(spark, os.path.join(FIXTURES, "manifest.html"))
        result = fetch_archives(manifest, base_uri, dest, fetcher).orderBy("uuid")
        return localize_result(result)
    finally:
        if src is not None:
            shutil.rmtree(src, ignore_errors=True)
        if not keep:
            shutil.rmtree(dest, ignore_errors=True)


def hocr_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tar.gz → pages → column-assigned OCR lines (reference parse step)."""
    pages = read_hocr_pages(spark, fixture_archive())
    return parse_hocr_lines(pages, column_count=2).orderBy("line_index")


def hocr_source_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same parse-step output through the CLI's one-pass reader
    (``read_hocr_lines``: one ``binaryFile`` scan, untar, page window
    and column detection in one Python pass), with the fixture
    manifest's window for the archive: 2 columns, pages 17-488."""
    return read_hocr_lines(spark, {fixture_archive(): (2, 17, 488)}).orderBy(
        "line_index"
    )


def manifest_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML manifest table → typed directory rows (reference :108-133)."""
    return read_manifest(spark, os.path.join(FIXTURES, "manifest.html"))


def sink_partitioned(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """Partitioned parquet sink + partition-pruned read-back.

    The 100 TB write path: ``repartition(partition_cols)`` before
    ``partitionBy`` so each output partition is written by one task
    (no small-files explosion — files per partition == 1 instead of
    tasks × partitions), then a filtered read-back that Catalyst
    prunes to the matching directories (PartitionFilters, verified in
    tests/test_sources.py). Returns per-partition counts.

    The sink is written once per (process, sf_dir, source stamp) into a
    process-unique temp dir (concurrent gate/bench/pytest runs can't
    clobber each other) and reused by later invocations — see
    ``cached_sink_dir``. Pass ``path`` to force a fresh write there.
    """
    from etl_city_directories_spark.sources.tables import load_table

    def _write(p: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.repartition("lang")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(p)
        )

    if path is None:
        path = cached_sink_dir("partitioned_sink", sf_dir, ("documents",), _write)
    else:
        _write(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def ndjson_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write objects as NDJSON, read back, count per type — exercises the
    reference's output contract (objects/logs/relations files).
    Written once per (process, sf_dir, source stamp), reused after."""
    from etl_city_directories_spark.operators.citydir import cd_relations

    rels = cd_relations(spark, sf_dir)
    path = cached_sink_dir(
        "ndjson_sink", sf_dir, ("documents",), lambda p: write_ndjson(rels, p)
    )
    # explicit schema: at scale, JSON schema inference is a full extra
    # scan of the sink before the real read
    back = read_ndjson(spark, path, schema=rels.schema)
    return (
        back.groupBy("rel_type").agg(F.count(F.lit(1)).alias("n")).orderBy("rel_type")
    )


QUERIES = {
    "cd_download": cd_download,
    "hocr_parse": hocr_parse,
    "hocr_source_v2": hocr_source_v2,
    "manifest_parse": manifest_parse,
    "ndjson_sink": ndjson_sink,
    "sink_partitioned": sink_partitioned,
}

ORACLES: dict[str, str] = {
    # the round-trip must preserve per-partition contents exactly
    "sink_partitioned": """
        SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
}

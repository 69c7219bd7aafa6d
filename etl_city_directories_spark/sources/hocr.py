"""hOCR ingestion: tar.gz archives of OCR pages → line-level DataFrame.

Reference behavior (city-directories.js:17-70): stream tar.gz members,
keep ``*.hocr``, split the member filename
``{pageNum}.{imageId}.{pageUuid}.processed.hocr`` into page metadata,
then detect columns per page (hocr-detect-columns) and keep only lines
assigned a columnIndex. Bbox and completeText come from the hOCR spans.

Spark-first shape: archives land as a ``binaryFile`` DataFrame (one row
per tar.gz, grouped into partitions by ``spark.sql.files.maxPartitionBytes``)
and all decompress/untar/XML work happens inside ``mapInPandas`` on the
executors. ``read_hocr_lines`` is the reference's per-archive pass in one
Python call: untar, page window, then ``page_lines`` (column detection and
stitching). ``read_hocr_pages`` + ``parse_hocr_lines`` split that work into a
page scan and a page → lines map.

The XML is parsed with a pair of regexes (hOCR is machine-generated,
schema-stable) rather than a DOM — ~10× less allocation per page.
"""

from __future__ import annotations

import gzip
import io
import re
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

PAGE_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("page_num", IntegerType()),
        StructField("image_id", StringType()),
        StructField("page_uuid", StringType()),
        StructField("hocr", StringType()),
    ]
)

LINE_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("page_num", IntegerType()),
        StructField("image_id", StringType()),
        StructField("page_uuid", StringType()),
        StructField("line_index", IntegerType()),
        StructField("x0", IntegerType()),
        StructField("y0", IntegerType()),
        StructField("x1", IntegerType()),
        StructField("y1", IntegerType()),
        StructField("column_index", IntegerType()),
        StructField("text", StringType()),
    ]
)

_LINE_RE = re.compile(
    r"<span[^>]*class='ocr_line'[^>]*title=\"bbox (\d+) (\d+) (\d+) (\d+)[^\"]*\"[^>]*>(.*?</span>)\s*</span>",
    re.DOTALL,
)
_WORD_RE = re.compile(r"<span[^>]*class='ocrx_word'[^>]*>(.*?)</span>", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")

COLUMN_TOLERANCE_PX = 30


def _parse_member_name(name: str) -> tuple[int, str, str] | None:
    """``25.56886389.c6725860-....processed.hocr`` → (25, imageId, uuid)."""
    base = name.rsplit("/", 1)[-1]
    parts = base.split(".")
    if len(parts) < 3:
        return None
    try:
        return int(parts[0]), parts[1], parts[2]
    except ValueError:
        return None


def extract_lines(hocr: str) -> list[tuple[int, int, int, int, str]]:
    """All ocr_line spans: (x0, y0, x1, y1, joined word text)."""
    out = []
    for m in _LINE_RE.finditer(hocr):
        x0, y0, x1, y1 = (int(m.group(i)) for i in range(1, 5))
        words = [_TAG_RE.sub("", w).strip() for w in _WORD_RE.findall(m.group(5))]
        text = " ".join(w for w in words if w)
        out.append((x0, y0, x1, y1, text))
    return out


MAX_INDENT_PX = 120


def _greedy_clusters(xs: list, x=lambda v: v) -> list[list]:
    """Sorted ``xs`` split wherever ``x`` steps past the column tolerance."""
    clusters = [[xs[0]]]
    for v in xs[1:]:
        if x(v) - x(clusters[-1][-1]) <= COLUMN_TOLERANCE_PX:
            clusters[-1].append(v)
        else:
            clusters.append([v])
    return clusters


# Skew handling: below this estimated slope a page is treated as clean
# (correction would be sub-pixel noise; keeps clean-page output
# bit-identical to the pre-deskew algorithm). Pairs closer than
# MIN_Y_GAP_PX vertically are excluded from the slope estimate —
# a 1-px x jitter over a 10-px y gap would read as a huge slope.
SKEW_MIN_SLOPE = 0.005
SKEW_MAX_SLOPE = 0.2
MIN_Y_GAP_PX = 200


def estimate_skew(lines: list[tuple[int, int, int, int, str]]) -> float:
    """Robust page-skew estimate (px of x drift per px of y): the
    median of pairwise slopes between well-separated lines of the
    most-populated x0 cluster — the Theil-Sen estimator, so up to half
    the cluster can be OCR junk (gutter bleed, broken boxes) without
    moving the answer. Scans skewed past COLUMN_TOLERANCE_PX over the
    page height split one physical column into several clusters under
    a fixed-tolerance scheme (the `hocr-detect-columns` failure mode on
    pathological pages); correcting x0 by this slope first restores
    the clean-page geometry."""
    if len(lines) < 4:
        return 0.0
    clusters = _greedy_clusters(sorted((l[0], l[1]) for l in lines), lambda p: p[0])
    big = max(clusters, key=len)
    if len(big) < 3:
        return 0.0
    big = sorted(big, key=lambda p: p[1])  # by y
    slopes = []
    for i, (x_i, y_i) in enumerate(big):
        for x_j, y_j in big[i + 1:]:
            if y_j - y_i >= MIN_Y_GAP_PX:
                slopes.append((x_j - x_i) / (y_j - y_i))
    if not slopes:
        return 0.0
    slopes.sort()
    slope = slopes[(len(slopes) - 1) // 2]  # lower median, deterministic
    if abs(slope) < SKEW_MIN_SLOPE or abs(slope) > SKEW_MAX_SLOPE:
        return 0.0
    return slope


def deskew_x0(
    lines: list[tuple[int, int, int, int, str]], slope: float
) -> list[int]:
    """Skew-corrected x0 per line (x0 − slope·(y0 − min y0)); the raw
    bboxes stay untouched — only the COLUMN DECISIONS use these."""
    if not lines or slope == 0.0:
        return [l[0] for l in lines]
    y_min = min(l[1] for l in lines)
    return [int(round(l[0] - slope * (l[1] - y_min))) for l in lines]


def column_centers(
    lines: list[tuple[int, int, int, int, str]],
    column_count: int,
    xs_corr: list[int] | None = None,
) -> list[int]:
    """Cluster line x0 starts into ``column_count`` column start
    positions (left to right). Centers are cluster MEDIANS, not means:
    gutter-bleed junk that merges into a real column's cluster shifts
    a mean toward the spine but leaves the median on the column."""
    if not lines:
        return []
    xs = sorted(xs_corr if xs_corr is not None else [l[0] for l in lines])
    clusters = _greedy_clusters(xs)
    # the column_count most-populated clusters, left to right
    best = sorted(
        sorted(clusters, key=len, reverse=True)[:column_count],
        key=lambda c: c[0],
    )
    return [c[(len(c) - 1) // 2] for c in best]


def assign_columns(
    lines: list[tuple[int, int, int, int, str]],
    column_count: int,
    xs_corr: list[int] | None = None,
) -> list[int | None]:
    """Column detection in the spirit of hocr-detect-columns: a line
    gets the index of the column whose start it sits within tolerance
    of, else None (indented continuation / stray lines). Decisions use
    the skew-corrected x0s when provided."""
    xs = xs_corr if xs_corr is not None else [l[0] for l in lines]
    return _nearest_columns(xs, column_centers(lines, column_count, xs_corr))


def _nearest_columns(xs: list[int], centers: list[int]) -> list[int | None]:
    """Index of the first center within tolerance of each x0, else None."""
    out: list[int | None] = []
    for x0 in xs:
        idx = None
        for i, cx in enumerate(centers):
            if abs(x0 - cx) <= COLUMN_TOLERANCE_PX:
                idx = i
                break
        out.append(idx)
    return out


def stitch_continuations(
    lines: list[tuple[int, int, int, int, str]],
    cols: list[int | None],
    centers: list[int],
    xs_corr: list[int] | None = None,
) -> list[tuple[int, int, int, int, int, str, int]]:
    """Merge indented continuation lines into the preceding entry of
    their column, the hocr-detect-columns ``completeText`` contract: a
    wrapped directory entry continues on the next line with a small
    indent, and the published algorithm appends that text to the
    previous line. The reference's own TODO (city-directories.js:243,
    "add bboxes of idented lines!") is covered here too — the merged
    entry's bbox is the union of its lines' bboxes.

    A line is a continuation when its x0 sits MORE than the column
    tolerance but at most MAX_INDENT_PX past a column start; anything
    further right of every column start is a stray and is dropped
    (reference behavior for unassigned lines).

    Returns [(line_index, x0, y0, x1, y1, text, column_index)] with
    continuations folded into their base entries, in document order.
    """
    xs = xs_corr if xs_corr is not None else [l[0] for l in lines]
    out: list[list] = []  # mutable [idx, x0, y0, x1, y1, text, cidx]
    last_in_col: dict[int, int] = {}  # column_index -> position in out
    for i, ((x0, y0, x1, y1, text), cidx) in enumerate(zip(lines, cols)):
        if cidx is not None:
            last_in_col[cidx] = len(out)
            out.append([i, x0, y0, x1, y1, text, cidx])
            continue
        # candidate column: the rightmost start this line is indented
        # past (indent measured on the skew-corrected x)
        cand = None
        for j, cx in enumerate(centers):
            if COLUMN_TOLERANCE_PX < xs[i] - cx <= MAX_INDENT_PX:
                cand = j
        if cand is None or cand not in last_in_col:
            continue  # stray (or continuation with nothing to continue)
        base = out[last_in_col[cand]]
        base[1] = min(base[1], x0)
        base[2] = min(base[2], y0)
        base[3] = max(base[3], x1)
        base[4] = max(base[4], y1)
        base[5] = f"{base[5]} {text}"
    return [tuple(r) for r in out]


def archive_pages(path: str, blob: bytes) -> Iterator[tuple[int, str, str, str]]:
    """One archive's bytes → (page_num, image_id, page_uuid, hocr) per
    ``.hocr`` member; gunzipped first when ``path`` ends in ``.gz``.

    A corrupt archive (truncated gzip stream, clipped tar header, short
    member payload) skips THAT archive/member and keeps the scan alive —
    the reference records fetch failures per volume as {uuid}.xml error
    files rather than aborting the run (city-directories.js:87-106);
    cd_download carries that error-file contract, this is its
    parse-side twin. Every archive scan reads through here.
    """
    try:
        if path.endswith(".gz"):
            blob = gzip.decompress(blob)
        tf = tarfile.open(fileobj=io.BytesIO(blob))
    except (OSError, tarfile.TarError, EOFError):
        return
    with tf:
        try:
            members = list(tf)
        except (OSError, tarfile.TarError, EOFError):
            return  # header walk died: unreadable past here
        for member in members:
            if not member.name.endswith(".hocr"):
                continue
            meta = _parse_member_name(member.name)
            if meta is None:
                continue
            try:
                f = tf.extractfile(member)
                if f is None:
                    continue
                data = f.read()
            except (OSError, tarfile.TarError, EOFError):
                continue  # truncated member: skip just it
            yield (*meta, data.decode("utf-8", errors="replace"))


def page_lines(
    hocr: str, column_count: int
) -> list[tuple[int, int, int, int, int, int, str]]:
    """One page's hOCR → (line_index, x0, y0, x1, y1, column_index, text)
    per entry, with ``column_count`` declared by the caller as in the
    reference (city-directories.js:224-232 hands the manifest's
    columnCount to hocr-detect-columns). Column decisions run on
    skew-corrected x0s (clean pages are untouched)."""
    lines = extract_lines(hocr)
    xs_corr = deskew_x0(lines, estimate_skew(lines))
    centers = column_centers(lines, column_count, xs_corr)
    cols = _nearest_columns(xs_corr, centers)
    stitched = stitch_continuations(lines, cols, centers, xs_corr)
    return [(i, x0, y0, x1, y1, cidx, text) for i, x0, y0, x1, y1, text, cidx in stitched]


def _kept(lines: DataFrame) -> DataFrame:
    """Column-assigned lines, dot runs collapsed last (reference order,
    city-directories.js:245)."""
    return lines.filter(F.col("column_index").isNotNull()).withColumn(
        "text", F.regexp_replace("text", r"\.+", ".")
    )


def read_hocr_pages(spark: SparkSession, archive_glob: str) -> DataFrame:
    """tar.gz archives → one row per .hocr page member."""
    binaries = spark.read.format("binaryFile").load(archive_glob)

    def explode_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [
                (path, *page)
                for path, content in zip(batch["path"], batch["content"])
                for page in archive_pages(path, bytes(content))
            ]
            yield pd.DataFrame(rows, columns=PAGE_SCHEMA.fieldNames())

    return binaries.select("path", "content").mapInPandas(explode_pages, PAGE_SCHEMA)


def parse_hocr_lines(pages: DataFrame, column_count: int = 2) -> DataFrame:
    """Pages → column-assigned OCR lines (reference parse step
    city-directories.js:223-247, incl. dot-run collapse), with
    ``column_count`` for every page as in ``page_lines``."""

    def explode_lines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [
                (rec.archive, rec.page_num, rec.image_id, rec.page_uuid, *line)
                for rec in batch.itertuples(index=False)
                for line in page_lines(rec.hocr, column_count)
            ]
            yield pd.DataFrame(rows, columns=LINE_SCHEMA.fieldNames())

    return _kept(pages.mapInPandas(explode_lines, LINE_SCHEMA))


def read_hocr_lines(
    spark: SparkSession, archives: dict[str, tuple[int, int, int]]
) -> DataFrame:
    """The reference's per-archive parse loop (city-directories.js:196-247)
    in one ``binaryFile`` scan and one Python pass: ``archives`` maps each
    archive path to its (column_count, start_page, end_page); pages outside
    the window are dropped before column detection. Scan rows find their
    window by file name, so the names must differ."""
    windows = {p.rsplit("/", 1)[-1]: w for p, w in archives.items()}
    if len(windows) != len(archives):
        raise ValueError("archive file names must be distinct")
    scan = spark.read.format("binaryFile").load(list(archives)).select("path", "content")

    def explode_archives(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for path, content in zip(batch["path"], batch["content"]):
                k, first, last = windows[path.rsplit("/", 1)[-1]]
                for page_num, *meta, hocr in archive_pages(path, bytes(content)):
                    if first <= page_num <= last:
                        rows += [(path, page_num, *meta, *ln) for ln in page_lines(hocr, k)]
            yield pd.DataFrame(rows, columns=LINE_SCHEMA.fieldNames())

    return _kept(scan.mapInPandas(explode_archives, LINE_SCHEMA))

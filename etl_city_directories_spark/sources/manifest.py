"""Manifest source: the HTML table listing directory volumes.

Reference behavior (city-directories.js:108-133): read <thead> th texts
as keys, zip each <tbody> row's td texts, trim, blank → undefined;
parse startPage/endPage/columnCount as ints and year as either a plain
int or ``1850/51`` → [1850, 1851]; drop rows missing any required field
or with a columnCount below 1.

The manifest is a few hundred rows — a driver-side parse into a
DataFrame is the correct distribution strategy (shipping an HTML parser
to executors for 2 KB of input would be cargo-cult parallelism; parse
collects the rows back to the driver and applies them as a literal map
keyed by uuid, with no join). The rows become a JVM-local relation
(``sources.local``), so scanning them starts no Python worker.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from etl_city_directories_spark.sources.local import local_frame

MANIFEST_SCHEMA = StructType(
    [
        StructField("uuid", StringType()),
        StructField("year_raw", StringType()),
        StructField("year_start", IntegerType()),
        StructField("year_end", IntegerType()),
        StructField("start_page", IntegerType()),
        StructField("end_page", IntegerType()),
        StructField("column_count", IntegerType()),
    ]
)


class _TableParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.headers: list[str] = []
        self.rows: list[list[str]] = []
        self._in_thead = False
        self._cell: list[str] | None = None
        self._row: list[str] | None = None

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "thead":
            self._in_thead = True
        elif tag == "tr":
            self._row = []
        elif tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "thead":
            self._in_thead = False
        elif tag in ("td", "th") and self._cell is not None and self._row is not None:
            self._row.append("".join(self._cell).strip())
            self._cell = None
        elif tag == "tr" and self._row is not None:
            if self._in_thead:
                self.headers = self._row
            elif self._row:
                self.rows.append(self._row)
            self._row = None

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def _to_int(s: str | None) -> int | None:
    if not s:
        return None
    try:
        return int(s)
    except ValueError:
        return None


def parse_manifest_html(html: str) -> list[dict]:
    p = _TableParser()
    p.feed(html)
    out = []
    for row in p.rows:
        rec = dict(zip(p.headers, row))
        year_raw = rec.get("year") or ""
        parts = year_raw.split("/")
        if len(parts) == 2 and parts[0].isdigit():
            year_start, year_end = int(parts[0]), int(parts[0]) + 1
        else:
            year_start = year_end = _to_int(year_raw)
        parsed = {
            "uuid": rec.get("uuid") or None,
            "year_raw": year_raw or None,
            "year_start": year_start,
            "year_end": year_end,
            "start_page": _to_int(rec.get("startPage")),
            "end_page": _to_int(rec.get("endPage")),
            "column_count": _to_int(rec.get("columnCount")),
        }
        # reference filter (:130): every field required; a page has a column
        if all(
            parsed[k] is not None
            for k in ("uuid", "year_start", "start_page", "end_page", "column_count")
        ) and parsed["column_count"] >= 1:
            out.append(parsed)
    return out


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    with open(path, encoding="utf-8") as f:
        rows = parse_manifest_html(f.read())
    return local_frame(
        spark,
        [tuple(r[f.name] for f in MANIFEST_SCHEMA.fields) for r in rows],
        MANIFEST_SCHEMA,
    )

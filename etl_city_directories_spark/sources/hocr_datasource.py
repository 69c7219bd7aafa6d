"""hOCR tar.gz archives as a Spark 4 Python Data Source.

``sources.hocr.read_hocr_pages`` expresses the archive scan as
``binaryFile`` + ``mapInPandas``; this module is the same contract as
a first-class pluggable source (the Python Data Source API, Spark 4):

    spark.dataSource.register(HocrTarDataSource)
    spark.read.format("hocr_tar").load("/data/archives/*.tar.gz")

One ``InputPartition`` per archive — Spark schedules archives across
executors and each task streams ONLY its own file (no driver-side
byte shuffling, no whole-file rows through the plan the way
``binaryFile`` ships them). At 100 TB of archives this is the shape a
production connector has: partition = independently-fetchable unit,
reader = local decompress/untar/parse generator.

Malformed-input contract matches sources.hocr (the reference records
failures per volume and continues — city-directories.js:87-106):
corrupt archives/members are skipped, never fatal.
"""

from __future__ import annotations

import glob as globmod

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from etl_city_directories_spark.sources.hocr import PAGE_SCHEMA, archive_pages


class _ArchivePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class _HocrTarReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("hocr_tar: .load(<glob of .tar.gz archives>) required")
        self._glob = path

    def partitions(self) -> list[InputPartition]:
        # one partition per archive: the independently-schedulable unit
        return [_ArchivePartition(p) for p in sorted(globmod.glob(self._glob))]

    def read(self, partition: _ArchivePartition):
        # runs on the executor owning this partition; stream one archive
        path = partition.path
        try:
            with open(path, "rb") as f:
                blob = f.read()
        except OSError:
            return  # unreadable archive: contribute nothing, never fail
        # binaryFile reports file: URIs; match it so the two scan paths
        # are row-identical drop-ins
        archive = (
            path if "://" in path or path.startswith("file:") else f"file:{path}"
        )
        for page in archive_pages(path, blob):
            yield (archive, *page)


class HocrTarDataSource(DataSource):
    """``format("hocr_tar")``: one row per .hocr page member."""

    @classmethod
    def name(cls) -> str:
        return "hocr_tar"

    def schema(self) -> StructType:
        return PAGE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _HocrTarReader(self.options)


def read_hocr_pages_v2(spark, archive_glob: str):
    """Pages via the registered Python Data Source (idempotent
    registration; same output contract as sources.hocr.read_hocr_pages
    minus binaryFile's row-size limits)."""
    spark.dataSource.register(HocrTarDataSource)
    return spark.read.format("hocr_tar").load(archive_glob)

"""Events replay as a Spark 4 Python STREAMING Data Source.

A ``DataSourceStreamReader`` (the partitioned, executor-scalable
variant, not the driver-side Simple reader) that replays the events
parquet in deterministic row-range microbatches:

    spark.dataSource.register(EventsReplayDataSource)
    spark.readStream.format("events_replay")
         .option("path", f"{sf_dir}/events.parquet")
         .option("batches", "3").load()

Offsets are row indices into the parquet (monotone, replayable —
exactly what a Kafka-offset-shaped source looks like); ``partitions``
splits each microbatch's row range into ``chunk`` sized slices, and
``read`` runs ON EXECUTORS, each task reading ONLY its slice via
pyarrow (row-group pruned by the slice bounds). A production
deployment swaps the parquet paging for a queue client with the same
offset contract; the planner/executor split stays identical.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_SCHEMA = (
    "event_id bigint, ts_us bigint, user_id bigint, "
    "event_type string, value double"
)

_CHUNK_ROWS = 20_000


class _RangePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int) -> None:
        self.path = path
        self.start = start
        self.end = end


def _row_count(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


class _EventsReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_replay: option('path', <events.parquet>) required")
        self._path = path
        self._n_batches = max(1, int(options.get("batches", "3")))
        self._total = _row_count(path)
        # fixed per-microbatch advance → deterministic replay
        self._step = max(1, -(-self._total // self._n_batches))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        # advance one step per microbatch until the file is exhausted
        cur = getattr(self, "_cur", 0)
        nxt = min(cur + self._step, self._total)
        self._cur = nxt
        return {"row": nxt}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        parts = []
        for s in range(lo, hi, _CHUNK_ROWS):
            parts.append(_RangePartition(self._path, s, min(s + _CHUNK_ROWS, hi)))
        return parts or [_RangePartition(self._path, lo, lo)]

    def read(self, partition: _RangePartition):
        # executor-side: read ONLY this slice's rows
        import pyarrow.parquet as pq

        if partition.end <= partition.start:
            return
        t = pq.read_table(
            partition.path,
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        ).slice(partition.start, partition.end - partition.start)
        ts = t.column("ts")
        import pyarrow as pa
        import pyarrow.compute as pc

        if pa.types.is_timestamp(ts.type):
            unit = ts.type.unit
            ints = pc.cast(ts, pa.int64())
            if unit == "ns":
                ts_us = pc.divide(ints, 1000)
            elif unit == "us":
                ts_us = ints
            elif unit == "ms":
                ts_us = pc.multiply(ints, 1000)
            else:  # "s"
                ts_us = pc.multiply(ints, 1_000_000)
        else:  # INT64 epoch nanos (the r01 encoding)
            ts_us = pc.divide(pc.cast(ts, pa.int64()), 1000)
        out = pa.table(
            {
                "event_id": t.column("event_id"),
                "ts_us": pc.cast(ts_us, pa.int64()),
                "user_id": t.column("user_id"),
                "event_type": t.column("event_type"),
                "value": t.column("value"),
            }
        )
        # Arrow RecordBatches, not per-row tuples: the vectorized
        # transfer path of the Python Data Source API
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets derive from the immutable file; nothing to ack


class EventsReplayDataSource(DataSource):
    """``format("events_replay")``: offset-tracked events microbatches."""

    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return _SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _EventsReplayStreamReader(self.options)


def events_replay_stream(spark, sf_dir: str, batches: int = 3):
    """readStream over the registered source (idempotent registration)."""
    spark.dataSource.register(EventsReplayDataSource)
    return (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batches", str(batches))
        .load()
    )

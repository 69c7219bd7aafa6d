"""Structured Streaming operators: tumbling-window rollup and stateful
gap sessionization.

Both read the events table through the parquet *file-stream* source
(``spark.readStream``) — the same code path a production deployment
points at an arriving-files directory or Kafka — and both are exposed
to the driver as batch-shaped entries: the query runs with
``trigger(availableNow=True)`` into a memory sink, terminates, and the
materialized sink table is returned. With a single availableNow pass
the results equal the batch twins (``q_tumbling_window`` /
``q_sessionize``), so BOTH entries are fully DuckDB-oracle-checked —
stronger than the rows-only contract SURVEY §2.D promised.

Scale notes:
- The tumbling agg is a streaming state-store aggregation keyed on
  (window, event_type): partial aggregation map-side, one shuffle on
  the composite key, state partitioned by ``shuffle.partitions``. The
  production variant adds ``withWatermark`` + append mode so state is
  bounded; complete mode is used here because the memory sink must
  materialize every window for the finite replay.
- Sessionization is ``applyInPandasWithState`` keyed on user_id:
  per-user state is one open session tuple (4 longs), independent of
  history length — the same bound that lets a 1000-executor cluster
  hold hundreds of millions of live sessions. Events arrive
  Arrow-batched per (user, microbatch); closed sessions emit as soon
  as the gap that closes them is seen (update mode).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    DoubleType,
    TimestampNTZType,
    TimestampType,
)

from etl_city_directories_spark.functions.memo import cached_sink_dir, rolling_dir
from etl_city_directories_spark.functions.numeric import dec2
from etl_city_directories_spark.session import clone_session
from etl_city_directories_spark.sources import tables

SESSION_GAP_MIN = 30  # must match operators.windows.SESSION_GAP_MIN
_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

# Every replay builds and runs its streaming query in a clone of the
# caller's session (_replay_session). The clone keeps the caller's
# runtime conf (timezone, ANSI mode, ...) and carries its own
# ``spark.sql.shuffle.partitions``, which fixes the state-store count
# at the first batch and sizes the per-batch merge shuffles. The
# caller's conf is never written, and each memory sink is a view in
# the clone's catalog, so it lives only as long as the returned plan.
# Static sides (dims, fixtures) stay frames of the caller's session.
#
# The replay is finite and its state is kilobytes, while every
# HDFS-backed store costs per-batch commit files and a scheduled task
# whether or not it holds state, so the count sits well below the core
# count (r05: 32 -> 8 measured 6.8 s -> 2.8 s on the two-sided join).
# There are two values because r11's interleaved A/B split the keys:
# JVM-stateful replays are commit-file/task-quantum bound — 8 -> 2 cut
# the 8-key JVM basket 13.6 -> 11.4 s best / 16.4 -> 12.1 s median —
# while the four applyInPandasWithState operators are Python-worker
# bound (state partitions are their only parallelism axis), where 8
# beats 4 (14.8 vs 16.2 s best). A production deployment sets cluster
# width here instead.
REPLAY_STATE_PARTITIONS = 2
PY_STATE_PARTITIONS = 8


def _replay_session(
    spark: SparkSession, partitions: int = REPLAY_STATE_PARTITIONS
) -> SparkSession:
    """A clone of ``spark`` (same runtime conf) with ``partitions``
    shuffle/state partitions, for one replay to build and run in."""
    return clone_session(spark, {"spark.sql.shuffle.partitions": str(partitions)})


def _events_schema(sf_dir: str) -> StructType:
    """Stream-source schema matching the file's actual ``ts`` encoding.

    The driver regenerates testdata between rounds and has flipped the
    events ``ts`` physical type once already (INT64 nanos → micros), so
    the schema is derived from the parquet footer per sf_dir rather
    than hard-coded (r02's silent-1000×-time-compression bug).
    """
    enc = tables.events_ts_encoding(sf_dir)
    if enc == "nanos_long":
        ts_type: Any = LongType()
    elif enc == "ntz":
        ts_type = TimestampNTZType()
    else:
        ts_type = TimestampType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events parquet, ts → TimestampType."""
    tables.events_conf(spark, sf_dir)
    schema = _events_schema(sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn(
        "ts", tables._ts_to_timestamp(schema["ts"].dataType)
    )


def _replay_stream(
    spark: SparkSession,
    schema: str,
    path: str,
    partitions: int = REPLAY_STATE_PARTITIONS,
) -> DataFrame:
    """File-stream source over a fixture dir on a replay session, one
    file per microbatch (file mtimes set the order)."""
    return (
        _replay_session(spark, partitions)
        .readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _run_to_table(result: DataFrame, name: str, mode: str) -> DataFrame:
    """Run the streaming query to completion into a memory sink and
    return the sink table, read in the session that ran the query."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly tumbling rollup (twin of q_tumbling_window)."""
    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "stream_tumbling_agg_sink", "complete")


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

# open-session state: (session_seq, session_start_us, last_ts_us, n_events)
_STATE_SCHEMA = StructType(
    [
        StructField("session_seq", LongType()),
        StructField("session_start_us", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this user's micro-batch into gap sessions.

    Emits every session whose membership changed this batch: sessions
    closed by a > gap step emit their final form; the still-open
    session emits its current snapshot (update-mode semantics). State
    carries only the open session across batches.
    """
    (user_id,) = key
    ts_list: list[int] = []
    for pdf in batches:
        ts_list.extend(int(t) for t in pdf["ts_us"])
    ts_list.sort()

    if state.exists:
        seq, start, last, n = state.get
    else:
        seq, start, last, n = 0, None, None, 0

    out: list[tuple[int, int, int, int, int]] = []
    for t in ts_list:
        if last is None or t - last > _GAP_US:
            if start is not None:
                out.append((user_id, seq, start, last, n))
            seq, start, n = seq + 1, t, 1
        else:
            n += 1
        last = t
    if start is not None:
        out.append((user_id, seq, start, last, n))  # open-session snapshot
        state.update((seq, start, last, n))

    yield pd.DataFrame(out, columns=[f.name for f in SESSION_SCHEMA.fields])


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming gap sessionization (twin of q_sessionize)."""
    replay = _replay_session(spark, PY_STATE_PARTITIONS)
    events = events_stream(replay, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        SESSION_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_table(sessions, "stream_sessionize_sink", "update")
    # The memory sink in update mode APPENDS each microbatch's emits:
    # with a multi-file source (or maxFilesPerTrigger) a session that
    # spans microbatches appears once per batch, earlier rows being
    # stale open-session snapshots. Keep only the final snapshot per
    # (user_id, session_seq) — a no-op for the single-microbatch replay.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.desc("session_end_us"), F.desc("n_events")
    )
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the set of distinct normalized-text
    hashes, maintained as dropDuplicates state while documents arrive.

    The state store is keyed on the hash (one entry per distinct doc —
    the minimum any exact dedup must remember); a production deployment
    bounds it with ``withWatermark`` + ``dropDuplicatesWithinWatermark``
    when near-in-time duplicates are the target.
    """
    docs = (
        _replay_session(spark)
        .readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    hashes = docs.select(
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
        ).alias("text_hash")
    ).dropDuplicates(["text_hash"])
    return _run_to_table(hashes, "stream_dedup_exact_sink", "append")


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window counts: 1-hour windows every 30
    minutes, so each event belongs to exactly two overlapping windows.

    Same state-store aggregation as the tumbling variant, keyed on
    (window, event_type) — the overlap factor multiplies state size by
    duration/slide (2× here), which is the scale knob to watch: a
    1h/30m slide doubles, a 1h/1m slide would 60× the state rows.
    """
    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_table(agg, "stream_sliding_agg_sink", "complete")


WATERMARK_DELAY_MIN = 30
_WM_US = WATERMARK_DELAY_MIN * 60 * 1_000_000
_HOUR_US = 3_600_000_000


def _build_late_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Three-microbatch replay fixture for watermark semantics.

    File 1: events below the corpus midpoint — after this batch the
    watermark advances to W1 = max(file-1 ts) − delay. File 2: the
    on-time remainder. File 3: late re-arrivals — copies of old events
    whose windows are far below W1, so a correct watermark MUST drop
    them. The late rows go in the THIRD batch because Spark's
    late-record filter lags eviction by one batch (the chained-
    stateful-operator semantics: batch N drops with the watermark of
    batch N−2, evicts with N−1) — verified empirically; in a two-file
    layout the late rows would arrive under late-threshold 0 and be
    silently accepted. File mtimes force the batch order.

    The fixture derivation is deterministic, so the files are written
    once per (process, sf_dir, events stamp) and reused across the
    operators that replay them (memo.cached_sink_dir). The whole
    derivation — including the split/watermark scalar aggregates —
    lives INSIDE the write closure (r11, guide §1.2): the scalars exist
    only to build the files, so recomputing them per call charged every
    cached-path invocation two full-corpus aggregate jobs for values it
    never used. Returns the fixture dir.
    """
    def _write_all(out: str) -> None:
        events = load_table_events_us(spark, sf_dir)
        lo, hi = events.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
        split_us = (lo + hi) // 2
        f1 = events.filter(F.col("ts_us") < split_us)
        w1_us = f1.agg(F.max("ts_us")).collect()[0][0] - _WM_US
        f2 = events.filter(F.col("ts_us") >= split_us)
        late = f1.filter(
            (F.col("ts_us") < w1_us - _HOUR_US) & (F.col("event_id") % 97 == 0)
        )
        _write_file(f1, out, "batch1.parquet", 1_000_000_000)
        _write_file(f2, out, "batch2.parquet", 1_000_000_100)
        _write_file(late, out, "batch3.parquet", 1_000_000_200)

    return cached_sink_dir("late_fixture", sf_dir, ("events",), _write_all)


def _write_file(df: DataFrame, out: str, name: str, mtime: int) -> None:
    """Write ``df`` as the single parquet file ``out/name`` with the
    given mtime, which orders the file-stream replay."""
    tmp = os.path.join(out, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    dest = os.path.join(out, name)
    os.replace(os.path.join(tmp, part), dest)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dest, (mtime, mtime))


def load_table_events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_city_directories_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )


def _late_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-batch late fixture as a watermarked replay stream."""
    path = _build_late_fixture(spark, sf_dir)
    return (
        _replay_stream(spark, "event_id LONG, ts_us LONG, event_type STRING", path)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", f"{WATERMARK_DELAY_MIN} minutes")
    )


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode tumbling counts over a late-data replay.

    ``withWatermark(30 min)`` + append mode: a window emits exactly
    once, when the watermark passes its end, and late rows below the
    watermark are DROPPED — the state store holds only windows within
    the delay of the max seen event time, which is the bound that lets
    a 1000-executor job run forever. The three-file fixture replays as
    three microbatches (maxFilesPerTrigger=1): batch 1 sets the
    watermark, batch 2 advances it, batch 3 carries deliberately-late
    re-arrivals that the watermark must reject (see
    _build_late_fixture for why late rows need their own batch). The
    DuckDB oracle is the batch twin over the finalized windows (end ≤
    final watermark = global max − delay) counting on-time rows only —
    if the watermark failed to drop the late rows, duplicate window
    emissions would break the hash match. tests/test_streaming.py
    additionally asserts the late set is non-empty and overlaps
    emitted windows — the drop is load-bearing, not vacuous.
    """
    agg = (
        _late_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_start_us"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_table(agg, "stream_late_data_sink", "append")


def _run_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list]:
    """Run the bounded-state streaming dedup over the 3-batch late
    fixture; returns (emitted table, per-batch progress metrics)."""
    dd = (
        _late_stream(spark, sf_dir)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts_us", "event_type")
    )
    name = "stream_dedup_within_watermark_sink"
    q = (
        dd.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dd.sparkSession.table(name), q.recentProgress


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    over the watermarked 3-batch late-data replay — the PRODUCTION
    form of stream_dedup_exact, whose docstring promises exactly this
    upgrade: dedup state is evicted once the watermark passes a key's
    event time + delay, so state size is bounded by the delay window
    however long the stream runs.

    On the fixture: batches 1-2 emit every event exactly once (state
    holds only the trailing watermark window — the per-batch metrics
    show ~10k evictions and a 14-row final state,
    tests/test_streaming.py asserts both); batch 3's deliberately-late
    duplicate re-arrivals fall below the watermark and are dropped
    before the dedup state is ever consulted. Emitted set ≡ the
    distinct event set, which is what the DuckDB oracle checks.
    """
    result, _progress = _run_dedup_within_watermark(spark, sf_dir)
    return result


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the
    customer dim, rolled up per (market segment, event type).

    The static side is a plain batch DataFrame broadcast into every
    microbatch — the standard dimension-enrichment pattern (no state
    store involved for the join itself; only the downstream agg is
    stateful). At scale the dim either broadcasts or is published as a
    Delta/parquet snapshot re-read per trigger.
    """
    from etl_city_directories_spark.sources.tables import load_table

    ev = events_stream(_replay_session(spark), sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(customer), ev.user_id == customer.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
    )
    return _run_to_table(agg, "stream_static_join_sink", "complete")


JOIN_WINDOW_MIN = 30


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same
    user's clicks within the preceding 30 minutes.

    Both sides are watermarked streams; the join condition combines
    the user equi-key with an event-time interval, which is what lets
    Spark bound the join STATE — each side retains only rows within
    watermark + interval, the eviction contract that makes an
    unbounded two-stream join runnable forever on a cluster. Append
    mode (the canonical stream-stream join mode): matches emit as
    found; with the finite availableNow replay the inner join emits
    exactly the batch interval-join result, so the DuckDB twin is
    exact.

    Both sides derive from ONE ``events_stream`` source (a streaming
    self-join): Spark tracks one set of file offsets for the shared
    source, so ingest is not doubled the way two independent
    ``readStream`` scans would be (r02 shape) — at 100 TB/day the
    difference is a second full pass over the firehose.
    """
    ev = events_stream(_replay_session(spark), sf_dir).filter(
        F.col("event_type").isin("purchase", "click")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
        ),
    ).select(
        "p_user",
        F.unix_micros("p_ts").alias("p_ts_us"),
        F.unix_micros("c_ts").alias("c_ts_us"),
    )
    return _run_to_table(joined, "stream_stream_join_sink", "append")


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization with Spark's NATIVE ``session_window``
    aggregation (vs stream_sessionize's hand-rolled
    ``applyInPandasWithState``): the state store itself merges
    per-key windows whose gap is under 30 minutes — no Python in the
    loop, the whole operator runs as a JVM stateful aggregation.

    session_window's end is last-event + gap, so session_end_us
    subtracts the gap back to the last event time, making the output
    comparable to the batch sessionize contract (same oracle shape,
    no session_seq — the native operator identifies sessions by start
    time, not ordinal). Complete mode over the finite replay; a
    production deployment uses withWatermark + append so closed
    sessions emit exactly once and state stays bounded by the gap.
    """
    sessions = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            (F.unix_micros(F.col("w.end")) - F.lit(_GAP_US)).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )
    return _run_to_table(sessions, "stream_session_window_sink", "complete")


_PURCHASE_SCHEMA = "user_id LONG, ts_us LONG, event_id LONG, value DOUBLE"


def _purchase_replay_source(spark: SparkSession, sf_dir: str) -> str:
    """Two-file, time-split replay of the purchase events — the shared
    multi-microbatch fixture for the foreachBatch merge and the
    Python-stateful operators (``maxFilesPerTrigger=1`` gives each
    file its own microbatch, so cross-batch state provably
    accumulates)."""
    from etl_city_directories_spark.sources.tables import load_table

    return _time_split_fixture(
        "fbu_src",
        sf_dir,
        lambda: load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            dec2("value").cast("double").alias("value"),
        ),
    )


def _time_split_fixture(
    kind: str, sf_dir: str, feed: Callable[[], DataFrame]
) -> str:
    """Write ``feed()`` as b1.parquet / b2.parquet, split at the
    midpoint of its ``ts_us`` range, b1 first in replay order. Written
    once per (process, sf_dir, events stamp); the split-point
    aggregate lives inside the write closure (r11) so a cached-path
    call costs zero Spark jobs."""

    def _write_all(out: str) -> None:
        df = feed()
        lo, hi = df.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
        split_us = (lo + hi) // 2
        early = df.filter(F.col("ts_us") < split_us)
        _write_file(early, out, "b1.parquet", 1_000_000_000)
        late = df.filter(F.col("ts_us") >= split_us)
        _write_file(late, out, "b2.parquet", 1_000_000_100)

    return cached_sink_dir(kind, sf_dir, ("events",), _write_all)


def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerance contract: a stateful aggregation STOPPED and
    RESTARTED from its checkpoint must resume exactly — no reprocessed
    rows, no lost state. Two separate queries share one checkpoint:
    query 1 sees only the first half-file of the purchase replay and
    terminates; the second half-file is then added and query 2 starts
    from the SAME checkpoint, reading ONLY the new file (source offsets
    recovered) while its complete-mode output carries query 1's
    aggregation state (state store recovered). The final snapshot
    hash-matches the batch aggregate of BOTH halves — the property that
    makes streaming jobs restartable in production.
    """
    import pyarrow.parquet as pq

    fixture = _purchase_replay_source(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    replay = _replay_session(spark)

    def _run(file: str, name: str):
        """Add one fixture file, then run from the shared checkpoint."""
        shutil.copy(os.path.join(fixture, file), src_dir)
        q = (
            replay.readStream.schema(_PURCHASE_SCHEMA)
            .parquet(src_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.sum(dec2("value")).cast("double").alias("total_value"),
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # phase 1: only b1 visible; run to completion and STOP
    _run("b1.parquet", "stream_ckpt_phase1")
    n_phase1 = replay.table("stream_ckpt_phase1").count()
    assert n_phase1 > 0, "phase 1 must aggregate something"
    # phase 2: b2 arrives; RESTART from the same checkpoint
    q2 = _run("b2.parquet", "stream_checkpoint_recovery_sink")
    # recovery proof: the restarted query read ONLY the new file
    total_in = sum(p.get("numInputRows", 0) for p in q2.recentProgress)
    b2_rows = pq.read_metadata(os.path.join(fixture, "b2.parquet")).num_rows
    assert total_in == b2_rows, (
        f"restart reprocessed data: read {total_in}, b2 has {b2_rows}"
    )
    rolling_dir(spark, (sf_dir, "ckpt"), work)  # keep live for the returned plan
    return replay.table("stream_checkpoint_recovery_sink").orderBy("user_id")


def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming through a CUSTOM Python Data Source
    (sources.events_stream_source): the events table replayed as 3
    offset-tracked microbatches, each planned as row-range partitions
    read executor-side via Arrow RecordBatches — the pluggable-source
    twin of the file-stream path. Per-type counts and decimal-exact
    value sums accumulate across the microbatches (complete mode);
    the DuckDB batch aggregate is the oracle, so the custom source's
    offset planning provably loses/duplicates nothing."""
    import json
    import re
    import time

    from etl_city_directories_spark.sources.events_stream_source import (
        _row_count,
        events_replay_stream,
    )

    replay = _replay_session(spark)
    tables.events_conf(replay, sf_dir)
    agg = (
        events_replay_stream(replay, sf_dir, batches=3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
    )
    total = _row_count(f"{sf_dir}/events.parquet")
    # availableNow would freeze the bound at the FIRST latestOffset
    # call (one giant batch); a processing-time trigger lets the
    # source advance its offset 3×. Stop when the committed batches
    # account for EVERY file row exactly — cumulative numInputRows
    # == total rules out loss AND duplication, and (unlike waiting
    # for a trailing empty batch) doesn't stall on Spark's 10 s
    # noDataProgressEventInterval, which suppresses the empty
    # batch's progress event and used to cost this query 10.5 s of
    # pure idle wait (the r04 perf flag).
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_python_source_sink")
        .outputMode("complete")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("sources"):
                # offset serialization varies (json vs repr); the row
                # index is the only number in it either way
                end = str(p["sources"][0].get("endOffset") or "")
                m = re.search(r"\d+", end)
                if m and int(m.group()) >= total:
                    consumed = sum(
                        json.loads(pp.json).get("numInputRows", 0)
                        for pp in q.recentProgress
                    )
                    if consumed >= total:
                        assert consumed == total, (
                            f"replay duplicated rows: {consumed} > {total}"
                        )
                        break
            time.sleep(0.05)
        else:
            raise TimeoutError("events_replay never reached end offset")
    finally:
        q.stop()  # a processing-time query never stops by itself
    q.awaitTermination()
    return replay.table("stream_python_source_sink").orderBy("event_type")


_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_purchases", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def stream_stateful_processor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing with ``applyInPandasWithState``:
    per-user running purchase totals held in a (count, cents) group
    state, replayed over the two-file fixture (``maxFilesPerTrigger=1``)
    so the state provably accumulates ACROSS microbatches (batch 2
    emissions extend batch 1's counts).

    Money accumulates as integer cents inside the Python state —
    decimal-exact regardless of arrival order — so the final snapshot
    hash-matches the DuckDB batch aggregate bit-for-bit. Update-mode
    emissions are collapsed to the latest row per user with one
    max(struct) aggregation (counts are monotone).

    Spark 4's typed StatefulProcessor API would hold the same state,
    but its Python worker needs protobuf, which is not a dependency of
    this package."""
    src = _purchase_replay_source(spark, sf_dir)
    stream = _replay_stream(
        spark, _PURCHASE_SCHEMA, src, PY_STATE_PARTITIONS
    ).withColumn("cents", F.round(F.col("value") * 100).cast("long"))

    def _totals_group(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in batches:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((int(n), int(cents)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_purchases": [int(n)],
                "total_cents": [int(cents)],
            }
        )

    result = stream.groupBy("user_id").applyInPandasWithState(
        _totals_group,
        outputStructType=_TOTALS_OUT,
        stateStructType="n BIGINT, cents BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_table(result, "stream_stateful_processor_sink", "update")
    return (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("n_purchases", "total_cents")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_purchases").alias("n_purchases"),
            (F.col("s.total_cents").cast("double") / 100.0).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
    )


def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful window aggregations in one streaming query
    (Spark 3.4+ multiple-stateful-operator support): hourly tumbling
    counts per event type feed a second, daily tumbling rollup via
    ``window_time`` — the downsample-then-rollup cascade a metrics
    pipeline runs as one job instead of two with an intermediate topic.

    Both stages share the query watermark; append mode means a day
    emits exactly once, when the watermark passes its end, so the
    oracle is the batch twin restricted to FINALIZED days (day end ≤
    final watermark = max event time − 0s delay) — the same
    finalization contract stream_late_data pins. State is two window
    stores bounded by the watermark; at production scale this is the
    pattern that halves the number of streaming hops."""
    src = events_stream(_replay_session(spark), sf_dir).withWatermark("ts", "0 seconds")
    hourly = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events_day"),
            F.max("n_events").alias("peak_hour_events"),
            F.count(F.lit(1)).alias("n_active_hours"),
        )
        .select(
            F.unix_micros(F.col("d.start")).alias("day_start_us"),
            "event_type",
            F.col("n_events_day").cast("bigint").alias("n_events_day"),
            F.col("peak_hour_events").cast("bigint").alias("peak_hour_events"),
            F.col("n_active_hours").cast("bigint").alias("n_active_hours"),
        )
    )
    return _run_to_table(daily, "stream_chained_windows_sink", "append")


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD1 snapshot maintenance via ``foreachBatch`` — the
    canonical production merge pattern: each microbatch of purchase
    events is collapsed map-side to its latest row per user, then
    MERGEd into a persistent key→(last value, last ts, running count)
    snapshot with a distributed read-modify-write (union + one
    per-key aggregation), published as a new parquet version per
    batch (the plain-parquet stand-in for a Delta/Iceberg MERGE).

    The events corpus is split into two time-ordered files and
    replayed with ``maxFilesPerTrigger=1`` so the merge provably runs
    across multiple microbatches (batch 2's users overwrite batch 1's
    values and the counts accumulate). State lives in the snapshot
    table, not the state store — snapshot size is O(distinct keys),
    merge cost per batch is one shuffle on the key; at 100 TB the
    same code targets a Delta table and the per-batch collapse
    bounds shuffle volume by |batch keys|, not |snapshot|.
    """
    def _delta(batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("value", "ts_us", "event_id"),
                    F.struct("ts_us", "event_id"),
                ).alias("s"),
                F.count(F.lit(1)).alias("n_purchases"),
            )
            .select(
                "user_id",
                F.col("s.value").alias("last_value"),
                F.col("s.ts_us").alias("last_ts_us"),
                F.col("s.event_id").alias("last_event_id"),
                "n_purchases",
            )
        )

    def _merge(both: DataFrame) -> DataFrame:
        return (
            both.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("last_value", "last_ts_us", "last_event_id"),
                    F.struct("last_ts_us", "last_event_id"),
                ).alias("s"),
                F.sum("n_purchases").alias("n_purchases"),
            )
            .select("user_id", "s.*", "n_purchases")
        )

    src = _purchase_replay_source(spark, sf_dir)
    snap = _snapshot_replay(spark, (sf_dir,), src, _PURCHASE_SCHEMA, _delta, _merge)
    return snap.orderBy("user_id")


def _snapshot_replay(
    spark: SparkSession,
    key: tuple,
    src: str,
    schema: str,
    delta: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Replay the fixture ``src`` (one file per microbatch) through a
    ``foreachBatch`` merge into a versioned parquet snapshot, and
    return the last version as a caller-session frame.

    Batch 1 publishes ``delta(batch)``; every later batch publishes
    ``merge(old ∪ delta(batch))``, a distributed read-modify-write with
    one shuffle on the key, as a new version (the plain-parquet
    stand-in for a Delta/Iceberg MERGE). The snapshot, not the state
    store, holds the state. Returning the snapshot read directly
    avoids a driver-side collect of one row per key; ``rolling_dir``
    keeps this call's snapshot dir alive under ``key`` and releases the
    previous call's.
    """
    snap_root = tempfile.mkdtemp(prefix="spark_graft_snap_")
    versions: list[str] = []

    def _publish(batch: DataFrame, batch_id: int) -> None:
        out = delta(batch)
        if versions:
            old = batch.sparkSession.read.parquet(versions[-1])
            out = merge(old.unionByName(out))
        nxt = os.path.join(snap_root, f"v{len(versions)}")
        out.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    q = (
        _replay_stream(spark, schema, src)
        .writeStream.foreachBatch(_publish)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(versions) >= 2, "expected >=2 microbatches through the merge"
    rolling_dir(spark, key, snap_root)
    return spark.read.parquet(versions[-1])


STREAM_TOPK = 3


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-K: the hottest STREAM_TOPK event types per hourly
    window — the live-leaderboard topology. Structured Streaming
    maintains the per-(window, type) counts as state (rank functions
    are not streamable, by design: a rank is only final when its
    window's membership is), and the rank runs as a BATCH query over
    the materialized complete-mode state — exactly how a production
    dashboard serves top-K from a streaming aggregate's sink table.
    The streaming stage shuffles once on the composite state key; the
    rank stage re-shuffles only the tiny aggregate, with
    WindowGroupLimit pruning to K per window before the filter.
    Ties rank by event_type for cross-engine determinism."""
    from pyspark.sql import Window as W

    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_start_us"),
            "event_type",
            "n_events",
        )
    )
    sink = _run_to_table(agg, "stream_topk_sink", "complete")
    wr = W.partitionBy("bucket_start_us").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        sink.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= STREAM_TOPK)
        .select(
            "bucket_start_us",
            "event_type",
            "n_events",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("bucket_start_us", "rank")
    )


QUERIES = {
    "stream_tumbling_agg": stream_tumbling_agg,
    "stream_topk": stream_topk,
    "stream_sessionize": stream_sessionize,
    "stream_dedup_exact": stream_dedup_exact,
    "stream_sliding_agg": stream_sliding_agg,
    "stream_late_data": stream_late_data,
    "stream_static_join": stream_static_join,
    "stream_stream_join": stream_stream_join,
    "stream_foreachbatch_upsert": stream_foreachbatch_upsert,
    "stream_session_window": stream_session_window,
    "stream_chained_windows": stream_chained_windows,
    "stream_stateful_processor": stream_stateful_processor,
    "stream_python_source": stream_python_source,
    "stream_checkpoint_recovery": stream_checkpoint_recovery,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
}

ORACLES = {
    "stream_topk": """
        WITH counts AS (
          SELECT
            epoch_us(date_trunc('hour', ts)) AS bucket_start_us,
            event_type,
            COUNT(*)::BIGINT AS n_events
          FROM events
          GROUP BY 1, 2
        )
        SELECT bucket_start_us, event_type, n_events, rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY bucket_start_us
                   ORDER BY n_events DESC, event_type
                 )::BIGINT AS rank
          FROM counts
        ) WHERE rank <= 3
        ORDER BY bucket_start_us, rank
    """,
    # identical to the batch twins: one availableNow pass over a finite
    # source reproduces the batch answer exactly.
    "stream_checkpoint_recovery": """
        SELECT
          user_id,
          COUNT(*)::BIGINT AS n_purchases,
          SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY user_id
    """,
    "stream_python_source": """
        SELECT
          event_type,
          COUNT(*) AS n_events,
          SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    # integer-cents state makes the streaming accumulation decimal-
    # exact, so the final snapshot equals the batch aggregate
    "stream_stateful_processor": """
        SELECT
          user_id,
          COUNT(*)::BIGINT AS n_purchases,
          (SUM(CAST(round(value::DECIMAL(18,2) * 100) AS BIGINT))::DOUBLE
           / 100.0) AS total_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY user_id
    """,
    # batch twin restricted to finalized days: append-mode chained
    # windows emit a day only once the watermark (max ts − 0s) passes
    # its end; hours inside an emitted day are necessarily final too
    "stream_chained_windows": """
        WITH wm AS (SELECT epoch_us(max(ts)) AS wm_us FROM events),
        hourly AS (
          SELECT date_trunc('hour', ts) AS h, event_type,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT
          epoch_us(date_trunc('day', h)) AS day_start_us,
          event_type,
          SUM(n)::BIGINT AS n_events_day,
          MAX(n)::BIGINT AS peak_hour_events,
          COUNT(*)::BIGINT AS n_active_hours
        FROM hourly, wm
        WHERE epoch_us(date_trunc('day', h)) + 86400000000 <= wm_us
        GROUP BY 1, 2
    """,
    "stream_tumbling_agg": """
        SELECT
          epoch_us(date_trunc('hour', ts)) AS bucket_start_us,
          event_type,
          COUNT(*) AS n_events,
          SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "stream_sessionize": f"""
        WITH flagged AS (
          SELECT
            user_id, ts,
            CASE
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_GAP_US} THEN 1
              WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
              ELSE 0
            END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
          SELECT
            user_id, ts,
            SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_seq
          FROM flagged
        )
        SELECT
          user_id,
          session_seq::BIGINT AS session_seq,
          epoch_us(MIN(ts)) AS session_start_us,
          epoch_us(MAX(ts)) AS session_end_us,
          COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_seq
    """,
    "stream_dedup_exact": """
        SELECT DISTINCT
          md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS text_hash
        FROM documents
    """,
    # batch twin of the watermarked append replay: every window whose
    # end <= the final watermark (global max ts − delay) emits exactly
    # once with its full on-time count; the deliberately-late batch-3
    # rows are dropped by the watermark, so they contribute nothing —
    # if Spark failed to drop them, the re-created windows would emit
    # duplicate rows and break the hash match
    "stream_late_data": f"""
        WITH wm AS (
          SELECT MAX(epoch_us(ts)) - {_WM_US} AS w_us FROM events
        )
        SELECT epoch_us(date_trunc('hour', ts)) AS bucket_start_us,
               event_type,
               COUNT(*) AS n_events
        FROM events
        WHERE epoch_us(date_trunc('hour', ts)) + {_HOUR_US}
                <= (SELECT w_us FROM wm)
        GROUP BY 1, 2
    """,
    # every event exactly once: on-time rows dedup within the
    # watermark window, the late batch-3 re-arrivals are dropped below
    # the watermark — so the emitted set is the distinct event set
    "stream_dedup_within_watermark": """
        SELECT event_id, epoch_us(ts) AS ts_us, event_type
        FROM events
    """,
    # same session membership as stream_sessionize (lag-gap batch
    # twin), identified by (user, start) instead of ordinal seq
    "stream_session_window": f"""
        WITH flagged AS (
          SELECT
            user_id, ts,
            CASE
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_GAP_US} THEN 1
              WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
              ELSE 0
            END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
          SELECT
            user_id, ts,
            SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_seq
          FROM flagged
        )
        SELECT
          user_id,
          epoch_us(MIN(ts)) AS session_start_us,
          epoch_us(MAX(ts)) AS session_end_us,
          COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_seq
    """,
    # batch twin of the two-microbatch foreachBatch merge: the final
    # snapshot is exactly "latest purchase per user + total count"
    "stream_foreachbatch_upsert": """
        WITH p AS (
          SELECT user_id,
                 value::DECIMAL(18,2)::DOUBLE AS v,
                 epoch_us(ts) AS ts_us,
                 event_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
                 ) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS cnt
          FROM events
          WHERE event_type = 'purchase'
        )
        SELECT user_id,
               v AS last_value,
               ts_us AS last_ts_us,
               event_id AS last_event_id,
               cnt AS n_purchases
        FROM p WHERE rn = 1
        ORDER BY user_id
    """,
    "stream_stream_join": f"""
        SELECT p.user_id AS p_user,
               epoch_us(p.ts) AS p_ts_us,
               epoch_us(c.ts) AS c_ts_us
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL {JOIN_WINDOW_MIN} MINUTE
    """,
    "stream_static_join": """
        SELECT c_mktsegment, event_type,
               COUNT(*) AS n_events,
               SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    # sliding 1h/30m: every event is in exactly the two windows whose
    # starts are trunc30(ts) and trunc30(ts) - 30min
    "stream_sliding_agg": """
        SELECT
          epoch_us(time_bucket(INTERVAL 30 MINUTES, ts)
                   - k * INTERVAL 30 MINUTES) AS window_start_us,
          event_type,
          COUNT(*) AS n_events
        FROM events CROSS JOIN (VALUES (0), (1)) offsets(k)
        GROUP BY 1, 2
    """,
}


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly OHLC candles over purchase events (twin of
    temporal.q_ohlc_bars): open/close via min_by/max_by on a
    (ts, event_id) struct — deterministic under timestamp ties and,
    unlike a window row_number, legal inside a streaming aggregate —
    high/low plain min/max, volume as an exact decimal sum. State is
    one row per open bar; the availableNow replay proves the streaming
    result equals the batch candle table."""
    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            F.round(
                F.min_by("value", F.struct(F.col("ts"), F.col("event_id"))), 4
            ).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(
                F.max_by("value", F.struct(F.col("ts"), F.col("event_id"))), 4
            ).alias("close"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("volume"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("bar_start_us"),
            "n_trades",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )
    return _run_to_table(agg, "stream_ohlc_bars_sink", "complete")


QUERIES["stream_ohlc_bars"] = stream_ohlc_bars

ORACLES["stream_ohlc_bars"] = """
    WITH marked AS (
      SELECT date_trunc('hour', ts) AS bar, value,
             ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts) ORDER BY ts, event_id
             ) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC
             ) AS rn_d
      FROM events WHERE event_type = 'purchase'
    )
    SELECT epoch_us(bar) AS bar_start_us,
           COUNT(*)::BIGINT AS n_trades,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
           ROUND((SUM(value::DECIMAL(18,6)))::DOUBLE, 4) AS volume
    FROM marked
    GROUP BY bar
"""


def _cdc_replay_source(spark: SparkSession, sf_dir: str) -> str:
    """Two-file, time-split replay of the CDC feed (signup=I,
    purchase=U, error=D) — same multi-microbatch fixture shape as
    ``_purchase_replay_source`` so the delete/revive semantics provably
    cross a batch boundary."""
    from etl_city_directories_spark.operators.scale_ops import _CDC_OPS
    from etl_city_directories_spark.sources.tables import load_table

    def _feed() -> DataFrame:
        op = F.create_map(*[F.lit(x) for kv in _CDC_OPS.items() for x in kv])[
            F.col("event_type")
        ]
        return (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin(*_CDC_OPS))
            .select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                F.round("value", 2).alias("value"),
                op.alias("op"),
            )
        )

    return _time_split_fixture("cdc_src", sf_dir, _feed)


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization via ``foreachBatch`` — the twin of
    the batch ``q_cdc_apply`` MERGE and the production Debezium→Spark
    topology: each microbatch of I/U/D changes collapses map-side to
    its latest row per key plus op counters, then MERGEs into a
    persistent snapshot with a distributed read-modify-write. Deleted
    keys STAY in the snapshot carrying their counters (a later change
    revives them — latest-op-wins semantics identical to the batch
    window), and only the published read filters trailing deletes.
    State is O(distinct keys) in the snapshot table, merge cost per
    batch is one shuffle on the key; the availableNow two-batch replay
    proves the result equals the batch CDC apply bit-for-bit."""
    def _delta(batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("op", "value", "ts_us", "event_id"),
                    F.struct("ts_us", "event_id"),
                ).alias("s"),
                F.count(F.lit(1)).alias("n_ops"),
                F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_inserts"),
                F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("n_updates"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
            )
            .select(
                "user_id",
                F.col("s.op").alias("last_op"),
                F.col("s.value").alias("last_value"),
                F.col("s.ts_us").alias("last_ts_us"),
                F.col("s.event_id").alias("last_event_id"),
                "n_ops",
                "n_inserts",
                "n_updates",
                "n_deletes",
            )
        )

    def _merge(both: DataFrame) -> DataFrame:
        return (
            both.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(
                        "last_op", "last_value", "last_ts_us", "last_event_id"
                    ),
                    F.struct("last_ts_us", "last_event_id"),
                ).alias("s"),
                F.sum("n_ops").alias("n_ops"),
                F.sum("n_inserts").alias("n_inserts"),
                F.sum("n_updates").alias("n_updates"),
                F.sum("n_deletes").alias("n_deletes"),
            )
            .select(
                "user_id",
                "s.*",
                "n_ops",
                "n_inserts",
                "n_updates",
                "n_deletes",
            )
        )

    src = _cdc_replay_source(spark, sf_dir)
    schema = f"{_PURCHASE_SCHEMA}, op STRING"
    snap = _snapshot_replay(spark, (sf_dir, "cdc"), src, schema, _delta, _merge)
    return (
        snap.filter(F.col("last_op") != "D")
        .select(
            "user_id",
            "last_op",
            "last_value",
            F.col("last_ts_us").cast("bigint").alias("last_ts_us"),
            F.col("n_ops").cast("bigint").alias("n_ops"),
            F.col("n_inserts").cast("bigint").alias("n_inserts"),
            F.col("n_updates").cast("bigint").alias("n_updates"),
            F.col("n_deletes").cast("bigint").alias("n_deletes"),
        )
        .orderBy("user_id")
    )


QUERIES["stream_cdc_apply"] = stream_cdc_apply


def _cdc_oracle() -> str:
    from etl_city_directories_spark.operators import scale_ops

    return scale_ops.ORACLES["q_cdc_apply"]


ORACLES["stream_cdc_apply"] = _cdc_oracle()


_NVR_OUT = "user_id LONG, day LONG, is_new BOOLEAN"


def stream_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen classification: daily new-vs-returning
    purchasers with the first-seen day held in per-user state.

    The streaming twin of q_new_vs_returning (purchase-scoped): each
    user's earliest active day lives in the group state; every (user,
    day) observation classifies as new iff it IS that earliest day.
    Replayed over the shared time-split two-file fixture
    (maxFilesPerTrigger=1) so the state provably carries across
    microbatches — a user active in both halves classifies "new" only
    in the first. Days are integer epoch-day numbers (ts_us div
    86400e6), so no date-encoding drift can touch the hash. The state
    runs through ``applyInPandasWithState``, as in
    stream_stateful_processor.
    """
    src = _purchase_replay_source(spark, sf_dir)
    day_us = 86_400_000_000
    stream = _replay_stream(
        spark, _PURCHASE_SCHEMA, src, PY_STATE_PARTITIONS
    ).withColumn("day", F.expr(f"ts_us div {day_us}"))
    def _first_seen_group(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        first = state.get[0] if state.exists else None
        days: set[int] = set()
        for pdf in batches:
            days.update(int(d) for d in pdf["day"])
        if days:
            lo = min(days)
            first = lo if first is None or lo < first else first
            state.update((int(first),))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(days),
                    "day": sorted(days),
                    "is_new": [d == first for d in sorted(days)],
                }
            )

    result = stream.groupBy("user_id").applyInPandasWithState(
        _first_seen_group,
        outputStructType=_NVR_OUT,
        stateStructType="d BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_table(result, "stream_new_vs_returning_sink", "update")
    emitted = emitted.distinct()
    return (
        emitted.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("n_new"),
        )
        .select(
            F.col("day").cast("bigint").alias("epoch_day"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_new").cast("bigint").alias("n_new"),
            (F.col("n_active") - F.col("n_new")).cast("bigint").alias(
                "n_returning"
            ),
        )
        .orderBy("epoch_day")
    )


QUERIES["stream_new_vs_returning"] = stream_new_vs_returning

ORACLES["stream_new_vs_returning"] = """
    WITH act AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events WHERE event_type = 'purchase'
    ),
    marked AS (
      SELECT day, day = MIN(day) OVER (PARTITION BY user_id) AS is_new
      FROM act
    )
    SELECT day::BIGINT AS epoch_day,
           COUNT(*)::BIGINT AS n_active,
           SUM(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS n_new,
           (COUNT(*) - SUM(CASE WHEN is_new THEN 1 ELSE 0 END))::BIGINT
             AS n_returning
    FROM marked GROUP BY day ORDER BY epoch_day
"""


def stream_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact distinct users per hourly window.

    The hourly-actives counter: dropDuplicates on (window, user) keeps
    one state entry per active user per window — the minimal state any
    exact distinct needs — and the downstream tumbling count then runs
    on the DEDUPLICATED stream, so the aggregate sees each (window,
    user) once. The watermark bounds both state stores: closed windows
    evict. Twin of the batch q_distinct_users family; with the finite
    availableNow replay the complete-mode result equals the batch
    COUNT(DISTINCT) exactly.
    """
    ev = (
        events_stream(_replay_session(spark), sf_dir)
        .withWatermark("ts", "1 hour")
        .select(F.window("ts", "1 hour").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    agg = (
        ev.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_start_us"),
            F.col("n_distinct_users").cast("bigint").alias("n_distinct_users"),
        )
    )
    sink = _run_to_table(agg, "stream_windowed_distinct_users_sink", "complete")
    return sink.orderBy("bucket_start_us")


QUERIES["stream_windowed_distinct_users"] = stream_windowed_distinct_users

ORACLES["stream_windowed_distinct_users"] = """
    SELECT epoch_us(date_trunc('hour', ts)) AS bucket_start_us,
           COUNT(DISTINCT user_id)::BIGINT AS n_distinct_users
    FROM events
    GROUP BY 1 ORDER BY 1
"""


ZSCORE_FLAG = 3.0  # |z| threshold


def stream_zscore_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly alerts: batch-2 purchases scored against
    reference statistics accumulated in state from batch 1.

    The canonical "train state on yesterday, score today" monitor:
    microbatch 1 (first time half of the replay fixture) only
    accumulates per-user (n, Σcents, Σcents²) into ValueState;
    microbatch 2 scores each arriving purchase against the FROZEN
    batch-1 stats — deterministic regardless of intra-batch order,
    because scoring never reads stats that include the scored batch.
    Users need ≥ 2 reference purchases (else no variance). Emitted
    alerts = |value − mean| > 3σ (population σ), exact integer cents
    until the double compare. Output: per-user alert counts.
    """
    src = _purchase_replay_source(spark, sf_dir)
    stream = _replay_stream(
        spark, _PURCHASE_SCHEMA, src, PY_STATE_PARTITIONS
    ).withColumn("cents", F.round(F.col("value") * 100).cast("long"))
    out_schema = "user_id LONG, n_scored LONG, n_alerts LONG"

    def _score_group(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        n, s, ss = state.get if state.exists else (0, 0, 0)
        rows = []
        for pdf in batches:
            rows.extend(int(c) for c in pdf["cents"])
        n_scored = n_alerts = 0
        if state.exists and n >= 2:
            mean = s / n
            var = ss / n - mean * mean
            sd = math.sqrt(var) if var > 0 else 0.0
            for c in rows:
                n_scored += 1
                if sd > 0 and abs(c - mean) > ZSCORE_FLAG * sd:
                    n_alerts += 1
        for c in rows:
            n, s, ss = n + 1, s + c, ss + c * c
        state.update((int(n), int(s), int(ss)))
        if n_scored:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_scored": [n_scored],
                    "n_alerts": [n_alerts],
                }
            )

    result = stream.groupBy("user_id").applyInPandasWithState(
        _score_group,
        outputStructType=out_schema,
        stateStructType="n BIGINT, s BIGINT, ss BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_table(result, "stream_zscore_alerts_sink", "update")
    return (
        emitted.groupBy("user_id")
        .agg(
            F.sum("n_scored").cast("bigint").alias("n_scored"),
            F.sum("n_alerts").cast("bigint").alias("n_alerts"),
        )
        .orderBy("user_id")
    )


QUERIES["stream_zscore_alerts"] = stream_zscore_alerts

# batch twin: reference = first time half (strictly before the fixture
# split at (min+max)//2 of purchase ts), scored = second half; users
# with >= 2 reference purchases score every later purchase against the
# frozen reference stats. Population sigma, exact cents.
ORACLES["stream_zscore_alerts"] = f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(round(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    split AS (
      SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS s FROM p
    ),
    ref AS (
      SELECT user_id, COUNT(*) AS n, SUM(cents) AS sm,
             SUM(cents * cents) AS ss
      FROM p, split WHERE ts_us < split.s GROUP BY 1
    ),
    scored AS (
      SELECT p.user_id, p.cents, r.n, r.sm, r.ss
      FROM p JOIN split ON p.ts_us >= split.s
      JOIN ref r ON r.user_id = p.user_id
      WHERE r.n >= 2
    )
    SELECT user_id,
           COUNT(*)::BIGINT AS n_scored,
           SUM(CASE WHEN (ss::DOUBLE / n::DOUBLE
                          - (sm::DOUBLE / n::DOUBLE)
                            * (sm::DOUBLE / n::DOUBLE)) > 0
                     AND abs(cents - sm::DOUBLE / n::DOUBLE)
                         > {ZSCORE_FLAG} * sqrt(ss::DOUBLE / n::DOUBLE
                              - (sm::DOUBLE / n::DOUBLE)
                                * (sm::DOUBLE / n::DOUBLE))
                    THEN 1 ELSE 0 END)::BIGINT AS n_alerts
    FROM scored GROUP BY 1 ORDER BY user_id
"""


# --- r06: deterministic in-stream sampling ----------------------------------

STREAM_SAMPLE_MOD = 16  # keep 1/16 of events


def stream_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling INSIDE the stream: keep the events
    whose md5(event_id) lands in bucket 0 of STREAM_SAMPLE_MOD — the
    standard way to tap a representative slice off a 100 TB/day
    firehose for monitoring/debug sinks without a shuffle, a state
    store, or RNG state (replays and restarts keep the identical
    sample, which `sample()` on a stream cannot promise).

    Pure stateless map + filter, so the streaming plan is one
    WholeStageCodegen over the source batch; the batch twin (the
    DuckDB oracle) is exactly the same filter, making this the
    strongest possible stream≡batch equivalence check.
    """
    ev = events_stream(_replay_session(spark), sf_dir)
    keep = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        % STREAM_SAMPLE_MOD
        == 0
    )
    sampled = ev.filter(keep).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        dec2("value").cast("double").alias("value"),
    )
    sink = _run_to_table(sampled, "stream_hash_sample_sink", "append")
    return sink.orderBy("event_id")


QUERIES["stream_hash_sample"] = stream_hash_sample

ORACLES["stream_hash_sample"] = f"""
    SELECT event_id,
           epoch_us(ts) AS ts_us,
           user_id, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
    FROM events
    WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12) AS BIGINT)
          % {STREAM_SAMPLE_MOD} = 0
    ORDER BY event_id
"""


# --- r06 batch 3: streaming funnel + SLO share -------------------------------


def stream_funnel_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel readout: the purchase←click interval join
    (stream_stream_join's bounded-state topology — both sides
    watermarked, state evicted past watermark + interval) rolled up to
    conversions per purchase hour and converting users.

    The rollup runs BATCH-side over the join's materialized emissions
    (the memory sink), the same post-collapse idiom as
    stream_stateful_processor's final snapshot: with the finite
    availableNow replay the inner join emits exactly the batch
    interval-join result, so hour counts over it are deterministic —
    and at production scale the same rollup is the downstream batch
    job reading the join's sink table.
    """
    ev = events_stream(_replay_session(spark), sf_dir).filter(
        F.col("event_type").isin("purchase", "click")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
        ),
    ).select("p_user", "p_id", "p_ts")
    emitted = _run_to_table(joined, "stream_funnel_conversions_sink", "append")
    return (
        emitted.select(
            F.unix_micros(F.date_trunc("hour", "p_ts")).alias("hour_us"),
            "p_user",
            "p_id",
        )
        .groupBy("hour_us")
        .agg(
            F.countDistinct("p_id").alias("n_converted_purchases"),
            F.countDistinct("p_user").alias("n_converting_users"),
        )
        .orderBy("hour_us")
    )


def stream_error_share_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLO monitor: hourly error share of traffic (complete-
    mode tumbling agg — the twin of q_error_budget_burn's daily grid at
    stream granularity). Integer counts only; the share divides once
    at the edge. State is O(hours × 1) counters — the cheapest
    possible stateful query, and the first thing an on-call dashboard
    subscribes to.
    """
    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_err"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "n_total",
            "n_err",
        )
    )
    return (
        _run_to_table(agg, "stream_error_share_hourly_sink", "complete")
        .select(
            "hour_us",
            F.col("n_total").cast("bigint").alias("n_total"),
            F.col("n_err").cast("bigint").alias("n_err"),
            F.round(
                F.col("n_err").cast("double") / F.col("n_total"), 4
            ).alias("err_share"),
        )
        .orderBy("hour_us")
    )


QUERIES["stream_funnel_conversions"] = stream_funnel_conversions
QUERIES["stream_error_share_hourly"] = stream_error_share_hourly

ORACLES["stream_funnel_conversions"] = f"""
    WITH p AS (
      SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id AS c_user, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT DISTINCT p.p_user, p.p_id, p.p_ts
      FROM p JOIN c
        ON p.p_user = c.c_user
       AND c.c_ts <= p.p_ts
       AND c.c_ts >= p.p_ts - INTERVAL {JOIN_WINDOW_MIN} MINUTES
    )
    SELECT epoch_us(date_trunc('hour', p_ts)) AS hour_us,
           COUNT(DISTINCT p_id) AS n_converted_purchases,
           COUNT(DISTINCT p_user) AS n_converting_users
    FROM j GROUP BY 1 ORDER BY 1
"""

ORACLES["stream_error_share_hourly"] = """
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
           COUNT(*)::BIGINT AS n_total,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
             AS n_err,
           ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS err_share
    FROM events GROUP BY 1 ORDER BY 1
"""


# --- r06 batch 5: event-time lag observability --------------------------------


def stream_max_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark observability: per event type, the max event time
    seen and its lag behind the stream-wide frontier — what an
    operator watches to spot a stalled partition or a source whose
    event time has fallen behind the watermark (and is about to lose
    late rows). Complete-mode max/count state is O(types); the lag
    joins the 1-row frontier scalar batch-side over the sink.
    """
    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy("event_type")
        .agg(
            F.max(F.unix_micros("ts")).alias("max_ts_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    sink = _run_to_table(agg, "stream_max_event_time_sink", "complete")
    frontier = sink.agg(F.max("max_ts_us").alias("frontier_us"))
    return (
        sink.crossJoin(F.broadcast(frontier))
        .select(
            "event_type",
            "max_ts_us",
            F.col("n_events").cast("bigint").alias("n_events"),
            ((F.col("frontier_us") - F.col("max_ts_us")) / 1_000_000)
            .cast("bigint")
            .alias("lag_seconds"),
        )
        .orderBy("event_type")
    )


QUERIES["stream_max_event_time"] = stream_max_event_time

ORACLES["stream_max_event_time"] = """
    WITH agg AS (
      SELECT event_type, MAX(epoch_us(ts)) AS max_ts_us,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    ),
    f AS (SELECT MAX(max_ts_us) AS frontier_us FROM agg)
    SELECT event_type, max_ts_us, n_events::BIGINT AS n_events,
           CAST((f.frontier_us - max_ts_us) // 1000000 AS BIGINT)
             AS lag_seconds
    FROM agg, f
    ORDER BY event_type
"""


def stream_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume-weighted average purchase price, streaming — the
    k-weighted twin of stream_tumbling_agg (props.$.k is the unit
    count, value the line price; VWAP = Σ value·k / Σ k per bar).

    Both weighted sums reduce inside the streaming agg as exact
    integers (cents·k as a decimal sum, k as a long sum), so the
    per-bar state is three numbers and the emitted VWAP is one
    double divide after the replay — identical arithmetic to the
    batch oracle and order-independent under any microbatch split.
    """
    ev = events_stream(_replay_session(spark), sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    k = F.get_json_object("props", "$.k").cast("long")
    agg = (
        ev.select(F.col("ts"), dec2("value").alias("v"), k.alias("k"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            ((F.sum(F.col("v") * F.col("k"))) * 100)
            .cast("bigint")
            .alias("wcents"),
            F.sum("k").cast("bigint").alias("units"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("bar_start_us"),
            "n_trades",
            "units",
            F.when(
                F.col("units") > 0,
                F.round(
                    F.col("wcents").cast("double")
                    / F.col("units").cast("double")
                    / 100,
                    4,
                ),
            ).alias("vwap"),
        )
    )
    return _run_to_table(agg, "stream_vwap_sink", "complete")


QUERIES["stream_vwap"] = stream_vwap

ORACLES["stream_vwap"] = """
    SELECT
      epoch_us(date_trunc('hour', ts)) AS bar_start_us,
      COUNT(*) AS n_trades,
      SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS units,
      CASE WHEN SUM(json_extract(props, '$.k')::BIGINT) > 0 THEN
        ROUND(
          (SUM(value::DECIMAL(18,2) * json_extract(props, '$.k')::BIGINT)
           * 100)::BIGINT::DOUBLE
          / SUM(json_extract(props, '$.k')::BIGINT)::DOUBLE / 100,
          4)
      END AS vwap
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
"""


def stream_entropy_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly Shannon entropy of the streaming event-type mix — the
    live diversity monitor (twin of the daily batch q_entropy_by_group
    at stream grain): a collapsing mix flags an incident while it's
    happening, not in tomorrow's rollup.

    The streaming side holds only O(hours×types) complete-mode
    counters; the entropy — the one transcendental — computes
    BATCH-SIDE over the materialized sink under the same micro-nat
    per-term quantization as the batch twin, so microbatch splits
    cannot touch it (counters are split-invariant integers).
    """
    agg = (
        events_stream(_replay_session(spark), sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_start_us"),
            "event_type",
            "c",
        )
    )
    sink = _run_to_table(agg, "stream_entropy_hourly_sink", "complete")
    from pyspark.sql import Window as W

    w_hour = W.partitionBy("hour_start_us")
    p = F.col("c").cast("double") / F.sum("c").over(w_hour).cast("double")
    scored = sink.select(
        "hour_start_us",
        "c",
        F.floor(-p * F.log(p) * F.lit(1e8) + F.lit(0.5))
        .cast("bigint")
        .alias("h_micro"),
    )
    return (
        scored.groupBy("hour_start_us")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("k_types"),
            F.sum("h_micro").alias("h_sum"),
        )
        .selectExpr(
            "hour_start_us",
            "n_events",
            "k_types",
            "ROUND(CAST(h_sum AS DOUBLE) / 1e8, 6) AS entropy_nats",
        )
        .orderBy("hour_start_us")
    )


def stream_moments_jb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Jarque-Bera: the four exact moment sums accumulate in
    a complete-mode streaming aggregate (per-type state = five
    numbers), the closed-form skew/kurt/JB chain evaluates batch-side
    over the sink using THE SAME expression strings as the batch
    q_jarque_bera — the strongest possible stream ≡ batch twin:
    integer sufficient statistics are microbatch-split-invariant by
    construction, so the streaming replay must hash-equal the batch
    oracle verbatim.
    """
    from etl_city_directories_spark.operators.stats import _JB_SELECT

    ev = events_stream(_replay_session(spark), sf_dir)
    c = (dec2("value") * 100).cast("long").cast("decimal(18,0)")
    agg = (
        ev.select("event_type", c.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").cast("decimal(38,0)").alias("s1"),
            F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("s2"),
            F.sum(F.col("c") * F.col("c") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("s3"),
            F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("s4"),
        )
    )
    return (
        _run_to_table(agg, "stream_moments_jb_sink", "complete")
        .selectExpr(*_JB_SELECT)
        .orderBy("event_type")
    )


QUERIES["stream_entropy_hourly"] = stream_entropy_hourly
QUERIES["stream_moments_jb"] = stream_moments_jb

ORACLES["stream_entropy_hourly"] = """
    WITH cells AS (
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_start_us,
             event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT hour_start_us, c,
             CAST(FLOOR(
               -(c::DOUBLE / SUM(c) OVER (PARTITION BY hour_start_us)::DOUBLE)
               * ln(c::DOUBLE
                    / SUM(c) OVER (PARTITION BY hour_start_us)::DOUBLE)
               * 1e8 + 0.5) AS BIGINT) AS h_micro
      FROM cells
    )
    SELECT hour_start_us,
           SUM(c)::BIGINT AS n_events,
           COUNT(*)::BIGINT AS k_types,
           ROUND(CAST(SUM(h_micro) AS DOUBLE) / 1e8, 6) AS entropy_nats
    FROM scored GROUP BY hour_start_us ORDER BY hour_start_us
"""

from etl_city_directories_spark.operators.stats import (  # noqa: E402
    ORACLES as _STATS_ORACLES,
)

ORACLES["stream_moments_jb"] = _STATS_ORACLES["q_jarque_bera"]


def stream_daily_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drawdown monitor (twin of q_drawdown): daily revenue
    accumulates as complete-mode integer counters — state O(days),
    split-invariant — and the running-peak/drawdown windows run
    batch-side over the materialized sink, exactly the batch
    operator's math on exactly the batch operator's grid.
    """
    ev = events_stream(_replay_session(spark), sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    agg = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg((F.sum(dec2("value")) * 100).cast("bigint").alias("cents"))
    sink = _run_to_table(agg, "stream_daily_drawdown_sink", "complete")
    from pyspark.sql import Window as W

    w = W.partitionBy().orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = sink.select("day", F.sum("cents").over(w).alias("cum_cents"))
    series = cum.select(
        "day", "cum_cents", F.max("cum_cents").over(w).alias("peak_cents")
    )
    return series.select(
        "day",
        (F.col("cum_cents").cast("double") / 100).alias("cum_revenue"),
        (F.col("peak_cents").cast("double") / 100).alias("peak_revenue"),
        F.round(
            (F.col("peak_cents") - F.col("cum_cents")).cast("double")
            / F.col("peak_cents").cast("double"),
            6,
        ).alias("drawdown_pct"),
    ).orderBy("day")


QUERIES["stream_daily_drawdown"] = stream_daily_drawdown

from etl_city_directories_spark.operators.windows import (  # noqa: E402
    ORACLES as _WINDOW_ORACLES,
)

ORACLES["stream_daily_drawdown"] = _WINDOW_ORACLES["q_drawdown"]


def stream_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sample-ratio-mismatch guardrail — the twin of
    q_srm_check running as a monitor: distinct users stream through a
    dropDuplicates state (one entry per user — the minimal state an
    exact arm count needs; a production deployment would watermark on
    assignment time), each is hash-assigned to an arm (md5 parity,
    the same coordination-free split as the batch op), and the
    complete-mode arm counts feed the identical closed-form chi2(1)
    chain. The oracle IS q_srm_check's — the hash match pins
    stream ≡ batch.
    """
    users = (
        events_stream(_replay_session(spark), sf_dir)
        .select("user_id")
        .dropDuplicates(["user_id"])
    )
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0
    )
    agg = users.groupBy().agg(
        F.sum(F.when(arm_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(arm_a, 0).otherwise(1)).alias("nb"),
    )
    sink = _run_to_table(agg, "stream_srm_monitor_sink", "complete")
    from etl_city_directories_spark.operators.forecast import _SRM_SELECT

    return sink.selectExpr(*_SRM_SELECT)


QUERIES["stream_srm_monitor"] = stream_srm_monitor

from etl_city_directories_spark.operators.forecast import (  # noqa: E402
    ORACLES as _FORECAST_ORACLES,
)

ORACLES["stream_srm_monitor"] = _FORECAST_ORACLES["q_srm_check"]


def stream_ivm_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental JOIN-view maintenance — the streaming
    twin of q_ivm_delta_join: each microbatch of purchase events is
    the delta, it joins the broadcast user→nation dimension INSIDE
    foreachBatch (Δ(A⋈B) = ΔA⋈B while the dim is static), aggregates
    to per-nation partials, and coalesce-sum merges into a persistent
    versioned snapshot — the production shape of a continuously
    maintained materialized view (Delta/Iceberg MERGE stand-in, same
    device as stream_foreachbatch_upsert). The two-file time-ordered
    replay proves the merge runs across ≥2 microbatches; the oracle
    recomputes the view from the whole corpus in one batch pass, so
    the hash match proves maintained ≡ recomputed.

    At 100 TB: per-batch cost is one broadcast join + a shuffle on
    |batch nations| partials; the snapshot is O(nations).
    """
    from etl_city_directories_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(F.col("c_custkey").alias("user_id"), "nation")
    )

    def _delta(batch: DataFrame) -> DataFrame:
        return (
            batch.join(F.broadcast(dim), "user_id")
            .groupBy("nation")
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
                .cast("decimal(38,0)")
                .alias("cents"),
            )
        )

    def _merge(both: DataFrame) -> DataFrame:
        return both.groupBy("nation").agg(
            F.sum("n_purchases").alias("n_purchases"),
            F.sum("cents").cast("decimal(38,0)").alias("cents"),
        )

    src = _purchase_replay_source(spark, sf_dir)
    snap = _snapshot_replay(
        spark, (sf_dir, "ivm"), src, _PURCHASE_SCHEMA, _delta, _merge
    )
    return snap.select(
        "nation",
        F.col("n_purchases").cast("bigint").alias("n_purchases"),
        F.col("cents").cast("bigint").alias("revenue_cents"),
    ).orderBy("nation")


QUERIES["stream_ivm_view"] = stream_ivm_view

ORACLES["stream_ivm_view"] = """
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
"""

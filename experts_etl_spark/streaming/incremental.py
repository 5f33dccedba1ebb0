"""Incremental / streaming operators over the events table.

``events`` plays the Pure changes feed (SURVEY.md §2.1 S3): each row is
a change event ``(event_id, ts, user_id, event_type, value, props)``;
``user_id`` plays the changed entity's uuid and ``event_id`` the
monotonically increasing version.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from experts_etl_spark.streaming import stores as S


def _events_schema(spark: SparkSession, src: str) -> StructType:
    # Plain timestamp[us] parquet infers as TIMESTAMP_NTZ, a type every
    # ``withWatermark`` downstream rejects; read it as TIMESTAMP (lossless
    # under the UTC session tz, session.py).  TIMESTAMP(NANOS) parquet
    # needs nanosAsLong or schema inference itself throws.  Runtime-set
    # so both hold for sessions not built by our factory (the same pair
    # sources.read_table sets).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = spark.read.parquet(src).schema
    from pyspark.sql.types import TimestampNTZType, TimestampType

    fields = [
        f
        if not isinstance(f.dataType, TimestampNTZType)
        else f.__class__(f.name, TimestampType(), f.nullable, f.metadata)
        for f in schema.fields
    ]
    return StructType(fields)


def stream_events(
    spark: SparkSession, src: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S3 as a stream: file-source over parquet change files.  New files
    landing under ``src`` are discovered exactly-once via the query
    checkpoint — the reference's persisted ``max(downloaded)`` bookmark
    (extractor_loaders/pure_api_changes.py:28-41) for free.

    The event-time column is normalized to TIMESTAMP for every parquet
    encoding a producer may ship (the same matrix as
    ``sources.read_table``): NTZ via the schema rewrite above, and
    TIMESTAMP(NANOS) — which ``nanosAsLong`` surfaces as a bigint — via
    a floor-division cast here, so watermarks always see TIMESTAMP."""
    reader = spark.readStream.schema(_events_schema(spark, src))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(src)
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    return ev


def run_incremental_consume(
    spark: SparkSession,
    src: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    n_partitions: int = 16,
) -> None:
    """C1-C5 as one streaming query: dedup by (uuid, version) →
    per-micro-batch latest-version compaction → freshness-guarded merge
    into the target parquet.

    ``foreachBatch`` reuses the batch operators verbatim
    (operators/cdc.py, operators/merge.py); ``availableNow`` drains all
    pending files then stops — the reference's 4-hour daemon tick
    (runner.py:171-174) without the daemon.

    The target is hive-partitioned on ``part_key =
    pmod(xxhash64(user_id), n_partitions)`` so each micro-batch merges
    ONLY the partitions hosting its keys: read touched partitions
    (partition-pruned scan), merge, dynamic-partition-overwrite them
    back (sources/sinks.py:overwrite_partitions, the M5 pattern).
    Untouched partitions are never read or rewritten — per-tick cost is
    proportional to the churn's key-space footprint, not the table.  A
    4-hour tick touching 1% of keys rewrites ~1% of a 100 TB table
    instead of 2×100 TB (the former ``_next`` full-rewrite dance).  The
    ``localCheckpoint`` materializes just the touched partitions'
    merge, breaking the read-path lineage so the overwrite of the same
    directory is legal; on a real lake Delta's MERGE INTO replaces it
    (SURVEY.md §4.2 — Delta unavailable in this image).
    """
    from experts_etl_spark.operators import compact_changes, merge_upsert

    ev = stream_events(spark, src, max_files_per_trigger)
    # C2/C3: idempotent ingest — state-store dedup on the natural key.
    # WithinWatermark bounds the dedup state (replays older than the
    # watermark are still rejected downstream by the merge freshness
    # guard, the reference's own last line of defense, M4/C5).
    deduped = ev.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )
    part_key = F.pmod(F.xxhash64("user_id"), F.lit(n_partitions)).cast("int")

    def consume(batch: DataFrame, batch_id: int) -> None:
        from experts_etl_spark.sources.sinks import overwrite_partitions

        latest = compact_changes(batch, key="user_id", version_col="event_id")
        latest = latest.withColumn("part_key", part_key)
        spark_l = batch.sparkSession
        # Hadoop-FS listing (stores.py): holds for URI targets, where
        # os.path would report every target empty and the overwrite
        # below would replace touched partitions with the batch alone
        names = S.child_names(spark_l, target_dir)
        if names:
            if not any(e.startswith("part_key=") for e in names):
                # Legacy unpartitioned target (written by a pre-layout
                # version): the partition-pruned read below would fail on
                # the missing part_key column.  Migrate once — read the
                # whole legacy table, stamp part_key, rewrite
                # hive-partitioned.  One full rewrite, then every later
                # tick is churn-proportional again.
                legacy = spark_l.read.parquet(target_dir).withColumn(
                    "part_key", part_key
                ).localCheckpoint(eager=True)
                legacy.write.mode("overwrite").partitionBy("part_key").parquet(
                    target_dir
                )
            # Bounded driver read: at most n_partitions scalar ids.
            touched = [
                r[0] for r in latest.select("part_key").distinct().collect()
            ]
            target = spark_l.read.parquet(target_dir).filter(
                F.col("part_key").isin(touched)
            )
            # M4: freshness-guarded merge of the touched slice only.
            merged = merge_upsert(
                target, latest.select(*target.columns), ["user_id"], "event_id"
            ).localCheckpoint(eager=True)
            overwrite_partitions(merged, target_dir, ["part_key"])
        else:
            overwrite_partitions(latest, target_dir, ["part_key"])

    S.drain(deduped, consume, checkpoint_dir)


def windowed_counts_frame(ev: DataFrame) -> DataFrame:
    """Tumbling event-time windows with late-data tolerance — the
    streaming generalization the reference never had (SURVEY.md §2.10:
    'watermark windows do not exist in the reference')."""
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_windowed_counts(
    spark: SparkSession, src: str, checkpoint_dir: str
) -> DataFrame:
    """Drain ``src`` through the windowed aggregation into a memory sink;
    returns the completed result as a batch DataFrame."""
    q = (
        windowed_counts_frame(stream_events(spark, src))
        .writeStream.format("memory")
        .queryName("windowed_counts")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("windowed_counts")


SESSION_OUTPUT = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE = "last_ts timestamp, session_start timestamp, n_events bigint"


def _session_fn(gap_seconds: int):
    gap = pd.Timedelta(seconds=gap_seconds)

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        events = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            last_ts, session_start, n_events = state.get
            last_ts, session_start = pd.Timestamp(last_ts), pd.Timestamp(session_start)
        else:
            last_ts = session_start = None
            n_events = 0
        closed = []
        for ts in events["ts"]:
            ts = pd.Timestamp(ts)
            if last_ts is None:
                session_start, n_events = ts, 1
            elif ts - last_ts > gap:
                closed.append((user_id, session_start, last_ts, n_events))
                session_start, n_events = ts, 1
            else:
                n_events += 1
            last_ts = ts
        state.update((last_ts.to_pydatetime(), session_start.to_pydatetime(), n_events))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return fn


def stateful_sessions_frame(ev: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """W3's streaming twin: arbitrary-stateful sessionization with
    ``applyInPandasWithState``.  The open session survives in the state
    store across micro-batches; a session closes (and is emitted) when a
    later event arrives more than ``gap_seconds`` after it ends —
    exactly the stint-splitting contract of
    oit_to_edw/affiliate_job.py:111-147 applied to an unbounded feed."""
    return ev.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_seconds),
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_window_sessions_frame(
    ev: DataFrame, gap_seconds: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Order-tolerant streaming sessionization — the DEFAULT session
    path: a watermarked native ``session_window`` aggregation.  Events
    arriving out of event-time order (within the watermark) merge into
    the correct session because the state store keeps every session open
    until the watermark passes its close; adjacent sessions whose gap an
    out-of-order arrival bridges are merged by the operator.  Gap
    semantics are session_window's (a session extends while the gap is
    STRICTLY below ``gap_seconds``) — identical to the batch
    ``session_window_agg`` query it twins."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{gap_seconds} seconds").alias("win"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def run_sessions(
    spark: SparkSession,
    src: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    ordered_feed: bool = False,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming sessionization entry point.

    Default (``ordered_feed=False``): the watermarked ``session_window``
    aggregation — tolerates files/events arriving out of event-time
    order up to ``watermark``.  Sessions are emitted once the watermark
    passes their close (append mode), so a finite drain only emits
    sessions that end at least ``watermark`` before the feed's max
    event time — the price of order tolerance.

    ``ordered_feed=True``: the ``applyInPandasWithState`` fast path
    (:func:`run_stateful_sessions`) — constant per-user state and
    immediate emission, but assumes event-time-ordered arrival."""
    if ordered_feed:
        return run_stateful_sessions(
            spark, src, checkpoint_dir, gap_seconds, max_files_per_trigger
        )
    ev = stream_events(spark, src, max_files_per_trigger).select("user_id", "ts")
    q = (
        session_window_sessions_frame(ev, gap_seconds, watermark)
        .writeStream.format("memory")
        .queryName("session_window_sessions")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("session_window_sessions")


def run_stateful_sessions(
    spark: SparkSession,
    src: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Drain ``src`` (one file per micro-batch by default, to exercise
    cross-batch state) and return every CLOSED session.

    This is the ORDERED-FEED fast path: sessionization state assumes
    files arrive in event-time order (the file source's
    modification-time ordering).  Out-of-order feeds should use
    :func:`run_sessions` (the watermarked ``session_window`` default)
    instead."""
    ev = stream_events(spark, src, max_files_per_trigger).select(
        "user_id", "ts"
    )
    q = (
        stateful_sessions_frame(ev, gap_seconds)
        .writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("stateful_sessions")


def run_streaming_dedup(
    spark: SparkSession,
    src: str,
    target_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> None:
    """Ingest-time exact deduplication: a change feed that re-delivers
    events (at-least-once producers, replayed extracts — the reference
    re-downloads overlapping Pure change windows on restart,
    extractor_loaders/pure_api_changes.py:28-41) is deduped by
    ``event_id`` with ``dropDuplicatesWithinWatermark`` before landing.

    Scale notes: state is keyed by ``event_id`` and EVICTED once the
    event-time watermark passes — unbounded-key dedup with bounded
    state, the only shape that survives an infinite stream.  Plain
    ``dropDuplicates`` on a stream retains every key forever and OOMs;
    the watermark bound is the whole point.  Duplicates separated by
    more than the watermark horizon are the target MERGE's idempotence
    problem (operators/merge.py), not the stream's."""
    ev = stream_events(spark, src, max_files_per_trigger)
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

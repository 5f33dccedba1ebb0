"""Structured Streaming front-end for the CDC semantics (SURVEY.md §2.10).

The reference's changes pipeline is incremental *batch*: a persisted
watermark (max downloaded), per-(uuid, version) idempotence, latest-
version-wins compaction, then per-family consumers
(extractor_loaders/pure_api_changes.py:28-74, pure_to_edw/changes.py).

Those contracts map 1:1 onto Structured Streaming:

- C1 watermark/bookmark  → the file-source checkpoint (exactly-once file
  progress) plus ``withWatermark`` for event-time lateness;
- C2/C3 idempotent ingest → ``dropDuplicates`` keyed (uuid, version) —
  state-store backed, bounded by the watermark;
- C4 latest-version-wins  → per-micro-batch compaction in
  ``foreachBatch`` (the batch operator is reused verbatim);
- C7 4-hour cycle         → ``trigger(availableNow=True)`` drains all
  new files then stops — the daemon loop becomes a scheduler concern.

Everything here reuses the batch operators — a streaming DataFrame is
just a DataFrame, so ``compact_changes``/``merge_upsert`` compose inside
``foreachBatch`` unchanged.
"""

from experts_etl_spark.streaming.incremental import (  # noqa: F401
    stream_events,
    run_incremental_consume,
    run_windowed_counts,
    run_sessions,
    run_stateful_sessions,
    run_streaming_dedup,
    session_window_sessions_frame,
)

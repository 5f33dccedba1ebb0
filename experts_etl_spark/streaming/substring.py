"""Streaming ExactSubstr deduplication — arriving document batches
cleaned against the persisted hot-window store (the streaming twin of
``llm/curation.py:substring_dedup_incremental``, completing the
family: every dedup modality here now has batch + incremental +
streaming forms, like MinHash (``streaming/curation.py``) and
SemDeDup (``streaming/semantic.py``)).

Per micro-batch: probe the window store (one hash join on the
fixed-width md5 key — batch-proportional; the store tolerates one
count partition per prior batch, summed after the probe join), cut
the covered words, write the cleaned rows, and append THIS batch's
window counts so the next batch thresholds against archive + history
counts — exactly the corpus-wide frequency the full rule uses, so
each batch's rows are byte-equal to the full ``substring_dedup`` over
everything-seen-so-far restricted to that batch (forward-only
semantics; a periodic full compaction reconciles retroactive hits,
and ``merge_window_store`` compacts the count partitions).

Idempotency: both sinks are hive-partitioned on ``batch_id`` with
dynamic partition overwrite, and the store probe EXCLUDES the current
batch's own partition — an at-least-once ``foreachBatch`` replay
rewrites its partitions instead of double-counting its first
attempt's windows (which would wrongly push windows over the cap).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from experts_etl_spark.streaming import stores as S


def run_streaming_substring_dedup(
    spark: SparkSession,
    src: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 5,
    max_sf: int = 2,
    store_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain ``src`` (``availableNow``) of document parquet batches;
    for each, emit the :func:`substring_dedup` schema (id, n_words,
    n_removed, clean_text) to ``out_dir/batch_id=N`` and append the
    batch's (win, sf) counts to ``store_dir/batch_id=N`` (default
    ``<out_dir>/_window_counts``, underscore-prefixed so corpus reads
    of ``out_dir`` never see it)."""
    from experts_etl_spark.llm.curation import (
        substring_dedup_incremental,
        substring_window_store,
    )

    if store_dir is None:
        store_dir = os.path.join(out_dir, "_window_counts")

    def dedup(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        # at-least-once replay guard: batch N must not count its first
        # attempt's windows toward the cap
        store = S.read_store(
            spark_b, store_dir, exclude_batch_id=batch_id, drop_batch_id=True
        )
        if store is None:
            # empty store with the contract schema: first batch
            # thresholds on its own counts alone
            store = spark_b.createDataFrame([], "win string, sf bigint")
        cleaned = substring_dedup_incremental(
            batch, store, text_col, id_col, window_words, max_sf
        )
        (
            cleaned.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        (
            substring_window_store(batch, text_col, id_col, window_words)
            .write.mode("overwrite")
            .parquet(os.path.join(store_dir, f"batch_id={batch_id}"))
        )

    S.drain(
        S.file_stream(spark, src, max_files_per_trigger), dedup,
        checkpoint_dir,
    )

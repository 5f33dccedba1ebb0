"""Streaming corpus curation: the training-data side of the 4-hour
cycle.  New document files land continuously; each micro-batch is
quality-gated, repetition-filtered, PII-redacted, and deduplicated
against everything already kept, then routed to keep/reject sinks.

``foreachBatch`` reuses the BATCH curation operators verbatim
(llm/text.py, llm/curation.py) — one code path for batch backfills and
the streaming tail, the same design as streaming/incremental.py's CDC
consume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from experts_etl_spark.streaming import stores as S


def route_documents(
    docs: DataFrame,
    quality_min: float = 0.5,
    kept_fps: DataFrame | None = None,
) -> DataFrame:
    """The curation routing decision for one batch of documents — the
    ONE code path behind both the streaming micro-batch (``curate`` in
    :func:`run_streaming_curation`) and the registered batch twin
    (``curation_stream_routing``), so a driver CORRECTNESS row on the
    twin proves the streaming semantics.

    Adds per-document: ``quality`` (llm/text.py:quality_score), ``fp``
    (normalized content fingerprint), ``repetitive`` (Gopher rules,
    llm/curation.py:repetition_metrics), ``dup_in_batch``,
    ``dup_in_corpus`` (against ``kept_fps``, the compact fingerprint
    side table; False when None), and the first-match
    ``reject_reason`` (quality → repetition → duplicate; NULL = keep).

    The in-batch dedup window ranks gate-SURVIVING copies first (then
    doc_id) so a rejected low-quality copy can never shadow a
    kept-eligible duplicate out of the corpus — the same best-member
    election the batch funnel gets from running gates before dedup.
    All doc-local maps + two doc-keyed aggregations + one fp-keyed
    window — linear, no corpus-scale self-joins."""
    from pyspark.sql import Window

    from experts_etl_spark.llm.curation import repetition_metrics
    from experts_etl_spark.llm.text import fingerprint, quality_score

    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )
    rep = repetition_metrics(docs, "text", "doc_id").select(
        "doc_id", "repetitive"
    )
    eligible = (
        F.col("quality").isNotNull()
        & (F.col("quality") >= F.lit(quality_min))
        & ~F.col("repetitive")
    )
    staged = (
        scored.join(rep, "doc_id", "left")
        .withColumn("repetitive", F.coalesce("repetitive", F.lit(False)))
        .withColumn("_eligible", eligible)
        .withColumn(
            "dup_in_batch",
            F.row_number().over(
                Window.partitionBy("fp").orderBy(
                    F.col("_eligible").desc(), "doc_id"
                )
            )
            > 1,
        )
        .drop("_eligible")
    )
    if kept_fps is not None:
        staged = staged.join(
            kept_fps.select("fp").distinct().withColumn(
                "dup_in_corpus", F.lit(True)
            ),
            "fp",
            "left",
        ).withColumn(
            "dup_in_corpus", F.coalesce("dup_in_corpus", F.lit(False))
        )
    else:
        staged = staged.withColumn("dup_in_corpus", F.lit(False))
    # Fail CLOSED on null/unscorable text: quality_score(NULL) is NULL
    # and `NULL < min` never matches a when-branch, which would route
    # garbage rows to the keep sink.
    reason = (
        F.when(
            ~(F.col("quality") >= quality_min) | F.col("quality").isNull(),
            "low_quality",
        )
        .when(F.col("repetitive"), "repetitive")
        .when(F.col("dup_in_batch") | F.col("dup_in_corpus"), "duplicate")
    )
    return staged.withColumn("reject_reason", reason)


def apply_near_dup(
    staged: DataFrame,
    threshold: float,
    index_signatures: DataFrame | None = None,
    lsh_max_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate stage over the routing survivors: MinHash-LSH
    pairs WITHIN the batch are resolved to cluster canonicals
    (connected components, min-id keeper), and — when an
    ``index_signatures`` store is given — every survivor banding-
    matched to an already-kept document at ≥ ``threshold`` Jaccard is
    rejected too.  Non-keepers get ``reject_reason='near_duplicate'``
    (first-match ordering preserved: earlier reasons win).

    Returns ``(staged', batch_signatures)``: the caller checkpoints
    ``staged'`` and appends the final keepers' slice of
    ``batch_signatures`` to the persisted store — the batch-side
    aggregation is computed ONCE (lazily checkpointed) and shared by
    in-batch mining, cross-batch matching, and the store append.

    Scale shape: the daily-crawl pattern (llm/dedup.py:
    incremental_lsh_dedup) — per-batch cost tracks |batch| + matched-
    band volume against the store, never |index|²; in-batch pair
    mining is band-blocked and CC rounds = cluster diameter (2-3 for
    near-dup cliques).  ``lsh_max_df`` caps degenerate band keys out
    of both joins (llm/dedup.py:LSH_MAX_DF — the measured hot-band
    ~n^1.5 verify term; production ticks should pass it, the gated
    batch twins pin the uncapped default)."""
    from experts_etl_spark.llm.curation import resolve_clusters
    from experts_etl_spark.llm.dedup import (
        incremental_lsh_dedup,
        minhash_lsh_dedup,
        signature_shingle_sets,
    )

    cand = staged.filter(F.col("reject_reason").isNull()).select(
        "doc_id", "text"
    )
    sigs = signature_shingle_sets(cand, "text", "doc_id")
    in_pairs = minhash_lsh_dedup(
        None, "text", "doc_id", threshold, signatures=sigs,
        max_df=lsh_max_df,
    )
    losers = (
        resolve_clusters(in_pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    if index_signatures is not None:
        hits = (
            incremental_lsh_dedup(
                None,
                None,
                "text",
                "doc_id",
                threshold,
                index_signatures=index_signatures,
                new_signatures=sigs,
                max_df=lsh_max_df,
            )
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        losers = losers.union(hits).distinct()
    out = (
        staged.join(losers.withColumn("_nd", F.lit(True)), "doc_id", "left")
        .withColumn(
            "reject_reason",
            F.coalesce(
                "reject_reason", F.when(F.col("_nd"), "near_duplicate")
            ),
        )
        .drop("_nd")
    )
    return out, sigs


def run_streaming_curation(
    spark: SparkSession,
    src: str,
    keep_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    quality_min: float = 0.5,
    max_files_per_trigger: int | None = None,
    fp_dir: str | None = None,
    near_dup_threshold: float | None = None,
    sig_dir: str | None = None,
    lsh_max_df: int | None = None,
) -> None:
    """Drain ``src`` (``availableNow``) routing every document to keep
    or reject with a recorded reason.

    Per micro-batch, in order:

    1. quality score + Gopher repetition flag (doc-local, pure
       map/agg — ``llm/text.py:quality_score``,
       ``llm/curation.py:repetition_metrics``);
    2. PII redaction of the kept text (pure map);
    3. in-batch exact dedup: one keeper per fingerprint, W9 keep-best
       shape — GATE-SURVIVING copies rank first (then doc_id), so a
       low-quality copy can never shadow a kept-eligible one out of the
       corpus; the batch funnel (training_corpus_pipeline) gets the
       same best-member election by running gates before dedup;
    4. cross-batch exact dedup against the compact FINGERPRINT SIDE
       TABLE (``fp_dir``, default ``<keep_dir>/_fingerprints`` —
       underscore-prefixed so corpus reads of ``keep_dir`` never see
       it), appended one partition per batch.  Per-tick probe cost
       tracks the fingerprint table (one string column, a few % of the
       corpus bytes), not the text archive — the signature-store
       pattern (llm/dedup.py:incremental_lsh_dedup).  A legacy
       ``keep_dir`` without a side table is backfilled once from the
       kept corpus (batch_id=-1) and probed compactly thereafter.

    5. optional NEAR-dup dedup (``near_dup_threshold``): in-batch
       MinHash-LSH pairs resolved to cluster canonicals, plus an
       asymmetric band join against the persisted MinHash SIGNATURE
       STORE (``sig_dir``, default ``<keep_dir>/_signatures``, appended
       one partition per batch) — the incremental daily-crawl shape:
       per-tick cost tracks the batch + matched-band volume, never the
       archive (:func:`apply_near_dup`).

    Ordering note: reasons are assigned first-match (quality →
    repetition → duplicate → near_duplicate), so a low-quality copy of
    a kept doc records ``low_quality``, mirroring the batch funnel's
    stage order (llm/queries.py:training_corpus_pipeline).
    """
    from experts_etl_spark.llm.curation import redact_pii

    if fp_dir is None:
        fp_dir = os.path.join(keep_dir, "_fingerprints")
    if sig_dir is None:
        sig_dir = os.path.join(keep_dir, "_signatures")

    def curate(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        # Fail-CLOSED probes of the fingerprint side table (stores.py):
        # only "path not there yet" skips the probe; a real read error
        # (corrupt file, transient store failure) propagates instead of
        # silently admitting duplicates.  read_store carries the replay
        # exclusion (batch_id != current) across BOTH segments of a
        # compacted store.
        kept_fps = S.read_store(spark_b, fp_dir, exclude_batch_id=batch_id)
        if kept_fps is None and S.path_exists(spark_b, keep_dir):
            # Legacy keep_dir predating the side table: backfill it once
            # from the kept corpus (batch_id=-1 never collides with a
            # real micro-batch id), then probe compactly forever after.
            # CURRENT batch excluded: on an at-least-once replay of
            # batch N that coincides with the backfill (upgrade, or
            # fp_dir lost), the first attempt's keep partition is
            # already on disk — folding it into batch_id=-1 would
            # defeat the `batch_id != current` replay guard below and
            # self-reject the whole batch as 'duplicate'.
            legacy_src = spark_b.read.parquet(keep_dir)
            if "batch_id" in legacy_src.columns:
                legacy_src = legacy_src.filter(
                    F.col("batch_id") != F.lit(batch_id)
                )
            legacy = legacy_src.select("fp").distinct()
            legacy.write.mode("overwrite").parquet(
                os.path.join(fp_dir, "batch_id=-1")
            )
            kept_fps = S.read_store(
                spark_b, fp_dir, exclude_batch_id=batch_id
            )
        staged = route_documents(
            batch, quality_min, kept_fps
        ).localCheckpoint(
            eager=True  # one pass feeds all three sinks; lineage reads fp_dir
        )
        if near_dup_threshold is not None:
            # same at-least-once replay exclusion as the fp probe
            store = S.read_store(
                spark_b, sig_dir, exclude_batch_id=batch_id,
                drop_batch_id=True,
            )
            staged, sigs = apply_near_dup(
                staged, near_dup_threshold, index_signatures=store,
                lsh_max_df=lsh_max_df,
            )
            staged = staged.localCheckpoint(eager=True)
            # Append the final keepers' signatures to the store: the
            # next batch's cross-batch near-dup probe band-joins this
            # compact table, never the text archive.
            (
                sigs.join(
                    staged.filter(
                        F.col("reject_reason").isNull()
                    ).select("doc_id"),
                    "doc_id",
                )
                .write.mode("overwrite")
                .parquet(os.path.join(sig_dir, f"batch_id={batch_id}"))
            )
        redacted, _ = redact_pii(F.col("text"))
        # Idempotent under at-least-once foreachBatch replays: each
        # batch overwrites ITS OWN batch_id partition (and the fp probe
        # above excludes it), so a crash between the writes and the
        # checkpoint commit re-runs the batch into the same directories
        # instead of appending rows twice.
        (
            staged.filter(F.col("reject_reason").isNull())
            .select(
                "doc_id",
                redacted.alias("text"),
                "lang",
                "source",
                "quality",
                "fp",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(keep_dir, f"batch_id={batch_id}"))
        )
        # Append this batch's kept fingerprints to the compact side
        # table — the next batch's cross-batch probe reads ONLY this
        # one-column table, so per-tick cost tracks accumulated
        # fingerprints, not the text archive.  Same overwrite-own-
        # partition idempotency as the keep/reject sinks.
        (
            staged.filter(F.col("reject_reason").isNull())
            .select("fp")
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(fp_dir, f"batch_id={batch_id}"))
        )
        (
            staged.filter(F.col("reject_reason").isNotNull())
            .select("doc_id", "lang", "source", "quality", "reject_reason")
            .write.mode("overwrite")
            .parquet(os.path.join(reject_dir, f"batch_id={batch_id}"))
        )

    S.drain(
        S.file_stream(spark, src, max_files_per_trigger), curate,
        checkpoint_dir,
    )

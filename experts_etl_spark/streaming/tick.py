"""The composed incremental "daily tick": one arriving document batch
through EVERY curation store in one pass —

  quality gate → Gopher repetition filter → in-batch + cross-batch
  exact dedup (fingerprint store) → in-batch + cross-batch MinHash
  near-dup (signature store) → semantic dedup of the survivors'
  embeddings (kept-embedding store) → ExactSubstr cleaning of the
  keepers' text (hot-window store) → PQ-encode the keepers' embeddings
  against the standing codebooks (ANN index append)

— the streaming analogue of ``plans/runner.py``'s one batch cycle
(reference: experts_etl/runner.py:88-160 runs every extract/transform/
load stage over one change window; here the stages are the training-
data curation operators and the "tables" are the persisted dedup/ANN
stores).  Each stage is the ALREADY-GATED incremental operator
(streaming/curation.py, llm/curation.py, llm/similarity.py, llm/pq.py)
— this module only composes them, so the composite's semantics are the
composition of five driver-proven contracts, and the gated batch twin
(``curation_tick_pipeline`` in llm/queries.py) hash-pins the
composition itself against one independent SQL oracle.

One pass over the batch text, one run of each stage: a stage boundary
that more than one consumer reads is materialized once
(``localCheckpoint(eager=True)``) and every consumer reads the
materialization.  The runner checkpoints the source batch (every stage
and sink reads it), :func:`curation_tick` checkpoints the stage-2
output (the semantic probe and fixpoint, substring cleaning and the
routed join read it), and the runner checkpoints ``routed`` (every
sink reads it).  A boundary left unmaterialized is not shared but
re-run by each reader: under AQE even a lazy ``localCheckpoint``
downstream executes its upstream shuffle stages when it is called, so
each checkpoint, fixpoint round or action below an unmaterialized
funnel pays the whole funnel, store joins included.  Reject reasons
are FIRST-MATCH in stage order
(low_quality → repetitive → duplicate → near_duplicate →
semantic_duplicate), mirroring the batch funnel
(``training_corpus_pipeline``).

Concurrent store I/O: the runner's store probes, sink writes and
maintenance steps do not depend on one another except along a few
chains, so each chain runs as one leg of ``stores._concurrently`` and
the legs overlap (the driver round trips of one leg hide behind the
jobs of another).  Before the funnel, five legs:

- ``resolve_srp_width`` → ``read_store(_kept_embeddings)``: the width
  resolve can finish an interrupted re-bucket of that very store, so
  the probe must see the store it leaves;
- the embedding-batch lookup and its checkpoint;
- ``read_store`` of the fingerprint, signature and window stores, one
  leg each.

After ``routed``, six legs:

- keep write → ``retain_partitions(keep)`` and reject write →
  ``retain_partitions(reject)``: retention counts the partition just
  written;
- fingerprint, signature and window write → that store's fold check:
  the fold must see this batch's partition, or the next tick folds it;
- embedding write → ``maybe_rebucket_srp_store`` → PQ dimension probe
  → PQ encode → ``pq_drift_step`` → fold checks of the embedding and
  PQ stores: the re-bucket counts the store including this batch, the
  drift step may rebuild the PQ index from the embedding store and
  rewrite the code store, and a fold of either store must not run
  under that rebuild.

Every sink frame reads only materialized boundaries (the checkpointed
batch and embedding batch, ``routed``, and the signatures' checkpoint
that the funnel materialized), never a store scan, so a fold on one
leg never removes a file that another leg is reading.  A failed leg
fails the micro-batch once every leg has ended, and the drain replays
it.

Scale shape: every stage is batch-proportional against its store —
fingerprint probe (one hash join on md5), asymmetric band join
(signatures), SRP-bucketed cross join (kept embeddings), md5 window
probe (hot windows), broadcast codebooks (PQ) — the per-stage numbers
measured flat against 27×/81× archives in SCALE_FIT.json.

Idempotency: every sink and store append is hive-partitioned on
``batch_id`` with overwrite-own-partition writes, and every store
probe EXCLUDES the current batch's partition — the at-least-once
``foreachBatch`` replay guarantees, pinned in
tests/test_streaming_tick.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from experts_etl_spark.llm.dedup import LSH_MAX_DF
from experts_etl_spark.streaming import ann_index, semantic, stores


def curation_tick(
    docs_batch: DataFrame,
    emb_batch: DataFrame | None,
    *,
    quality_min: float = 0.5,
    near_dup_threshold: float = 0.5,
    sem_threshold: float = 0.35,
    sem_bits: int = 8,
    kept_fps: DataFrame | None = None,
    index_signatures: DataFrame | None = None,
    window_store: DataFrame | None = None,
    kept_embeddings: DataFrame | None = None,
    window_words: int = 5,
    max_sf: int = 2,
    lsh_max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """One batch through the full curation cascade against the given
    stores (any store ``None`` = empty, the first-tick state).  The ONE
    code path behind the streaming runner (:func:`run_streaming_tick`)
    and the gated batch twin (``curation_tick_pipeline``).

    Returns ``(routed, sigs)``:

    - ``routed``: one row per batch document — (id, quality,
      reject_reason, n_words, n_removed, clean_text); ``reject_reason``
      NULL = kept, and the three ExactSubstr columns are non-NULL for
      keepers only (cleaning applies to what survives, exactly as the
      full-corpus rule applies to the corpus it keeps).
    - ``sigs``: the stage-2 MinHash signatures of the stage-1
      survivors; the caller appends the FINAL keepers' slice to the
      signature store (computed once, shared — the apply_near_dup
      contract).

    ``sem_bits`` is the kept-embedding store's PINNED index width
    (``auto_srp_bits`` of the target corpus at store creation — see
    streaming/semantic.py); batch documents with no embedding row pass
    the semantic stage (nothing to compare).
    """
    from experts_etl_spark.llm.curation import substring_dedup_incremental
    from experts_etl_spark.llm.similarity import semantic_dedup_incremental
    from experts_etl_spark.streaming.curation import (
        apply_near_dup,
        route_documents,
    )

    spark = docs_batch.sparkSession

    # stages 1 (quality/repetition/exact-dup) + 2 (near-dup)
    staged = route_documents(docs_batch, quality_min, kept_fps)
    staged, sigs = apply_near_dup(
        staged, near_dup_threshold, index_signatures=index_signatures,
        lsh_max_df=lsh_max_df,
    )
    # the stage-2 boundary: every stage below (semantic probe and
    # fixpoint, substring cleaning, the routed join) reads it
    staged = staged.localCheckpoint(eager=True)

    # stage 3: semantic dedup of the survivors' embeddings
    if emb_batch is not None:
        surv = staged.filter(F.col("reject_reason").isNull()).select(id_col)
        sem_in = emb_batch.join(
            surv, emb_batch[vec_id_col] == surv[id_col]
        ).select(emb_batch["*"])
        decisions = semantic_dedup_incremental(
            sem_in, kept_embeddings, vec_id_col, vec_col,
            sem_threshold, sem_bits,
        )
        staged = staged.join(
            decisions.select(
                F.col(vec_id_col).alias(id_col), F.col("kept").alias("_sk")
            ),
            id_col,
            "left",
        ).withColumn(
            "reject_reason",
            F.coalesce(
                "reject_reason",
                F.when(F.col("_sk") == F.lit(False), "semantic_duplicate"),
            ),
        ).drop("_sk")

    # stage 4: ExactSubstr-clean the final keepers' text
    keep_ids = staged.filter(F.col("reject_reason").isNull()).select(id_col)
    keep_docs = docs_batch.join(keep_ids, id_col)
    if window_store is None:
        window_store = spark.createDataFrame([], "win string, sf bigint")
    cleaned = substring_dedup_incremental(
        keep_docs, window_store, text_col, id_col, window_words, max_sf
    )

    routed = staged.select(id_col, "quality", "reject_reason").join(
        cleaned, id_col, "left"
    )
    return routed, sigs


def run_streaming_tick(
    spark: SparkSession,
    docs_src: str,
    emb_src: str | None,
    out_dir: str,
    checkpoint_dir: str,
    *,
    quality_min: float = 0.5,
    near_dup_threshold: float = 0.5,
    sem_threshold: float = 0.35,
    sem_bits: int = 8,
    books_path: str | None = None,
    pq_m: int | None = None,
    pq_recon_ppm_threshold: int | None | str = "auto",
    sem_occupancy_limit: int | None = semantic.DEFAULT_OCCUPANCY_LIMIT,
    compact_after: int | None = stores.DEFAULT_MAX_LIVE_PARTITIONS,
    retain_decisions: int | None = stores.DEFAULT_RETAIN_DECISIONS,
    lsh_max_df: int | None = LSH_MAX_DF,
    window_words: int = 5,
    max_sf: int = 2,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain ``docs_src`` (``availableNow``); each micro-batch runs
    :func:`curation_tick` against the stores under ``out_dir`` and
    updates all of them plus the keep/reject sinks:

    - ``keep/batch_id=N``      kept docs (id, clean_text, quality, fp)
    - ``reject/batch_id=N``    rejects (id, quality, reject_reason)
    - ``_fingerprints/batch_id=N``     keepers' content fingerprints
    - ``_signatures/batch_id=N``       keepers' MinHash signatures
    - ``_window_counts/batch_id=N``    keepers' (win, sf) counts
    - ``_kept_embeddings/batch_id=N``  keepers' embeddings
    - ``_pq_index/batch_id=N``         keepers' PQ code rows (when
      ``books_path`` is given — standing codebooks)
    - ``_pq_rebuilds/rebuild_batch=N`` audit log of PQ index rebuilds
      (when ``pq_recon_ppm_threshold`` is set)

    **Production posture is the DEFAULT posture.**  Every maintenance
    knob is on unless the caller turns it off, so a caller who names
    nothing gets bounded store directories, a re-widened SRP index,
    rebuilt drifting codebooks, bounded decision sinks and capped
    degenerate band keys:

    - ``pq_recon_ppm_threshold`` defaults to ``"auto"``, which resolves
      per tick via :func:`~experts_etl_spark.streaming.ann_index.
      resolve_recon_threshold` (4× the latest rebuild's measured
      intrinsic error, floored at
      :data:`~experts_etl_spark.streaming.ann_index.DEFAULT_PQ_RECON_PPM`);
    - ``sem_occupancy_limit`` defaults to
      :data:`~experts_etl_spark.streaming.semantic.DEFAULT_OCCUPANCY_LIMIT`;
    - ``compact_after`` / ``retain_decisions`` default to
      :data:`~experts_etl_spark.streaming.stores.DEFAULT_MAX_LIVE_PARTITIONS`
      / :data:`~experts_etl_spark.streaming.stores.DEFAULT_RETAIN_DECISIONS`;
    - ``lsh_max_df`` defaults to
      :data:`~experts_etl_spark.llm.dedup.LSH_MAX_DF` (the hot-band
      candidate cap).

    Pass ``None`` to switch a knob OFF, or an int to pin it.

    With ``pq_recon_ppm_threshold`` set, the tick's PQ leg is
    SELF-MAINTAINING: after encoding the batch's keepers against the
    standing books, :func:`~experts_etl_spark.streaming.ann_index.
    pq_drift_step` measures their reconstruction drift
    (``pq_recon_ppm``), and a batch past the threshold fires
    :func:`~experts_etl_spark.streaming.ann_index.
    maybe_rebuild_pq_index` — sampled retrain over the kept-embedding
    archive, full re-encode of every ``_pq_index`` partition, and a
    write-audit-publish swap vetoed unless the full-corpus ppm is back
    under threshold.  A replay of the drifting batch encodes against
    the RETRAINED books, measures under threshold, and fires nothing —
    the rebuild is a fixpoint of the replay.  ``books_path`` must
    point at standing codebooks (the tick's contract, which
    ``pq_train`` meets); there is no bootstrap leg here.

    The kept-embedding store's SRP width ALWAYS resolves through the
    ``_srp_meta`` sidecar when one exists (completing any
    crash-interrupted re-bucket first — ``streaming/semantic.py``'s
    :func:`~experts_etl_spark.streaming.semantic.resolve_srp_width`);
    ``sem_bits`` is only the fallback for stores with no sidecar.
    This holds regardless of ``sem_occupancy_limit`` — a store
    re-widened by an earlier run (or a ``sem_bits`` change between
    runs) must never be probed at a stale width, or the
    precomputed-bucket join silently leaks semantic duplicates.  With
    ``sem_occupancy_limit`` set, the store additionally
    SELF-MAINTAINS: a store whose mean occupancy crosses the limit
    re-widens to ``auto_srp_bits(current count)`` (dim-capped) through
    :func:`~experts_etl_spark.streaming.semantic.
    maybe_rebucket_srp_store`'s staged write-audit-publish re-bucket.

    ``emb_src`` is the upstream embedding table keyed by doc id
    (vec_id == doc_id); the per-tick lookup joins the BATCH ids
    against it (broadcast batch side, column-pruned scan — with an
    id-partitioned layout the scan prunes to the batch's partitions).

    Every store probe excludes the current ``batch_id`` partition and
    every write overwrites its own partition — at-least-once replays
    are byte-idempotent (tests/test_streaming_tick.py)."""
    from experts_etl_spark.llm.curation import substring_window_store
    from experts_etl_spark.llm.pq import auto_pq_m, pq_encode_incremental

    dirs = {
        "fp": os.path.join(out_dir, "_fingerprints"),
        "sig": os.path.join(out_dir, "_signatures"),
        "win": os.path.join(out_dir, "_window_counts"),
        "emb": os.path.join(out_dir, "_kept_embeddings"),
        "pq": os.path.join(out_dir, "_pq_index"),
        "keep": os.path.join(out_dir, "keep"),
        "reject": os.path.join(out_dir, "reject"),
    }
    # the key each store's fold buckets on
    fold_keys = {
        "fp": "fp", "sig": "doc_id", "win": "win", "emb": "vec_id",
        "pq": "vec_id",
    }

    def tick(batch: DataFrame, batch_id: int) -> None:
        from experts_etl_spark.llm.similarity import srp_bucket
        from experts_etl_spark.llm.text import fingerprint

        spark_b = batch.sparkSession
        # ONE pass over the batch text: checkpoint the source batch;
        # every stage below reads this, never the stream source.
        batch = batch.localCheckpoint(eager=True)
        # every probe excludes this batch's own partition (replays)
        own = dict(exclude_batch_id=batch_id, drop_batch_id=True)

        def probe(name: str):
            return lambda: stores.read_store(spark_b, dirs[name], **own)

        def emb_probe():
            # resolve the kept-embedding store's current SRP width (and
            # complete any crash-interrupted re-bucket) BEFORE its probe
            # — UNCONDITIONALLY, not only when this run intends to
            # trigger re-widens: a store previously re-widened (or a
            # sem_bits change between runs) probed at the caller's
            # default would join batch buckets at one width against
            # stored buckets at another and silently leak semantic
            # duplicates.
            width = semantic.resolve_srp_width(spark_b, dirs["emb"], sem_bits)
            return width, stores.read_store(spark_b, dirs["emb"], **own)

        def emb_lookup():
            if emb_src is None:
                return None
            ids = batch.select(F.col("doc_id").alias("vec_id"))
            return (
                spark_b.read.parquet(emb_src)
                .join(F.broadcast(ids), "vec_id")
                .localCheckpoint(eager=True)
            )

        (
            ((bits_cur, emb_meta_row), kept_embeddings),
            emb_batch,
            kept_fps,
            index_signatures,
            window_store,
        ) = stores._concurrently(
            spark_b, emb_probe, emb_lookup, probe("fp"), probe("sig"),
            probe("win"),
        )
        routed, sigs = curation_tick(
            batch,
            emb_batch,
            quality_min=quality_min,
            near_dup_threshold=near_dup_threshold,
            sem_threshold=sem_threshold,
            sem_bits=bits_cur,
            kept_fps=kept_fps,
            index_signatures=index_signatures,
            window_store=window_store,
            kept_embeddings=kept_embeddings,
            window_words=window_words,
            max_sf=max_sf,
            lsh_max_df=lsh_max_df,
        )
        routed = routed.localCheckpoint(eager=True)  # feeds every sink
        keep_ids = routed.filter(F.col("reject_reason").isNull()).select(
            "doc_id"
        )
        kept_docs = batch.join(keep_ids, "doc_id")

        def write(df: DataFrame, name: str) -> None:
            df.write.mode("overwrite").parquet(
                os.path.join(dirs[name], f"batch_id={batch_id}")
            )

        def retain(name: str) -> None:
            if retain_decisions is not None:
                stores.retain_partitions(spark_b, dirs[name], retain_decisions)

        def fold(name: str) -> None:
            if compact_after is not None:
                stores.maybe_compact_store(
                    spark_b, dirs[name], fold_keys[name],
                    max_live_partitions=compact_after,
                )

        def chain(name: str, rows: DataFrame, then):
            def run() -> None:
                write(rows, name)
                then(name)

            return run

        def emb_chain() -> None:
            if emb_batch is not None:
                kept_embs = emb_batch.join(
                    keep_ids.select(F.col("doc_id").alias("vec_id")), "vec_id"
                )
                # persist the SRP bucket at the store's pinned width so
                # the next tick's probe joins the stored index instead
                # of re-deriving quantize+bucket over the whole archive
                # (bucketed_cross_hits' precomputed-bucket arm)
                write(
                    kept_embs.select(
                        "vec_id",
                        "embedding",
                        srp_bucket(F.col("embedding"), bits_cur).alias(
                            "bucket"
                        ),
                    ),
                    "emb",
                )
                if sem_occupancy_limit is not None:
                    semantic.maybe_rebucket_srp_store(
                        spark_b, dirs["emb"], bits_cur,
                        sem_occupancy_limit, emb_meta_row,
                    )
                if books_path is not None:
                    pq_leg(kept_embs)
            fold("emb")
            # the PQ code store grows one batch_id dir per tick like
            # the probe stores; the rebuild composes via drop_segments
            # (ann_index.py)
            fold("pq")

        def pq_leg(kept_embs: DataFrame) -> None:
            # ONE head read over the keepers' embeddings: its dimension
            # resolves m for the encode and the drift measurement, and
            # no row means an all-rejected batch — a REAL state (a
            # fully-duplicate crawl slice) with nothing to encode or
            # drift-check, so the PQ leg is skipped (both attempts of a
            # replay skip identically, so idempotency holds)
            head = kept_embs.select(F.size("embedding").alias("d")).first()
            if head is None:
                return
            m = pq_m if pq_m is not None else auto_pq_m(int(head["d"]))
            books = spark_b.read.parquet(books_path)
            write(
                pq_encode_incremental(kept_embs, books, "vec_id", "embedding", m),
                "pq",
            )
            if pq_recon_ppm_threshold is not None:
                ann_index.pq_drift_step(
                    spark_b,
                    kept_embs,
                    books,
                    batch_id=batch_id,
                    threshold=pq_recon_ppm_threshold,
                    m=m,
                    arch_dir=dirs["emb"],
                    codes_dir=dirs["pq"],
                    books_dir=books_path,
                    audit_dir=os.path.join(out_dir, "_pq_rebuilds"),
                    intr_dir=os.path.join(out_dir, "_pq_intrinsic"),
                )

        stores._concurrently(
            spark_b,
            chain(
                "keep",
                kept_docs.select(
                    "doc_id",
                    "lang",
                    "source",
                    fingerprint(F.col("text")).alias("fp"),
                ).join(
                    routed.select("doc_id", "quality", "clean_text"), "doc_id"
                ),
                retain,
            ),
            chain(
                "reject",
                routed.filter(F.col("reject_reason").isNotNull()).select(
                    "doc_id", "quality", "reject_reason"
                ),
                retain,
            ),
            chain(
                "fp",
                kept_docs.select(fingerprint(F.col("text")).alias("fp"))
                .distinct(),
                fold,
            ),
            chain("sig", sigs.join(keep_ids, "doc_id"), fold),
            chain(
                "win",
                substring_window_store(kept_docs, "text", "doc_id", window_words),
                fold,
            ),
            emb_chain,
        )

    stores.drain(
        stores.file_stream(spark, docs_src, max_files_per_trigger),
        tick,
        checkpoint_dir,
    )

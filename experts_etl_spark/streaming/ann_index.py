"""Streaming ANN-index maintenance: the PQ leg of ``streaming/tick.py``
and the probe-side IVFADC search runner.

A deployment trains codebooks once (``pq_train`` / ``ivfpq_index``)
and persists them; every tick encodes its keepers' embeddings through
the BROADCAST books (``llm/pq.py:pq_encode_incremental`` — m·k
subspace dots per new vector, no retrain, no touch of the standing
index) and appends the skinny code rows.  Codebook drift under a
shifting ingest distribution is a rebuild, never an encode-time
concern — the FAISS operational model: :func:`pq_drift_step` measures
the batch's reconstruction drift and :func:`maybe_rebuild_pq_index`
retrains and re-encodes behind a write-audit-publish swap.

Idempotency: every sink overwrites its own ``batch_id`` partition, so
an at-least-once ``foreachBatch`` replay rewrites its own partition
instead of appending duplicates (the same guarantee
``streaming/incremental.py`` pins for the merge sink).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from experts_etl_spark.llm.pq import (
    pq_encode_incremental,
    pq_recon_ppm,
    pq_train,
)
from experts_etl_spark.streaming import stores as S

# Floor for the AUTO drift threshold: 200,000 ppm
# = 20% relative reconstruction error — comfortably above the intrinsic
# PQ quantization error measured on every gated corpus (the k=64/256
# books land at single-digit percent on the driver fixtures and the
# clustered scale corpora), and far below a genuine distribution shift
# (the gated drift fixtures and tools/selfmaint_probe.py's 1/128
# rescale both measure ~1e6 ppm).  Every gated test and the measured
# maintained-tick series ran at exactly this value.
DEFAULT_PQ_RECON_PPM = 200_000


def _read_ppm(
    spark: SparkSession, path: str, col: str
) -> tuple[int, int] | None:
    """Latest (batch_id, ppm) record of a small audit/marker table, or
    None when the table is absent/empty."""
    if not S.child_names(spark, path):
        return None
    last = (
        # both tables are written as (batch_id bigint, ..., <col> bigint):
        # naming the columns read spares a schema-inference job
        spark.read.schema(f"batch_id bigint, {col} bigint")
        .parquet(path)
        .orderBy(F.col("batch_id").desc())
        .select("batch_id", col)
        .first()
    )
    return None if last is None else (int(last["batch_id"]), int(last[col]))


def _write_intrinsic(
    spark: SparkSession, intr_dir: str, batch_id: int, ppm: int
) -> None:
    """Record ``ppm`` as the measured intrinsic error anchor (the
    ``_pq_intrinsic`` marker :func:`resolve_recon_threshold` reads)."""
    spark.createDataFrame(
        [(int(batch_id), int(ppm))], "batch_id bigint, ppm bigint"
    ).write.mode("overwrite").parquet(intr_dir)


def resolve_recon_threshold(
    spark: SparkSession, audit_dir: str, intrinsic_dir: str | None = None
) -> int | None:
    """The ``"auto"`` drift threshold, wired to the MEASURED intrinsic
    error margin, latest measurement wins:

    1. After any rebuild, the audit log's ``post_ppm`` IS the published
       books' full-corpus intrinsic reconstruction error (the rebuild
       computes it as the publish veto) → ``max(floor, 4 × latest
       post_ppm)``.
    2. Else, a ``_pq_intrinsic`` calibration marker (written by the
       first tick that encoded against standing books — see
       :func:`pq_drift_step`) carries the first-contact measurement →
       ``max(floor,
       4 × marker ppm)``.
    3. Else ``None``: no measurement exists yet — the caller must
       CALIBRATE (record this tick's ppm as the marker and skip the
       drift decision) rather than arm a floor that may sit below the
       corpus's intrinsic error, which would fire a futile same-data
       rebuild whose audit veto wedges the stream on every replay.

    The 4× margin keeps the trigger strictly above the books' own
    error with 2 bits of headroom, yet far under the ~1e6 ppm a real
    distribution shift measures (the gated drift fixtures and
    tools/selfmaint_probe.py's 1/128 rescale); the floor
    (:data:`DEFAULT_PQ_RECON_PPM`) keeps tight-book deployments from
    rebuilding on noise.  One small-parquet read per resolution;
    deterministic and replay-stable (both records are written
    idempotently, and a replay of the calibration tick re-measures the
    same ppm → same marker → same no-rebuild decision).  When both a
    rebuild record and a calibration marker exist, the one with the
    higher batch_id wins — a veto-calibration (a rebuild whose best
    achievable error exceeded the old margin) post-dates and
    supersedes the last successful rebuild's anchor."""
    post = _read_ppm(spark, audit_dir, "post_ppm")
    marker = (
        _read_ppm(spark, intrinsic_dir, "ppm")
        if intrinsic_dir is not None
        else None
    )
    records = [r for r in (post, marker) if r is not None]
    if records:
        _, ppm = max(records)
        return max(DEFAULT_PQ_RECON_PPM, 4 * ppm)
    if intrinsic_dir is not None:
        return None  # caller calibrates this tick
    return DEFAULT_PQ_RECON_PPM


def run_streaming_ivfpq_search(
    spark: SparkSession,
    probes_src: str,
    cells_path: str,
    books_path: str,
    index_path: str,
    emb_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 4,
    refine_mult: int | None = None,
    nprobe: int | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Probe side of the streaming IVFADC deployment: drain
    ``probes_src`` (``availableNow``) of probe-vector parquet batches,
    searching each against the MATERIALIZED index triple from
    ``llm/pq.py:ivfpq_index`` (cells + books + skinny code index; the
    full corpus at ``emb_path`` is point-read only for the exact
    re-rank shortlist) and writing (probe_id, cand_id, rank, cos,
    batch_id) partitions to ``out_dir``.

    The batch twin is ``ivfpq_search`` verbatim — same candidate
    volume (nprobe·n/nlist per probe), same broadcast LUT, same exact
    re-rank — so per-tick cost tracks the probe batch, never the
    corpus, and the standing index is shared by every tick until the
    next (re)index.  Idempotency: the sink is hive-partitioned on
    ``batch_id`` with dynamic partition overwrite, so an at-least-once
    ``foreachBatch`` replay rewrites its own partition instead of
    appending duplicates — the same guarantee as the tick's sinks.

    Read knobs default to the batch twin's self-scaling rules
    (``auto_nprobe`` / ``auto_refine_mult``), resolved ONCE against
    the standing index here — not per tick — since the index is fixed
    between rebuilds."""
    from experts_etl_spark.llm.pq import (
        auto_nprobe,
        auto_refine_mult,
        ivfpq_search,
    )

    cells = spark.read.parquet(cells_path)
    books = spark.read.parquet(books_path)
    index = spark.read.parquet(index_path)
    emb = spark.read.parquet(emb_path)
    if nprobe is None:
        nprobe = auto_nprobe(cells.count())
    if refine_mult is None:
        refine_mult = auto_refine_mult(emb.count(), k)

    def search(batch: DataFrame, batch_id: int) -> None:
        out = ivfpq_search(
            cells, books, index, emb, batch, id_col, vec_col,
            k, m, refine_mult, nprobe,
        )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    S.drain(
        S.file_stream(spark, probes_src, max_files_per_trigger), search,
        checkpoint_dir,
    )


def maybe_rebuild_pq_index(
    spark: SparkSession,
    *,
    arch_dir: str,
    codes_dir: str,
    books_dir: str,
    audit_dir: str,
    batch_id: int,
    pre_ppm: int,
    recon_ppm_threshold: int,
    m: int | None = None,
    intrinsic_dir: str | None = None,
) -> bool:
    """One transactional PQ index rebuild (the drift branch of
    :func:`pq_drift_step`, which the tick's PQ leg runs): retrain
    codebooks on the kept-embedding archive's ``train_mod="auto"``
    sample (~16·k vectors — the measured
    TRAIN_AUTO_MIN lesson; the k=256 cap bounds the sample at ~4096,
    so training is O(1) in the archive while the re-encode stays the
    unavoidable linear term), re-encode everything, and publish the
    new code partitions through write-audit-publish — the audit hook
    vetoes unless the FULL-CORPUS ``pq_recon_ppm`` is back under
    threshold and every archived id re-encoded, so sampled training
    carries zero quality risk.  A sampled rebuild that still misses
    the threshold retries once with full Lloyd before vetoing (a veto
    wedges the stream on every replay, so it must be the last resort,
    not the first response to a degenerate sample).
    The archive is compacted latest-batch-wins on ``vec_id`` first: a
    re-arrived id is a correction, and fanning it out to two code rows
    would double-count it in the index; partitions whose every id was
    superseded are DELETED (they would otherwise survive the dynamic
    overwrite holding old-book codes), and a post-publish audit of the
    final table verifies exactly one code set per archived id.  Crash
    windows converge via replay: codes publish before books, so a
    crash in between leaves the drifting batch still over-threshold
    against the old books and the replay re-fires the rebuild.

    Returns True iff the rebuilt index was published.  With
    ``intrinsic_dir`` set (the ``"auto"``-threshold callers), a
    post-retrain error still above threshold CALIBRATES instead of
    vetoing — the measured best-achievable ppm is recorded there and
    False returned, with the published index byte-untouched (see the
    veto branch).  Without it, the veto raises."""
    from pyspark.sql import Window

    from experts_etl_spark.sources.sinks import overwrite_partitions

    # segment-aware archive read: a compacted kept-embedding store
    # (streaming/stores.py) keeps batch_id as a column in its folded
    # segment, so latest-batch-wins compaction below works unchanged
    raw = S.read_store(spark, arch_dir)
    w = Window.partitionBy("vec_id").orderBy(F.col("batch_id").desc())
    corpus = (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    n_ids = corpus.count()
    # n_ids already counted for the publish audit — share it with the
    # trainer's knob derivation instead of a second archive count
    _, books2 = pq_train(
        corpus, "vec_id", "embedding", m, train_mod="auto", n_rows=n_ids
    )
    books2 = books2.localCheckpoint(eager=True)
    post_ppm = pq_recon_ppm(corpus, books2, "vec_id", "embedding", m)
    if post_ppm > recon_ppm_threshold:
        # sampled books missed the bar (a pathological id space can
        # starve the stride sample even past pq_train's density
        # fallback): one full-Lloyd retry before wedging the stream on
        # a veto that every replay would just re-hit
        _, books2 = pq_train(
            corpus, "vec_id", "embedding", m, train_mod="full", n_rows=n_ids
        )
        books2 = books2.localCheckpoint(eager=True)
        post_ppm = pq_recon_ppm(corpus, books2, "vec_id", "embedding", m)
    if post_ppm > recon_ppm_threshold:
        # pre-stage veto, STRICTLY read-only: nothing —
        # codes, segments, books — has been touched yet.  An
        # AUTO-threshold caller (intrinsic_dir set) must not wedge the
        # stream on a corpus whose best ACHIEVABLE error sits above the
        # derived margin: the full-Lloyd post_ppm just measured IS that
        # achievable error, so record it as the new intrinsic anchor
        # and skip — the next firing resolves a threshold ≥ 4× it,
        # under which a re-attempted rebuild (post_ppm ≈ achievable ≤
        # 4× anchor) PUBLISHES instead of vetoing.  Explicit-threshold
        # callers keep the hard veto (their threshold is a contract).
        if intrinsic_dir is not None:
            _write_intrinsic(spark, intrinsic_dir, batch_id, post_ppm)
            return False
        raise RuntimeError(
            f"PQ rebuild audit: post-rebuild ppm {post_ppm} still "
            f"above threshold {recon_ppm_threshold}; publish vetoed"
        )

    def _audit(staged: DataFrame) -> None:
        if staged.select("vec_id").distinct().count() != n_ids:
            raise RuntimeError("PQ rebuild audit: re-encode row loss")

    recoded = pq_encode_incremental(
        corpus.drop("batch_id"), books2, "vec_id", "embedding", m
    ).join(corpus.select("vec_id", "batch_id"), "vec_id")
    # A COMPACTED codes store (streaming/stores.py:maybe_compact_store)
    # holds folded code rows under _compacted with
    # a _folded watermark that read_store uses to IGNORE live
    # batch_id=N dirs at or below it.  The rebuild re-encodes the
    # ENTIRE archive into live partitions, so the old segment must go
    # BEFORE the publish — left standing, its stale old-book rows would
    # keep being read while the republished live partitions (≤ the
    # watermark) would be masked.  A crash between this drop and the
    # publish converges via replay: books are written last, so the
    # still-drifting corpus re-fires the rebuild and re-publishes
    # everything (the same crash-window argument as the codes→books
    # ordering below).
    S.drop_segments(spark, codes_dir)
    overwrite_partitions(recoded, codes_dir, ["batch_id"], audit=_audit)
    # A batch whose every id is superseded by later batches contributes
    # ZERO staged rows, so overwrite_partitions leaves its old
    # codes/batch_id=N partition standing — rows encoded under the OLD
    # books, duplicate vec_ids in the index.  Delete the
    # fully-superseded partitions AFTER the audit-gated publish (a veto
    # inside the publish must leave the table byte-untouched, so the
    # veto path stays strictly read-only): their
    # ids' only current codes live in later partitions, so a crash
    # between publish and delete loses nothing — the replay re-fires
    # the rebuild (books are written last) and re-runs this sweep.
    kept_batches = {
        int(r["batch_id"])
        for r in corpus.select("batch_id").distinct().collect()
    }
    for bid in S.live_batch_ids(spark, codes_dir):
        if bid not in kept_batches:
            S.delete_path(spark, f"{codes_dir}/batch_id={bid}")
    # audit the PUBLISHED table, not just the staged frame: every
    # archived id exactly once, with a uniform code-row fan-out (a
    # surviving stale partition would double some vec_id's rows)
    pub = (
        spark.read.parquet(codes_dir)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("ids"),
            F.min("c").alias("lo"),
            F.max("c").alias("hi"),
        )
        .first()
    )
    if int(pub["ids"]) != n_ids or pub["lo"] != pub["hi"]:
        raise RuntimeError(
            f"PQ rebuild audit: published index has {pub['ids']} ids "
            f"(want {n_ids}) with code fan-out [{pub['lo']}, "
            f"{pub['hi']}] — stale or lossy partition survived"
        )
    books2.write.mode("overwrite").parquet(books_dir)
    (
        spark.createDataFrame(
            [(int(batch_id), int(pre_ppm), int(post_ppm))],
            "batch_id bigint, pre_ppm bigint, post_ppm bigint",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(audit_dir, f"rebuild_batch={batch_id}"))
    )
    return True


def pq_drift_step(
    spark: SparkSession,
    emb: DataFrame,
    books: DataFrame,
    *,
    batch_id: int,
    threshold: int | str,
    m: int | None,
    arch_dir: str,
    codes_dir: str,
    books_dir: str,
    audit_dir: str,
    intr_dir: str,
) -> None:
    """The drift decision of the tick's PQ leg, for a batch just
    encoded against ``books``.

    Resolves ``threshold`` (``"auto"`` → :func:`resolve_recon_threshold`
    over ``audit_dir`` and ``intr_dir``), measures the batch's
    ``pq_recon_ppm`` at ``m``, and on drift (ppm above the threshold)
    calls :func:`maybe_rebuild_pq_index` with the same ``m``.

    First contact: ``"auto"`` with no measurement on record records
    this batch's ppm in ``intr_dir`` as the intrinsic anchor and makes
    no drift decision — a floor below the corpus's intrinsic error
    would fire a futile rebuild whose veto wedges the stream, and a
    replay re-measures the same ppm, so it writes the same marker and
    again rebuilds nothing."""
    auto = threshold == "auto"
    thr = (
        resolve_recon_threshold(spark, audit_dir, intr_dir)
        if auto
        else threshold
    )
    ppm = pq_recon_ppm(emb, books, "vec_id", "embedding", m)
    if thr is None:
        _write_intrinsic(spark, intr_dir, batch_id, ppm)
    elif ppm > thr:
        maybe_rebuild_pq_index(
            spark,
            arch_dir=arch_dir,
            codes_dir=codes_dir,
            books_dir=books_dir,
            audit_dir=audit_dir,
            batch_id=batch_id,
            pre_ppm=ppm,
            recon_ppm_threshold=thr,
            m=m,
            intrinsic_dir=intr_dir if auto else None,
        )

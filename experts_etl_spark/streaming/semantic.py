"""The kept-embedding store's SRP index maintenance — the semantic
dedup stage of ``streaming/tick.py``.

Each tick runs the EXACT sequential greedy
(``llm/similarity.py:semantic_dedup_incremental``) of the batch's
survivors against the persisted KEPT-EMBEDDING STORE: the scan order
is everything already kept, then the batch's ids ascending, so a
semantic near-copy of any previously kept vector is rejected without
ever rescanning the archive.  The composition over an id-ordered split
is pinned equal to the full ``semantic_dedup_sequential`` by the gated
``embedding_semantic_dedup_incremental`` oracle.

The store is a PERSISTED SRP INDEX, not just raw vectors: every kept
row carries its precomputed ``bucket`` at the store's current width,
so the per-tick probe joins the stored index instead of re-deriving
quantize+bucket over the whole archive (``bucketed_cross_hits``'s
precomputed-bucket arm quantizes only bucket-join survivors —
batch-proportional work once occupancy is bounded).

The SRP width starts at the tick's ``sem_bits`` (choose it for the
expected corpus — ``auto_srp_bits``) and is RE-DERIVED when the store
outgrows it: with a fixed width, mean bucket occupancy — and hence
every future probe's candidate volume — grows linearly with the
archive.  When mean occupancy crosses the limit the store REBUILDS at
``auto_srp_bits(current count)`` (capped at the embedding dimension):
every partition's bucket column is recomputed and published through
``overwrite_partitions``'s write-audit-publish, with a row-count audit
that vetoes a lossy rebuild — the PQ codebook rebuild loop's shape
(streaming/ann_index.py), applied to the blocking index instead of the
codebooks.  Width is tracked in a ``_srp_meta`` sidecar; the rebuild
stages ``_srp_meta_next`` first and swaps it after publish, so a crash
anywhere leaves either the old consistent (bits, buckets) pair or a
resumable marker the next tick completes — never a silently
mixed-width index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from experts_etl_spark.streaming import stores as S

# Mean-occupancy trigger: auto_srp_bits targets ~8 vectors per bucket;
# rebuild once the store has outgrown its width by 4x.  (When bits is
# already at the auto rule's cap — min(16, dim) — the trigger cannot
# re-widen and the probe accepts the residual linear term, exactly as
# a capped-nlist IVF does.)
DEFAULT_OCCUPANCY_LIMIT = 32
META_SCHEMA = "bits int, n_kept bigint"


def _read_meta(spark: SparkSession, meta_dir: str) -> tuple[int, int] | None:
    if not S.path_exists(spark, meta_dir):
        return None
    row = spark.read.schema(META_SCHEMA).parquet(meta_dir).first()
    if row is None:
        return None
    return int(row["bits"]), int(row["n_kept"])


def _write_meta(
    spark: SparkSession, meta_dir: str, bits: int, n_kept: int
) -> None:
    spark.createDataFrame(
        [(int(bits), int(n_kept))], META_SCHEMA
    ).write.mode("overwrite").parquet(meta_dir)


def srp_rebucket_decision(
    n_kept: int, bits_cur: int, occupancy_limit: int, dim: int
) -> int:
    """The occupancy trigger RULE, as a pure function — the one
    decision shared by the streaming maintenance
    (:func:`maybe_rebucket_srp_store`) and the gated batch twin
    (``curation_tick_selfmaint`` in llm/queries.py), so the driver's
    oracle hash-pins the very integers the deployment's trigger
    computes.  Integer-exact SQL twin:
    ``CASE WHEN n > limit * (1 << bits) THEN greatest(least(least(
    greatest(length(bin(n // 8)), 4), 16), dim), bits) ELSE bits
    END``."""
    from experts_etl_spark.llm.similarity import auto_srp_bits

    if n_kept <= occupancy_limit * (1 << bits_cur):
        return bits_cur
    bits_new = min(auto_srp_bits(n_kept), dim)
    return bits_new if bits_new > bits_cur else bits_cur


def resolve_srp_width(
    spark: SparkSession,
    store_dir: str,
    default_bits: int,
) -> tuple[int, tuple[int, int] | None]:
    """Resolve an SRP store's CURRENT width (crash-safe) — the one
    entry point every prober must call BEFORE joining batch buckets
    against the persisted index.

    Completes any pending ``_srp_meta_next`` re-bucket first (a prior
    rebuild died between stage and meta-swap), then reads
    ``_srp_meta``.  Returns ``(bits, meta)`` where ``meta`` is the
    ``(bits, n_kept)`` sidecar row or ``None`` for a fresh/legacy
    store (in which case ``bits == default_bits``).

    This must run UNCONDITIONALLY — not only when the caller intends
    to run the occupancy trigger: a store previously re-widened (or
    created at a different width) probed at the caller's default joins
    batch buckets at one width against stored buckets at another, and
    the precomputed-bucket arm silently produces a near-empty
    candidate set."""
    meta_dir = os.path.join(store_dir, "_srp_meta")
    meta_next_dir = os.path.join(store_dir, "_srp_meta_next")
    pending = _read_meta(spark, meta_next_dir)
    if pending is not None:
        _rebucket_store(spark, store_dir, pending[0], pending[1])
        _write_meta(spark, meta_dir, pending[0], pending[1])
        S.delete_path(spark, meta_next_dir)
    meta = _read_meta(spark, meta_dir)
    return (meta[0] if meta is not None else default_bits), meta


def maybe_rebucket_srp_store(
    spark: SparkSession,
    store_dir: str,
    bits_cur: int,
    occupancy_limit: int,
    meta: tuple[int, int] | None,
) -> int:
    """Occupancy-triggered SRP re-widen of the tick's kept-embedding
    store.  The dim comes from the STORE itself, the only party that
    is always present when the trigger can fire.

    Counts the store; when mean occupancy crosses ``occupancy_limit``
    (the :func:`srp_rebucket_decision` rule) the store re-bucketes to
    ``auto_srp_bits(n_kept)`` (dim-capped) through the staged
    ``_srp_meta_next`` → publish → ``_srp_meta`` swap (crash-resumable
    via :func:`resolve_srp_width`).  Always refreshes the sidecar's
    ``n_kept``.  Returns the store's width after the call."""
    meta_dir = os.path.join(store_dir, "_srp_meta")
    meta_next_dir = os.path.join(store_dir, "_srp_meta_next")
    store = S.read_store(spark, store_dir)
    n_kept = store.count() if store is not None else 0
    if meta is None:
        _write_meta(spark, meta_dir, bits_cur, n_kept)
    if n_kept <= occupancy_limit * (1 << bits_cur):
        if meta is not None:
            _write_meta(spark, meta_dir, bits_cur, n_kept)
        return bits_cur
    dim_row = store.select(F.size(F.col("embedding")).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row is not None else bits_cur
    bits_new = srp_rebucket_decision(n_kept, bits_cur, occupancy_limit, dim)
    if bits_new <= bits_cur:
        # width already at its cap — the trigger cannot re-widen
        _write_meta(spark, meta_dir, bits_cur, n_kept)
        return bits_cur
    # stage → publish → swap: _srp_meta_next makes a mid-rebuild
    # crash resumable instead of silently mixed-width
    _write_meta(spark, meta_next_dir, bits_new, n_kept)
    _rebucket_store(spark, store_dir, bits_new, n_kept)
    _write_meta(spark, meta_dir, bits_new, n_kept)
    S.delete_path(spark, meta_next_dir)
    return bits_new


def _rebucket_store(
    spark: SparkSession,
    store_dir: str,
    bits_new: int,
    n_expected: int,
) -> None:
    """Recompute every row's bucket column at ``bits_new`` — BOTH the
    live ``batch_id=N`` partitions (published through
    ``overwrite_partitions``' write-audit-publish) and, for a
    compacted store (streaming/stores.py), the ``_compacted`` segment
    (republished through the segment's own staged-marker swap).  The
    audit vetoes (store and meta untouched) unless every kept row
    survived with a non-null bucket.  Idempotent — the ``_srp_meta_
    next`` resume path may re-run it after a crash at any point."""
    from experts_etl_spark.llm.similarity import srp_bucket
    from experts_etl_spark.sources.sinks import overwrite_partitions

    live_ids = S.live_batch_ids(spark, store_dir)
    seg_dir = f"{store_dir}/{S.COMPACTED}"
    has_seg = S.path_exists(spark, seg_dir)
    folded = S._folded_through(spark, seg_dir) if has_seg else None

    # --- stage (no mutation yet) ----------------------------------
    live_reb, n_live = None, 0
    if live_ids and (folded is None or max(live_ids) > folded):
        live = spark.read.parquet(store_dir)
        if folded is not None:
            live = live.filter(F.col("batch_id") > F.lit(folded))
        live_reb = live.select(
            "vec_id",
            "embedding",
            srp_bucket(F.col("embedding"), bits_new).alias("bucket"),
            "batch_id",
        ).localCheckpoint(eager=True)
        n_live = live_reb.count()
    n_seg = 0
    if has_seg:
        seg = spark.read.parquet(seg_dir)
        staged = seg.select(
            "vec_id",
            "embedding",
            srp_bucket(F.col("embedding"), bits_new).alias("bucket"),
            F.col("batch_id").cast("long").alias("batch_id"),
            "part_key",
        )
        nxt_dir = f"{store_dir}/{S.COMPACTED_NEXT}"
        S.delete_path(spark, nxt_dir)
        staged.write.partitionBy("part_key").mode("overwrite").parquet(
            nxt_dir
        )
        back = spark.read.parquet(nxt_dir)
        n_seg = back.count()
        if back.filter(F.col("bucket").isNull()).count() != 0:
            S.delete_path(spark, nxt_dir)
            raise RuntimeError("SRP re-bucket audit: null bucket; vetoed")

    # --- audit the COMBINED staged state, then publish -------------
    if n_live + n_seg != n_expected:
        if has_seg:
            S.delete_path(spark, nxt_dir)
        raise RuntimeError(
            f"SRP re-bucket audit: {n_live} live + {n_seg} segment "
            f"rows vs {n_expected} expected; publish vetoed"
        )
    if live_reb is not None:

        def _audit(staged_live: DataFrame) -> None:
            if staged_live.filter(F.col("bucket").isNull()).count() != 0:
                raise RuntimeError(
                    "SRP re-bucket audit: null bucket; vetoed"
                )

        overwrite_partitions(
            live_reb, store_dir, ["batch_id"], audit=_audit
        )
    if has_seg:
        if folded is not None:
            spark.createDataFrame(
                [(int(folded),)], "batch_id bigint"
            ).write.mode("overwrite").parquet(
                f"{nxt_dir}/{S.FOLDED_MARKER}"
            )
        S._commit_segment(spark, store_dir)

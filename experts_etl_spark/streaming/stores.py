"""The streaming package's one I/O path: the micro-batch drain, the
Hadoop-FS probes, and the persisted-store lifecycle (compaction and
retention).

**Drain.**  Every ``foreachBatch`` runner reads its source through
:func:`file_stream` (schema read from the files already landed,
optional ``maxFilesPerTrigger``) and runs through :func:`drain`
(``foreachBatch`` + ``checkpointLocation`` + ``availableNow``, blocking
until the pending files are consumed).

**Concurrent legs.**  :func:`_concurrently` is the one place the
package starts threads: a micro-batch runs its independent store I/O
(probes, sink writes, maintenance) as legs side by side, each on its
own thread that carries a copy of the micro-batch thread's Spark local
properties (``pyspark.util.inheritable_thread_target``), so every job a
leg fires belongs to the stream's job group.  It waits for every leg
and re-raises the first failure, so a failed leg fails the micro-batch
and the drain replays it.

**Filesystem probes.**  :func:`path_exists`, :func:`child_names` and
:func:`delete_path` go through the Hadoop ``FileSystem`` of the path,
so they hold for ``hdfs://``, ``s3a://`` and ``file://`` targets as
well as plain local paths (``os.path`` is always False on a URI).  An
existence probe is fail-closed: only "path not there yet" skips a
read; a real read error propagates.

Every streaming store in this package (``_fingerprints``,
``_signatures``, ``_window_counts``, ``_kept_embeddings``, the
keep/reject decision sinks) is hive-partitioned on ``batch_id`` and
grows ONE DIRECTORY PER TICK forever — at a 4-hour cadence that is
~2,200 partitions a year of ever-smaller files, and probe-side listing
/ footer costs grow with file count even when row counts are flat.
This module bounds that:

**Compacted-segment layout.**  A store directory holds two segments:

- ``batch_id=N/``       recent live tick appends (unchanged writers:
                        every tick still overwrites its OWN partition,
                        so at-least-once replays stay idempotent)
- ``_compacted/part_key=K/``  the folded archive — the pmod-bucketed
                        shape of ``streaming/incremental.py``'s merge
                        sink (``part_key = pmod(xxhash64(key), B)``),
                        with ``batch_id`` carried as a DATA COLUMN so
                        the replay-exclusion contract survives the
                        fold: batch N still excludes its own rows by
                        column filter, whichever segment they sit in.
                        Each bucket is ONE file, its rows sorted on
                        every column, so a fold's bytes depend only on
                        the rows it folds, not on the plan or the file
                        order that delivered them.
- ``_compacted/_folded``      single-row commit record: the highest
                        ``batch_id`` folded into the segment.  Written
                        LAST inside the staged segment, so its
                        presence == the segment is complete.

:func:`read_store` is the one probe-side entry point: it unions the
two segments, excludes live directories already folded (crash between
publish and live-dir delete leaves them behind; they are ignored, then
swept by the next compaction), and applies the ``batch_id != current``
replay exclusion as a column filter.

**Crash safety** (the ``overwrite_partitions`` write-audit-publish
shape, applied at segment granularity):

1. WRITE the new segment to ``_compacted_next`` (old compacted rows +
   all live rows), bucketed on ``part_key``; the ``_folded`` marker is
   written last.
2. AUDIT: read the staged segment back; row count must equal
   old-compacted + live.
3. PUBLISH: rename ``_compacted`` away, rename ``_compacted_next`` in,
   delete the folded live directories.  A crash anywhere leaves either
   a resumable complete segment (marker present → the next call
   commits it) or an incomplete one (no marker → deleted and redone);
   readers never double-count because folded live dirs are excluded by
   the committed marker.

On an object store the renames are not atomic — there a lakehouse
table format's commit protocol replaces step 3 (SURVEY.md §4.2), the
same caveat as ``overwrite_partitions``.

**Retention** (:func:`retain_partitions`): decision sinks
(``keep/batch_id=N``, ``reject/batch_id=N``) have no reader that needs
old batches beyond audit; the helper keeps the newest N partitions and
moves the rest under an archive directory — the reference's
``sync_file_rotator.py`` semantics (experts_etl/sync_file_rotator.py)
at table granularity.
"""

from __future__ import annotations

import threading
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMPACTED = "_compacted"
COMPACTED_NEXT = "_compacted_next"
FOLDED_MARKER = "_folded"
MARKER_SCHEMA = "batch_id bigint"

# Production lifecycle defaults (the composed tick arms compaction and
# retention by default).  64 live partitions:
# at a 4-hour cadence the fold fires ~every 11 days, the store's
# directory count stays ≤ 64 + n_buckets forever, and the O(archive)
# per-fold rewrite (see maybe_compact_store) is paid 1/64th as often
# as ticks run.  64 retained decision partitions keeps ~11 days of
# keep/reject batches hot for audits; everything older moves (never
# deletes) under _archive.
DEFAULT_MAX_LIVE_PARTITIONS = 64
DEFAULT_RETAIN_DECISIONS = 64


def file_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the parquet files landing under ``src``,
    with the schema of the files already there."""
    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src)


def drain(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Run ``fn(batch, batch_id)`` on every pending micro-batch of
    ``stream`` (``availableNow``) and return once they are consumed.
    Delivery is at-least-once: a batch whose checkpoint commit was lost
    is replayed with the same ``batch_id``."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _concurrently(spark: SparkSession, *legs: Callable[[], Any]) -> list:
    """Run each leg on its own thread and return their results in leg
    order.  Every thread carries its own copy of the caller's Spark
    local properties (job group, stream ids), taken here, before any
    leg starts.  Waits for every leg; the first failure is re-raised
    once all have ended."""
    from pyspark.util import inheritable_thread_target

    results: list = [None] * len(legs)
    errors: list[BaseException] = []

    def run(i: int, leg: Callable[[], Any]) -> None:
        try:
            results[i] = leg()
        except BaseException as e:  # re-raised on the caller's thread
            errors.append(e)

    threads = [
        threading.Thread(
            target=inheritable_thread_target(spark)(run), args=(i, leg)
        )
        for i, leg in enumerate(legs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.exists(p)


def _child(spark: SparkSession, base: str, name: str):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(base, name)


def child_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries directly under ``path``; empty when it
    does not exist."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete; a missing path is a no-op."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def live_batch_ids(spark: SparkSession, store_dir: str) -> list[int]:
    """The ``batch_id`` values of the store's LIVE hive partitions
    (one filesystem listing; no parquet footers touched)."""
    out = []
    for name in child_names(spark, store_dir):
        if name.startswith("batch_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _folded_through(spark: SparkSession, seg_dir: str) -> int | None:
    marker = f"{seg_dir}/{FOLDED_MARKER}"
    if not path_exists(spark, marker):
        return None
    # the writer's schema: no schema-inference job for a one-row marker
    row = spark.read.schema(MARKER_SCHEMA).parquet(marker).first()
    return int(row["batch_id"]) if row is not None else None


def read_store(
    spark: SparkSession,
    store_dir: str,
    exclude_batch_id: int | None = None,
    drop_batch_id: bool = False,
) -> DataFrame | None:
    """Probe-side read of a (possibly compacted) store: compacted
    segment ∪ live partitions newer than the fold point, with the
    at-least-once replay exclusion applied as a COLUMN filter so it
    holds across the compaction boundary.  Returns ``None`` for a
    store that does not exist yet (fail-closed FS probe)."""
    seg_dir = f"{store_dir}/{COMPACTED}"
    has_seg = path_exists(spark, seg_dir)
    if not has_seg and path_exists(spark, f"{store_dir}/{COMPACTED_NEXT}"):
        # crash between segment publish steps: a COMPLETE staged
        # segment is the store's current truth until the next
        # maybe_compact_store call commits it
        nxt = f"{store_dir}/{COMPACTED_NEXT}"
        if _folded_through(spark, nxt) is not None:
            seg_dir, has_seg = nxt, True
    live_ids = live_batch_ids(spark, store_dir)
    folded = _folded_through(spark, seg_dir) if has_seg else None

    seg = None
    if has_seg:
        seg = spark.read.parquet(seg_dir)
        cols = [c for c in seg.columns if c != "part_key"]
        seg = seg.select(*cols).withColumn(
            "batch_id", F.col("batch_id").cast("long")
        )
    live = None
    live_keep = [
        b for b in live_ids if folded is None or b > folded
    ]
    if live_keep:
        live = spark.read.parquet(store_dir)
        live = live.withColumn("batch_id", F.col("batch_id").cast("long"))
        if folded is not None:
            live = live.filter(F.col("batch_id") > F.lit(folded))
    if seg is None and live is None:
        return None
    df = seg if live is None else (
        live if seg is None else live.unionByName(seg)
    )
    if exclude_batch_id is not None:
        df = df.filter(F.col("batch_id") != F.lit(exclude_batch_id))
    if drop_batch_id:
        df = df.drop("batch_id")
    return df


def _commit_segment(spark: SparkSession, store_dir: str) -> None:
    """Publish a COMPLETE staged segment (``_folded`` present) and
    sweep the live directories it folded.  Idempotent — safe to call
    on every tick."""
    for name in child_names(spark, store_dir):
        if name.startswith("._trash_"):  # a kill mid-publish left it
            delete_path(spark, f"{store_dir}/{name}")
    fs, _ = _fs(spark, store_dir)
    nxt = _child(spark, store_dir, COMPACTED_NEXT)
    if fs.exists(nxt):
        if _folded_through(spark, f"{store_dir}/{COMPACTED_NEXT}") is None:
            fs.delete(nxt, True)  # incomplete write: redo from scratch
        else:
            cur = _child(spark, store_dir, COMPACTED)
            if fs.exists(cur):
                trash = _child(
                    spark, store_dir, f"._trash_{uuid.uuid4().hex[:12]}"
                )
                fs.rename(cur, trash)
                fs.rename(nxt, cur)
                fs.delete(trash, True)
            else:
                fs.rename(nxt, cur)
    folded = _folded_through(spark, f"{store_dir}/{COMPACTED}")
    if folded is None:
        return
    for b in live_batch_ids(spark, store_dir):
        if b <= folded:
            delete_path(spark, f"{store_dir}/batch_id={b}")


def maybe_compact_store(
    spark: SparkSession,
    store_dir: str,
    key_col: str,
    max_live_partitions: int = DEFAULT_MAX_LIVE_PARTITIONS,
    n_buckets: int = 32,
) -> bool:
    """Fold the store's live ``batch_id=N`` partitions into the
    pmod-bucketed compacted segment once their count crosses
    ``max_live_partitions`` (module docstring).  Returns True iff a
    fold ran.  Call it after the tick's own writes — folding the
    current batch is safe because exclusion is by column.

    Cost when the trigger does not fire: one filesystem listing, plus
    a one-job marker read on a folded store.  When it fires: one read +
    bucketed rewrite of old-compacted + live, one sorted file per
    bucket — **O(total archive) per fold**, because the whole compacted
    segment is rewritten alongside the live rows: the amortized
    per-tick cost is ``archive_rows / max_live_partitions``, which
    grows linearly with store lifetime, not a constant.  The
    directory-count bound (``max_live_partitions + n_buckets`` forever)
    and the probe-side listing win are unaffected.  Deployments whose
    fold cost becomes the binding term should raise
    ``max_live_partitions`` (fold cost is paid 1/cadence as often) or
    adopt leveled segments (fold live into a small generation, merge
    generations geometrically — amortized O(log archive) per tick);
    the layout here keeps ONE segment deliberately: a single
    ``_folded`` watermark is what makes the crash-resume and
    replay-exclusion contracts one-line auditable, and the measured
    fold cost at deployment scale is priced in SCALE.md §store
    lifecycle."""
    _commit_segment(spark, store_dir)  # resume any interrupted publish
    live_ids = live_batch_ids(spark, store_dir)
    if len(live_ids) < max_live_partitions:
        return False
    seg_dir = f"{store_dir}/{COMPACTED}"
    nxt_dir = f"{store_dir}/{COMPACTED_NEXT}"
    old = None
    n_old = 0
    if path_exists(spark, seg_dir):
        old = spark.read.parquet(seg_dir)
        old = old.select(
            *[c for c in old.columns if c != "part_key"]
        ).withColumn("batch_id", F.col("batch_id").cast("long"))
        n_old = old.count()
    live = spark.read.parquet(store_dir).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )
    folded_prev = _folded_through(spark, seg_dir)
    if folded_prev is not None:
        live = live.filter(F.col("batch_id") > F.lit(folded_prev))
    n_live = live.count()
    merged = live if old is None else live.unionByName(old)
    staged = (
        merged.withColumn(
            "part_key",
            F.pmod(
                F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)
            ).cast("int"),
        )
        # one writer task per bucket, rows in a total order: one file
        # per bucket whose bytes depend only on the folded rows
        .repartition(n_buckets, "part_key")
        .sortWithinPartitions("part_key", *merged.columns)
    )
    delete_path(spark, nxt_dir)
    staged.write.partitionBy("part_key").mode("overwrite").parquet(nxt_dir)
    # AUDIT: the staged segment must carry every row before the marker
    # (= commit record) is written
    n_staged = spark.read.parquet(nxt_dir).count()
    if n_staged != n_old + n_live:
        delete_path(spark, nxt_dir)
        raise RuntimeError(
            f"store compaction audit: staged {n_staged} rows vs "
            f"{n_old} compacted + {n_live} live; publish vetoed"
        )
    spark.createDataFrame(
        [(int(max(live_ids)),)], MARKER_SCHEMA
    ).write.mode("overwrite").parquet(f"{nxt_dir}/{FOLDED_MARKER}")
    _commit_segment(spark, store_dir)
    return True


def drop_segments(spark: SparkSession, store_dir: str) -> None:
    """Remove a store's compacted segment (committed and staged) so the
    caller can republish the WHOLE table as live ``batch_id=N``
    partitions — the PQ rebuild's fold⊗rebuild composition: the
    rebuild re-encodes every archived id, so the folded code rows are
    wholly superseded, and a surviving ``_folded``
    watermark would mask the republished live partitions at or below
    it from :func:`read_store`.  No-op when the store has no segment."""
    for name in (COMPACTED, COMPACTED_NEXT):
        delete_path(spark, f"{store_dir}/{name}")


def retain_partitions(
    spark: SparkSession,
    sink_dir: str,
    keep_last: int,
    archive_dir: str | None = None,
) -> int:
    """Retention for ``batch_id=N`` decision sinks: keep the newest
    ``keep_last`` partitions; MOVE the rest under ``archive_dir``
    (default ``<sink_dir>/_archive`` — underscore-prefixed, so corpus
    reads of the sink never see archived batches) — the reference's
    sync-file rotation (experts_etl/sync_file_rotator.py:21-38: rotate
    current out of the consumed path, never delete) at table
    granularity.  Returns the number of partitions archived.

    Audit-driven reads of archived batches stay one ``read.parquet``
    away; the LIVE sink's directory count is bounded at ``keep_last``
    so downstream full-sink readers stop paying for history."""
    ids = live_batch_ids(spark, sink_dir)
    if len(ids) <= keep_last:
        return 0
    if archive_dir is None:
        archive_dir = f"{sink_dir}/_archive"
    fs, arch_p = _fs(spark, archive_dir)
    fs.mkdirs(arch_p)
    moved = 0
    for b in ids[: len(ids) - keep_last]:
        src = _child(spark, sink_dir, f"batch_id={b}")
        dst = _child(spark, archive_dir, f"batch_id={b}")
        fs.delete(dst, True)  # idempotent re-run after a crash
        fs.rename(src, dst)
        moved += 1
    return moved

"""Store compaction + retention (streaming/stores.py — r12 verdict
missing #1 / next #2 and #8).

Pins: byte-identical store CONTENT and tick decisions across the
batch_id→pmod-bucket fold; the at-least-once replay exclusion across
the compaction boundary (a folded batch replayed under a fresh
checkpoint must not self-reject); crash-resume of an interrupted
segment publish; SRP re-bucket across a compacted store; decision-sink
retention.
"""

from __future__ import annotations

import glob
import shutil
import time

import pytest
from pyspark.sql import functions as F

from experts_etl_spark.streaming.stores import (
    _concurrently,
    live_batch_ids,
    maybe_compact_store,
    read_store,
    retain_partitions,
)
from experts_etl_spark.streaming.tick import run_streaming_tick


def _write_batches(spark, store_dir, n_batches, rows_per=4):
    for b in range(n_batches):
        spark.createDataFrame(
            [(b * 100 + i, f"k{b}_{i}") for i in range(rows_per)],
            "item_id long, payload string",
        ).write.mode("overwrite").parquet(f"{store_dir}/batch_id={b}")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_compaction_preserves_rows_and_replay_exclusion(spark, tmp_path):
    store = str(tmp_path / "store")
    _write_batches(spark, store, 5)
    before = _rows(read_store(spark, store))
    before_excl = _rows(read_store(spark, store, exclude_batch_id=3))

    assert maybe_compact_store(spark, store, "item_id",
                               max_live_partitions=3)
    # every live partition folded; bounded bucket count
    assert live_batch_ids(spark, store) == []
    assert glob.glob(store + "/_compacted/part_key=*")
    assert not glob.glob(store + "/_compacted_next")
    assert _rows(read_store(spark, store)) == before
    # replay exclusion now works by COLUMN across the folded segment
    assert _rows(read_store(spark, store, exclude_batch_id=3)) == before_excl

    # second wave of ticks + a re-fold merges old segment with new live
    for b in range(5, 9):
        spark.createDataFrame(
            [(b * 100 + i, f"k{b}_{i}") for i in range(4)],
            "item_id long, payload string",
        ).write.mode("overwrite").parquet(f"{store}/batch_id={b}")
    mid = _rows(read_store(spark, store))
    assert len(mid) == 36
    assert maybe_compact_store(spark, store, "item_id",
                               max_live_partitions=3)
    assert _rows(read_store(spark, store)) == mid
    # under the threshold: trigger must NOT fire
    spark.createDataFrame(
        [(900, "x")], "item_id long, payload string"
    ).write.mode("overwrite").parquet(f"{store}/batch_id=9")
    assert not maybe_compact_store(spark, store, "item_id",
                                   max_live_partitions=3)


def test_compaction_commit_is_crash_resumable(spark, tmp_path):
    """A COMPLETE staged segment (marker present) left by a crash
    before the swap is committed by the next call; an INCOMPLETE one
    (no marker) is discarded and rebuilt."""
    store = str(tmp_path / "store")
    _write_batches(spark, store, 4)
    before = _rows(read_store(spark, store))

    # simulate the crash: stage fully, then rename the marker away to
    # fabricate the incomplete state
    assert maybe_compact_store(spark, store, "item_id",
                               max_live_partitions=2)
    # resurrect a live dir + fabricate a stale INCOMPLETE next segment
    spark.createDataFrame(
        [(500, "y")], "item_id long, payload string"
    ).write.mode("overwrite").parquet(f"{store}/batch_id=50")
    shutil.copytree(store + "/_compacted", store + "/_compacted_next")
    shutil.rmtree(store + "/_compacted_next/_folded")
    after_crash = _rows(read_store(spark, store))
    assert after_crash == before + [(500, "y", 50)]
    # the next fold discards the incomplete stage and rebuilds cleanly
    assert maybe_compact_store(spark, store, "item_id",
                               max_live_partitions=1)
    assert _rows(read_store(spark, store)) == after_crash
    assert not glob.glob(store + "/_compacted_next")

    # COMPLETE staged segment (marker intact) + crash before swap:
    # read_store already sees it; the next call commits it
    shutil.copytree(store + "/_compacted", store + "/_compacted_next")
    shutil.rmtree(store + "/_compacted")
    assert _rows(read_store(spark, store)) == after_crash
    assert not maybe_compact_store(spark, store, "item_id",
                                   max_live_partitions=99)
    assert glob.glob(store + "/_compacted/part_key=*")
    assert not glob.glob(store + "/_compacted_next")
    assert _rows(read_store(spark, store)) == after_crash


def test_concurrent_legs_carry_own_job_properties_and_reraise(spark):
    """Each leg starts with a copy of the caller's Spark local
    properties (the stream's job group reaches every leg's jobs), a
    property one leg sets stays its own, results come back in leg
    order, and a failure is re-raised only after every leg ended."""
    sc = spark.sparkContext
    sc.setLocalProperty("test.leg.owner", "caller")
    try:
        def leg(i):
            def run():
                inherited = sc.getLocalProperty("test.leg.owner")
                sc.setLocalProperty("test.leg.owner", f"leg{i}")
                time.sleep(0.05)
                return inherited, sc.getLocalProperty("test.leg.owner")
            return run

        got = _concurrently(spark, *[leg(i) for i in range(8)])
        assert got == [("caller", f"leg{i}") for i in range(8)]
        assert sc.getLocalProperty("test.leg.owner") == "caller"

        ended = []

        def slow():
            time.sleep(0.3)
            ended.append(True)

        def boom():
            raise ValueError("leg failed")

        with pytest.raises(ValueError, match="leg failed"):
            _concurrently(spark, boom, slow)
        assert ended == [True]
    finally:
        sc.setLocalProperty("test.leg.owner", None)


def _jobs_of(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    fn()
    return sched.numTotalJobs() - before


def test_read_store_lists_partitions_on_the_driver(spark, tmp_path):
    """A store at the live-partition bound is listed on the driver, not
    by a partition-listing job: reading 40 live partitions costs only
    the one schema job."""
    store = str(tmp_path / "store")
    spark.range(160).selectExpr(
        "id AS item_id", "CAST(id % 40 AS INT) AS batch_id"
    ).write.partitionBy("batch_id").parquet(store)
    assert len(live_batch_ids(spark, store)) == 40
    assert _jobs_of(spark, lambda: read_store(spark, store)) == 1


def test_marker_reads_skip_schema_inference(spark, tmp_path):
    """The one-row ``_folded`` marker is read with the writer's schema:
    a folded store plus one live partition probes in at most 3 jobs
    (marker row, segment schema, live schema), and a fold check that
    does not fire costs one."""
    store = str(tmp_path / "store")
    _write_batches(spark, store, 3)
    assert maybe_compact_store(spark, store, "item_id",
                               max_live_partitions=2)
    _write_batches(spark, store + "_tail", 1)
    shutil.move(store + "_tail/batch_id=0", store + "/batch_id=7")
    assert _jobs_of(spark, lambda: read_store(spark, store)) <= 3
    assert _jobs_of(spark, lambda: maybe_compact_store(
        spark, store, "item_id", max_live_partitions=2)) <= 1


def test_fold_writes_one_file_per_bucket_independent_of_landing_order(
    spark, tmp_path
):
    """The same rows, landed in opposite batch orders with different
    row orders and file splits, and folded in one or two waves, give
    one file per bucket with the same bytes."""
    batches = {
        b: [(b * 100 + i, f"k{b}_{i}") for i in range(6)] for b in range(8)
    }

    def land(store, order, reverse_rows, n_files):
        for b in order:
            rows = batches[b][::-1] if reverse_rows else batches[b]
            spark.createDataFrame(
                rows, "item_id long, payload string"
            ).repartition(n_files).write.mode("overwrite").parquet(
                f"{store}/batch_id={b}"
            )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    land(a, range(5), False, 1)
    assert maybe_compact_store(spark, a, "item_id", max_live_partitions=1)
    land(a, range(5, 8), False, 1)
    assert maybe_compact_store(spark, a, "item_id", max_live_partitions=1)
    land(b, reversed(range(8)), True, 3)
    assert maybe_compact_store(spark, b, "item_id", max_live_partitions=1)

    def files(store):
        out = {}
        for d in glob.glob(store + "/_compacted/part_key=*"):
            (f,) = glob.glob(d + "/*.parquet")  # one file per bucket
            out[d.rsplit("/", 1)[1]] = open(f, "rb").read()
        return out

    fa, fb = files(a), files(b)
    assert fa and fa.keys() == fb.keys()
    assert all(fa[k] == fb[k] for k in fa)


def test_retain_partitions_archives_old_batches(spark, tmp_path):
    sink = str(tmp_path / "keep")
    _write_batches(spark, sink, 6)
    all_rows = _rows(spark.read.parquet(sink))
    assert retain_partitions(spark, sink, keep_last=2) == 4
    assert live_batch_ids(spark, sink) == [4, 5]
    live = _rows(spark.read.parquet(sink))
    archived = _rows(spark.read.parquet(sink + "/_archive"))
    assert sorted(live + archived) == all_rows
    # idempotent: nothing more to move
    assert retain_partitions(spark, sink, keep_last=2) == 0


DOC_SCHEMA = "doc_id long, text string, lang string, source string"
EMB_SCHEMA = "vec_id long, embedding array<float>"


def _doc(doc_id, tag):
    return (doc_id, " ".join(f"{tag}{i:03d}" for i in range(80)),
            "en", "src1")


def _land(tmp_path, src_dir, df, name):
    stage = tmp_path / f"stage_{name}"
    df.coalesce(1).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "*.parquet"))
    shutil.copy(part, src_dir / f"{name}.parquet")


def _onehot(j, dim=32):
    v = [0.0] * dim
    v[j] = 1.0
    return v


@pytest.fixture()
def three_batches(spark):
    b1 = spark.createDataFrame(
        [_doc(i, f"uno{i}") for i in range(6)], DOC_SCHEMA
    )
    # doc 20 exact copy of doc 0 (fingerprint store), doc 21 fresh
    b2 = spark.createDataFrame(
        [(20, b1.collect()[0]["text"], "en", "src1"),
         _doc(21, "dos1"), _doc(22, "dos2")],
        DOC_SCHEMA,
    )
    # doc 30: semantic copy of doc 1's embedding; doc 31 fresh
    b3 = spark.createDataFrame(
        [_doc(30, "tre0"), _doc(31, "tre1")], DOC_SCHEMA
    )
    embs = spark.createDataFrame(
        [(i, _onehot(i)) for i in range(6)]
        + [(20, _onehot(10)), (21, _onehot(11)), (22, _onehot(12)),
           (30, _onehot(1)), (31, _onehot(13))],
        EMB_SCHEMA,
    )
    return b1, b2, b3, embs


def _run_tick_series(spark, tmp_path, tag, batches, embs, **kw):
    src = tmp_path / f"src_{tag}"
    src.mkdir()
    emb_dir = tmp_path / f"embs_{tag}"
    embs.write.parquet(str(emb_dir))
    out = str(tmp_path / f"out_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    for i, b in enumerate(batches):
        _land(tmp_path, src, b, f"{tag}_b{i}")
        run_streaming_tick(
            spark, str(src), str(emb_dir), out, ckpt,
            sem_bits=4, **kw,
        )
    return out


def _decisions(spark, out):
    keep = spark.read.parquet(out + "/keep").select(
        "batch_id", "doc_id", "quality", "clean_text"
    )
    rej = spark.read.parquet(out + "/reject").select(
        "batch_id", "doc_id", "quality", "reject_reason"
    )
    return _rows(keep), _rows(rej)


def test_tick_decisions_identical_with_and_without_compaction(
    spark, tmp_path, three_batches
):
    b1, b2, b3, embs = three_batches
    out_a = _run_tick_series(spark, tmp_path, "a", (b1, b2, b3), embs)
    out_b = _run_tick_series(
        spark, tmp_path, "b", (b1, b2, b3), embs, compact_after=1
    )
    assert _decisions(spark, out_a) == _decisions(spark, out_b)
    # compacted run really folded: no live dirs, bucketed segments exist
    for store in ("_fingerprints", "_signatures", "_window_counts",
                  "_kept_embeddings"):
        assert glob.glob(f"{out_b}/{store}/_compacted/part_key=*"), store
    # store CONTENT identical across layouts (read_store normalizes)
    for store in ("_fingerprints", "_signatures", "_window_counts",
                  "_kept_embeddings"):
        assert _rows(read_store(spark, f"{out_a}/{store}")) == _rows(
            read_store(spark, f"{out_b}/{store}")
        ), store
    # the cross-batch rejections actually crossed the fold
    rej = {
        r["doc_id"]: r["reject_reason"]
        for r in spark.read.parquet(out_b + "/reject").collect()
    }
    assert rej[20] == "duplicate"           # fp store, post-fold probe
    assert rej[30] == "semantic_duplicate"  # kept-emb store, post-fold


def test_tick_replay_across_compaction_boundary(spark, tmp_path):
    """A batch whose store rows were FOLDED must replay without
    self-rejecting: the exclusion is by batch_id column, whichever
    segment the rows sit in (fresh checkpoint, same single source file
    — the at-least-once replay shape)."""
    b1 = spark.createDataFrame(
        [_doc(i, f"solo{i}") for i in range(5)], DOC_SCHEMA
    )
    embs = spark.createDataFrame(
        [(i, _onehot(i)) for i in range(5)], EMB_SCHEMA
    )
    src = tmp_path / "src"
    src.mkdir()
    emb_dir = tmp_path / "embs"
    embs.write.parquet(str(emb_dir))
    out = str(tmp_path / "out")
    _land(tmp_path, src, b1, "b1")

    run_streaming_tick(
        spark, str(src), str(emb_dir), out, str(tmp_path / "ckpt1"),
        sem_bits=4, compact_after=1,
    )
    store = out + "/_kept_embeddings"
    assert live_batch_ids(spark, store) == []  # batch 0 folded
    before = _decisions(spark, out)
    kept_before = _rows(read_store(spark, store))

    # at-least-once replay of batch 0 under a fresh checkpoint
    run_streaming_tick(
        spark, str(src), str(emb_dir), out, str(tmp_path / "ckpt2"),
        sem_bits=4, compact_after=1,
    )
    assert _decisions(spark, out) == before
    assert _rows(read_store(spark, store)) == kept_before


def test_rebucket_spans_compacted_and_live_segments(spark, tmp_path):
    """The SRP occupancy re-widen must recompute buckets in BOTH the
    folded segment and the live partitions, and later probes reject
    near-copies of vectors archived on either side of the fold."""
    from experts_etl_spark.llm.similarity import (
        auto_srp_bits,
        semantic_dedup_incremental,
        srp_bucket,
    )
    from experts_etl_spark.streaming.semantic import maybe_rebucket_srp_store
    from tests.test_streaming_semantic import _srp_store

    dim = 32
    store = str(tmp_path / "_kept_embeddings")
    # first wave folded, second wave live, both at width 2
    _srp_store(spark, store, {0: [(i, _onehot(i, dim)) for i in range(10)]}, 2)
    assert maybe_compact_store(spark, store, "vec_id", max_live_partitions=1)
    assert live_batch_ids(spark, store) == []
    _srp_store(
        spark, store, {1: [(100 + i, _onehot(10 + i, dim)) for i in range(10)]},
        2,
    )

    # 20 kept > 4 * 2^2 -> re-widened across BOTH segments
    want_bits = min(auto_srp_bits(20), dim)
    assert want_bits > 2
    assert maybe_rebucket_srp_store(spark, store, 2, 4, (2, 10)) == want_bits
    meta = spark.read.parquet(store + "/_srp_meta").first()
    assert meta["bits"] == want_bits and meta["n_kept"] == 20
    assert live_batch_ids(spark, store) == [1]
    assert glob.glob(store + "/_compacted/part_key=*")
    all_rows = read_store(spark, store)
    assert all_rows.count() == 20
    assert all_rows.filter(
        F.col("bucket") != srp_bucket(F.col("embedding"), want_bits)
    ).count() == 0

    # a probe at the new width: near-copy of a FOLDED vector (vec 0)
    # and of a second-wave vector (vec 100) both rejected
    b3 = spark.createDataFrame(
        [(200, _onehot(0, dim)), (201, _onehot(10, dim)),
         (202, _onehot(25, dim))],
        EMB_SCHEMA,
    )
    dec = semantic_dedup_incremental(
        b3, read_store(spark, store, drop_batch_id=True),
        "vec_id", "embedding", 0.35, want_bits,
    ).collect()
    assert {r["vec_id"]: r["kept"] for r in dec} == {
        200: False, 201: False, 202: True
    }

"""Semantic dedup across batches (llm/similarity.py:
semantic_dedup_incremental against the kept-embedding store that
streaming/tick.py maintains) and the store's SRP width maintenance
(streaming/semantic.py).

Pins: (1) an id-ordered batch loop against a growing kept store equals
the FULL sequential greedy over the concatenation (the store
composition is exact, not approximate); (2) a cross-batch semantic
near-copy — a batch-2 vector inside ε of a KEPT batch-1 vector — is
rejected; (3) the ε-chain drop semantics across the batch boundary;
(4) a store that outgrows its width re-widens, and later probes at
the new width; (5) an interrupted re-bucket completes before the width
is used; (6) null buckets in a mixed store degrade to the compute
arm."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from experts_etl_spark.llm.similarity import (
    auto_srp_bits,
    semantic_dedup_incremental,
    semantic_dedup_sequential,
    srp_bucket,
)
from experts_etl_spark.sources import read_table
from experts_etl_spark.streaming.semantic import _write_meta
from tests.conftest import SF_SMOKE

THRESHOLD = 0.35
EMB_SCHEMA = "vec_id long, embedding array<float>"


def _onehot(j, dim=32):
    v = [0.0] * dim
    v[j] = 1.0
    return v


def _srp_store(spark, store_dir, batches, bits):
    """A kept-embedding store as the tick writes it: one
    ``batch_id=N`` partition per {N: rows} entry, buckets at ``bits``,
    and the ``_srp_meta`` sidecar.  Returns the row count."""
    n = 0
    for bid, rows in batches.items():
        spark.createDataFrame(rows, EMB_SCHEMA).withColumn(
            "bucket", srp_bucket(F.col("embedding"), bits)
        ).write.parquet(f"{store_dir}/batch_id={bid}")
        n += len(rows)
    _write_meta(spark, store_dir + "/_srp_meta", bits, n)
    return n


def test_streaming_semantic_dedup_matches_full_sequential(spark):
    """Each batch's decisions against the store of everything kept
    before it, the store growing by the batch's keepers with their
    precomputed buckets (the tick's loop), equal the full sequential
    greedy over the whole corpus at the same pinned width."""
    e = read_table(spark, SF_SMOKE, "embeddings")
    n = e.count()
    bits = auto_srp_bits(n)  # the store's pinned index width
    cuts = [0, 4 * n // 5, n]
    store, got = None, []
    for lo, hi in zip(cuts, cuts[1:]):
        batch = e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        dec = semantic_dedup_incremental(
            batch, store, "vec_id", "embedding", THRESHOLD, bits
        ).collect()
        got += dec
        kept = batch.filter(
            F.col("vec_id").isin([r["vec_id"] for r in dec if r["kept"]])
        ).withColumn("bucket", srp_bucket(F.col("embedding"), bits))
        store = kept if store is None else store.unionByName(kept)
    want = semantic_dedup_sequential(
        e, "vec_id", "embedding", THRESHOLD, bits=bits
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want.collect()))
    # the store holds exactly the keepers' embeddings
    kept_ids = {r["vec_id"] for r in want.filter("kept").collect()}
    assert {r["vec_id"] for r in store.select("vec_id").collect()} == kept_ids


def test_cross_batch_semantic_near_copy_rejected(spark, tmp_path):
    """A batch-2 vector that is a semantic near-copy of a KEPT batch-1
    vector is rejected by the store probe alone (no in-batch edge),
    while a genuinely novel batch-2 vector is kept."""
    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    near = [0.999] + [0.01] * (dim - 1)        # cosine ≈ 1 with base
    novel = [0.0] * (dim - 1) + [1.0]          # orthogonal to base
    b1 = spark.createDataFrame(
        [(0, base)], "vec_id long, embedding array<float>"
    )
    b2 = spark.createDataFrame(
        [(10, near), (11, novel)], "vec_id long, embedding array<float>"
    )
    store = b1  # batch-1's keeper (a single vector is trivially kept)
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup_incremental(
            b2, store, "vec_id", "embedding", 0.9, bits=4
        ).collect()
    }
    assert got == {10: False, 11: True}
    # and without the store both batch-2 vectors survive (they are
    # far apart) — the rejection above is genuinely cross-batch
    alone = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup_incremental(
            b2, None, "vec_id", "embedding", 0.9, bits=4
        ).collect()
    }
    assert alone == {10: True, 11: True}


def test_incremental_chain_drop_semantics(spark):
    """The ε-chain case that separates the sequential rule from the
    one-pass rule, across the batch boundary: store keeper a, batch
    b ≈ a (dropped via store) and c ≈ b but NOT ≈ a — since b is
    dropped it cannot drop c, so c is KEPT (the paper's coverage
    guarantee; one-pass would drop both)."""
    import math

    dim = 8

    def unit(theta):
        # chain a —25°— b —25°— c in a 2-D subspace: adjacent pairs
        # above cos 0.85, the ends below it
        return [math.cos(theta), math.sin(theta)] + [0.0] * (dim - 2)

    a = unit(0.0)
    b = unit(math.radians(25))
    c = unit(math.radians(50))
    store = spark.createDataFrame(
        [(0, a)], "vec_id long, embedding array<float>"
    )
    batch = spark.createDataFrame(
        [(10, b), (11, c)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup_incremental(
            batch, store, "vec_id", "embedding", 0.85, bits=2
        ).collect()
    }
    assert got == {10: False, 11: True}


def test_occupancy_trigger_rebuilds_srp_index(spark, tmp_path):
    """A store created narrow re-widens itself when mean bucket
    occupancy crosses the limit: width re-derived from the CURRENT
    store count (auto_srp_bits, dim-capped), every partition
    re-bucketed, the _srp_meta sidecar swapped after publish.  A later
    batch probes at the new width, and its decisions equal the direct
    incremental call whether the store's buckets are read precomputed
    or recomputed from the vectors (one candidate set).  Each batch
    runs the tick's semantic leg: resolve the width, probe the store
    minus the batch's own partition, write the keepers bucketed at that
    width, run the occupancy trigger."""
    from experts_etl_spark.streaming.semantic import (
        maybe_rebucket_srp_store,
        resolve_srp_width,
    )
    from experts_etl_spark.streaming.stores import read_store

    e = read_table(spark, SF_SMOKE, "embeddings")
    n = e.count()
    cut = 4 * n // 5
    b1 = e.filter(F.col("vec_id") < cut)
    b2 = e.filter(F.col("vec_id") >= cut)
    store_dir = str(tmp_path / "_kept_embeddings")
    # creation width 2 (4 buckets) with a tiny limit → batch 1 outgrows
    # it immediately and the trigger re-derives from the kept count
    bits0, limit = 2, 4

    def step(batch_id, batch):
        bits, meta = resolve_srp_width(spark, store_dir, bits0)
        store = read_store(
            spark, store_dir, exclude_batch_id=batch_id, drop_batch_id=True
        )
        dec = semantic_dedup_incremental(
            batch, store, "vec_id", "embedding", THRESHOLD, bits
        ).collect()
        kept = [r["vec_id"] for r in dec if r["kept"]]
        batch.filter(F.col("vec_id").isin(kept)).select(
            "vec_id",
            "embedding",
            srp_bucket(F.col("embedding"), bits).alias("bucket"),
        ).write.mode("overwrite").parquet(f"{store_dir}/batch_id={batch_id}")
        maybe_rebucket_srp_store(spark, store_dir, bits, limit, meta)
        return bits, {(r["vec_id"], r["kept"]) for r in dec}

    assert step(0, b1)[0] == bits0
    meta = spark.read.parquet(store_dir + "/_srp_meta").first()
    store = spark.read.parquet(store_dir)
    n_kept = store.count()
    dim = len(store.first()["embedding"])
    want_bits = min(auto_srp_bits(n_kept), dim)
    assert n_kept > limit * (1 << bits0)    # the trigger really crossed
    assert meta["bits"] == want_bits > bits0  # re-derived, not creation
    assert meta["n_kept"] == n_kept
    # every persisted bucket consistent with the meta width
    bad = store.filter(
        F.col("bucket") != srp_bucket(F.col("embedding"), want_bits)
    ).count()
    assert bad == 0
    assert not glob.glob(store_dir + "/_srp_meta_next/*")  # marker swapped

    # batch 2 probes at the REBUILT width; its decisions equal the
    # direct incremental call via the precomputed-bucket arm AND the
    # compute-from-vectors arm
    bits, got = step(1, b2)
    assert bits == want_bits
    store_b1 = (
        spark.read.parquet(store_dir)
        .filter(F.col("batch_id") == 0)
        .drop("batch_id")
    )
    for probe_store in (store_b1, store_b1.drop("bucket")):
        want = {
            (r["vec_id"], r["kept"])
            for r in semantic_dedup_incremental(
                b2, probe_store, "vec_id", "embedding", THRESHOLD, want_bits
            ).collect()
        }
        assert got == want

    # replay of batch 2 after the rebuild is a fixpoint
    before = sorted(map(tuple, spark.read.parquet(store_dir).collect()))
    assert step(1, b2) == (want_bits, got)
    assert sorted(map(tuple, spark.read.parquet(store_dir).collect())) == before
    meta2 = spark.read.parquet(store_dir + "/_srp_meta").first()
    assert meta2["bits"] == want_bits


def test_interrupted_rebucket_resumes_from_meta_next(spark, tmp_path):
    """A crash between the _srp_meta_next stage and the meta swap must
    not leave a mixed-width index: the width resolve that runs before
    every probe sees the marker, completes the re-bucket at the staged
    width idempotently and swaps the meta, and a probe at the width it
    returns finds the stored copies."""
    from experts_etl_spark.streaming.semantic import resolve_srp_width
    from experts_etl_spark.streaming.stores import read_store

    store_dir = str(tmp_path / "_kept_embeddings")
    bits0 = 2
    n_kept = _srp_store(
        spark, store_dir, {0: [(i, _onehot(i)) for i in range(10)]}, bits0
    )
    # the crash window: a staged meta_next at a wider width, store
    # partitions still bucketed at bits0
    bits_next = bits0 + 3
    _write_meta(spark, store_dir + "/_srp_meta_next", bits_next, n_kept)

    for _ in range(2):  # the resume, then a resolve with nothing pending
        assert resolve_srp_width(spark, store_dir, bits0) == (
            bits_next, (bits_next, n_kept)
        )
        store = spark.read.parquet(store_dir)
        assert store.count() == n_kept
        bad = store.filter(
            F.col("bucket") != srp_bucket(F.col("embedding"), bits_next)
        ).count()
        assert bad == 0
        assert not glob.glob(store_dir + "/_srp_meta_next/*")

    probe = spark.createDataFrame(
        [(100, _onehot(3)), (101, _onehot(20))], EMB_SCHEMA
    )
    got = semantic_dedup_incremental(
        probe, read_store(spark, store_dir, drop_batch_id=True),
        "vec_id", "embedding", THRESHOLD, bits_next,
    ).collect()
    assert {r["vec_id"]: r["kept"] for r in got} == {100: False, 101: True}


def test_mixed_store_null_buckets_degrade_to_compute(spark):
    """A store whose older partitions predate the bucket index surfaces
    null buckets after schema merge; the precomputed-bucket arm must
    compute those rows' buckets on the fly — identical decisions to a
    fully-indexed or fully-unindexed store, never a silent match miss."""
    from experts_etl_spark.llm.similarity import srp_bucket

    e = read_table(spark, SF_SMOKE, "embeddings")
    n = e.count()
    bits = auto_srp_bits(n)
    cut = 4 * n // 5
    store_plain = e.filter(F.col("vec_id") < cut)
    batch = e.filter(F.col("vec_id") >= cut)
    # half the store rows carry a precomputed bucket, half a NULL
    store_mixed = store_plain.withColumn(
        "bucket",
        F.when(
            F.col("vec_id") % 2 == 0,
            srp_bucket(F.col("embedding"), bits),
        ),
    )
    want = sorted(
        map(
            tuple,
            semantic_dedup_incremental(
                batch, store_plain, "vec_id", "embedding", THRESHOLD, bits
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            semantic_dedup_incremental(
                batch, store_mixed, "vec_id", "embedding", THRESHOLD, bits
            ).collect(),
        )
    )
    assert got == want

"""Streaming ANN index (streaming/ann_index.py): the tick's PQ leg
encodes keepers against persisted codebooks with no retrain, equal to
the batch-side incremental encoder, and a new batch extends the index
without touching old partitions; the probe-side IVFADC runner equals
the batch search per micro-batch and replays idempotently; the PQ
rebuild composes with a folded code store."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from experts_etl_spark.llm.pq import pq_encode_incremental
from experts_etl_spark.sources import read_table
from tests.conftest import SF_SMOKE
from tests.test_streaming_tick import (
    DOC_SCHEMA,
    EMB_SCHEMA,
    _doc,
    _drift_step,
    _far,
    _land,
    _pq_batch,
    _pq_stores,
    _rows,
    _tight,
)


def test_streaming_pq_encode_matches_batch_and_is_idempotent(spark, tmp_path):
    """Books trained on vectors that never arrive; two batches of
    keepers drained through the tick's PQ leg (drift step off, so this
    pins the encode alone).  Each batch's code rows equal
    pq_encode_incremental against the standing books, the books are
    never retrained, a drain with nothing new leaves the index as it
    was, and a second batch lands in its own partition without
    touching the first."""
    from experts_etl_spark.llm.pq import pq_train
    from experts_etl_spark.streaming.tick import run_streaming_tick

    m, dim = 4, 8
    embs = spark.createDataFrame(
        [(i, [float((i * (j + 2)) % 37) for j in range(dim)])
         for i in range(24)],
        EMB_SCHEMA,
    )
    existing = embs.filter(F.col("vec_id") % 2 == 0)
    batch1 = embs.filter(F.col("vec_id") % 4 == 1)
    batch2 = embs.filter(F.col("vec_id") % 4 == 3)

    def docs(batch):
        ids = sorted(r["vec_id"] for r in batch.select("vec_id").collect())
        return spark.createDataFrame(
            [_doc(i, [f"doc{i}w{k:03d}" for k in range(80)]) for i in ids],
            DOC_SCHEMA,
        )

    emb_dir = str(tmp_path / "embs")
    embs.write.parquet(emb_dir)
    books_dir = str(tmp_path / "books")
    _, books = pq_train(existing, "vec_id", "embedding", m=m, iters=2)
    books.write.parquet(books_dir)
    books0 = _rows(spark.read.parquet(books_dir))
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out = str(tmp_path / "out")
    index_dir = out + "/_pq_index"

    def _tick():
        run_streaming_tick(
            spark,
            str(src_dir),
            emb_dir,
            out,
            str(tmp_path / "ckpt"),
            sem_threshold=1.5,  # inert: every doc is a keeper
            books_path=books_dir,
            pq_m=m,
            pq_recon_ppm_threshold=None,
        )

    def encode(batch):
        return pq_encode_incremental(
            batch, spark.read.parquet(books_dir), "vec_id", "embedding", m
        )

    cols = ["vec_id", "sub_id", "code_id", "n2"]
    _land(tmp_path, src_dir, docs(batch1), "b1")
    _tick()
    index1 = spark.read.parquet(index_dir)
    assert _rows(index1.select(*cols)) == _rows(encode(batch1).select(*cols))
    assert _rows(index1.select("batch_id").distinct()) == [(0,)]
    got1 = _rows(index1)

    # a drain with nothing new: index stable
    _tick()
    assert _rows(spark.read.parquet(index_dir)) == got1

    # a new file extends the index in its own partition; the first
    # partition is untouched and the books were never retrained
    _land(tmp_path, src_dir, docs(batch2), "b2")
    _tick()
    got2 = spark.read.parquet(index_dir)
    assert got2.count() == len(got1) + batch2.count() * m
    assert _rows(got2.filter(F.col("batch_id") == 0)) == got1
    arriving = batch1.unionByName(batch2)
    assert _rows(got2.select(*cols)) == _rows(encode(arriving).select(*cols))
    assert _rows(spark.read.parquet(books_dir)) == books0


def test_streaming_ivfpq_search_matches_batch_and_is_idempotent(spark, tmp_path):
    """Probe-side streaming twin (run_streaming_ivfpq_search): each
    micro-batch of probes searched against the materialized
    cells/books/index equals ivfpq_search on that batch; a checkpointed
    replay is a no-op; a second probe batch lands in its own partition
    without touching the first."""
    from experts_etl_spark.llm.pq import ivfpq_index, ivfpq_search
    from experts_etl_spark.streaming.ann_index import run_streaming_ivfpq_search

    e = read_table(spark, SF_SMOKE, "embeddings")
    emb_path = str(tmp_path / "emb")
    e.write.parquet(emb_path)

    cells, books, index = ivfpq_index(e, "vec_id", "embedding", m=4)
    paths = {}
    for name, df in [("cells", cells), ("books", books), ("index", index)]:
        paths[name] = str(tmp_path / name)
        df.write.parquet(paths[name])

    src_dir = tmp_path / "probes_src"
    src_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"pstage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        (part,) = glob.glob(str(stage / "*.parquet"))
        shutil.copy(part, src_dir / f"{name}.parquet")

    batch1 = e.filter(F.col("vec_id") < 8)
    batch2 = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    land(batch1, "p1")

    out_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "search_ckpt")
    args = (spark, str(src_dir), paths["cells"], paths["books"],
            paths["index"], emb_path, out_dir, ckpt)
    run_streaming_ivfpq_search(*args)

    rcells = spark.read.parquet(paths["cells"])
    rbooks = spark.read.parquet(paths["books"])
    rindex = spark.read.parquet(paths["index"])
    remb = spark.read.parquet(emb_path)
    want1 = ivfpq_search(
        rcells, rbooks, rindex, remb, batch1, "vec_id", "embedding", 3, 4
    )
    got1 = spark.read.parquet(out_dir)
    cols = ["probe_id", "cand_id", "rank", "cos"]
    assert sorted(map(tuple, got1.select(*cols).collect())) == sorted(
        map(tuple, want1.select(*cols).collect())
    )

    # replay with the same checkpoint: no new probes, results stable
    run_streaming_ivfpq_search(*args)
    assert spark.read.parquet(out_dir).count() == got1.count()

    # a second probe batch appends its own partition; batch-1 rows stay
    land(batch2, "p2")
    run_streaming_ivfpq_search(*args)
    got2 = spark.read.parquet(out_dir)
    want2 = ivfpq_search(
        rcells, rbooks, rindex, remb, batch2, "vec_id", "embedding", 3, 4
    )
    assert got2.count() == want1.count() + want2.count()
    assert sorted(
        map(tuple, got2.select(*cols).collect())
    ) == sorted(
        map(tuple, want1.select(*cols).unionByName(want2.select(*cols)).collect())
    )


def test_pq_ingest_fold_and_rebuild_compose(spark, tmp_path):
    """Store compaction and the transactional rebuild COMPOSE on the
    PQ code store.  Two benign ticks folded into their _compacted
    segments (the archive and the code table); a third, drifted tick
    then fires the rebuild, whose re-encode must (a) read the archive
    ACROSS the fold boundary, (b) drop the code store's folded segment
    before republishing (a surviving _folded watermark would mask the
    republished live partitions and keep serving stale old-book rows),
    and (c) publish exactly one code set per archived id, byte-equal
    to a from-scratch encode of the compacted archive under the
    published books.  The tick's replay changes nothing."""
    from experts_etl_spark.streaming.stores import (
        maybe_compact_store,
        read_store,
    )

    b1 = spark.createDataFrame(_tight(range(24)), EMB_SCHEMA)
    b2 = spark.createDataFrame(_tight(range(24, 48)), EMB_SCHEMA)
    b3 = spark.createDataFrame(_far(range(100, 124)), EMB_SCHEMA)
    dirs = _pq_stores(spark, tmp_path, [b1, b2])
    for d in (dirs["arch"], dirs["codes"]):
        assert maybe_compact_store(spark, d, "vec_id", max_live_partitions=2)
    assert os.path.isdir(dirs["codes"] + "/_compacted")
    assert os.path.isdir(dirs["arch"] + "/_compacted")
    assert not glob.glob(dirs["codes"] + "/batch_id=*")

    _pq_batch(spark, dirs, 2, b3)
    _drift_step(spark, dirs, 2, b3, 200000)
    audit = spark.read.parquet(dirs["audit"]).collect()
    assert len(audit) == 1 and audit[0]["post_ppm"] <= 200000

    cols = ["vec_id", "sub_id", "code_id"]
    codes = read_store(spark, dirs["codes"])
    got = _rows(codes.select(*cols))
    # exactly one code set per archived id — no stale fold rows survive
    per_id = (
        codes.groupBy("vec_id").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_id] == [2]  # m=2 at dim 8
    assert codes.select("vec_id").distinct().count() == 72

    # byte-equal to a from-scratch encode of the (fold-crossing) archive
    # under the PUBLISHED books
    arch = read_store(spark, dirs["arch"], drop_batch_id=True)
    books = spark.read.parquet(dirs["books"])
    want = pq_encode_incremental(arch, books, "vec_id", "embedding")
    assert got == _rows(want.select(*cols))

    # the tick's replay of batch 2 encodes against the published books
    # and measures under threshold: nothing re-fires, codes stable
    _pq_batch(spark, dirs, 2, b3)
    _drift_step(spark, dirs, 2, b3, 200000)
    assert len(spark.read.parquet(dirs["audit"]).collect()) == 1
    assert _rows(read_store(spark, dirs["codes"]).select(*cols)) == got

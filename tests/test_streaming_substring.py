"""Streaming ExactSubstr dedup (streaming/substring.py): each batch's
rows equal the full corpus-wide rule over everything seen so far
restricted to that batch; the store tolerates one count partition per
prior batch; replays are idempotent; a window pushed over the cap by
history is cut from the new batch."""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import functions as F

from experts_etl_spark.llm.curation import substring_dedup
from experts_etl_spark.sources import read_table
from experts_etl_spark.streaming.stores import maybe_compact_store
from experts_etl_spark.streaming.substring import (
    run_streaming_substring_dedup,
)
from tests.conftest import SF_SMOKE


def _land(tmp_path, src_dir, df, name):
    stage = tmp_path / f"stage_{name}"
    df.coalesce(1).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "*.parquet"))
    shutil.copy(part, src_dir / f"{name}.parquet")


def test_streaming_substring_matches_full_rule_per_batch(spark, tmp_path):
    d = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    n = d.count()
    cut = 3 * n // 5
    batch1 = d.filter(F.col("doc_id") < cut)
    batch2 = d.filter(F.col("doc_id") >= cut)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    _land(tmp_path, src_dir, batch1, "b1")

    out_dir = str(tmp_path / "cleaned")
    ckpt = str(tmp_path / "ckpt")
    args = (spark, str(src_dir), out_dir, ckpt)
    run_streaming_substring_dedup(*args)

    cols = ["doc_id", "n_words", "n_removed", "clean_text"]
    got1 = spark.read.parquet(out_dir).select(*cols)
    # batch 1 thresholds on its own counts alone == the full rule on
    # batch 1 (the store was empty)
    want1 = substring_dedup(batch1, "text", "doc_id")
    assert sorted(map(tuple, got1.collect())) == sorted(
        map(tuple, want1.collect())
    )

    # replay: no new files, decisions stable (the store-probe replay
    # guard keeps batch 1 from double-counting its own windows)
    run_streaming_substring_dedup(*args)
    assert sorted(
        map(tuple, spark.read.parquet(out_dir).select(*cols).collect())
    ) == sorted(map(tuple, want1.collect()))

    # batch 2 thresholds on batch1+batch2 counts == the full rule over
    # the whole corpus restricted to batch-2 ids
    _land(tmp_path, src_dir, batch2, "b2")
    run_streaming_substring_dedup(*args)
    got2 = (
        spark.read.parquet(out_dir)
        .filter(F.col("batch_id") == 1)
        .select(*cols)
    )
    want2 = substring_dedup(d, "text", "doc_id").filter(
        F.col("doc_id") >= cut
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )
    # batch-1 rows untouched (forward-only semantics)
    got1_after = (
        spark.read.parquet(out_dir)
        .filter(F.col("batch_id") == 0)
        .select(*cols)
    )
    assert sorted(map(tuple, got1_after.collect())) == sorted(
        map(tuple, want1.collect())
    )


def test_streaming_substring_cross_batch_hot_window(spark, tmp_path):
    """A phrase seen twice in history (at the cap) is cut from the
    next batch that repeats it — the cross-batch case a batch-local
    run would miss — while novel text passes through."""
    phrase = "all rights reserved contact us"
    b1 = spark.createDataFrame(
        [(0, phrase + " alpha beta"), (1, phrase + " gamma delta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, phrase + " epsilon zeta"), (11, "novel words only here")],
        "doc_id long, text string",
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    _land(tmp_path, src_dir, b1, "b1")
    out_dir = str(tmp_path / "cleaned")
    ckpt = str(tmp_path / "ckpt")
    args = (spark, str(src_dir), out_dir, ckpt)
    run_streaming_substring_dedup(*args)
    # in-history count = 2 = max_sf: batch 1 keeps everything
    assert (
        spark.read.parquet(out_dir).agg(F.sum("n_removed")).collect()[0][0]
        == 0
    )
    _land(tmp_path, src_dir, b2, "b2")
    run_streaming_substring_dedup(*args)
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(out_dir)
        .filter(F.col("batch_id") == 1)
        .collect()
    }
    assert got[10]["n_removed"] == 5
    assert got[10]["clean_text"] == "epsilon zeta"
    assert got[11]["n_removed"] == 0


def test_streaming_substring_reads_a_compacted_window_store(spark, tmp_path):
    """Batch 3 thresholds against the same counts whether batches 1-2
    sit in live partitions or were folded into the store's compacted
    segment."""
    d = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    n = d.count()
    batches = [
        d.filter(
            (F.col("doc_id") >= i * n // 3)
            & (F.col("doc_id") < (i + 1) * n // 3)
        )
        for i in range(3)
    ]
    cols = ["batch_id", "doc_id", "n_words", "n_removed", "clean_text"]

    def run(name, fold):
        src_dir = tmp_path / f"src_{name}"
        src_dir.mkdir()
        out_dir = str(tmp_path / f"out_{name}")
        args = (spark, str(src_dir), out_dir, str(tmp_path / f"ckpt_{name}"))
        for i, b in enumerate(batches):
            if i == 2 and fold:
                assert maybe_compact_store(
                    spark, f"{out_dir}/_window_counts", "win",
                    max_live_partitions=1,
                )
            _land(tmp_path, src_dir, b, f"{name}_b{i}")
            run_streaming_substring_dedup(*args)
        return sorted(
            map(tuple, spark.read.parquet(out_dir).select(*cols).collect())
        )

    folded = run("folded", fold=True)
    assert folded == run("live", fold=False)
    # the third batch is the one that read the folded store
    assert {r[0] for r in folded} == {0, 1, 2}

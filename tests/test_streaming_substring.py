"""ExactSubstr dedup across batches (llm/curation.py:
substring_dedup_incremental against the hot-window store that
streaming/tick.py maintains): each batch's rows equal the full
corpus-wide rule over everything seen so far restricted to that batch;
the store tolerates one count partition per prior batch; a window
pushed over the cap by history is cut from the new batch; a folded
store gives the same counts as its live partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from experts_etl_spark.llm.curation import (
    substring_dedup,
    substring_dedup_incremental,
    substring_window_store,
)
from experts_etl_spark.sources import read_table
from tests.conftest import SF_SMOKE

EMPTY_STORE = "win string, sf bigint"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _thirds(spark):
    d = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    n = d.count()
    return d, [
        d.filter(
            (F.col("doc_id") >= i * n // 3)
            & (F.col("doc_id") < (i + 1) * n // 3)
        )
        for i in range(3)
    ]


def test_streaming_substring_matches_full_rule_per_batch(spark):
    """Each batch cleaned against the union of the earlier batches'
    window counts (one count partition per batch, as the tick appends
    them) equals the full rule over every batch so far, restricted to
    that batch's ids."""
    _, batches = _thirds(spark)
    store = spark.createDataFrame([], EMPTY_STORE)
    seen = None
    for batch in batches:
        seen = batch if seen is None else seen.unionByName(batch)
        got = substring_dedup_incremental(batch, store, "text", "doc_id")
        want = substring_dedup(seen, "text", "doc_id").join(
            batch.select("doc_id"), "doc_id"
        )
        assert _rows(got) == _rows(want)
        store = store.unionByName(
            substring_window_store(batch, "text", "doc_id")
        )


def test_streaming_substring_cross_batch_hot_window(spark):
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
    empty = spark.createDataFrame([], EMPTY_STORE)
    # in-history count = 2 = max_sf: batch 1 keeps everything
    first = substring_dedup_incremental(b1, empty, "text", "doc_id")
    assert first.agg(F.sum("n_removed")).collect()[0][0] == 0
    store = substring_window_store(b1, "text", "doc_id")
    got = {
        r["doc_id"]: r
        for r in substring_dedup_incremental(
            b2, store, "text", "doc_id"
        ).collect()
    }
    assert got[10]["n_removed"] == 5
    assert got[10]["clean_text"] == "epsilon zeta"
    assert got[11]["n_removed"] == 0


def test_streaming_substring_reads_a_compacted_window_store(spark, tmp_path):
    """Batch 3 thresholds against the same counts whether batches 1-2
    sit in live partitions or were folded into the store's compacted
    segment."""
    from experts_etl_spark.streaming.stores import (
        maybe_compact_store,
        read_store,
    )

    d, batches = _thirds(spark)
    stores = {}
    for name in ("live", "folded"):
        stores[name] = str(tmp_path / name / "_window_counts")
        for i, b in enumerate(batches[:2]):
            substring_window_store(b, "text", "doc_id").write.parquet(
                f"{stores[name]}/batch_id={i}"
            )
    assert maybe_compact_store(
        spark, stores["folded"], "win", max_live_partitions=1
    )
    got = {
        name: _rows(
            substring_dedup_incremental(
                batches[2], read_store(spark, path, drop_batch_id=True),
                "text", "doc_id",
            )
        )
        for name, path in stores.items()
    }
    assert got["folded"] == got["live"]
    want = substring_dedup(d, "text", "doc_id").join(
        batches[2].select("doc_id"), "doc_id"
    )
    assert got["live"] == _rows(want)

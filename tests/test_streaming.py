"""Structured Streaming pack: file-source CDC consume, watermarked
tumbling windows, cross-batch stateful sessionization — each asserted
equal to its batch twin (SURVEY.md §2.10) — and the curation tick's
routing, exact-dedup and near-dup stages across micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from experts_etl_spark.operators import compact_changes, sessionize
from experts_etl_spark.sources import read_table
from experts_etl_spark.streaming import (
    run_incremental_consume,
    run_stateful_sessions,
    run_windowed_counts,
)
from tests.conftest import SF_SMOKE

GAP = 1800


@pytest.fixture(scope="module")
def events_feed_dir(spark, tmp_path_factory):
    """The events table split into 3 time-ordered parquet files — a
    change feed arriving in batches."""
    d = tmp_path_factory.mktemp("events_feed")
    ev = read_table(spark, SF_SMOKE, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    bounds = [lo, lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi]
    for i in range(3):
        part = ev.filter(
            (F.col("ts") > bounds[i]) if i else (F.col("ts") >= bounds[i])
        ).filter(F.col("ts") <= bounds[i + 1])
        part.coalesce(1).write.parquet(str(d / f"batch_{i}"))
    # flatten: file source wants files under one dir
    import glob
    import shutil

    out = tmp_path_factory.mktemp("events_files")
    for i, f in enumerate(sorted(glob.glob(str(d / "batch_*" / "*.parquet")))):
        dst = out / f"events_{i}.parquet"
        shutil.copy(f, dst)
        # The file source picks micro-batches in modification-time order;
        # same-second copies would arrive in undefined order. Real change
        # feeds land with increasing mtimes — pin that here.
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(out)


def test_incremental_consume_matches_batch_compaction(
    spark, events_feed_dir, tmp_path
):
    target = str(tmp_path / "target")
    run_incremental_consume(
        spark,
        events_feed_dir,
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    got = {
        (r.user_id, r.event_id)
        for r in spark.read.parquet(target).select("user_id", "event_id").collect()
    }
    batch = compact_changes(
        read_table(spark, SF_SMOKE, "events"), "user_id", "event_id"
    )
    want = {(r.user_id, r.event_id) for r in batch.select("user_id", "event_id").collect()}
    assert got == want


def test_windowed_counts_match_batch(spark, events_feed_dir, tmp_path):
    got = run_windowed_counts(
        spark, events_feed_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    want = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_sessions_survive_micro_batches(spark, events_feed_dir, tmp_path):
    """Closed sessions from the stream (1 file per micro-batch) must
    equal the batch sessionization minus each user's final (still-open)
    session."""
    got = run_stateful_sessions(
        spark,
        events_feed_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        gap_seconds=GAP,
    )
    ev = read_table(spark, SF_SMOKE, "events")
    sess = sessionize(ev, ["user_id"], "ts", GAP)
    batch = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    last = batch.groupBy("user_id").agg(F.max("session_id").alias("session_id"))
    closed_batch = batch.join(last, ["user_id", "session_id"], "left_anti")
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in closed_batch.collect()
    )
    have = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in got.collect()
    )
    assert have == want
    assert len(have) > 0

def test_incremental_consume_rewrites_only_touched_partitions(spark, tmp_path):
    """The per-batch merge must leave partitions that host none of the
    batch's keys byte-for-byte alone: same files, same mtimes.  This is
    the scale contract — per-tick write cost proportional to key churn,
    not table size."""
    import datetime
    import glob
    import shutil

    feed = tmp_path / "feed"
    feed.mkdir()
    target = str(tmp_path / "target")
    n_parts = 8
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

    def land(rows, name, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        (src,) = glob.glob(str(stage / "*.parquet"))
        dst = feed / f"{name}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (mtime, mtime))

    t0 = datetime.datetime(2024, 1, 1)
    land(
        [(i, t0, i % 20, "seed", 1.0) for i in range(200)],
        "wave0",
        1_700_000_000,
    )
    run_incremental_consume(
        spark,
        str(feed),
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_partitions=n_parts,
    )
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{target}/part_key=*/*.parquet")
    }
    assert len({os.path.dirname(f) for f in before}) == n_parts

    hot_user = 5
    touched = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(hot_user).cast("bigint")), F.lit(n_parts))
    ).first()[0]
    land(
        [(10_000, t0 + datetime.timedelta(days=1), hot_user, "update", 9.0)],
        "wave1",
        1_700_000_060,
    )
    run_incremental_consume(
        spark,
        str(feed),
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_partitions=n_parts,
    )
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{target}/part_key=*/*.parquet")
    }
    untouched_before = {f: m for f, m in before.items() if f"part_key={touched}/" not in f}
    untouched_after = {f: m for f, m in after.items() if f"part_key={touched}/" not in f}
    assert untouched_before == untouched_after
    assert {f for f in after if f"part_key={touched}/" in f} != {
        f for f in before if f"part_key={touched}/" in f
    }
    got = spark.read.parquet(target).filter(F.col("user_id") == hot_user).collect()
    assert [r.event_id for r in got] == [10_000]


def test_incremental_consume_keeps_bucket_mates_on_uri_target(spark, tmp_path):
    """A ``file://`` target merges exactly like a plain path: the
    second wave's single update must not overwrite its ``part_key``
    bucket with the batch alone and drop the users sharing it."""
    import datetime
    import glob
    import shutil

    feed = tmp_path / "feed"
    feed.mkdir()
    target = (tmp_path / "target").as_uri()
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    t0 = datetime.datetime(2024, 1, 1)

    def land(rows, name, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        (src,) = glob.glob(str(stage / "*.parquet"))
        shutil.copy(src, feed / f"{name}.parquet")
        os.utime(feed / f"{name}.parquet", (mtime, mtime))

    def consume():
        run_incremental_consume(
            spark,
            str(feed),
            target_dir=target,
            checkpoint_dir=str(tmp_path / "ckpt"),
            n_partitions=8,
        )

    land([(i, t0, i, "seed", 1.0) for i in range(20)], "wave0", 1_700_000_000)
    consume()
    land(
        [(10_000, t0 + datetime.timedelta(days=1), 5, "update", 9.0)],
        "wave1",
        1_700_000_060,
    )
    consume()
    rows = {
        r.user_id: r.event_id
        for r in spark.read.parquet(target).select("user_id", "event_id").collect()
    }
    assert sorted(rows) == list(range(20))
    assert rows[5] == 10_000


def test_incremental_consume_migrates_legacy_unpartitioned_target(spark, tmp_path):
    """A target written by the pre-partitioned layout (flat parquet, no
    part_key= dirs) is migrated once into the hive-partitioned layout,
    then merged normally (ADVICE r2 #2)."""
    import datetime
    import glob
    import shutil

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    t0 = datetime.datetime(2024, 1, 1)
    target = str(tmp_path / "target")
    # legacy layout: compacted rows, flat files, no part_key column
    spark.createDataFrame(
        [(100 + i, t0, i, "legacy", 1.0) for i in range(10)], schema
    ).coalesce(1).write.parquet(target)
    assert not any(e.startswith("part_key=") for e in os.listdir(target))

    feed = tmp_path / "feed"
    feed.mkdir()
    stage = tmp_path / "stage"
    spark.createDataFrame(
        [
            (500, t0 + datetime.timedelta(days=1), 3, "update", 9.0),
            (99, t0 + datetime.timedelta(days=1), 4, "stale", 0.0),
        ],
        schema,
    ).coalesce(1).write.parquet(str(stage))
    (src,) = glob.glob(str(stage / "*.parquet"))
    shutil.copy(src, feed / "wave.parquet")

    run_incremental_consume(
        spark,
        str(feed),
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_partitions=4,
    )
    assert any(e.startswith("part_key=") for e in os.listdir(target))
    rows = {
        r.user_id: r.event_id
        for r in spark.read.parquet(target).select("user_id", "event_id").collect()
    }
    # user 3 upgraded (500 > 103), user 4 kept legacy (99 < 104 freshness
    # guard), everyone else carried over by the migration
    assert rows[3] == 500 and rows[4] == 104
    assert len(rows) == 10


def test_session_window_sessions_tolerate_out_of_order_feed(spark, tmp_path):
    """The default streaming session path (watermarked session_window)
    must produce correct sessions from files arriving OUT of event-time
    order — the case the applyInPandasWithState fast path documents away
    (VERDICT r2 #3 / next-round #6)."""
    import datetime
    import glob
    import shutil

    from experts_etl_spark.streaming import run_sessions

    schema = "user_id bigint, ts timestamp"
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    feed = tmp_path / "feed"
    feed.mkdir()

    def land(rows, name, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        (src,) = glob.glob(str(stage / "*.parquet"))
        dst = feed / f"{name}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (mtime, mtime))

    # file 0 carries the LATER events, file 1 the earlier ones (still
    # within the 30-minute watermark), file 2 a far-future sentinel that
    # advances the watermark so every real session flushes in append mode.
    land([(1, t0 + 8 * m), (2, t0 + 15 * m)], "f0", 1_700_000_000)
    land([(1, t0), (1, t0 + 5 * m), (2, t0 + 1 * m)], "f1", 1_700_000_060)
    land([(999, t0 + datetime.timedelta(hours=10))], "f2", 1_700_000_120)

    got = run_sessions(
        spark,
        str(feed),
        checkpoint_dir=str(tmp_path / "ckpt"),
        gap_seconds=600,
        watermark="30 minutes",
        max_files_per_trigger=1,
    )
    have = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in got.filter(F.col("user_id") != 999).collect()
    )
    # hand oracle (gap 10 min): user 1 events at +0, +5, +8 chain into one
    # session of 3; user 2's +1 and +15 are 14 min apart -> two singletons.
    assert have == [
        (1, t0, t0 + 8 * m, 3),
        (2, t0 + 1 * m, t0 + 1 * m, 1),
        (2, t0 + 15 * m, t0 + 15 * m, 1),
    ]


def test_streaming_dedup_drops_redelivered_events(spark, events_feed_dir, tmp_path):
    """A feed that re-delivers whole files (at-least-once producer) must
    land exactly the batch-distinct row set."""
    import glob
    import shutil

    from experts_etl_spark.streaming import run_streaming_dedup

    dup_feed = tmp_path / "dup_feed"
    dup_feed.mkdir()
    files = sorted(glob.glob(os.path.join(events_feed_dir, "*.parquet")))
    for i, f in enumerate(files):
        shutil.copy(f, dup_feed / f"events_{i}.parquet")
        os.utime(dup_feed / f"events_{i}.parquet", (1_700_000_000 + i * 60,) * 2)
    # re-deliver the middle file after the last one (late duplicate,
    # still inside the 1h watermark horizon of a 3-way time split)
    redelivery = dup_feed / "events_redelivered.parquet"
    shutil.copy(files[1], redelivery)
    os.utime(redelivery, (1_700_000_000 + len(files) * 60,) * 2)

    target = str(tmp_path / "deduped")
    run_streaming_dedup(
        spark,
        str(dup_feed),
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt_dedup"),
        watermark="365 days",  # sf0.001 events span months — keep all keys live
        max_files_per_trigger=1,
    )
    got = spark.read.parquet(target)
    want = spark.read.parquet(*files)
    assert got.count() == want.count() == got.select("event_id").distinct().count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _curate(spark, feed, out, ckpt, **kw):
    """The curation tick with no embedding source and no codebooks: the
    routing, exact-dedup, near-dup and substring stages, no semantic or
    PQ leg."""
    from experts_etl_spark.streaming.tick import run_streaming_tick

    run_streaming_tick(spark, str(feed), None, out, ckpt, **kw)


def _land_rows(spark, tmp_path, feed, batches):
    """One parquet file per batch of (doc_id, text) rows, landed in
    batch order."""
    import glob
    import shutil

    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(d, t, "en", "s0") for d, t in rows],
            "doc_id long, text string, lang string, source string",
        ).coalesce(1).write.parquet(str(tmp_path / f"stage_{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"stage_{i}" / "*.parquet"))[0],
            feed / f"docs_{i}.parquet",
        )
        os.utime(feed / f"docs_{i}.parquet", (1_700_000_000 + i * 60,) * 2)


def test_streaming_curation_routes_and_dedups_across_batches(spark, tmp_path):
    """Keep/reject routing invariants across micro-batches: every doc
    lands exactly once, kept fingerprints are globally unique even when
    a later file re-ships a kept doc, and each rejection has a reason."""
    docs = read_table(spark, SF_SMOKE, "documents")
    feed = tmp_path / "doc_feed"
    feed.mkdir()
    third = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, part in enumerate(third):
        part.coalesce(1).write.parquet(str(tmp_path / f"stage_{i}"))
    import glob
    import shutil

    for i in range(3):
        f = glob.glob(str(tmp_path / f"stage_{i}" / "*.parquet"))[0]
        shutil.copy(f, feed / f"docs_{i}.parquet")
    # batch 3 re-ships batch 0's docs under shifted ids: all dups of
    # already-kept content (or copies of already-rejected content)
    redelivered = third[0].withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    redelivered.coalesce(1).write.parquet(str(tmp_path / "stage_3"))
    f = glob.glob(str(tmp_path / "stage_3" / "*.parquet"))[0]
    shutil.copy(f, feed / "docs_3.parquet")
    for i, name in enumerate(sorted(os.listdir(feed))):
        os.utime(feed / name, (1_700_000_000 + i * 60,) * 2)

    out = str(tmp_path / "out")
    # two files per micro-batch: the re-shipped copies arrive in the
    # second batch, after batch 0's content was kept
    _curate(spark, feed, out, str(tmp_path / "ckpt_cur"),
            max_files_per_trigger=2)
    kept = spark.read.parquet(out + "/keep")
    rejected = spark.read.parquet(out + "/reject")
    n_in = docs.count() + redelivered.count()
    assert kept.count() + rejected.count() == n_in
    assert kept.select("doc_id").distinct().count() == kept.count()
    # kept fingerprints globally unique (cross-batch dedup held)
    assert kept.select("fp").distinct().count() == kept.count()
    # every kept doc passes the gates; every reject has a reason
    assert kept.filter(F.col("quality") < 0.5).count() == 0
    assert rejected.filter(F.col("reject_reason").isNull()).count() == 0
    # every re-shipped copy of KEPT batch-0 content was rejected:
    # no shifted id may appear in keep with a fingerprint batch 0 kept
    shifted_kept = kept.filter(F.col("doc_id") >= 1000000)
    early_fps = kept.filter(F.col("doc_id") < 1000000).select("fp")
    overlap = shifted_kept.join(early_fps, "fp").count()
    assert overlap == 0
    # the compact fingerprint store is partitioned per batch and
    # carries exactly the kept fingerprint set — the structure the
    # per-tick probe reads instead of the text archive
    fp_side = spark.read.parquet(out + "/_fingerprints")
    assert fp_side.select("batch_id").distinct().count() > 1
    side_fps = {r["fp"] for r in fp_side.select("fp").distinct().collect()}
    kept_fps = {r["fp"] for r in kept.select("fp").distinct().collect()}
    assert side_fps == kept_fps


def test_streaming_curation_rejects_null_text_fail_closed(spark, tmp_path):
    """quality_score(NULL) is NULL; the gate must fail CLOSED (reject
    with low_quality), never route unscorable rows to the keep sink."""
    feed = tmp_path / "feed"
    feed.mkdir()
    _land_rows(spark, tmp_path, feed, [[
        (1, None),
        (2, "the of and to in is it a good long enough document"),
    ]])
    out = str(tmp_path / "out")
    _curate(spark, feed, out, str(tmp_path / "ckpt"))
    rejected = spark.read.parquet(out + "/reject")
    row = rejected.filter(F.col("doc_id") == 1).collect()
    assert len(row) == 1 and row[0]["reject_reason"] == "low_quality"
    kept = spark.read.parquet(out + "/keep")
    assert kept.filter(F.col("doc_id") == 1).count() == 0


def test_streaming_curation_near_dup_across_batches(spark, tmp_path):
    """Near-dup stage: in-batch MinHash-LSH clusters resolve to one
    canonical keeper (the min id); later batches' near-copies of kept
    content are rejected via the persisted signature store (never by
    re-reading the archive); exact copies still record 'duplicate'."""
    w = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"
    text_a = w
    text_b = w.rsplit(" ", 1)[0] + " oscar"          # last word changed
    text_a2 = "papa " + w.split(" ", 1)[1]           # first word changed
    text_c = "one two three four five six seven eight nine ten eleven twelve"
    text_d = "red green blue cyan magenta yellow black white gray pink teal navy"
    feed = tmp_path / "feed"
    feed.mkdir()
    _land_rows(spark, tmp_path, feed, [
        [(1, text_a), (2, text_b), (3, text_c)],
        [(10, text_a2), (11, text_c), (12, text_d)],
    ])
    out = str(tmp_path / "out")
    _curate(spark, feed, out, str(tmp_path / "ckpt"), quality_min=0.0,
            near_dup_threshold=0.5, max_files_per_trigger=1)
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out + "/keep").collect()}
    assert kept_ids == {1, 3, 12}
    reasons = {
        r["doc_id"]: r["reject_reason"]
        for r in spark.read.parquet(out + "/reject").collect()
    }
    assert reasons[2] == "near_duplicate"    # in-batch cluster, min id kept
    assert reasons[10] == "near_duplicate"   # cross-batch via signature store
    assert reasons[11] == "duplicate"        # exact copy: earlier reason wins
    # the signature store holds exactly the keepers, one partition/batch
    store = spark.read.parquet(out + "/_signatures")
    assert {r["doc_id"] for r in store.select("doc_id").collect()} == {1, 3, 12}
    assert store.select("batch_id").distinct().count() == 2

"""The composed incremental tick (streaming/tick.py) and the PQ
maintenance steps its PQ leg runs (streaming/ann_index.py:pq_drift_step
and maybe_rebuild_pq_index).

Tick tests pin: cross-batch rejections from every store (exact
fingerprint, MinHash signature, kept-embedding, hot-window), reason
precedence, the PQ-index append for keepers, the Spark-job count of a
store-probing tick (each shared stage boundary runs once), at-least-once
replay idempotency across ALL sinks at once, the drift rebuild inside
the tick, and the SRP re-widen of the kept-embedding store.

Helper tests drive ``pq_drift_step`` / ``maybe_rebuild_pq_index`` over
hand-written stores in the tick's layout: one rebuild on drift and a
replay-stable fixpoint after it, latest-batch-wins compaction
of re-arrived ids, deletion of fully superseded code partitions, the
read-only veto, and first-contact calibration of the ``"auto"``
threshold.
"""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from experts_etl_spark.streaming.tick import run_streaming_tick


def _land(tmp_path, src_dir, df, name):
    stage = tmp_path / f"stage_{name}"
    df.coalesce(1).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "*.parquet"))
    shutil.copy(part, src_dir / f"{name}.parquet")


def _doc(doc_id, words):
    return (doc_id, " ".join(words), "en", "src1")


DOC_SCHEMA = "doc_id long, text string, lang string, source string"
EMB_SCHEMA = "vec_id long, embedding array<float>"

# distinct-word texts: quality = len-term (0.3 at >=400 chars) +
# no-punct term (0.2) >= 0.5, and no word/bigram repeats to trip the
# Gopher filter.  ~80 distinct words ≈ 560 chars.
WORDS_A = [f"alpha{i:03d}" for i in range(80)]
WORDS_B = [f"bravo{i:03d}" for i in range(80)]
WORDS_C = [f"charl{i:03d}" for i in range(80)]
WORDS_D = [f"delta{i:03d}" for i in range(80)]
PHRASE = ["all", "rights", "reserved", "contact", "us"]


def _emb(vec_id, hot_dim, dim=8, base=1.0):
    v = [0.0] * dim
    v[hot_dim] = base
    return (vec_id, v)


def _tight(ids, dim=8):
    """Three constant vectors near the origin: books trained on them
    represent them almost exactly."""
    return [(i, [float((i % 3) + 1)] * dim) for i in ids]


def _far(ids, dim=8):
    """A cluster far from ``_tight``'s: books trained there cannot
    represent it (relative recon error ≈ 1e6 ppm)."""
    return [(i, [1000.0 + float(i % 3)] * dim) for i in ids]


def _pq_dirs(root):
    """The tick's PQ store layout under ``root``."""
    return {
        "arch": str(root / "_kept_embeddings"),
        "codes": str(root / "_pq_index"),
        "books": str(root / "books"),
        "audit": str(root / "_pq_rebuilds"),
        "intr": str(root / "_pq_intrinsic"),
    }


def _pq_batch(spark, dirs, batch_id, emb):
    """What the tick's PQ leg writes for a batch of keepers before its
    drift step: the archive partition and the codes under the standing
    books."""
    from experts_etl_spark.llm.pq import pq_encode_incremental

    emb.write.mode("overwrite").parquet(f"{dirs['arch']}/batch_id={batch_id}")
    pq_encode_incremental(
        emb, spark.read.parquet(dirs["books"]), "vec_id", "embedding"
    ).write.mode("overwrite").parquet(f"{dirs['codes']}/batch_id={batch_id}")


def _drift_step(spark, dirs, batch_id, emb, threshold):
    from experts_etl_spark.streaming.ann_index import pq_drift_step

    pq_drift_step(
        spark,
        emb,
        spark.read.parquet(dirs["books"]),
        batch_id=batch_id,
        threshold=threshold,
        m=None,
        arch_dir=dirs["arch"],
        codes_dir=dirs["codes"],
        books_dir=dirs["books"],
        audit_dir=dirs["audit"],
        intr_dir=dirs["intr"],
    )


def _pq_stores(spark, root, batches):
    """PQ stores after one tick per batch, with standing books trained
    on the first batch and no drift step run."""
    from experts_etl_spark.llm.pq import pq_train

    dirs = _pq_dirs(root)
    _, books = pq_train(batches[0], "vec_id", "embedding", iters=1)
    books.write.parquet(dirs["books"])
    for bid, b in enumerate(batches):
        _pq_batch(spark, dirs, bid, b)
    return dirs


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def tick_env(spark, tmp_path):
    # batch 1: three keepers (A, B, and a phrase-carrier twice so the
    # 5-gram reaches the cap) + one low-quality reject
    b1 = spark.createDataFrame(
        [
            _doc(0, WORDS_A),
            _doc(1, WORDS_B),
            _doc(2, PHRASE + [f"echo{i:03d}" for i in range(75)]),
            _doc(3, PHRASE + [f"fox{i:03d}" for i in range(75)]),
            _doc(4, ["junk!!!", "short???"]),
        ],
        DOC_SCHEMA,
    )
    # batch 2: exact copy of A (fingerprint store), near-copy of B
    # (signature store), semantic copy of B's embedding (kept-embedding
    # store), phrase repeat (hot-window store), one fresh keeper
    near_b = list(WORDS_B)
    near_b[10], near_b[20], near_b[30] = "xx1", "xx2", "xx3"
    b2 = spark.createDataFrame(
        [
            _doc(10, WORDS_A),
            _doc(11, near_b),
            _doc(12, WORDS_C),
            _doc(13, PHRASE + [f"golf{i:03d}" for i in range(75)]),
            _doc(14, WORDS_D),
        ],
        DOC_SCHEMA,
    )
    # embeddings: orthogonal one-hots except doc 12 == doc 1's vector
    embs = spark.createDataFrame(
        [
            _emb(0, 0),
            _emb(1, 1),
            _emb(2, 2),
            _emb(3, 3),
            _emb(4, 4),
            _emb(10, 5),
            _emb(11, 6),
            (12, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # == vec 1
            _emb(13, 7),
            (14, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -1.0]),
        ],
        EMB_SCHEMA,
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    emb_dir = tmp_path / "embs"
    embs.write.parquet(str(emb_dir))
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    # standing PQ codebooks trained on the batch-1 embeddings
    from experts_etl_spark.llm.pq import pq_train

    books_dir = tmp_path / "books"
    _, books = pq_train(
        embs.filter(F.col("vec_id") < 10), "vec_id", "embedding", iters=1
    )
    books.write.parquet(str(books_dir))

    return {
        "b1": b1,
        "b2": b2,
        "src": src_dir,
        "emb": str(emb_dir),
        "out": str(out_dir),
        "ckpt": str(ckpt),
        "books": str(books_dir),
    }


def _run(spark, env):
    run_streaming_tick(
        spark,
        str(env["src"]),
        env["emb"],
        env["out"],
        env["ckpt"],
        sem_bits=4,
        books_path=env["books"],
    )


def _reasons(spark, env, batch_id):
    keep = (
        spark.read.parquet(env["out"] + "/keep")
        .filter(F.col("batch_id") == batch_id)
        .select("doc_id")
        .collect()
    )
    rej = (
        spark.read.parquet(env["out"] + "/reject")
        .filter(F.col("batch_id") == batch_id)
        .select("doc_id", "reject_reason")
        .collect()
    )
    out = {r["doc_id"]: None for r in keep}
    out.update({r["doc_id"]: r["reject_reason"] for r in rej})
    return out


# Spark jobs of the store-probing second tick, measured on local[4] and
# local[8]: 257-258 when the stage-1/2 funnel is left unmaterialized
# (each semantic checkpoint, fixpoint round, substring pass and the
# routed checkpoint re-runs it), 167-168 with the stage-2 boundary
# materialized once and one PQ dimension probe.  The count moves by at
# most one job from run to run.
MAX_PROBING_TICK_JOBS = 200


def test_tick_cross_batch_rejections_from_every_store(spark, tick_env, tmp_path):
    env = tick_env
    _land(tmp_path, env["src"], env["b1"], "b1")
    _run(spark, env)
    r1 = _reasons(spark, env, 0)
    assert r1 == {0: None, 1: None, 2: None, 3: None, 4: "low_quality"}

    _land(tmp_path, env["src"], env["b2"], "b2")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs_before = sched.numTotalJobs()
    _run(spark, env)
    jobs = sched.numTotalJobs() - jobs_before
    assert jobs <= MAX_PROBING_TICK_JOBS, (
        f"the store-probing tick ran {jobs} Spark jobs "
        f"(bound {MAX_PROBING_TICK_JOBS}): a stage boundary that several "
        "consumers read is being re-executed per consumer"
    )
    r2 = _reasons(spark, env, 1)
    assert r2[10] == "duplicate"           # fingerprint store
    assert r2[11] == "near_duplicate"      # signature store
    assert r2[12] == "semantic_duplicate"  # kept-embedding store
    assert r2[13] is None                  # kept, but phrase cut below
    assert r2[14] is None

    # hot-window store: the 5-gram seen twice in batch-1 keepers is cut
    # from the batch-2 keeper that repeats it
    kept2 = {
        r["doc_id"]: r
        for r in spark.read.parquet(env["out"] + "/keep")
        .filter(F.col("batch_id") == 1)
        .collect()
    }
    assert kept2[13]["clean_text"].split()[:1] == ["golf000"]
    assert not any(w in kept2[13]["clean_text"].split() for w in PHRASE)
    assert all(w in kept2[14]["clean_text"].split() for w in WORDS_D)

    # PQ index: m code rows per kept vector per batch
    from experts_etl_spark.llm.pq import auto_pq_m

    m = auto_pq_m(8)
    pq = spark.read.parquet(env["out"] + "/_pq_index")
    counts = {
        r["batch_id"]: r["n"]
        for r in pq.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts[0] == 4 * m  # keepers 0,1,2,3
    assert counts[1] == 2 * m  # keepers 13,14
    # batch 1's code rows are the keepers' encode against the tick's books
    from experts_etl_spark.llm.pq import pq_encode_incremental

    cols = ["vec_id", "sub_id", "code_id", "n2"]
    keepers = spark.read.parquet(env["emb"]).filter(
        F.col("vec_id").isin(13, 14)
    )
    want = pq_encode_incremental(
        keepers, spark.read.parquet(env["books"]), "vec_id", "embedding", m
    )
    assert _rows(pq.filter(F.col("batch_id") == 1).select(*cols)) == _rows(
        want.select(*cols)
    )


def test_tick_replay_is_idempotent(spark, tick_env, tmp_path):
    env = tick_env
    _land(tmp_path, env["src"], env["b1"], "b1")
    _run(spark, env)
    _land(tmp_path, env["src"], env["b2"], "b2")
    _run(spark, env)

    before = _snapshot(spark, env["out"])
    # at-least-once replay: drain again with no new files — every sink
    # and store must be byte-stable (probes exclude own partitions, so
    # no batch self-rejects against its first attempt)
    _run(spark, env)
    assert _snapshot(spark, env["out"]) == before


def _snapshot(spark, out):
    """Every sink's and store's rows."""
    return {
        sink: _rows(spark.read.parquet(f"{out}/{sink}"))
        for sink in ("keep", "reject", "_fingerprints", "_signatures",
                     "_window_counts", "_kept_embeddings", "_pq_index")
    }


def test_tick_failed_leg_fails_batch_and_replay_converges(
    spark, tick_env, tmp_path, monkeypatch
):
    """A leg that fails mid-tick (here the first retention call) fails
    the micro-batch after the other legs end; the next drain replays
    the batch, and every sink and store then equals a clean run's."""
    from experts_etl_spark.streaming import stores

    env = tick_env
    clean = dict(
        env, src=tmp_path / "src_clean", out=str(tmp_path / "out_clean"),
        ckpt=str(tmp_path / "ckpt_clean"),
    )
    clean["src"].mkdir()
    for name in ("b1", "b2"):
        _land(tmp_path, clean["src"], env[name], f"clean_{name}")
        _run(spark, clean)

    _land(tmp_path, env["src"], env["b1"], "b1")
    _run(spark, env)
    _land(tmp_path, env["src"], env["b2"], "b2")
    real = stores.retain_partitions
    calls = []

    def fails_once(*a, **k):
        calls.append(a)
        if len(calls) == 1:
            raise RuntimeError("injected retention failure")
        return real(*a, **k)

    monkeypatch.setattr(stores, "retain_partitions", fails_once)
    with pytest.raises(Exception, match="injected retention failure"):
        _run(spark, env)
    monkeypatch.undo()
    _run(spark, env)  # replays batch 1
    assert _reasons(spark, env, 1) == _reasons(spark, clean, 1)
    assert _snapshot(spark, env["out"]) == _snapshot(spark, clean["out"])


def test_pq_first_contact_calibrates_and_never_wedges(spark, tmp_path):
    """The ``"auto"`` threshold with nothing on record (no rebuild, no
    intrinsic marker) must not fire a rebuild, even on a batch whose
    ppm is far above the floor: a floor below the corpus's intrinsic
    error would fire a futile rebuild whose veto wedges the stream on
    every replay.  The step records the batch's ppm as the intrinsic
    marker instead, and its replay writes the same marker and again
    rebuilds nothing."""
    from experts_etl_spark.llm.pq import pq_recon_ppm
    from experts_etl_spark.streaming.ann_index import DEFAULT_PQ_RECON_PPM

    b1 = spark.createDataFrame(_tight(range(24)), EMB_SCHEMA)
    b2 = spark.createDataFrame(_far(range(100, 124)), EMB_SCHEMA)
    dirs = _pq_stores(spark, tmp_path, [b1, b2])
    books = spark.read.parquet(dirs["books"])
    ppm = pq_recon_ppm(b2, books, "vec_id", "embedding")
    assert ppm > 4 * DEFAULT_PQ_RECON_PPM
    codes0, books0 = _rows(spark.read.parquet(dirs["codes"])), _rows(books)

    for _ in range(2):  # the tick's step, then its replay
        _drift_step(spark, dirs, 1, b2, "auto")
        assert _rows(spark.read.parquet(dirs["intr"])) == [(1, ppm)]
        assert not glob.glob(dirs["audit"] + "/*")
        assert _rows(spark.read.parquet(dirs["codes"])) == codes0
        assert _rows(spark.read.parquet(dirs["books"])) == books0


def test_pq_rebuild_fires_once_and_is_replay_stable(spark, tmp_path):
    """The drift step over the tick's PQ stores: a batch the books
    represent fires nothing; a far-shifted batch fires exactly one
    rebuild (pre over the threshold, post under it) that retrains the
    books and re-encodes every archived vector under them.  The
    batch's replay, re-encoded under the published books as the PQ
    leg does, measures under threshold and leaves audit, books and
    codes as they were."""
    from experts_etl_spark.llm.pq import pq_encode_incremental, pq_recon_ppm

    b1 = spark.createDataFrame(_tight(range(24)), EMB_SCHEMA)
    b2 = spark.createDataFrame(_far(range(100, 124)), EMB_SCHEMA)
    dirs = _pq_stores(spark, tmp_path, [b1])
    _drift_step(spark, dirs, 0, b1, 200000)
    assert not glob.glob(dirs["audit"] + "/*")  # no drift on batch 0
    books1 = _rows(spark.read.parquet(dirs["books"]))

    _pq_batch(spark, dirs, 1, b2)
    _drift_step(spark, dirs, 1, b2, 200000)
    audit = spark.read.parquet(dirs["audit"]).collect()
    assert len(audit) == 1
    assert audit[0]["pre_ppm"] > 200000 >= audit[0]["post_ppm"]
    books2 = _rows(spark.read.parquet(dirs["books"]))
    assert books2 != books1  # retrained
    # every archived vector re-encoded under the published books
    cols = ["vec_id", "sub_id", "code_id", "n2"]
    codes_df = spark.read.parquet(dirs["codes"])
    arch = spark.read.parquet(dirs["arch"]).drop("batch_id")
    want = pq_encode_incremental(
        arch, spark.read.parquet(dirs["books"]), "vec_id", "embedding"
    )
    assert _rows(codes_df.select(*cols)) == _rows(want.select(*cols))
    assert codes_df.select("vec_id").distinct().count() == 48
    codes = _rows(codes_df)

    # replay: the retrained books are a fixpoint — batch 1 now measures
    # under threshold, no second rebuild, books and codes byte-stable
    _pq_batch(spark, dirs, 1, b2)
    _drift_step(spark, dirs, 1, b2, 200000)
    assert len(spark.read.parquet(dirs["audit"]).collect()) == 1
    assert _rows(spark.read.parquet(dirs["books"])) == books2
    assert _rows(spark.read.parquet(dirs["codes"])) == codes
    # and the post-rebuild drift really is back under threshold
    arch = spark.read.parquet(dirs["arch"]).drop("batch_id")
    assert pq_recon_ppm(
        arch, spark.read.parquet(dirs["books"]), "vec_id", "embedding"
    ) <= 200000


def test_pq_rebuild_compacts_cross_batch_duplicate_ids(spark, tmp_path):
    """An id that legitimately re-arrives in a later batch is a
    correction — the rebuild compacts the archive latest-batch-wins
    before retrain/re-encode, so the audit's distinct-id check passes
    and the re-encode join never fans out."""
    b1 = spark.createDataFrame(_tight(range(24)), EMB_SCHEMA)
    # ids 12..35 arrive shifted with the new cluster; 12..23 re-arrive
    b2 = spark.createDataFrame(_far(range(12, 36)), EMB_SCHEMA)
    dirs = _pq_stores(spark, tmp_path, [b1, b2])
    _drift_step(spark, dirs, 1, b2, 200000)

    audit = spark.read.parquet(dirs["audit"]).collect()
    assert len(audit) == 1 and audit[0]["post_ppm"] <= 200000
    codes = spark.read.parquet(dirs["codes"])
    # 0..35 distinct ids; every id exactly m rows (no duplicate-id fanout)
    assert codes.select("vec_id").distinct().count() == 36
    per_id = codes.groupBy("vec_id").count().select("count").distinct()
    assert [r["count"] for r in per_id.collect()] == [2]  # m=2 at dim 8
    # the overlapped ids' codes belong to the LATEST batch
    assert (
        codes.filter(F.col("vec_id") == 12).select("batch_id").distinct()
        .collect()[0][0] == 1
    )


def test_tick_pq_leg_rebuilds_on_drift_and_replays_stable(spark, tmp_path):
    """r11 verdict next #8: the composed tick's PQ leg consults the
    drift trigger — a drifting batch inside the tick fires exactly one
    transactional rebuild (sampled retrain over the kept-embedding
    archive, full _pq_index re-encode, audit-gated publish to
    books_path), and a re-drain leaves everything byte-stable."""

    def _words(tag):
        return [f"{tag}{i:03d}" for i in range(80)]

    b1 = spark.createDataFrame(
        [_doc(i, _words(f"one{i}")) for i in range(6)], DOC_SCHEMA
    )
    b2 = spark.createDataFrame(
        [_doc(20 + i, _words(f"two{i}")) for i in range(6)], DOC_SCHEMA
    )
    dim = 8
    # batch-1 embeddings: 3 tight constants the books represent exactly;
    # batch-2: a far-shifted triple they cannot (recon ppm ~1e6)
    embs = spark.createDataFrame(
        [(i, [float(i % 3) + 1.0] * dim) for i in range(6)]
        + [(20 + i, [1000.0 + float((20 + i) % 3)] * dim) for i in range(6)],
        EMB_SCHEMA,
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    emb_dir = tmp_path / "embs"
    embs.write.parquet(str(emb_dir))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    from experts_etl_spark.llm.pq import pq_encode_incremental, pq_train

    books_dir = str(tmp_path / "books")
    _, books = pq_train(
        embs.filter(F.col("vec_id") < 6), "vec_id", "embedding", iters=1
    )
    books.write.parquet(books_dir)
    books0 = sorted(map(tuple, spark.read.parquet(books_dir).collect()))

    def _tick():
        run_streaming_tick(
            spark,
            str(src_dir),
            str(emb_dir),
            out,
            ckpt,
            sem_threshold=1.5,  # inert: this test pins the PQ leg
            books_path=books_dir,
            pq_recon_ppm_threshold=200000,
        )

    _land(tmp_path, src_dir, b1, "b1")
    _tick()
    assert not glob.glob(out + "/_pq_rebuilds/*")  # no drift on batch 1

    _land(tmp_path, src_dir, b2, "b2")
    _tick()
    audit = spark.read.parquet(out + "/_pq_rebuilds").collect()
    assert len(audit) == 1
    assert audit[0]["pre_ppm"] > 200000
    assert audit[0]["post_ppm"] <= 200000
    books1 = sorted(map(tuple, spark.read.parquet(books_dir).collect()))
    assert books1 != books0  # retrained and published to books_path

    # every keeper re-encoded under the retrained books — batch-0
    # partitions included (the rebuild rewrites the whole index)
    pq = spark.read.parquet(out + "/_pq_index")
    assert pq.select("vec_id").distinct().count() == 12
    want0 = sorted(
        map(
            tuple,
            pq_encode_incremental(
                embs.filter(F.col("vec_id") < 6),
                spark.read.parquet(books_dir),
                "vec_id",
                "embedding",
            ).collect(),
        )
    )
    got0 = sorted(
        map(
            tuple,
            pq.filter(F.col("batch_id") == 0)
            .drop("batch_id")
            .collect(),
        )
    )
    assert got0 == want0

    # and the published books really are back under threshold on the
    # whole kept-embedding archive
    from experts_etl_spark.llm.pq import pq_recon_ppm
    from experts_etl_spark.streaming.stores import read_store

    archive = read_store(spark, out + "/_kept_embeddings", drop_batch_id=True)
    assert pq_recon_ppm(
        archive, spark.read.parquet(books_dir), "vec_id", "embedding"
    ) <= 200000

    # re-drain: no new files — one rebuild total, books byte-stable,
    # index byte-stable
    before = sorted(map(tuple, pq.collect()))
    _tick()
    assert len(spark.read.parquet(out + "/_pq_rebuilds").collect()) == 1
    assert sorted(
        map(tuple, spark.read.parquet(books_dir).collect())
    ) == books1
    assert sorted(
        map(tuple, spark.read.parquet(out + "/_pq_index").collect())
    ) == before


def test_tick_sem_store_rebuilds_srp_width_on_occupancy(spark, tmp_path):
    """With sem_occupancy_limit set, the tick's kept-embedding store
    self-maintains like the standalone semantic runner: a store that
    outgrows its creation width re-widens to auto_srp_bits(count)
    through the staged write-audit-publish re-bucket, later probes run
    at the meta width, and a re-drain is byte-stable."""
    from experts_etl_spark.llm.similarity import auto_srp_bits, srp_bucket

    def _words(tag):
        return [f"{tag}{i:03d}" for i in range(80)]

    dim = 32
    b1 = spark.createDataFrame(
        [_doc(i, _words(f"uno{i}")) for i in range(20)], DOC_SCHEMA
    )
    # batch 2: doc 100 is a semantic copy of doc 0's embedding (must be
    # rejected via the store probe at the REBUILT width), doc 101 novel
    b2 = spark.createDataFrame(
        [_doc(100, _words("dup")), _doc(101, _words("nov"))], DOC_SCHEMA
    )

    def onehot(j):
        v = [0.0] * dim
        v[j] = 1.0
        return v

    embs = spark.createDataFrame(
        [(i, onehot(i)) for i in range(20)]
        + [(100, onehot(0)), (101, onehot(25))],
        EMB_SCHEMA,
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    emb_dir = tmp_path / "embs"
    embs.write.parquet(str(emb_dir))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _tick():
        run_streaming_tick(
            spark,
            str(src_dir),
            str(emb_dir),
            out,
            ckpt,
            sem_bits=2,              # deliberately narrow creation width
            sem_occupancy_limit=4,   # 20 keepers > 4 * 2^2 -> trigger
        )

    _land(tmp_path, src_dir, b1, "b1")
    _tick()
    store_dir = out + "/_kept_embeddings"
    meta = spark.read.parquet(store_dir + "/_srp_meta").first()
    want_bits = min(auto_srp_bits(20), dim)
    assert want_bits > 2 and meta["bits"] == want_bits
    store = spark.read.parquet(store_dir)
    assert store.count() == 20
    assert store.filter(
        F.col("bucket") != srp_bucket(F.col("embedding"), want_bits)
    ).count() == 0
    assert not glob.glob(store_dir + "/_srp_meta_next/*")

    assert meta["n_kept"] == 20

    _land(tmp_path, src_dir, b2, "b2")
    _tick()
    r2 = _reasons(spark, {"out": out}, 1)
    assert r2[100] == "semantic_duplicate"  # probed at the rebuilt width
    assert r2[101] is None
    # the tick's decisions equal the direct incremental call at the
    # rebuilt width, whether the store's buckets are read precomputed
    # or recomputed from the vectors (one candidate set)
    from experts_etl_spark.llm.similarity import semantic_dedup_incremental

    store_b1 = (
        spark.read.parquet(store_dir)
        .filter(F.col("batch_id") == 0)
        .drop("batch_id")
    )
    b2_embs = embs.filter(F.col("vec_id") >= 100)
    for probe_store in (store_b1, store_b1.drop("bucket")):
        got = semantic_dedup_incremental(
            b2_embs, probe_store, "vec_id", "embedding", 0.35, want_bits
        ).collect()
        assert {r["vec_id"]: r["kept"] for r in got} == {100: False, 101: True}

    # re-drain: everything byte-stable, width unchanged
    def snap():
        out_rows = {}
        for sink in ("keep", "reject", "_kept_embeddings"):
            out_rows[sink] = sorted(
                map(tuple, spark.read.parquet(f"{out}/{sink}").collect())
            )
        return out_rows

    before = snap()
    _tick()
    assert snap() == before
    assert spark.read.parquet(store_dir + "/_srp_meta").first()["bits"] == want_bits


def test_pq_rebuild_deletes_fully_superseded_code_partitions(
    spark, tmp_path
):
    """A batch whose EVERY id re-arrives corrected in a later batch
    contributes zero rows to the rebuild's staged output, so dynamic
    partition overwrite alone would leave its old codes partition
    standing — rows encoded under the OLD books, duplicate vec_ids in
    the index.  The rebuild must delete such partitions and the
    published index must carry exactly one code set per archived
    id."""
    from experts_etl_spark.llm.pq import pq_recon_ppm

    b1 = spark.createDataFrame(_tight(range(24)), EMB_SCHEMA)
    # the SAME ids 0..23, all corrected into a far cluster -> batch 0
    # is fully superseded AND the shift forces a rebuild
    b2 = spark.createDataFrame(_far(range(24)), EMB_SCHEMA)
    dirs = _pq_stores(spark, tmp_path, [b1, b2])
    assert glob.glob(dirs["codes"] + "/batch_id=0/*.parquet")

    _drift_step(spark, dirs, 1, b2, 200000)
    assert len(spark.read.parquet(dirs["audit"]).collect()) == 1
    # the fully-superseded partition is GONE, not a stale old-book copy
    assert not glob.glob(dirs["codes"] + "/batch_id=0")
    codes = spark.read.parquet(dirs["codes"])
    assert codes.select("vec_id").distinct().count() == 24
    per_id = codes.groupBy("vec_id").count().select("count").distinct()
    assert [r["count"] for r in per_id.collect()] == [2]  # m=2 at dim 8
    assert codes.select("batch_id").distinct().collect()[0][0] == 1
    # and the published codes decode against the PUBLISHED books
    books = spark.read.parquet(dirs["books"])
    assert pq_recon_ppm(b2, books, "vec_id", "embedding") <= 200000


def test_resolve_recon_threshold_floor_and_measured_margin(spark, tmp_path):
    """r13 verdict next #3: the "auto" drift threshold floors at
    DEFAULT_PQ_RECON_PPM before any rebuild exists, then re-anchors at
    4× the LATEST rebuild's measured intrinsic error (post_ppm) once
    the audit log carries one — never below the floor."""
    from experts_etl_spark.streaming.ann_index import (
        DEFAULT_PQ_RECON_PPM,
        resolve_recon_threshold,
    )

    audit = str(tmp_path / "_rebuilds")
    # no audit log yet → floor
    assert resolve_recon_threshold(spark, audit) == DEFAULT_PQ_RECON_PPM
    # a rebuild whose books are tight (post_ppm far under floor/4) →
    # still the floor
    spark.createDataFrame(
        [(3, 900000, 10000)], "batch_id bigint, pre_ppm bigint, post_ppm bigint"
    ).write.parquet(audit + "/rebuild_batch=3")
    assert resolve_recon_threshold(spark, audit) == DEFAULT_PQ_RECON_PPM
    # a LATER rebuild with high intrinsic error → 4× that measurement
    spark.createDataFrame(
        [(7, 2000000, 150000)],
        "batch_id bigint, pre_ppm bigint, post_ppm bigint",
    ).write.parquet(audit + "/rebuild_batch=7")
    assert resolve_recon_threshold(spark, audit) == 600000


def test_pq_rebuild_veto_leaves_published_codes_untouched(spark, tmp_path):
    """r13 ADVICE: the fully-superseded-partition sweep must run AFTER
    the audit-gated publish, so an audit veto (post-rebuild ppm still
    over threshold even after the full-Lloyd retry) leaves the
    published codes table — including the stale-but-still-referenced
    old partitions — byte-untouched.  A veto path that mutates the
    table would break the write-audit-publish contract the rebuild
    documents."""
    from experts_etl_spark.streaming.ann_index import maybe_rebuild_pq_index

    # batch 0 fully superseded: every id re-arrives in batch 1 with
    # diverse (non-representable) vectors, so intrinsic recon error > 0
    # and threshold=0 is unreachable → the rebuild MUST veto.
    b1 = spark.createDataFrame(_tight(range(24)), EMB_SCHEMA)
    b2 = spark.createDataFrame(
        [(i, [float((i * (j + 2)) % 37) for j in range(8)])
         for i in range(24)],
        EMB_SCHEMA,
    )
    dirs = _pq_stores(spark, tmp_path, [b1, b2])
    codes = dirs["codes"]
    before = _rows(spark.read.parquet(codes))
    books = _rows(spark.read.parquet(dirs["books"]))

    with pytest.raises(RuntimeError, match="publish vetoed"):
        maybe_rebuild_pq_index(
            spark,
            arch_dir=dirs["arch"],
            codes_dir=codes,
            books_dir=dirs["books"],
            audit_dir=dirs["audit"],
            batch_id=1,
            pre_ppm=10**6,
            recon_ppm_threshold=0,
        )
    # stale-but-published partition still present; table byte-identical
    assert glob.glob(codes + "/batch_id=0/*.parquet")
    assert _rows(spark.read.parquet(codes)) == before
    assert _rows(spark.read.parquet(dirs["books"])) == books


def test_tick_probes_meta_width_even_with_maintenance_off(spark, tmp_path):
    """r12 ADVICE: a store re-widened under sem_occupancy_limit must
    be probed at its _srp_meta width by EVERY later run — including
    one with the limit unset — or the precomputed-bucket join runs at
    mismatched widths and semantic duplicates silently leak."""
    from experts_etl_spark.llm.similarity import auto_srp_bits

    def _words(tag):
        return [f"{tag}{i:03d}" for i in range(80)]

    dim = 32
    b1 = spark.createDataFrame(
        [_doc(i, _words(f"uno{i}")) for i in range(20)], DOC_SCHEMA
    )
    b2 = spark.createDataFrame(
        [_doc(100, _words("dup")), _doc(101, _words("nov"))], DOC_SCHEMA
    )

    def onehot(j):
        v = [0.0] * dim
        v[j] = 1.0
        return v

    embs = spark.createDataFrame(
        [(i, onehot(i)) for i in range(20)]
        + [(100, onehot(0)), (101, onehot(25))],
        EMB_SCHEMA,
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    emb_dir = tmp_path / "embs"
    embs.write.parquet(str(emb_dir))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _tick(limit):
        run_streaming_tick(
            spark,
            str(src_dir),
            str(emb_dir),
            out,
            ckpt,
            sem_bits=2,
            sem_occupancy_limit=limit,
        )

    # tick 1 WITH maintenance: 20 keepers > 4 * 2^2 -> store re-widens
    _land(tmp_path, src_dir, b1, "b1")
    _tick(4)
    store_dir = out + "/_kept_embeddings"
    want_bits = min(auto_srp_bits(20), dim)
    assert spark.read.parquet(store_dir + "/_srp_meta").first()[
        "bits"
    ] == want_bits > 2

    # tick 2 with maintenance OFF: the probe must still resolve the
    # meta width — doc 100 (copy of doc 0's embedding) rejected
    _land(tmp_path, src_dir, b2, "b2")
    _tick(None)
    r2 = _reasons(spark, {"out": out}, 1)
    assert r2[100] == "semantic_duplicate"
    assert r2[101] is None
    # and the new partition's buckets were written at the meta width
    from experts_etl_spark.llm.similarity import srp_bucket

    store = spark.read.parquet(store_dir)
    assert store.filter(
        F.col("bucket") != srp_bucket(F.col("embedding"), want_bits)
    ).count() == 0


def test_tick_all_rejected_batch_skips_pq_leg(spark, tmp_path):
    """An all-rejected batch (a fully-duplicate or junk crawl slice) is
    a real state: the PQ leg must skip (nothing to encode or
    drift-check) instead of crashing the m-resolution head read on an
    empty frame — found by the r13 selfmaint probe at 27x."""
    b1 = spark.createDataFrame(
        [_doc(0, WORDS_A), _doc(1, WORDS_B)], DOC_SCHEMA
    )
    # batch 2: one exact copy and one junk doc -> zero keepers
    b2 = spark.createDataFrame(
        [_doc(10, WORDS_A), _doc(11, ["junk!!!", "short???"])], DOC_SCHEMA
    )
    embs = spark.createDataFrame(
        [_emb(0, 0), _emb(1, 1), _emb(10, 2), _emb(11, 3)], EMB_SCHEMA
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    emb_dir = tmp_path / "embs"
    embs.write.parquet(str(emb_dir))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    from experts_etl_spark.llm.pq import pq_train

    books_dir = str(tmp_path / "books")
    # code_mod=1: every batch-1 vector seeds its own codeword, so the
    # standing books represent batch 1 exactly (intrinsic ppm 0) and
    # the drift trigger stays quiet — this test pins the EMPTY-batch
    # path, not the rebuild
    _, books = pq_train(
        embs.filter(F.col("vec_id") < 2), "vec_id", "embedding",
        code_mod=1, iters=1,
    )
    books.write.parquet(books_dir)

    def _tick():
        run_streaming_tick(
            spark, str(src_dir), str(emb_dir), out, ckpt,
            sem_threshold=1.5, books_path=books_dir,
            pq_recon_ppm_threshold=200000,
        )

    _land(tmp_path, src_dir, b1, "b1")
    _tick()
    _land(tmp_path, src_dir, b2, "b2")
    _tick()  # must not raise
    r2 = _reasons(spark, {"out": out}, 1)
    assert r2 == {10: "duplicate", 11: "low_quality"}
    # batch 0 encoded; batch 1 wrote NO pq partition (nothing kept)
    pq = spark.read.parquet(out + "/_pq_index")
    assert sorted(
        r["batch_id"] for r in pq.select("batch_id").distinct().collect()
    ) == [0]
    # replay: byte-stable, still no crash
    before = sorted(map(tuple, pq.collect()))
    _tick()
    assert sorted(
        map(tuple, spark.read.parquet(out + "/_pq_index").collect())
    ) == before

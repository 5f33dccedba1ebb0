"""Unit tests for the LLM-data-pipeline pack: dedup recall, simhash
determinism, similarity exactness, multimodal batch plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from experts_etl_spark.llm.dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash_pairs,
)
from experts_etl_spark.llm.multimodal import (
    decode_image,
    extract_metadata,
    fake_decode_features,
    frame_sample,
    with_binary_payload,
)
from experts_etl_spark.llm.similarity import brute_force_topk
from experts_etl_spark.llm.text import lang_id, quality_score


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),      # exact dup
    (3, "the quick brown fox jumps over the lazy cat today"),      # near dup
    (4, "completely different words entirely unrelated content here now"),
    (5, "ab"),                                                     # < 3 words
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_shingles_short_doc_empty(spark):
    out = docs_df(spark).select("doc_id", shingles(F.col("text")).alias("sh"))
    got = {r.doc_id: len(r.sh) for r in out.collect()}
    assert got[5] == 0          # <3 words → no shingles
    assert got[1] == 8          # 10 words → 8 tri-shingles


def test_exact_dedup_groups_identical(spark):
    out = exact_dedup(docs_df(spark), "text", "doc_id")
    dup = [r for r in out.collect() if r.n_copies == 2]
    assert len(dup) == 1 and dup[0].keeper_id == 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = ngram_jaccard_pairs(docs_df(spark), "text", "doc_id", 0.4)
    got = {(r.id1, r.id2): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0
    assert not any(4 in p for p in got)


def test_passed_shingles_frame_must_carry_id_and_shingle(spark):
    """A caller-passed ``shingles`` frame is checked for the
    (id, shingle) columns the miners read, at call time, with a
    ValueError that names what is missing."""
    from experts_etl_spark.llm.dedup import (
        doc_shingles,
        ngram_jaccard_pairs_prefix,
        signature_shingle_sets,
    )

    df = docs_df(spark)
    sh = doc_shingles(df, "text", "doc_id")
    cases = (
        # (shingles frame, id_col, column named in the error)
        (sh.withColumnRenamed("shingle", "gram"), "doc_id", "'shingle'"),
        (sh, "vec_id", "'vec_id'"),
    )
    for bad, id_col, missing in cases:
        with pytest.raises(ValueError, match=missing):
            ngram_jaccard_pairs_prefix(df, "text", id_col, 0.4, shingles=bad)
        with pytest.raises(ValueError, match=missing):
            signature_shingle_sets(df, "text", id_col, shingles=bad)
    # a well-formed frame is accepted and mined as before
    pairs = ngram_jaccard_pairs_prefix(df, "text", "doc_id", 0.4, shingles=sh)
    assert (1, 2) in {(r.id1, r.id2) for r in pairs.collect()}


def test_minhash_lsh_candidates_include_true_dups(spark):
    sigs = minhash_signatures(docs_df(spark), "text", "doc_id")
    assert len([c for c in sigs.columns if c.startswith("h")]) == 16
    cands = {(r.id1, r.id2) for r in lsh_candidates(sigs, "doc_id").collect()}
    assert (1, 2) in cands          # identical docs always co-band
    assert (1, 3) in cands          # 7/8 shared shingles → near-certain


def test_lsh_band_key_cap_drops_degenerate_keys_only(spark):
    """r13 verdict next #1: the production band-key cap removes keys
    whose document frequency exceeds max_df — the quadratic within-key
    fan-out — while pairs carried by any sub-cap band survive.  Six
    identical docs share every band (df=6 per key); with max_df=3 the
    hot keys are capped and the clique mines ZERO candidates, while a
    rare near-dup pair on distinct text keeps its pairs; with the cap
    above the frequency the clique returns intact (small-scale
    behavior == uncapped, which is why the gated rows stay green at
    driver scale)."""
    from experts_etl_spark.llm.dedup import minhash_lsh_dedup

    clique_text = " ".join(f"hot{i:02d}" for i in range(30))
    rare_text = " ".join(f"rare{i:02d}" for i in range(30))
    # identical pair → co-bands on every band deterministically (no
    # minhash luck), with per-key df = 2, safely under the cap
    rows = [(i, clique_text) for i in range(6)] + [
        (100, rare_text),
        (101, rare_text),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {
        (r.id1, r.id2)
        for r in minhash_lsh_dedup(
            df, "text", "doc_id", 0.5, max_df=3
        ).collect()
    }
    assert (100, 101) in capped            # rare pair survives the cap
    assert not any(p[0] < 100 for p in capped)   # hot clique capped out

    uncapped = {
        (r.id1, r.id2)
        for r in minhash_lsh_dedup(
            df, "text", "doc_id", 0.5, max_df=50
        ).collect()
    }
    assert (0, 1) in uncapped and (100, 101) in uncapped


def test_incremental_lsh_cap_counts_df_over_union(spark):
    """The asymmetric miner's cap counts band-key frequency over
    index ∪ new (the whole-corpus frequency the symmetric miner would
    see): 5 index copies + 1 new copy of the same text = df 6 per key,
    so max_df=5 caps the key even though the new side alone is far
    under the cap; max_df=10 keeps the hit."""
    from experts_etl_spark.llm.dedup import incremental_lsh_dedup

    text = " ".join(f"uni{i:02d}" for i in range(30))
    index = spark.createDataFrame(
        [(i, text) for i in range(5)], ["doc_id", "text"]
    )
    new = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    hits = incremental_lsh_dedup(
        index, new, "text", "doc_id", 0.5, max_df=5
    ).collect()
    assert hits == []
    hits = incremental_lsh_dedup(
        index, new, "text", "doc_id", 0.5, max_df=10
    ).collect()
    assert {(r.new_id, r.index_id) for r in hits} == {
        (100, i) for i in range(5)
    }


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: identical docs share ALL fingerprints; a doc
    with one changed word still shares a long run → overlap high; short
    docs (<k words) yield none; a doc with exactly k words yields one."""
    from experts_etl_spark.llm.dedup import winnow_fingerprint_sets, winnow_pairs

    rows = DOCS + [(6, "one two three four")]          # exactly k=4 words
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprint_sets(df, "text", "doc_id")
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] == by_doc[2]                      # identical docs
    assert 5 not in by_doc                             # <k words → none
    assert len(by_doc[6]) == 1                         # k words, <w grams → 1
    pairs = {(r.id1, r.id2): r.overlap for r in
             winnow_pairs(df, "text", "doc_id", 0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs                             # near-dup recalled
    assert not any(4 in p for p in pairs)              # unrelated absent


def test_simhash_deterministic_and_blocks(spark):
    pairs = simhash_pairs(docs_df(spark), "text", "doc_id", max_hamming=10)
    got = {(r.id1, r.id2): r.hamming for r in pairs.collect()}
    assert got[(1, 2)] == 0          # identical text → identical simhash
    # determinism across invocations
    again = {
        (r.id1, r.id2): r.hamming
        for r in simhash_pairs(docs_df(spark), "text", "doc_id", 10).collect()
    }
    assert got == again


def test_lang_id_markers(spark):
    rows = [(1, "the cat is on the mat"), (2, "der hund ist nicht da"),
            (3, "xyzzy plugh")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.p for r in df.select("doc_id", lang_id(F.col("text")).alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_quality_score_bounded(spark):
    out = docs_df(spark).select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_brute_force_topk_self_similarity(spark):
    # Two identical vectors must be each other's top neighbor with cos 1.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.5]),
        (2, [1.0, 0.0, 0.0, 0.5]),
        (3, [-1.0, 0.2, 0.0, -0.5]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = brute_force_topk(df, df, "vec_id", "embedding", 1)
    got = {r.probe_id: (r.cand_id, r.cos) for r in out.collect()}
    assert got[1] == (2, 1.0) and got[2] == (1, 1.0)
    assert got[3][1] < 0


def test_multimodal_metadata_matches_hashlib(spark):
    assets = with_binary_payload(docs_df(spark), "text", "doc_id")
    meta = {r.doc_id: r for r in extract_metadata(assets).collect()}
    expect = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert meta[1].content_md5 == expect
    assert meta[1].n_bytes == len(DOCS[0][1].encode())
    assert meta[1].sniffed == "application/octet-stream"


def test_frame_sample_counts(spark):
    rows = [(1, "x" * 300)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assets = with_binary_payload(df, "text", "doc_id")
    r = frame_sample(assets, frame_size=64, every=4).collect()[0]
    # 300 bytes → frames at offsets 0,64,128,192,256 → every 4th → offsets 0,256
    assert r.n_frames == 2 and r.frame_bytes == 64 + 44


def test_fake_decode_features_shape(spark):
    assets = with_binary_payload(docs_df(spark), "text", "doc_id")
    out = fake_decode_features(assets).collect()
    assert all(len(r.features) == 4 for r in out)
    assert all(0.0 <= v <= 1.0 for r in out for v in r.features)


def test_decode_image_stub_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")


def test_max_df_cap_drops_stop_shingles_keeps_near_dups(spark):
    """Skew guard: a shingle present in every doc is dropped by the cap,
    shrinking the join input, while near-dup pairs (sharing RARE
    shingles) survive with their overlap intact."""
    from experts_etl_spark.llm.dedup import (
        doc_shingles,
        ngram_jaccard_pairs,
        winnow_pairs,
        with_max_df,
    )

    common = "lorem ipsum dolor"
    rows = [
        (1, f"{common} alpha beta gamma delta"),
        (2, f"{common} alpha beta gamma delta"),          # dup of 1
        (3, f"{common} epsilon zeta eta theta"),
        (4, f"{common} iota kappa lam mu"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = doc_shingles(df, "text", "doc_id")
    capped = with_max_df(sh, "shingle", 2)
    # the 'lorem ipsum dolor' shingle appears in all 4 docs → dropped
    assert capped.filter(F.col("shingle") == common).count() == 0
    assert sh.filter(F.col("shingle") == common).count() == 4
    # duplicate pair still found at full strength under the cap
    pairs = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(df, "text", "doc_id", 0.5, max_df=2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    wp = {
        (r.id1, r.id2)
        for r in winnow_pairs(df, "text", "doc_id", 0.5, max_df=2).collect()
    }
    assert (1, 2) in wp


def test_ivf2_recall_matches_flat_ivf_on_clustered(spark, tmp_path):
    """Two-level IVF trades n^1.5 assignment for n^1.25 with a bounded
    recall cost: identical to flat IVF on clustered vectors (the
    realistic corpus shape), and within a small margin on the
    adversarial uniform fixture."""
    from tools.gen_scaledata import generate

    from experts_etl_spark.llm.similarity import ivf2_topk, ivf_topk
    from experts_etl_spark.sources import read_table

    for mode, margin, floor in (("clustered", 0.001, 0.85), ("uniform", 0.15, 0.1)):
        d = str(tmp_path / mode)
        generate(d, docs=500, vecs=2000, seed=42, mode=mode)
        e = read_table(spark, d, "embeddings")
        probes = e.filter(F.col("vec_id") < 16)
        exact = brute_force_topk(e, probes, "vec_id", "embedding", 3).select(
            "probe_id", "cand_id"
        )
        n_exact = exact.count()

        def recall(df):
            return (
                exact.join(
                    df.select("probe_id", "cand_id"), ["probe_id", "cand_id"]
                ).count()
                / n_exact
            )

        r_flat = recall(ivf_topk(e, probes, "vec_id", "embedding", 3))
        r_two = recall(ivf2_topk(e, probes, "vec_id", "embedding", 3))
        assert r_two >= r_flat - margin, (mode, r_flat, r_two)
        assert r_two >= floor, (mode, r_two)


def test_auto_knob_rules_match_sql_formulas_exactly():
    """The self-scaling knob rules must be INTEGER-EXACT equal between
    Python (auto_srp_bits / auto_cent_mod) and the SQL the oracles
    embed (length(bin(n // occ)) / floor(sqrt(n))) for any corpus
    size — the entire self-scaled-oracle design rests on this
    equivalence.  Swept over five decades plus the classic float
    boundary neighborhoods (powers of two, perfect squares, +/-1)."""
    import duckdb

    from experts_etl_spark.llm.similarity import (
        auto_cent_mod,
        auto_srp_bits,
        auto_train_mod,
    )

    con = duckdb.connect()
    ns = set()
    for d in range(0, 13):
        for base in (10**d if d < 10 else 2**d, 2**d, int(1.5 * 2**d)):
            for off in (-1, 0, 1):
                n = base + off
                if n >= 0:
                    ns.add(n)
    for sq in (22, 316, 1000, 31623, 4096):
        for off in (-1, 0, 1):
            ns.add(sq * sq + off)
    for n in sorted(ns):
        sql_bits, sql_mod, sql_tmod = con.execute(
            f"SELECT least(greatest(length(bin({n} // 8)), 4), 16),"
            f" greatest(2, CAST(floor(sqrt({n})) AS BIGINT)),"
            f" greatest(1, {n} // (16 * greatest(2, CAST(floor(sqrt({n})) AS BIGINT))))"
        ).fetchone()
        assert auto_srp_bits(n) == sql_bits, n
        assert auto_cent_mod(n) == sql_mod, n
        assert auto_train_mod(n) == sql_tmod, n


def test_sampled_training_recall_matches_full_on_clustered(spark, tmp_path):
    """ann_topk_ivf2_refined trains its quantizer on the
    √n-proportional deterministic sample (auto_train_mod).  On the
    clustered fixture (the realistic corpus shape) sampled training
    must preserve the cluster structure: cell count unchanged (seeds
    are unioned into the sample, so no cell empties out) and search
    recall within a small margin of full-corpus training."""
    from tools.gen_scaledata import generate

    from experts_etl_spark.llm.similarity import (
        ivf2_topk,
        kmeans_refined_centroids,
    )
    from experts_etl_spark.sources import read_table

    d = str(tmp_path / "clustered")
    generate(d, docs=500, vecs=2000, seed=42, mode="clustered")
    e = read_table(spark, d, "embeddings")
    probes = e.filter(F.col("vec_id") < 16)
    full = kmeans_refined_centroids(e, "vec_id", "embedding", iters=2)
    sampled = kmeans_refined_centroids(
        e, "vec_id", "embedding", iters=2, train_mod="auto"
    )
    assert sampled.count() == full.count()
    exact = brute_force_topk(e, probes, "vec_id", "embedding", 3).select(
        "probe_id", "cand_id"
    )
    n_exact = exact.count()

    def recall(cents):
        got = ivf2_topk(
            e, probes, "vec_id", "embedding", 3, centroids=cents
        ).select("probe_id", "cand_id")
        return exact.join(got, ["probe_id", "cand_id"]).count() / n_exact

    r_full, r_sampled = recall(full), recall(sampled)
    assert r_sampled >= r_full - 0.05, (r_full, r_sampled)
    assert r_sampled >= 0.85, r_sampled


def test_ivf2_search_over_materialized_index_matches_composed(spark):
    """The r8 build/search split (ivf2_index + ivf2_search) must be a
    pure factoring of ivf2_topk: searching over an eagerly-materialized
    (localCheckpoint) index — exactly what tools/ann_split_timing.py
    times and what a standing deployment does between reindexes —
    returns the identical top-k as the composed one-shot query."""
    from experts_etl_spark.llm.similarity import (
        ivf2_index,
        ivf2_search,
        ivf2_topk,
        kmeans_refined_centroids,
    )
    from experts_etl_spark.sources import read_table

    e = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = e.filter(F.col("vec_id") < 16)
    cents = kmeans_refined_centroids(
        e, "vec_id", "embedding", iters=2, train_mod="auto"
    )
    composed = ivf2_topk(
        e, probes, "vec_id", "embedding", 3, centroids=cents
    ).collect()
    cells, assignment = ivf2_index(e, "vec_id", "embedding", centroids=cents)
    cells, assignment = cells.localCheckpoint(), assignment.localCheckpoint()
    split = ivf2_search(
        cells, assignment, probes, "vec_id", "embedding", 3
    ).collect()
    assert sorted(map(tuple, split)) == sorted(map(tuple, composed))
    assert len(split) > 0

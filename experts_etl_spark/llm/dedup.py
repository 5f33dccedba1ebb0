"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB): every pairwise comparison is blocked by a content
key — shingle for exact-Jaccard, LSH band for MinHash, bit-chunk for
SimHash — so the self-join shuffles on the block key and never goes
quadratic in the corpus.  Hash functions are md5-derived 60-bit ints
(`conv(substr(md5(..),1,15),16,10)`) so any engine reproduces them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from experts_etl_spark.llm.text import fingerprint, words

N_MINHASH = 16
# 16 hashes → 8 bands of 2 rows.  LSH threshold ≈ (1/b)^(1/r) = 0.35,
# sized for the 0.5-Jaccard verify cutoff: recall at J=0.5 is
# 1−(1−0.5²)⁸ ≈ 0.90 and ≈ 1.0 by J=0.7.  4×4 banding (threshold 0.71)
# silently drops half the true 0.5-level near-dups.
BAND_ROWS = 2

# Universal-hash family for MinHash: h_i(x) = (a_i·x + b_i) mod P over a
# single md5-derived base hash per shingle.  One md5 per shingle instead
# of N_MINHASH of them — the md5+hex→int conversion is ~50× the cost of
# the affine mix.  31-bit prime keeps a·x inside int64 in any engine.
P31 = (1 << 31) - 1
MINHASH_A = [((i + 1) * 2654435761) % P31 for i in range(N_MINHASH)]
MINHASH_B = [((i + 1) * 40503) % P31 for i in range(N_MINHASH)]

# Production band-key frequency cap for the LSH miners (r13 verdict
# next #1).  The r13 diagnosis (tools/cc_leg_diagnosis.py, SCALE.md
# §Round-13) measured that on a band-entropy-limited corpus at 81×,
# 94.7% of banded candidate volume came from band keys matched by >100
# documents (hottest single key: 1,703 docs → 1.45M pairs), carried by
# the verify stage as an ~n^1.5 term.  A band key shared by hundreds of
# documents is a degenerate blocking key (its within-key pair fan-out
# is quadratic and AQE cannot split an m×m pair blowup), and the docs
# it would pair are overwhelmingly ALSO paired by their other, rarer
# bands — the same argument as the Jaccard miners' shingle cap
# (:func:`with_max_df`, on since r6 with the same constant).  The
# recall price is measured, not assumed: ``dedup_lsh_recall`` /
# ``dedup_lsh_recall_sampled`` run THE capped production candidate
# path against the exact Jaccard truth set on every driver round.
LSH_MAX_DF = 100


def hex60(col: Column) -> Column:
    """First 15 hex digits of md5 as a positive 60-bit bigint —
    engine-portable hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of lowercased text; empty array when the
    document has fewer than n words."""
    w = words(text)
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(sh)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by normalized-content hash: one row per distinct
    fingerprint with the lowest id as keeper and the copy count."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


def doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs — the blocked join key for Jaccard
    and the input to MinHash.

    Set-based formulation: posexplode the words, then ``lead()`` over
    (doc, position) assembles each n-gram — one window, whole-stage
    codegen throughout.  The array/HOF formulation (:func:`shingles`)
    looks natural but Catalyst's projection collapse inlines the word
    split into every ``element_at`` reference, re-running the split per
    shingle position — quadratic per document.  Keep the column version
    for small per-row uses; route corpus-scale paths through here."""
    from pyspark.sql import Window

    wdf = df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "w")
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, n)]
    sh = wdf.select(
        F.col(id_col),
        F.concat_ws(" ", *parts).alias("shingle"),
        parts[-1].alias("_tail"),
    )
    return sh.filter(F.col("_tail").isNotNull()).drop("_tail").distinct()


def with_max_df(
    block: DataFrame,
    key_col: str,
    max_df: int | None,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Frequency cap for blocked self-joins: drop block keys appearing in
    more than ``max_df`` documents.

    At corpus scale a handful of stop-shingles ("of the and") hit
    millions of documents; the self-join on such a key is quadratic IN
    THAT KEY and AQE skew splitting cannot help (it splits partitions,
    not the m×m pair blowup).  Capping document frequency drops only
    keys that are useless for similarity anyway (present everywhere ⇒
    no discriminating power); the winnowing/LSH guarantees degrade
    gracefully and high-similarity pairs still share many rare keys.
    ``None`` = exact (no cap).

    Implementation: aggregate the over-cap keys (map-side partial
    combine, so the hot key never concentrates its raw rows in one
    task) and broadcast anti-join them away.  The obvious
    ``count() over (partition by key)`` window would first hash-shuffle
    EVERY row of the hot key into a single partition and sort it —
    materializing exactly the skew the cap exists to remove.  The
    over-cap key set is tiny by construction (stop-shingles), hence
    always broadcastable.

    Bound on the broadcast side: at most ``total_block_rows / max_df``
    keys can exceed the cap, so the forced broadcast is safe whenever
    ``max_df ≳ corpus_rows / 10M`` (keeps the hot set under ~10M keys;
    Spark's broadcast exchange additionally hard-fails, rather than
    silently OOMs, past its own size limit).  Callers that cannot
    guarantee that bound (tiny ``max_df`` on a huge corpus) should pass
    ``broadcast_hot=False`` to use a shuffle anti-join instead — AQE
    still converts it to a broadcast at runtime if the measured hot set
    is small, so the flag only removes the forced hint.

    Null keys: rows whose ``key_col`` is null pass through unfiltered
    regardless of frequency (a null key never matches a join condition,
    and null is excluded from the hot set explicitly).  All current
    callers produce non-null keys by construction."""
    if max_df is None:
        return block
    hot = (
        block.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(key_col)
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    return block.join(hot, key_col, "left_anti")


def _checked_shingles(shingles: DataFrame, id_col: str) -> DataFrame:
    """A caller-passed :func:`doc_shingles` frame, after checking it has
    the ``(id_col, shingle)`` columns the miners read."""
    missing = [c for c in (id_col, "shingle") if c not in shingles.columns]
    if missing:
        raise ValueError(
            f"shingles frame lacks column(s) {missing}: expected the "
            f"doc_shingles output ({id_col!r}, 'shingle'), got "
            f"{shingles.columns}"
        )
    return shingles


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle-blocked self-join.

    |A∩B| comes from the join; |A∪B| = |A|+|B|−|A∩B|.  All integer
    arithmetic until the final division (deterministic double).
    ``max_df`` enables the scale-safe approximation (see
    :func:`with_max_df`) — intersections are then computed over
    sub-``max_df``-frequency shingles only, so set sizes use the same
    capped universe to keep the Jaccard ratio consistent.
    """
    # Materialized once: three plan sites (set sizes + both join sides)
    # would otherwise each re-explode the corpus.
    sh = with_max_df(
        doc_shingles(df, text_col, id_col), "shingle", max_df
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    jac = (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id1", "id2", "jaccard")


def ngram_jaccard_pairs_prefix(
    df: DataFrame, text_col: str, id_col: str, threshold: float,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (≥ ``threshold``) via prefix filtering
    — the AllPairs/PPJoin candidate rule (Bayardo et al. WWW'07; Xiao et
    al. WWW'08), the scale path that replaces both the naive
    shingle-blocked join and the lossy ``max_df`` cap.

    Rule: order every shingle by global rarity (ascending document
    frequency, shingle text as tie-break).  For Jaccard(A,B) ≥ t the
    overlap satisfies |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, so — by the prefix
    lemma under any single global order — A and B must share a shingle
    inside BOTH prefixes of length |X| − ⌈t·|X|⌉ + 1.  Blocking the
    self-join on prefix shingles only is therefore LOSSLESS (recall
    1.0), yet the blocks are built from each document's *rarest*
    shingles: the stop-shingles that made the naive join's Σdf² cost
    superlinear (measured exp 1.2 even with max_df=100 — SCALE_FIT
    round 7) never enter the join unless a document consists of nothing
    else.  Candidates are then verified exactly with one
    ``array_intersect`` over the full shingle sets — JVM-side, no UDF.

    Scale shape: every stage is a keyed linear pass (df count on
    shingle, one window on doc, candidate join on rare-shingle blocks,
    two hash joins on doc id).  No broadcast of anything
    corpus-proportional; skewed prefix blocks split under AQE.

    ``shingles`` lets a caller that ALREADY materialized this corpus's
    ``doc_shingles`` pass (e.g. the recall audits, which also feed it
    to the signature builder) share the one explode+window+distinct
    scan instead of re-paying it (guide §1.2 / §2.4).
    """
    from pyspark.sql import Window

    sh = (
        _checked_shingles(shingles, id_col)
        if shingles is not None
        else doc_shingles(df, text_col, id_col).localCheckpoint(eager=False)
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    win = Window.partitionBy(id_col).orderBy("df", "shingle")
    ranked = sh.join(dfreq, "shingle").select(
        F.col(id_col),
        F.col("shingle"),
        F.row_number().over(win).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n_sh"),
    )
    # ceil guard: t·n that is mathematically an integer can round UP in
    # binary (0.55·20 → 11.000000000000002 → ceil 12), shortening the
    # prefix by one and breaking losslessness for pairs at exactly t.
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n_sh")
        - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
        + 1
    ).select(id_col, "shingle")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )
    sets_ = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("shs"))
    s1 = sets_.select(F.col(id_col).alias("id1"), F.col("shs").alias("sh1"))
    s2 = sets_.select(F.col(id_col).alias("id2"), F.col("shs").alias("sh2"))
    verified = (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("n_inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("sh1") + F.size("sh2") - F.col("n_inter")).cast("double"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id1", "id2", "jaccard"
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = N_MINHASH
) -> DataFrame:
    """MinHash signature: per doc, min over shingles of
    h_i(x) = (a_i·x + b_i) mod P, x = md5-low-60-bits(shingle) mod P.
    One exploded aggregation, one md5 per shingle, no UDF."""
    sh = doc_shingles(df, text_col, id_col)
    shx = sh.select(F.col(id_col), (hex60(F.col("shingle")) % P31).alias("x"))
    aggs = [
        F.min((F.col("x") * MINHASH_A[i] + MINHASH_B[i]) % P31).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return shx.groupBy(id_col).agg(*aggs)


def band_stack(
    signatures: DataFrame, id_col: str, band_rows: int = BAND_ROWS
) -> DataFrame:
    """Explode a signature table into (id, band_idx, band_key) rows.
    One exploded array of structs, NOT a union of n_bands projections: a
    union references the signature subtree once per band and a self-join
    doubles that — 2·n_bands copies of the aggregation in one plan.
    Explode keeps it at one per join side."""
    h_cols = [c for c in signatures.columns if c.startswith("h")]
    n_bands = len(h_cols) // band_rows
    band_structs = []
    for bi in range(n_bands):
        chunk = h_cols[bi * band_rows : (bi + 1) * band_rows]
        band_structs.append(
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.md5(
                    F.concat_ws(",", *[F.col(c).cast("string") for c in chunk])
                ).alias("band_key"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_b")
    ).select(id_col, "_b.band_idx", "_b.band_key")


def lsh_candidates(
    signatures: DataFrame, id_col: str, band_rows: int = BAND_ROWS,
    max_df: int | None = None,
) -> DataFrame:
    """LSH banding: concat each band of the signature into a key; docs
    sharing any (band_idx, band_key) are candidates.  The self-join is
    blocked on the band key — the only shuffle that scales with corpus
    size."""
    stacked = with_max_df(
        band_stack(signatures, id_col, band_rows), "band_key", max_df
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame | None, text_col: str, id_col: str, threshold: float,
    signatures: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash→LSH→verify: candidates from banding, then exact Jaccard
    scored on the CANDIDATE PAIRS ONLY — two hash joins on doc id plus an
    ``array_intersect`` of the two shingle sets.  Cost is linear in the
    candidate count; the full shingle-blocked self-join
    (:func:`ngram_jaccard_pairs`) is the exact-but-quadratic-ish baseline
    LSH exists to avoid.  Pass ``signatures`` (a
    :func:`signature_shingle_sets` output) to skip the aggregation —
    the signature-store path; ``df`` may be ``None`` then.

    ``max_df`` caps degenerate band keys out of the candidate join
    (:func:`with_max_df`; production value :data:`LSH_MAX_DF`) — the
    within-key pair fan-out is quadratic, and the r13 diagnosis
    measured hot keys carrying ~95% of candidate volume at 81× while
    contributing almost no unique true pairs.  ``None`` keeps the
    textbook uncapped banding (the ``dedup_minhash_lsh`` baseline)."""
    if signatures is not None:
        sigsets = signatures
    elif df is None:
        raise ValueError("provide df or signatures")
    else:
        sigsets = signature_shingle_sets(df, text_col, id_col)
    cands = lsh_candidates(sigsets.drop("sh"), id_col, max_df=max_df)
    a = sigsets.select(F.col(id_col).alias("id1"), F.col("sh").alias("sh1"))
    b = sigsets.select(F.col(id_col).alias("id2"), F.col("sh").alias("sh2"))
    scored = (
        cands.join(a, "id1")
        .join(b, "id2")
        .withColumn("n_inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("sh1") + F.size("sh2") - F.col("n_inter")).cast("double"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id1", "id2", "jaccard"
    )


# --- Winnowing fingerprints (rolling k-gram hash + window minima) ---------

def winnow_fingerprint_sets(
    df: DataFrame, text_col: str, id_col: str, k: int = 4, w: int = 3
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-word gram, slide a window of w gram hashes,
    keep each window's minimum — the distinct minima are the
    fingerprint set.  Guarantees any shared run of k+w−1 words produces
    at least one shared fingerprint.

    Set-based plan: posexplode words → ``lead()`` assembles grams →
    ``min() over rowsBetween(0, w−1)`` takes window minima — three
    window passes over ONE ``partitionBy(doc)`` shuffle, whole-stage
    codegen throughout (same rationale as :func:`doc_shingles`: the
    array/HOF formulation re-runs the split per position).  Docs with
    fewer than k words yield no grams hence no fingerprints; docs with
    fewer than w grams yield one fingerprint (min of all grams).
    """
    from pyspark.sql import Window

    wdf = df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "w")
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, k)]
    grams = wdf.select(
        F.col(id_col),
        F.col("pos"),
        F.md5(F.concat_ws(" ", *parts)).alias("h"),
        parts[-1].alias("_tail"),
    ).filter(F.col("_tail").isNotNull())
    gwin = Window.partitionBy(id_col).orderBy("pos")
    fps = grams.select(
        F.col(id_col),
        F.min("h").over(gwin.rowsBetween(0, w - 1)).alias("fp"),
        F.row_number().over(gwin).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("_ng"),
    ).filter(F.col("_rn") <= F.greatest(F.col("_ng") - (w - 1), F.lit(1)))
    # Dedup + set size WITHOUT leaving the doc partitioning: sort by fp
    # inside the doc partition, drop adjacent repeats via lag, count the
    # survivors with an unbounded window — a `.distinct()` + groupBy-size
    # formulation would add two more exchanges and two more corpus scans
    # to the pair join below.
    fpwin = Window.partitionBy(id_col).orderBy("fp")
    uniq = fps.withColumn("_prev", F.lag("fp").over(fpwin)).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("fp"))
    )
    return uniq.select(
        F.col(id_col),
        F.col("fp"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n_fp"),
    )


def winnow_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float,
    k: int = 4, w: int = 3, max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap coefficient
    |F1∩F2| / min(|F1|,|F2|) ≥ threshold.  The self-join is blocked on
    the fingerprint (shuffle key = fp) — winnowing keeps ~1/w of the
    gram hashes, so this moves w× less data than the full shingle join.
    ``max_df`` drops fingerprints shared by more than that many docs
    (stop-shingle skew guard, :func:`with_max_df`); n_fp set sizes are
    computed BEFORE the cap so overlap stays a true lower bound."""
    fps = winnow_fingerprint_sets(df, text_col, id_col, k, w)
    # Materialize the fingerprint pass once: it feeds both join sides
    # (plus the max_df frequency scan), and Catalyst recomputes the
    # 3-window corpus pass per plan site otherwise.  Same rationale as
    # the signature checkpoint in :func:`minhash_lsh_dedup`.
    fps = with_max_df(fps, "fp", max_df).localCheckpoint(eager=False)
    a, b = fps.alias("a"), fps.alias("b")
    inter = (
        a.join(b, on="fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            # n_fp is constant per doc — min() just carries it through
            F.min("a.n_fp").alias("n1"),
            F.min("b.n_fp").alias("n2"),
        )
    )
    return (
        inter.withColumn(
            "overlap",
            F.col("n_shared").cast("double")
            / F.least("n1", "n2").cast("double"),
        )
        .filter(F.col("overlap") >= threshold)
        .select("id1", "id2", F.col("n_shared").cast("int").alias("n_shared"), "overlap")
    )


# --- SimHash (fully native: no Python stage in the corpus path) ----------

def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash as pure column expressions: explode whitespace
    tokens, take each token's md5 first-64-bits (as two 32-bit halves —
    a single 64-bit ``conv`` would overflow signed bigint), then one
    grouped aggregation computes all 64 per-bit sign sums; a bit is set
    when its positive count wins (2·sum > n).  Bit 63 recomposes via
    ``shiftleft``'s two's-complement wrap, so the signature lands in a
    signed bigint identically in any engine.

    One explode + one shuffle (groupBy id), everything whole-stage
    codegen — the per-token/per-bit Python loop this replaces was the
    only UDF in the dedup corpus path."""
    tok = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
    h = F.md5(F.col("tok"))
    halves = tok.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for b in range(64):
        src, sh = ("lo", b) if b < 32 else ("hi", b - 32)
        aggs.append(
            F.sum(
                F.shiftrightunsigned(F.col(src), sh).bitwiseAND(F.lit(1))
            ).alias(f"s{b}")
        )
    agg = halves.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(64):
        bit = F.when(
            2 * F.col(f"s{b}") > F.col("_n"),
            F.shiftleft(F.lit(1).cast("bigint"), b),
        ).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select(F.col(id_col), sig.alias("sig"))


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit chunks (two docs within
    hamming distance 3 of 64 bits share at least one of 4 chunks —
    pigeonhole), verify hamming via bit_count(xor)."""
    # Materialized once for the two join sides (same rationale as the
    # signature checkpoint in :func:`minhash_lsh_dedup`).
    sig = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=False)
    # Explode (chunk_idx, chunk_key) structs instead of unioning 4
    # projections — a union would reference the signature aggregation
    # once per chunk per join side (8 copies in one plan).
    chunk_structs = [
        F.struct(
            F.lit(ci).alias("chunk_idx"),
            F.shiftrightunsigned(F.col("sig"), ci * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("chunk_key"),
        )
        for ci in range(4)
    ]
    chunks = sig.select(
        F.col(id_col), F.col("sig"), F.explode(F.array(*chunk_structs)).alias("_c")
    ).select(id_col, "sig", "_c.chunk_idx", "_c.chunk_key")
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(b, on=["chunk_idx", "chunk_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def signature_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = N_MINHASH,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """One aggregation pass producing the MinHash signature (for
    banding) AND the shingle set (for exact verify) per document — the
    stored-signature-table shape a production pipeline persists at
    ingest.  Lazily checkpointed: it feeds banding and both verify
    sides, and Catalyst does not share the subtree across differing
    broadcast exchanges.  ``shingles`` shares an already-materialized
    ``doc_shingles`` pass (see :func:`ngram_jaccard_pairs_prefix`)."""
    sh = (
        _checked_shingles(shingles, id_col)
        if shingles is not None
        else doc_shingles(df, text_col, id_col)
    )
    shx = sh.withColumn("x", hex60(F.col("shingle")) % P31)
    aggs = [
        F.min((F.col("x") * MINHASH_A[i] + MINHASH_B[i]) % P31).alias(f"h{i}")
        for i in range(n_hashes)
    ] + [F.collect_set("shingle").alias("sh")]
    return shx.groupBy(id_col).agg(*aggs).localCheckpoint(eager=False)


def incremental_lsh_dedup(
    index_df: DataFrame | None,
    new_df: DataFrame | None,
    text_col: str,
    id_col: str,
    threshold: float,
    index_signatures: DataFrame | None = None,
    new_signatures: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric MinHash-LSH: match a NEW ingest batch against an
    existing INDEX corpus — the daily 100 TB pattern (dedupe today's
    crawl against everything already kept) where re-running the full
    self-join would re-pay the whole corpus every day.

    ``max_df`` caps degenerate band keys (same rationale and constant
    as :func:`minhash_lsh_dedup`); document frequency is counted over
    the UNION of both sides' band rows — the exact frequency the
    symmetric miner would see on index ∪ new, so a corpus-hot key is
    dropped even when each side alone sits under the cap, and the
    capped asymmetric join equals the new-vs-index slice of the capped
    self-join (the ``dedup_incremental_ingest`` oracle's formulation).

    Pass ``index_signatures`` — a persisted
    :func:`signature_shingle_sets` output (id, h0..h{n-1}, sh) — to skip
    the index-side aggregation entirely; this is the signature-store
    path that makes the per-batch cost genuinely track |new| + the
    matched-band volume.  Without it the index signatures are derived
    from ``index_df`` on each call, which re-pays an |index|-sized
    aggregation per ingest (correct, but only sensible for one-off
    runs).  ``new_signatures`` symmetrically skips the batch-side
    aggregation when the caller already built it (e.g. to also mine
    in-batch pairs from the same table).  Each ``*_df`` may be ``None``
    when its signatures are supplied.

    Shape: ONLY the index signature table's band-key-matched slice joins
    the new batch's bands — never |index|².  Verify is exact Jaccard on
    candidate pairs only, same as :func:`minhash_lsh_dedup`.  Returns
    (new_id, index_id, jaccard) for pairs at or above ``threshold`` —
    the new documents to reject."""
    if index_signatures is not None:
        missing = {id_col, "sh"} - set(index_signatures.columns)
        if missing:
            raise ValueError(
                f"index_signatures lacks columns {sorted(missing)}; expected "
                f"the signature_shingle_sets layout"
            )
        sig_i = index_signatures
    elif index_df is None:
        raise ValueError("provide index_df or index_signatures")
    else:
        sig_i = signature_shingle_sets(index_df, text_col, id_col)
    if new_signatures is not None:
        sig_n = new_signatures
    elif new_df is None:
        raise ValueError("provide new_df or new_signatures")
    else:
        sig_n = signature_shingle_sets(new_df, text_col, id_col)
    bands_i = band_stack(sig_i.drop("sh"), id_col)
    bands_n = band_stack(sig_n.drop("sh"), id_col)
    if max_df is not None:
        # hot set from the UNION (docstring): tiny by construction
        # (≤ total_band_rows / max_df keys), so the broadcast anti-join
        # is the same bounded shape as with_max_df's
        hot = (
            bands_i.select("band_key")
            .unionByName(bands_n.select("band_key"))
            .groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("band_key")
        )
        hot = F.broadcast(hot)
        bands_i = bands_i.join(hot, "band_key", "left_anti")
        bands_n = bands_n.join(hot, "band_key", "left_anti")
    cands = (
        bands_n.alias("n")
        .join(bands_i.alias("i"), on=["band_idx", "band_key"])
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"i.{id_col}").alias("index_id"),
        )
        .distinct()
    )
    a = sig_n.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh1"))
    b = sig_i.select(F.col(id_col).alias("index_id"), F.col("sh").alias("sh2"))
    scored = (
        cands.join(a, "new_id")
        .join(b, "index_id")
        .withColumn("n_inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("sh1") + F.size("sh2") - F.col("n_inter")).cast("double"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "new_id", "index_id", "jaccard"
    )

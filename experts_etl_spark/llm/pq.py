"""Product quantization (PQ) for embedding compression + ADC search.

The canonical billion-scale ANN memory story (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", IEEE TPAMI 2011;
the FAISS IVFADC design): split each d-dim vector into ``m`` aligned
subvectors, learn a small k-means codebook per subspace, and store each
vector as ``m`` small integer codes plus one exact scalar norm — at
d=768 float32 that is 3 KB → ~m+8 bytes per vector, the difference
between an index that fits executor memory at 100 TB and one that does
not.  Search is asymmetric distance computation (ADC): per probe, one
tiny lookup table of subspace dot products against every codeword, and
each candidate's approximate score is the sum of ``m`` table entries —
no full-dimension arithmetic against the corpus at all.

Cross-engine exactness (the repo-wide contract, llm/similarity.py):
everything runs on the integer grid.  Subvectors are quantized-integer
doubles; codebook training is Lloyd with **L2 assignment** expressed as
``argmin(||c||² − 2·x·c)`` (the ``||x||²`` term is constant per x) —
sums of exact integer products — and the centroid update is elementwise
``floor(sum/count)``, so a DuckDB oracle reproduces training, encoding,
and the ADC scores bit-for-bit.  Ties break toward the smaller code id
everywhere.  The only IEEE ops are the final cosine divisions, defined
identically in both engines.

Scale design:
- codebooks are BOUNDED-SIZE (m·k rows; k = :func:`auto_pq_k`, capped
  at the FAISS 8-bit 256 — a bit-budget knob that does not grow
  unbounded with the corpus), so training and encoding cost a bounded
  m·k subspace dots per vector: exactly linear past the cap.
- training/encoding never shuffles the corpus: codebooks broadcast to
  the corpus map-side; the only shuffles are the per-(subspace, code)
  mean aggregations over m·n skinny rows.
- the IVFADC coarse assignment goes through the two-level hierarchy
  (similarity.ivf2_index, n^1.25), not the flat n·√n scan.
- ADC joins the code table (m small ints per vector) against a
  broadcast LUT (probes × m × k rows) and sums — the per-candidate work
  is m lookups instead of a d-dim dot product, and the shuffled rows
  carry codes, not vectors.
- the exact-refine pass touches full vectors only for the top
  ``refine_mult·k`` candidates per probe (IVFADC's re-rank stage).

Relation to the rest of the ANN family: brute force is the exactness
baseline, SRP buckets and IVF/IVF² bound the *candidate set*; PQ bounds
the *bytes per candidate*.  In production the two compose (IVF cells ×
PQ codes within each cell); the gated queries pin each mechanism
separately so a failure localizes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from experts_etl_spark.llm.similarity import (
    cosine,
    dot,
    ivf2_index,
    with_quantized,
)

# Legacy fixed per-subspace codebook size (FAISS uses 256; 64 keeps the
# gate corpora meaningful).  Kept for pinned external contracts; the
# production default is now :func:`auto_pq_k` (r10 verdict next #6).
PQ_K = 64


def auto_pq_k(n_rows: int, per_code: int = 16, lo: int = 16, hi: int = 256) -> int:
    """Self-scaling per-subspace codebook size (the PQ WRITE twin of
    :func:`auto_nprobe`): the largest power of two keeping ≥
    ``per_code`` training vectors per codeword, clamped to
    [16, 256] — 256 is the FAISS standard (8-bit codes), the hard cap
    that keeps train/encode cost a CONSTANT m·k dots per vector (k is a
    bit-budget knob and must not grow unbounded with the corpus:
    k ≈ √n measured exp 1.25 / 60× cost at 27× data, SCALE.md round-8).
    Below the cap, k grows with the corpus because a tiny codebook
    under-spends the bit budget a larger corpus can afford to fill
    (more codewords = finer cells = lower reconstruction error at the
    same per-vector byte cost once k ≤ 256).  Integer-exact — power of
    two via bit_length — so a SQL oracle reproduces it bit-for-bit:
    ``least(greatest(CAST(2 ** (length(bin(count(*) // 16)) - 1) AS
    BIGINT), 16), 256)`` (DuckDB ``length(bin(0)) = 1`` matches
    ``max(bit_length - 1, 0) = 0``)."""
    return min(max(1 << max((n_rows // per_code).bit_length() - 1, 0), lo), hi)


def auto_pq_m(dim: int, sub_target: int = 16, lo: int = 2, hi: int = 16) -> int:
    """Self-scaling subvector count for a ``dim``-dim corpus: the
    largest power of two ≤ dim/``sub_target`` that DIVIDES dim, clamped
    to [2, 16] — i.e. target ~16 dims per subspace (the FAISS-typical
    dsub), subject to the hard layout requirement dim % m == 0
    (:func:`_subvectors` raises otherwise).  d=64 → 4, d=128 → 8,
    d=384 → 16, d=768 → 16; an odd dim degenerates to m=1 (no split).
    Integer-exact: power-of-two floor via bit_length, divisibility via
    ``dim & (-dim)`` (the largest power of two dividing dim), so a SQL
    oracle derives the SAME m from ``len(q)``:
    ``least(least(CAST(2 ** (length(bin(d // 16)) - 1) AS BIGINT),
    d & (-d)), 16)`` then lifted to ≥2 when that still divides d."""
    pow2 = 1 << max((dim // sub_target).bit_length() - 1, 0)
    m0 = min(pow2, dim & (-dim), hi)
    mg = max(m0, lo)
    return mg if dim % mg == 0 else m0


def auto_code_mod(n_rows: int, k: int | None = None) -> int:
    """Seed stride for a ``k``-codeword-per-subspace codebook:
    ``max(2, n // k)``; ``k=None`` self-scales via :func:`auto_pq_k`.
    Integer-exact SQL twin: ``greatest(2, count(*) // k)``."""
    if k is None:
        k = auto_pq_k(n_rows)
    return max(2, n_rows // k)


def auto_pq_train_mod(n_rows: int, per_code: int = 16) -> int:
    """Training-sample stride for the PQ Lloyd loop: keep
    ~``per_code`` training vectors per codeword (k = :func:`auto_pq_k`)
    — the PQ twin of :func:`~experts_etl_spark.llm.similarity.auto_train_mod`.
    Since k caps at 256, the sample caps at ~4096 vectors regardless of
    corpus size, so sampled training is O(sample) = O(1) in the corpus
    while the per-codeword training density stays exactly the
    :func:`auto_pq_k` design point (16·k vectors → auto_pq_k(16·k) = k:
    the rule is self-consistent under its own sampling).  Integer-exact:
    ``max(1, n // (per_code · auto_pq_k(n)))``."""
    return max(1, n_rows // (per_code * auto_pq_k(n_rows)))


def _resolve_m(emb: DataFrame, vec_col: str, m: int | None) -> int:
    """``m=None`` self-scales from the corpus dimension — one
    single-row head read (the dimension is constant per corpus), the
    write-knob analogue of the one column-pruned ``count()`` the read
    knobs pay."""
    if m is not None:
        return m
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError(
            "cannot self-scale m from an EMPTY embedding frame — an "
            "all-rejected batch has no dimension to read; callers must "
            "skip the encode (streaming/tick.py does) or pass m"
        )
    return auto_pq_m(int(row["d"]))


def auto_nprobe(nlist: int, lo: int = 2, hi: int = 32) -> int:
    """Self-scaling probe count for IVF-style search (r9 verdict
    missing #3): ``clamp(bit_length(nlist), 2, 32)`` — probe a
    LOGARITHMIC number of the ~√n cells.

    Why log and not a fixed count or a fixed fraction: with nlist ≈ √n
    a FIXED nprobe probes a vanishing fraction of cells as the corpus
    grows (the measured uniform-data recall decay: 0.427 → 0.292
    sf0.01 → sf0.1 at nprobe=2), while a fixed FRACTION costs
    nprobe·n/nlist ∝ n — the brute-force regression.  bit_length
    splits the difference: per-probe candidate volume stays
    Õ(√n·log n) and the knob lands where the r9 sweep measured the
    knee (sf0.1 uniform, 2,000 vectors → 46 cells: nprobe 2→8 doubled
    id-recall 0.125→0.250; the rule gives 6 there, measured
    0.219/0.838 — PQ_KNOB_SWEEP.json.  Clustered fixtures are nprobe-insensitive
    past 2 — effective recall 0.998+ everywhere — so the log growth
    buys the uniform worst case without taxing the realistic one).
    Integer-exact SQL twin over the cells CTE:
    ``least(greatest(length(bin(count(*))), 2), 32)``."""
    return min(max(nlist.bit_length(), lo), hi)


def auto_refine_mult(n_rows: int, k: int, lo: int = 4, hi: int = 64) -> int:
    """Self-scaling exact-re-rank shortlist width:
    ``clamp(isqrt(n) // k, 4, 64)`` — the shortlist
    (``refine_mult·k`` ids per probe) tracks √n.

    Why √n: the ADC stage hands the re-rank nprobe·n/nlist ≈ Õ(√n)
    candidates per probe, and quantization rank-inversions scale with
    that candidate density, so a FIXED shortlist re-ranks a vanishing
    fraction of what ADC scored (the measured flat-ADC decay
    0.427 → 0.292 at refine_mult=4) while √n keeps the re-rank the
    same ORDER of work as the scan that feeds it — a balanced
    pipeline whose cost is still probe-side only.  The rule lands on
    the r9 sweep's knee: at sf0.1 uniform (2,000 vectors),
    refine_mult 4→16 lifted flat-ADC recall 0.292→0.552; the rule
    gives 14 there, measured 0.531/0.947 — within 4% of the 16-point
    at 7/8 of its shortlist (PQ_KNOB_SWEEP.json).
    Integer-exact SQL twin over the corpus:
    ``least(greatest(CAST(floor(sqrt(count(*))) AS BIGINT) // k, 4),
    64)``."""
    return min(max(math.isqrt(n_rows) // max(k, 1), lo), hi)


def _subvectors(
    n: DataFrame, m: int, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, q, …) → (vec_id, sub_id, sq): m aligned subvector rows
    per vector, dimension-generic (sub-dim = size(q) div m).  A single
    generated-column explode — no Python loop, no per-subspace scan.
    ``extra`` names per-VECTOR columns of ``n`` (cell id, norm) to
    replicate onto each subvector row so downstream consumers can
    carry them through the assignment aggregation instead of paying a
    corpus-sized re-join (guide §2.4: remove shuffles outright).

    FAISS-style requirement: the vector dimension must divide evenly
    by ``m`` — ``size(q) div m`` would otherwise silently drop the
    trailing ``size(q) mod m`` dimensions from every vector.  The
    guard lives INSIDE the consumed ``sq`` expression (``raise_error``
    branch) so column pruning cannot optimize it away; the executor
    task fails fast on the first offending vector."""
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), j -> struct("
        f"  j AS sub_id,"
        f"  if(size(q) % {m} = 0,"
        f"     slice(q, 1 + j * (size(q) div {m}), size(q) div {m}),"
        f"     raise_error(concat('PQ requires vector dim divisible by"
        f" m={m}; got dim=', cast(size(q) AS string)))) AS sq))"
    )
    return n.select("vec_id", *extra, F.explode(slices).alias("s")).select(
        "vec_id", F.col("s.sub_id").cast("int").alias("sub_id"), "s.sq",
        *extra,
    )


def _assign_codes(
    subs: DataFrame, codebooks: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """L2 argmin assignment of every subvector to its codeword:
    min(||c||² − 2·x·c), ties to the smaller code_id.  Codebooks
    broadcast (m·k rows); min_by keeps the aggregation map-side.

    ``carry`` names columns of ``subs`` that are CONSTANT per
    (vec_id, sub_id) group — the subvector itself, the vector's cell
    id or norm — to ride the min_by struct through the aggregation.
    Every carried column removes a whole corpus-sized shuffle join
    the caller would otherwise pay to re-attach it (the r14 plan
    audit: one join-back per Lloyd iteration plus two on the IVFADC
    index build — guide §2.4)."""
    scored = subs.join(F.broadcast(codebooks), "sub_id").withColumn(
        "l2", F.col("cn2") - 2.0 * dot(F.col("sq"), F.col("cq"))
    )
    if not carry:
        return (
            scored.groupBy("vec_id", "sub_id")
            .agg(
                F.min_by(
                    F.col("code_id"), F.struct(F.col("l2"), F.col("code_id"))
                ).alias("code_id")
            )
        )
    return (
        scored.groupBy("vec_id", "sub_id")
        .agg(
            F.min_by(
                F.struct("code_id", *carry),
                F.struct(F.col("l2"), F.col("code_id")),
            ).alias("_w")
        )
        .select(
            "vec_id", "sub_id", F.col("_w.code_id").alias("code_id"),
            *[F.col(f"_w.{c}").alias(c) for c in carry],
        )
    )


def pq_train(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int | None = None,
    code_mod: int | None = None,
    iters: int = 2,
    train_mod: int | str | None = None,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks; returns (subvector corpus,
    codebooks (sub_id, code_id, cq, cn2)).

    ``n_rows`` lets a caller that already counted the corpus share the
    scalar instead of re-paying the count action (the knob derivation
    is unchanged — same count, computed once per query: guide §1.2,
    don't compute things twice).  It MUST equal ``emb.count()``: it is
    trusted, not checked, and a stale or partial count derives a
    different ``code_mod``/``train_mod`` (different books) and skews
    the sparse-id fallback check below.

    Seeds: the subvectors of every ``code_mod``-th vector (k ≈
    n/code_mod codewords per subspace; ``None`` self-scales to
    :func:`auto_code_mod` — a FIXED k ≈ :data:`PQ_K` codebook, the
    FAISS rule: k is a bit-budget knob, so training and encoding cost
    a constant m·k subspace dots per vector and stay exactly linear in
    the corpus).  ``iters`` deterministic Lloyd rounds over ALL m
    subspaces at once — sub_id is just another grouping key, so the m
    trainings ride one distributed job per round instead of m
    sequential ones.  Centroid update floors onto the integer grid
    (exact SQL twin, same as similarity._kmeans_train).  Duplicate
    seeds lose all members to the lower code_id on the first
    assignment and drop out; both engines agree.

    ``train_mod`` samples the Lloyd TRAINING set at a vec_id stride,
    the ``similarity._kmeans_train`` pattern: ``"auto"`` derives
    :func:`auto_pq_train_mod` (~16·k training vectors — bounded at
    ~4096 by the k=256 cap, so training is O(1) in the corpus — the
    rebuild loop's choice); ``None``/``"full"`` (the DEFAULT) trains
    on the full corpus.  Unlike the IVF quantizer (k ≈ √n → n·√n
    full-training cost, where self-selection matters), PQ's k caps at
    256, so full training is already LINEAR — sampling only cuts the
    constant — and keeping the default full preserves the gated-oracle
    contract at every corpus size (the SQL twins train full).  Seed
    vectors are always unioned into the sample so every codeword keeps
    its self-assigning seed and no codeword empties out on the first
    round, and a sample landing under HALF the dense-id target
    (``n // train_mod``) — a sparse or skewed id space, e.g. a
    compacted rebuild archive — falls back to full training rather
    than fitting degenerate books (r12 ADVICE).  The FINAL encode
    (the returned subvector corpus) always covers the full corpus."""
    m = _resolve_m(emb, vec_col, m)
    need_count = code_mod is None or train_mod == "auto"
    if n_rows is None:
        n_rows = emb.count() if need_count else 0
    if code_mod is None:
        code_mod = auto_code_mod(n_rows)
    if train_mod == "auto":
        train_mod = auto_pq_train_mod(n_rows)
    elif train_mod in (None, "full"):
        train_mod = 1
    if train_mod > 1:
        # the stride sample assumes ids roughly uniform modulo the
        # stride; a sparse/skewed id space (e.g. a compacted rebuild
        # archive) can land far below the ~16·k design density and
        # train degenerate books (r12 ADVICE).  One column-pruned
        # count over the id column detects it; under half the dense-id
        # target, fall back to full Lloyd — correctness first, the
        # sampling is only a constant-factor cut.
        in_sample = (F.col(id_col) % train_mod == 0) | (
            F.col(id_col) % code_mod == 0
        )
        if n_rows:
            # total already computed above — one filtered count only
            # (r13 ADVICE: don't re-pay the full count)
            n_sample = emb.filter(in_sample).count()
        else:
            # total unknown (explicit code_mod + "auto" never lands
            # here, but an explicit train_mod int does): ONE fused
            # aggregate instead of two full-corpus actions (r13 ADVICE)
            row = emb.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(in_sample.cast("long")), F.lit(0)
                ).alias("ns"),
            ).first()
            n_rows, n_sample = int(row["n"]), int(row["ns"])
        if 2 * n_sample < n_rows // train_mod:
            train_mod = 1
    n = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("n2"),
    )
    subs = _subvectors(n, m).localCheckpoint(eager=False)
    train_subs = subs if train_mod == 1 else subs.filter(
        (F.col("vec_id") % train_mod == 0)
        | (F.col("vec_id") % code_mod == 0)
    )
    return subs, _train_books(train_subs, code_mod, iters)


def _train_books(
    subs: DataFrame, code_mod: int, iters: int, seed_offset: int = 0
) -> DataFrame:
    """Lloyd loop over a subvector corpus (vec_id, sub_id, sq) — shared
    by flat PQ (subvectors of the raw vectors) and IVFADC (subvectors
    of cell residuals).  ``seed_offset`` shifts the seed stride:
    residual training MUST NOT seed on the cell-seed ids (their
    residual is the zero vector, so stride-0 seeds are all identical
    and the codebook collapses to one codeword on the first
    tie-broken assignment)."""
    books = subs.filter(F.col("vec_id") % code_mod == seed_offset).select(
        "sub_id",
        F.col("vec_id").alias("code_id"),
        F.col("sq").alias("cq"),
        dot(F.col("sq"), F.col("sq")).alias("cn2"),
    )
    for _ in range(iters):
        # the winning row's sq rides the min_by struct out of the
        # assignment — no corpus-sized join-back onto subs per round
        # (guide §2.4: remove shuffles outright)
        assigned = _assign_codes(subs, books, carry=("sq",))
        ex = assigned.select(
            "sub_id", "code_id", F.posexplode("sq").alias("d", "val")
        )
        means = (
            ex.groupBy("sub_id", "code_id", "d")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .withColumn("mu", F.floor(F.col("s") / F.col("cnt")).cast("double"))
        )
        books = (
            means.groupBy("sub_id", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "mu"))),
                    lambda x: x["mu"],
                ).alias("cq")
            )
            .withColumn("cn2", dot(F.col("cq"), F.col("cq")))
            .localCheckpoint()
        )
    return books


def pq_encode(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int | None = None,
    code_mod: int | None = None,
    iters: int = 2,
) -> DataFrame:
    """Corpus → PQ codes (vec_id, sub_id, code_id): the compressed
    representation a 100 TB index persists (m small ints + one norm per
    vector instead of d floats)."""
    subs, books = pq_train(emb, id_col, vec_col, m, code_mod, iters)
    return _assign_codes(subs, books)


def pq_encode_incremental(
    new_emb: DataFrame,
    books: DataFrame,
    id_col: str,
    vec_col: str,
    m: int | None = None,
) -> DataFrame:
    """Encode a NEW batch against an EXISTING (materialized) codebook —
    the incremental index-maintenance path a streaming ingest takes:
    no retraining, no touch of the already-indexed corpus; the batch
    maps through the broadcast books and appends its m skinny code rows
    plus one exact norm per vector (the asymmetric-band-join analogue
    of ``dedup_incremental_ingest``).  Returns (vec_id, sub_id,
    code_id, n2).  Codebook drift from ingesting a shifted distribution
    is a rebuild trigger, not an encode-time concern — exactly as in a
    FAISS deployment."""
    m = _resolve_m(new_emb, vec_col, m)
    n = with_quantized(new_emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("n2"),
    )
    subs = _subvectors(n, m)
    return _assign_codes(subs, books).join(n.select("vec_id", "n2"), "vec_id")


def pq_recon_ppm(
    emb: DataFrame,
    books: DataFrame,
    id_col: str,
    vec_col: str,
    m: int | None = None,
) -> int:
    """Mean relative reconstruction error (ppm) of ``emb`` under the
    given codebooks — the index-quality scalar a streaming ingest
    monitors to trigger a codebook rebuild (the decision loop around
    the gated ``ann_pq_recon_error`` audit; FAISS deployments watch the
    same drift).  Same integer-grid arithmetic as the audit: per-row
    ppm floors to an integer BEFORE the mean so the scalar is
    engine-exact.  Returns one driver-side int — a bounded control-
    plane scalar (the fixpoint-convergence pattern), never row data."""
    m = _resolve_m(emb, vec_col, m)
    n = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("_q").alias("q")
    )
    subs = _subvectors(n, m)
    rec = (
        _assign_codes(subs, books, carry=("sq",))
        .join(F.broadcast(books), ["sub_id", "code_id"])
        .withColumn("_diff", F.zip_with("sq", "cq", lambda a, b: a - b))
    )
    err_ppm = F.floor(
        dot(F.col("_diff"), F.col("_diff"))
        / F.greatest(dot(F.col("sq"), F.col("sq")), F.lit(1.0))
        * 1000000
    ).cast("bigint")
    row = rec.select(err_ppm.alias("p")).agg(
        F.floor(F.avg("p")).cast("bigint").alias("ppm")
    ).first()
    return int(row["ppm"]) if row["ppm"] is not None else 0


def pq_adc_topk(
    emb: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    m: int | None = None,
    code_mod: int | None = None,
    iters: int = 2,
    refine_mult: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """ADC top-k with exact re-rank: train codebooks, encode the corpus,
    score candidates as the sum of m broadcast-LUT entries, keep the
    top ``refine_mult·k`` per probe by approximate cosine, then rescore
    those exactly and return (probe_id, cand_id, rank, cos).

    ``refine_mult`` defaults to the self-scaling
    :func:`auto_refine_mult` (shortlist ≈ √n per probe — flat ADC is
    quantization-bound, so the shortlist is ITS recall lever, the r9
    sweep's finding); pass an explicit value to pin an external
    contract.

    The approximate cosine uses the candidate's EXACT stored norm
    (adot/√(‖p‖²·‖c‖²)) — the one scalar IVFADC keeps alongside the
    codes for inner-product/cosine metrics.  All LUT sums are integer
    sums (exact); ranking ties break on cand_id in both stages."""
    m = _resolve_m(emb, vec_col, m)
    # one corpus count serves every knob derivation in this query
    # (refine_mult here, code_mod inside pq_train) — guide §1.2
    if n_rows is None and (refine_mult is None or code_mod is None):
        n_rows = emb.count()
    if refine_mult is None:
        refine_mult = auto_refine_mult(n_rows, k)
    subs, books = pq_train(
        emb, id_col, vec_col, m, code_mod, iters, n_rows=n_rows
    )
    codes = _assign_codes(subs, books)
    n = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("n2"),
    )
    norms = n.select("vec_id", "n2")

    pn = with_quantized(probes, vec_col).select(
        F.col(id_col).alias("probe_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("pn2"),
    )
    psubs = _subvectors(
        pn.select(F.col("probe_id").alias("vec_id"), "q"), m
    ).select(F.col("vec_id").alias("probe_id"), "sub_id", "sq")
    lut = psubs.join(F.broadcast(books), "sub_id").select(
        "probe_id",
        "sub_id",
        "code_id",
        dot(F.col("sq"), F.col("cq")).alias("pdot"),
    )

    adot = (
        codes.join(F.broadcast(lut), ["sub_id", "code_id"])
        .groupBy("probe_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("pdot").alias("adot"))
        .filter(F.col("probe_id") != F.col("cand_id"))
    )
    approx = (
        adot.join(norms.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(
            F.broadcast(pn.select("probe_id", "pn2")), "probe_id"
        )
        .withColumn("acos", cosine(F.col("adot"), F.col("pn2"), F.col("n2")))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("acos").desc(), F.col("cand_id")
    )
    shortlist = (
        approx.withColumn("arn", F.row_number().over(w))
        .filter(F.col("arn") <= refine_mult * k)
        .select("probe_id", "cand_id", "pn2")
    )
    exact = (
        shortlist.join(
            n.select(
                F.col("vec_id").alias("cand_id"),
                F.col("q").alias("cq_full"),
                F.col("n2").alias("cn2_full"),
            ),
            "cand_id",
        )
        .join(
            F.broadcast(pn.select("probe_id", F.col("q").alias("pq_full"))),
            "probe_id",
        )
        .withColumn(
            "cos",
            cosine(
                dot(F.col("pq_full"), F.col("cq_full")),
                F.col("pn2"),
                F.col("cn2_full"),
            ),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", "cand_id", F.col("rank").cast("int").alias("rank"), "cos"
        )
    )


def ivf_residuals(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cell_mod: int | None = None,
    centroids: DataFrame | None = None,
    n_rows: int | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Coarse-quantize the corpus onto stride-seeded IVF cells through
    the TWO-LEVEL hierarchy (:func:`~experts_etl_spark.llm.similarity.
    ivf2_index`: each vector scores ~n^(1/4) supers, then only its
    super's cells — n^1.25 assignment instead of the flat n·√n that
    made ``ann_topk_ivf_refined`` a measured exp-1.13 scale-killer) and
    return (quantized corpus, cells, residuals): residual = q − cell
    centroid, elementwise on the integer grid, so residual arithmetic
    stays exact.  Cells broadcast; the corpus never shuffles for
    assignment.  ``cell_mod`` pins an explicit seed stride (an external
    index contract); ``None`` self-scales to nlist ≈ √n.  Pass
    ``centroids`` (cent_id, centq, centn2) to coarse-quantize through a
    TRAINED quantizer instead — e.g.
    :func:`~experts_etl_spark.llm.similarity.kmeans_refined_centroids`,
    the FAISS production shape (FAISS trains the IVF coarse quantizer
    before residual-encoding; stride-seeded cells cost recall on
    clustered real data)."""
    n = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("n2"),
    )
    if centroids is None and cell_mod is not None:
        centroids = n.filter(F.col("vec_id") % cell_mod == 0).select(
            F.col("vec_id").alias("cent_id"),
            F.col("q").alias("centq"),
            F.col("n2").alias("centn2"),
        )
    cells2, assignment = ivf2_index(
        emb, id_col, vec_col, centroids, n_rows=n_rows, stats=stats
    )
    cells = cells2.select(
        "cent_id",
        F.col("cq").alias("cellq"),
        F.col("cn2").alias("celln2"),
    )
    # carry the vector's exact norm (cn22 in the assignment) onto the
    # residual rows: the IVFADC index build then never joins back onto
    # the full corpus just to re-attach n2 (guide §2.4)
    resid = assignment.join(F.broadcast(cells), "cent_id").select(
        F.col("cand_id").alias("vec_id"),
        "cent_id",
        F.col("cn22").alias("n2"),
        F.zip_with("cq2", "cellq", lambda x, c: x - c).alias("q"),
    )
    return n, cells, resid


def ivfpq_index(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int | None = None,
    cell_mod: int | None = None,
    code_mod: int | None = None,
    iters: int = 2,
    centroids: DataFrame | None = None,
    n_rows: int | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build side of IVFADC: returns ``(cells, books, index)`` — the
    three frames a deployment materializes and amortizes across every
    search batch until the next (re)index:

    - ``cells``  (cent_id, cellq, celln2): the ~√n coarse centroids;
    - ``books``  (sub_id, code_id, cq, cn2): m residual codebooks,
      ~m·√n rows — both broadcastable at any corpus size;
    - ``index``  (vec_id, cent_id, sub_id, code_id, n2): m skinny rows
      per vector — the ENTIRE per-vector payload is a cell id, m code
      ids and one exact norm; full vectors are never part of the
      standing index (the refine stage point-reads them for the
      shortlist only).

    This is the near-linear build phase: every vector scores ~2·n^(1/4)
    coarse centroids once (the two-level hierarchy) and a CONSTANT m·k
    codewords per Lloyd round (fixed-k codebooks, :func:`auto_code_mod`);
    search batches then never touch full-dimension corpus data.  Pass
    ``centroids`` to build over a TRAINED coarse quantizer (see
    :func:`ivf_residuals`)."""
    m = _resolve_m(emb, vec_col, m)
    if stats is None:
        stats = {}
    n, cells, resid = ivf_residuals(
        emb, id_col, vec_col, cell_mod, centroids, n_rows=n_rows,
        stats=stats,
    )
    if code_mod is None:
        # ivf2_index already resolved the corpus count — reuse the
        # scalar instead of a second count action (guide §1.2)
        code_mod = auto_code_mod(stats["n_rows"])
    # cell id + norm replicate onto the subvector rows and ride the
    # assignment's min_by struct out: the index build pays ZERO
    # corpus-sized joins (was two — onto resid for cent_id, onto the
    # corpus for n2; guide §2.4)
    rsubs = _subvectors(resid, m, extra=("cent_id", "n2")).localCheckpoint(
        eager=False
    )
    books = _train_books(rsubs, code_mod, iters, seed_offset=1)
    index = _assign_codes(rsubs, books, carry=("cent_id", "n2"))
    return cells, books, index


def ivfpq_search(
    cells: DataFrame,
    books: DataFrame,
    index: DataFrame,
    emb: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    m: int | None = None,
    refine_mult: int | None = None,
    nprobe: int | None = None,
    n_rows: int | None = None,
    nlist: int | None = None,
) -> DataFrame:
    """Probe side of IVFADC over a (possibly materialized) index from
    :func:`ivfpq_index`: each probe selects its ``nprobe`` best cells
    (max cosine against the broadcastable cell table — THIS is the IVF
    half: per-batch candidate volume is nprobe·n/nlist per probe, not
    the corpus), then the probed cells' code rows join a broadcast LUT
    of subspace dots and each candidate scores as cdot + Σ LUT — zero
    full-dimension corpus arithmetic — and the top ``refine_mult·k``
    re-rank exactly against ``emb`` (point reads of the shortlist's raw
    vectors).  With a cent_id-partitioned index the probed-cell join
    prunes partitions, so a query wave touches only its cells' files.

    Both read knobs self-scale by default (r9 verdict missing #3):
    ``nprobe`` from the CELL count (:func:`auto_nprobe` — one
    column-pruned count of the broadcastable cell table) and
    ``refine_mult`` from the corpus count (:func:`auto_refine_mult`),
    matching which knob the r9 sweep measured as binding per path;
    pass explicit values to pin an external contract."""
    m = _resolve_m(probes, vec_col, m)
    # the build side already counted cells and corpus — callers thread
    # the scalars through (nlist / n_rows) so the search re-derives
    # NEITHER with a fresh corpus pass; the knob rules are unchanged
    if nprobe is None:
        nprobe = auto_nprobe(nlist if nlist is not None else cells.count())
    if refine_mult is None:
        refine_mult = auto_refine_mult(
            n_rows if n_rows is not None else emb.count(), k
        )
    n = with_quantized(emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("n2"),
    )
    pn = with_quantized(probes, vec_col).select(
        F.col(id_col).alias("probe_id"),
        F.col("_q").alias("q"),
        F.col("_n2").alias("pn2"),
    )
    psubs = _subvectors(
        pn.select(F.col("probe_id").alias("vec_id"), "q"), m
    ).select(F.col("vec_id").alias("probe_id"), "sub_id", "sq")
    lut = psubs.join(F.broadcast(books), "sub_id").select(
        "probe_id",
        "sub_id",
        "code_id",
        dot(F.col("sq"), F.col("cq")).alias("pdot"),
    )
    pscored = pn.join(F.broadcast(cells), F.lit(True)).withColumn(
        "pcos",
        cosine(dot(F.col("q"), F.col("cellq")), F.col("pn2"), F.col("celln2")),
    )
    pw = Window.partitionBy("probe_id").orderBy(
        F.col("pcos").desc(), F.col("cent_id")
    )
    probe_cells = (
        pscored.withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= nprobe)
        .select(
            "probe_id",
            "cent_id",
            dot(F.col("q"), F.col("cellq")).alias("cdot"),
        )
    )

    rdot = (
        index.join(F.broadcast(probe_cells), "cent_id")
        .join(F.broadcast(lut), ["probe_id", "sub_id", "code_id"])
        .groupBy(
            "probe_id", F.col("vec_id").alias("cand_id"), "cdot", "n2"
        )
        .agg(F.sum("pdot").alias("rdot"))
        .filter(F.col("probe_id") != F.col("cand_id"))
    )
    approx = (
        rdot.join(F.broadcast(pn.select("probe_id", "pn2")), "probe_id")
        .withColumn(
            "acos",
            cosine(F.col("rdot") + F.col("cdot"), F.col("pn2"), F.col("n2")),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("acos").desc(), F.col("cand_id")
    )
    shortlist = (
        approx.withColumn("arn", F.row_number().over(w))
        .filter(F.col("arn") <= refine_mult * k)
        .select("probe_id", "cand_id", "pn2")
    )
    exact = (
        shortlist.join(
            n.select(
                F.col("vec_id").alias("cand_id"),
                F.col("q").alias("cq_full"),
                F.col("n2").alias("cn2_full"),
            ),
            "cand_id",
        )
        .join(
            F.broadcast(pn.select("probe_id", F.col("q").alias("pq_full"))),
            "probe_id",
        )
        .withColumn(
            "cos",
            cosine(
                dot(F.col("pq_full"), F.col("cq_full")),
                F.col("pn2"),
                F.col("cn2_full"),
            ),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", "cand_id", F.col("rank").cast("int").alias("rank"), "cos"
        )
    )

def ivfpq_topk(
    emb: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    m: int | None = None,
    cell_mod: int | None = None,
    code_mod: int | None = None,
    iters: int = 2,
    refine_mult: int | None = None,
    nprobe: int | None = None,
    centroids: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVFADC end-to-end: :func:`ivfpq_index` then :func:`ivfpq_search`
    — PQ codebooks trained on CELL RESIDUALS, so the codes spend their
    bits on within-cell detail instead of re-encoding the coarse
    structure (the reason FAISS encodes residuals; a flat PQ codebook
    collapses a tight cluster to one code tuple and the shortlist
    degenerates to an id sort).  Scoring is exact-decomposed:
    dot(p, x) = dot(p, cell(x)) + dot(p, x − cell(x)); both terms are
    integer-exact, the approximate cosine divides by the candidate's
    exact stored norm, and the top ``refine_mult·k`` re-rank exactly.
    Deployments call the two halves separately and amortize the index
    (measured: search alone is flat across corpus growth — SCALE.md)."""
    m = _resolve_m(emb, vec_col, m)
    stats: dict = {}
    cells, books, index = ivfpq_index(
        emb, id_col, vec_col, m, cell_mod, code_mod, iters, centroids,
        n_rows=n_rows, stats=stats,
    )
    # the build pass resolved the corpus and cell counts — the search
    # half reuses both scalars, so the end-to-end query pays exactly
    # ONE corpus count and ONE cell count total (guide §1.2)
    return ivfpq_search(
        cells, books, index, emb, probes, id_col, vec_col, k, m,
        refine_mult, nprobe,
        n_rows=stats.get("n_rows"), nlist=stats.get("n_cells"),
    )

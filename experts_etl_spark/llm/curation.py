"""Corpus-curation operators a 100 TB pretraining pipeline runs daily:
duplicate-cluster resolution (connected components), PII redaction,
intra-document repetition metrics (Gopher-style), and deterministic
domain-mixture resampling.

Not in the reference (UMNLibraries/experts-etl has no corpus side);
these extend the LLM pack the same way the dedup/ANN modules do.  Every
operator is expressed with built-in ``pyspark.sql.functions`` — no
Python UDFs — so the whole pack stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Connected components — near-dup pairs → canonical clusters
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve an undirected edge list into components via hash-min label
    propagation: every node starts labelled with its own id; each round a
    node takes the min of its label and its neighbours' labels; fixpoint
    = per-component min id.

    Scale notes: each round is one shuffle-join on the (symmetrized)
    edge list plus one groupBy — both partition on node id, and AQE
    coalesces as labels stabilise.  Rounds needed = graph diameter.
    Near-dup clusters are near-cliques (a cluster exists BECAUSE its
    members pairwise match), so diameter is 2-3 and hash-min beats the
    O(log n)-round alternating large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) on constant factors; for high-diameter graphs (road
    networks, web link graphs) swap the loop body for star rounds.
    Per-round eager ``localCheckpoint`` truncates lineage — without it
    the plan doubles every iteration; the convergence probe counts the
    labels that DECREASED this round (labels are monotone), so each
    round costs exactly one scalar action.  A label-SUM probe would
    overflow: 60-bit hash ids summed over a corpus blow past int64 —
    ANSI mode throws mid-iteration, non-ANSI wraps silently with a
    nonzero chance of a false fixpoint.  The changed-count is a sum of
    0/1 ints, bounded by the row count, and is an exact change
    detector, so convergence needs no confirmation round.

    ``stats`` (optional dict) records diagnostics: ``rounds`` (loop
    iterations to the confirmed fixpoint) and ``sym_edges`` (the
    symmetrized edge volume every round shuffles) — the measurement
    hook behind SCALE.md's per-leg CC attribution.
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    sym = fwd.union(rev).distinct().localCheckpoint(eager=False)
    # Seed with min(self, direct neighbours) instead of self: folds the
    # first propagation round into initialization (one groupBy on the
    # same key the loop shuffles on), so a clique — the common near-dup
    # cluster shape — converges immediately and pays one loop round
    # (the convergence confirmation) instead of two.
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("mn")).alias("comp"),
        )
        .localCheckpoint(eager=False)
    )
    if stats is not None:
        stats["sym_edges"] = sym.count()
        stats["rounds"] = 0
    for _ in range(max_iter):
        if stats is not None:
            stats["rounds"] += 1
        nbr_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        upd = (
            labels.join(nbr_min, labels["id"] == nbr_min["a"], "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", "comp")
                ).alias("comp"),
                (F.coalesce("nbr_comp", "comp") < F.col("comp")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint()  # eager: truncate lineage each round
        )
        changed = upd.agg(
            F.sum(F.col("_chg").cast("long"))
        ).collect()[0][0]
        labels = upd.drop("_chg")
        if not changed:
            break
    else:
        # Partially-propagated labels would split true clusters and let
        # duplicates through SILENTLY — refuse instead.  changed==0 is
        # an exact fixpoint witness (no label moved this round), so the
        # budget covers graphs of diameter ≤ max_iter (with the
        # min-neighbour seeding, roughly diameter rounds total);
        # hitting this means the graph is not a near-dup shape — pick
        # star-contraction rounds or raise max_iter.
        raise RuntimeError(
            f"connected_components found no confirmed fixpoint within "
            f"{max_iter} rounds (budget must exceed graph diameter)"
        )
    return labels


def resolve_clusters(
    edges: DataFrame, src: str = "id1", dst: str = "id2"
) -> DataFrame:
    """Canonical-document election over duplicate pairs: components +
    cluster size + keep/drop flag (keep = min doc id, the deterministic
    cross-engine choice).  The size rollup partitions on the component
    label — the same key the final CC round already shuffled on."""
    cc = connected_components(edges, src, dst)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        F.col("cluster_size").cast("int").alias("cluster_size"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Ordered: email first (contains digits/dots a later pattern could clip),
# then SSN (3-2-4) before phone (3-3-4), IPv4 last.  Every pattern is
# valid and identical under Java regex (Spark) and RE2 (DuckDB oracle).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def redact_pii(text: Column) -> tuple[Column, dict[str, Column]]:
    """Redact PII spans in ``text``; returns (redacted_column,
    {kind: match_count_column}).  Counts are taken against the input as
    seen by that pattern's turn in the chain (matching the sequential
    replacement semantics), all JVM-side ``regexp_count`` /
    ``regexp_replace`` — a pure map, no shuffle, safe at any scale."""
    counts: dict[str, Column] = {}
    cur = text
    for kind, pat, token in PII_PATTERNS:
        counts[kind] = F.regexp_count(cur, F.lit(pat)).cast("int")
        cur = F.regexp_replace(cur, pat, token)
    return cur, counts


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Word- and bigram-level repetition per document, after Rae et al.
    (Gopher, arXiv:2112.11446) §A1.1 quality heuristics adapted to
    newline-free text: fraction of duplicate words and the share of the
    most frequent word / bigram; ``repetitive`` applies the paper's
    0.2 / 0.18 dominance thresholds.

    Shape: explode → count per (doc, gram) → per-doc rollup.  Both
    aggregations partition by doc-prefixed keys, map-side partials do
    most of the reduction (gram counts are tiny ints), and nothing is
    quadratic — cost is linear in token count, the same as a scan."""
    from experts_etl_spark.llm.text import words

    toks = df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "word")
    )
    ord_w = Window.partitionBy(id_col).orderBy("pos")
    # Materialized once: the word- and bigram-count branches would each
    # re-scan the source and re-run the per-doc sort otherwise.
    grams = toks.select(
        id_col, "word", F.lead("word").over(ord_w).alias("nxt")
    ).localCheckpoint(eager=False)
    word_counts = grams.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    word_stats = word_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_word_c"),
    )
    bigram_counts = (
        grams.filter(F.col("nxt").isNotNull())
        .select(
            id_col, F.concat_ws(" ", "word", "nxt").alias("bigram")
        )
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigram_stats = bigram_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_c")
    )
    out = word_stats.join(bigram_stats, id_col, "left")
    dup_word_frac = (
        F.lit(1.0)
        - F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
    )
    top_word_frac = (
        F.col("top_word_c").cast("double") / F.col("n_words").cast("double")
    )
    top_bigram_frac = F.coalesce(
        F.col("top_bigram_c").cast("double")
        / F.col("n_bigrams").cast("double"),
        F.lit(0.0),
    )
    return out.select(
        id_col,
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_distinct").cast("int").alias("n_distinct"),
        dup_word_frac.alias("dup_word_frac"),
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        ((top_word_frac > 0.2) | (top_bigram_frac > 0.18)).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# Corpus-duplicated span removal (C4-style intra-corpus span dedup)
# ---------------------------------------------------------------------------

def span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 10,
    max_sf: int = 2,
) -> DataFrame:
    """Remove corpus-duplicated SPANS from documents — the C4 paper's
    "discard repeated three-sentence spans" rule (Raffel et al.,
    arXiv:1910.10683 §2.2) at aligned word-block granularity: chunk
    each document into consecutive ``span_words``-word blocks, count
    each block's corpus-wide frequency, drop blocks occurring more
    than ``max_sf`` times (boilerplate: headers, footers, license
    text, navigation chrome), and reassemble the survivors in order.
    Production swaps the chunker for a sentence splitter; the synthetic
    corpus carries no sentence punctuation, so blocks are the testable
    granularity — the counting/removal/reassembly plan is identical.

    Returns (id, n_spans, n_removed, clean_text); a fully-boilerplate
    document survives with ``clean_text = ''`` so the caller decides
    whether to drop it (C4 drops; Gopher gates on what remains).

    Scale shape: posexplode → span assembly is ONE doc-keyed
    aggregation (the array-slice formulation would re-run the word
    split per span — the doc_shingles lesson); span frequencies are a
    map-side-combined groupBy; hot spans are removed with the
    broadcast anti-join skew guard (:func:`~experts_etl_spark.llm.
    dedup.with_max_df` — the hot set is tiny by construction, exactly
    the stop-shingle argument); reassembly re-aggregates on the doc
    key.  Everything whole-stage codegen, nothing pairwise."""
    from experts_etl_spark.llm.dedup import with_max_df
    from experts_etl_spark.llm.text import words

    toks = df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "w")
    )
    spans = (
        toks.withColumn("span_idx", F.floor(F.col("pos") / span_words))
        .groupBy(id_col, "span_idx")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
            ).alias("span")
        )
        # feeds the frequency scan, the anti-join left side, and the
        # per-doc totals — materialize the chunking pass once
        .localCheckpoint(eager=False)
    )
    kept = with_max_df(spans, "span", max_sf)
    totals = spans.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda x: x["span"],
            ),
        ).alias("clean_text"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.col("n_spans").cast("int").alias("n_spans"),
        (F.col("n_spans") - F.coalesce("n_kept", F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_words: int = 5,
    max_sf: int = 2,
) -> DataFrame:
    """UNALIGNED repeated-substring removal — the ExactSubstr rule
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499) at word granularity.  The
    companion :func:`span_dedup` chunks documents into ALIGNED blocks,
    so a boilerplate phrase repeated at different word offsets in
    different documents straddles two blocks and slips through; here a
    ``window_words``-word window slides over EVERY offset (the
    posexplode + ``lead`` formulation from
    :func:`~experts_etl_spark.llm.dedup.doc_shingles` — whole-stage
    codegen, not the per-position array-slice trap), windows occurring
    more than ``max_sf`` times corpus-wide mark every word they cover,
    and covered words are cut with the survivors reassembled in order.
    Windows are KEYED BY md5 of the window text: the frequency groupBy
    and the hot-set join shuffle a fixed-width 32-char key instead of
    the k-word string — at corpus scale the window text dominates
    shuffle bytes (measured at 27× = 14M windows: 53.0s → 9.3s, 5.7×,
    exp 1.18 → 0.65; SCALE.md §Round-9) — and md5 is bit-identical
    across engines so the oracle keys the same way (a 128-bit
    collision is negligible, and would only co-count two distinct
    windows).

    Two deliberate deviations from the paper, stated: suffix arrays
    find ALL maximal repeats ≥ some byte length, while fixed-width
    sliding windows detect exactly the repeats of ≥ ``window_words``
    words (a repeat of w ≥ k words is covered by its w−k+1 hot windows
    — the union of their coverage is the full repeat, so detection is
    equivalent above the threshold and the removal boundary is
    word-aligned); and EVERY occurrence of a hot window is removed
    (boilerplate semantics, matching :func:`span_dedup` and C4)
    rather than all-but-one.

    Scale shape: one (id, pos) sort-window builds all windows; window
    frequency is a map-side-combined ``groupBy``; the over-cap set
    joins back LEFT SEMI on the window string — row-preserving hash
    join, no pairwise blowup, so hot boilerplate keys skew a lookup,
    not a self-join; coverage expands each hot window by a bounded
    ``sequence`` explode (k rows per hit) and dedups on (id, pos);
    removal is one anti-join and reassembly one doc-keyed
    aggregation.

    Returns (id, n_words, n_removed, clean_text); a fully-boilerplate
    document survives with ``clean_text = ''`` like :func:`span_dedup`.
    A document whose text normalizes to ZERO words (empty/whitespace/
    punctuation-only) is DROPPED from the result entirely — ``totals``
    derives from the exploded tokens, so tokenless docs never enter it
    (the DuckDB oracle drops them identically; :func:`span_dedup` has
    the same shape).  Callers that need every input id represented
    should left-join the result back onto the input ids.
    """
    toks = _substr_toks(df, text_col, id_col)
    wins = _substr_wins(toks, id_col, window_words)
    hot = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("_sf"))
        .filter(F.col("_sf") > max_sf)
        .select("win")
    )
    return _substr_clean(toks, wins, hot, id_col, window_words)


def _substr_toks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, word) token explosion feeding windows, totals, and
    removal — one localCheckpoint shared by all three consumers."""
    from experts_etl_spark.llm.text import words

    return df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "w")
    ).localCheckpoint(eager=False)


def _substr_wins(
    toks: DataFrame, id_col: str, window_words: int
) -> DataFrame:
    """(id, pos, win) sliding windows at every word offset, KEYED BY
    md5 of the window text (the shuffle-the-hash lesson, SCALE.md
    §Round-9) — feeds both the frequency scan and the coverage mark."""
    win = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("w")] + [
        F.lead("w", j).over(win) for j in range(1, window_words)
    ]
    return (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.md5(F.concat_ws(" ", *parts)).alias("win"),
            parts[-1].alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .drop("_tail")
        .localCheckpoint(eager=False)
    )


def _substr_clean(
    toks: DataFrame,
    wins: DataFrame,
    hot: DataFrame,
    id_col: str,
    window_words: int,
) -> DataFrame:
    """Mark every word covered by a hot window, cut it, reassemble the
    survivors in order — the shared tail of the full and incremental
    ExactSubstr paths (coverage expansion, anti-join removal, one
    doc-keyed reassembly aggregation)."""
    covered = (
        wins.join(hot, "win", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("pos"), F.col("pos") + (window_words - 1)
                )
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    totals = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_words"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
        ).alias("clean_text"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.col("n_words").cast("int").alias("n_words"),
        (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def substring_window_store(
    df: DataFrame, text_col: str, id_col: str, window_words: int = 5
) -> DataFrame:
    """The persisted hot-window STORE for incremental ExactSubstr
    ingest: (win md5, sf count) over the already-indexed corpus — the
    substring analogue of the MinHash band index
    (``dedup.incremental_lsh_dedup``) and the streaming fingerprint
    store (``streaming/curation.py``).  Built once over the archive,
    then maintained by folding each ingested batch's counts in with
    :func:`merge_window_store`; a daily ingest never re-scans the
    archive text."""
    toks = _substr_toks(df, text_col, id_col)
    wins = _substr_wins(toks, id_col, window_words)
    return wins.groupBy("win").agg(F.count(F.lit(1)).alias("sf"))


def merge_window_store(
    store: DataFrame, batch_counts: DataFrame
) -> DataFrame:
    """Fold a batch's window counts into the store: union + one
    map-side-combined groupBy on the fixed-width md5 key."""
    return (
        store.unionByName(batch_counts)
        .groupBy("win")
        .agg(F.sum("sf").alias("sf"))
    )


def substring_dedup_incremental(
    batch: DataFrame,
    store: DataFrame,
    text_col: str,
    id_col: str,
    window_words: int = 5,
    max_sf: int = 2,
) -> DataFrame:
    """Incremental-ingest ExactSubstr (r9 verdict missing #2): clean
    TODAY'S batch against the persisted window store instead of
    re-running :func:`substring_dedup` over the whole archive.

    Frequency semantics are EXACTLY the full rule's: a window is hot
    when ``store_sf + batch_sf > max_sf`` — the store carries the
    archive's counts, the batch adds its own, and the sum is the
    corpus-wide count the full rule thresholds on.  Hence the pinned
    equivalence (tests/test_curation.py): for every batch document the
    output row equals what :func:`substring_dedup` over
    archive ∪ batch returns for that id.  The deliberate asymmetry —
    the same one every incremental dedup here makes — is that archive
    documents are NOT retroactively re-cleaned when a batch pushes one
    of their windows over the cap; the rule applies forward, and the
    periodic full compaction (the batch operator) reconciles.

    Scale shape: every stage is batch-proportional — batch windows via
    one (id, pos) sort-window, batch counts via one map-side-combined
    groupBy, and ONE hash join of batch counts against the store on
    the fixed-width md5 key (the store side is large but the probe
    side is the batch; no archive text touched, no self-join
    anywhere).  Returns the :func:`substring_dedup` schema
    (id, n_words, n_removed, clean_text) for the batch ids with ≥1
    word; see the zero-word-doc note there.
    """
    toks = _substr_toks(batch, text_col, id_col)
    wins = _substr_wins(toks, id_col, window_words)
    batch_counts = wins.groupBy("win").agg(
        F.count(F.lit(1)).alias("_bsf")
    )
    # The store may hold SEVERAL rows per win — the streaming tick
    # appends one partition of counts per ingested batch, and its store
    # fold keeps those rows as they are — so sum the matched
    # rows AFTER the probe join: the aggregation is over batch wins ×
    # matched partitions, batch-proportional, instead of a per-tick
    # store-wide pre-aggregation shuffle.
    hot = (
        batch_counts.join(store, "win", "left")
        .groupBy("win")
        .agg(
            F.first("_bsf").alias("_bsf"),
            F.sum("sf").alias("_ssf"),
        )
        .filter(
            F.col("_bsf") + F.coalesce(F.col("_ssf"), F.lit(0)) > max_sf
        )
        .select("win")
    )
    return _substr_clean(toks, wins, hot, id_col, window_words)


# ---------------------------------------------------------------------------
# Domain-mixture resampling
# ---------------------------------------------------------------------------

def key_hash60(col: Column) -> Column:
    """The pack's engine-portable 60-bit key hash (md5 prefix) —
    delegates to the one canonical implementation (dedup.hex60)."""
    from experts_etl_spark.llm.dedup import hex60

    return hex60(col.cast("string"))


def domain_mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weight: Column,
) -> DataFrame:
    """Resample so each domain's share of the output tracks
    ``weight / sum(weights)``: acceptance rate per domain =
    min(1, target_share · N / n_domain), membership decided by the
    deterministic 60-bit key hash — reproducible across engines,
    retries, and relayouts, unlike ``rand()``/``TABLESAMPLE``.

    Scale notes: domain cardinality is tiny next to row count, so the
    rate table is one cheap agg + a broadcast join; the filter itself is
    a pure map evaluated at scan time.  This is the mixture-weights step
    (The Pile / DoReMi-style reweighting) run before tokenization."""
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_dom"))
    all_rows = Window.partitionBy()
    wtab = (
        counts.withColumn("w", weight.cast("double"))
        .withColumn("sum_w", F.sum("w").over(all_rows))
        .withColumn("n_total", F.sum("n_dom").over(all_rows))
        .select(
            domain_col,
            F.least(
                F.lit(1.0),
                F.col("w")
                * F.col("n_total").cast("double")
                / (F.col("sum_w") * F.col("n_dom").cast("double")),
            ).alias("rate"),
        )
    )
    hk = key_hash60(F.col(id_col)) % 1000000
    return (
        df.join(F.broadcast(wtab), domain_col)
        .filter(hk.cast("double") / F.lit(1000000.0) < F.col("rate"))
        .select(id_col, domain_col, "rate")
    )


# ---------------------------------------------------------------------------
# Distributed global positions (dense rank without a single-partition window)
# ---------------------------------------------------------------------------

def global_positions(
    df: DataFrame,
    order: list[tuple[str, bool]],
    pos_col: str = "pos",
    n_parts: int | None = None,
) -> DataFrame:
    """Dense 1-based global position in the total order given by
    ``order`` ([(column, ascending), ...]) — computed DISTRIBUTED: a
    bare global ``Window.orderBy`` coalesces every row into one
    partition (the classic 100 TB driver-killer); this range-partitions
    on the order columns, ranks within partitions, and adds each
    partition's prefix-count offset (one bounded collect of
    n_partitions rows, the bookmark-read pattern).  Positions depend
    only on the TOTAL ORDER, not on where the sampled range boundaries
    fall, so the sampled partitioner does not perturb the result; the
    keyed frame is checkpointed so the counts pass and the rank pass
    see the one same partitioning.  The order must be total (add a
    unique tie-break column) or positions within ties are
    partition-placement-dependent."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if n_parts is None:
        # The conf can be the literal string "auto" (Databricks AQE) —
        # fall back to the frame's own partition count rather than
        # ValueError-ing on a platform default we don't control.
        try:
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except ValueError:
            n_parts = df.rdd.getNumPartitions() or 32
    exprs = [
        F.col(c).asc() if ascending else F.col(c).desc()
        for c, ascending in order
    ]
    keyed = (
        df.repartitionByRange(n_parts, *exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = keyed.groupBy("_pid").agg(F.count(F.lit(1)).alias("c"))
    acc = 0
    offsets = []
    for pid, c in sorted((r["_pid"], r["c"]) for r in counts.collect()):
        offsets.append((pid, acc))
        acc += c
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*exprs)
    return (
        keyed.join(F.broadcast(off_df), "_pid")
        .withColumn(
            pos_col,
            (F.row_number().over(w) + F.col("_off")).cast("bigint"),
        )
        .drop("_pid", "_off")
    )

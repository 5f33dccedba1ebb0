"""The first two stages of streaming corpus curation: the routing
decision (quality gate, Gopher repetition filter, in-batch and
cross-batch exact dedup) and the MinHash near-duplicate stage.

``streaming/tick.py``'s ``curation_tick`` runs both on every arriving
document batch, and the registered batch twins run them on a whole
table, so the batch backfill and the streaming tail share one code
path — the same design as streaming/incremental.py's CDC consume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def route_documents(
    docs: DataFrame,
    quality_min: float = 0.5,
    kept_fps: DataFrame | None = None,
) -> DataFrame:
    """The curation routing decision for one batch of documents — the
    ONE code path behind both the streaming tick (stage 1 of
    ``streaming/tick.py:curation_tick``) and the registered batch twin
    (``curation_stream_routing``), so a driver CORRECTNESS row on the
    twin proves the streaming semantics.

    Adds per-document: ``quality`` (llm/text.py:quality_score), ``fp``
    (normalized content fingerprint), ``repetitive`` (Gopher rules,
    llm/curation.py:repetition_metrics), ``dup_in_batch``,
    ``dup_in_corpus`` (against ``kept_fps``, the compact fingerprint
    side table; False when None), and the first-match
    ``reject_reason`` (quality → repetition → duplicate; NULL = keep).

    The in-batch dedup window ranks gate-SURVIVING copies first (then
    doc_id) so a rejected low-quality copy can never shadow a
    kept-eligible duplicate out of the corpus — the same best-member
    election the batch funnel gets from running gates before dedup.
    All doc-local maps + two doc-keyed aggregations + one fp-keyed
    window — linear, no corpus-scale self-joins."""
    from pyspark.sql import Window

    from experts_etl_spark.llm.curation import repetition_metrics
    from experts_etl_spark.llm.text import fingerprint, quality_score

    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )
    rep = repetition_metrics(docs, "text", "doc_id").select(
        "doc_id", "repetitive"
    )
    eligible = (
        F.col("quality").isNotNull()
        & (F.col("quality") >= F.lit(quality_min))
        & ~F.col("repetitive")
    )
    staged = (
        scored.join(rep, "doc_id", "left")
        .withColumn("repetitive", F.coalesce("repetitive", F.lit(False)))
        .withColumn("_eligible", eligible)
        .withColumn(
            "dup_in_batch",
            F.row_number().over(
                Window.partitionBy("fp").orderBy(
                    F.col("_eligible").desc(), "doc_id"
                )
            )
            > 1,
        )
        .drop("_eligible")
    )
    if kept_fps is not None:
        staged = staged.join(
            kept_fps.select("fp").distinct().withColumn(
                "dup_in_corpus", F.lit(True)
            ),
            "fp",
            "left",
        ).withColumn(
            "dup_in_corpus", F.coalesce("dup_in_corpus", F.lit(False))
        )
    else:
        staged = staged.withColumn("dup_in_corpus", F.lit(False))
    # Fail CLOSED on null/unscorable text: quality_score(NULL) is NULL
    # and `NULL < min` never matches a when-branch, which would route
    # garbage rows to the keep sink.
    reason = (
        F.when(
            ~(F.col("quality") >= quality_min) | F.col("quality").isNull(),
            "low_quality",
        )
        .when(F.col("repetitive"), "repetitive")
        .when(F.col("dup_in_batch") | F.col("dup_in_corpus"), "duplicate")
    )
    return staged.withColumn("reject_reason", reason)


def apply_near_dup(
    staged: DataFrame,
    threshold: float,
    index_signatures: DataFrame | None = None,
    lsh_max_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate stage over the routing survivors: MinHash-LSH
    pairs WITHIN the batch are resolved to cluster canonicals
    (connected components, min-id keeper), and — when an
    ``index_signatures`` store is given — every survivor banding-
    matched to an already-kept document at ≥ ``threshold`` Jaccard is
    rejected too.  Non-keepers get ``reject_reason='near_duplicate'``
    (first-match ordering preserved: earlier reasons win).

    Returns ``(staged', batch_signatures)``: the caller checkpoints
    ``staged'`` and appends the final keepers' slice of
    ``batch_signatures`` to the persisted store — the batch-side
    aggregation is computed ONCE (lazily checkpointed) and shared by
    in-batch mining, cross-batch matching, and the store append.

    Scale shape: the daily-crawl pattern (llm/dedup.py:
    incremental_lsh_dedup) — per-batch cost tracks |batch| + matched-
    band volume against the store, never |index|²; in-batch pair
    mining is band-blocked and CC rounds = cluster diameter (2-3 for
    near-dup cliques).  ``lsh_max_df`` caps degenerate band keys out
    of both joins (llm/dedup.py:LSH_MAX_DF — the measured hot-band
    ~n^1.5 verify term; production ticks should pass it, the gated
    batch twins pin the uncapped default)."""
    from experts_etl_spark.llm.curation import resolve_clusters
    from experts_etl_spark.llm.dedup import (
        incremental_lsh_dedup,
        minhash_lsh_dedup,
        signature_shingle_sets,
    )

    cand = staged.filter(F.col("reject_reason").isNull()).select(
        "doc_id", "text"
    )
    sigs = signature_shingle_sets(cand, "text", "doc_id")
    in_pairs = minhash_lsh_dedup(
        None, "text", "doc_id", threshold, signatures=sigs,
        max_df=lsh_max_df,
    )
    losers = (
        resolve_clusters(in_pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    if index_signatures is not None:
        hits = (
            incremental_lsh_dedup(
                None,
                None,
                "text",
                "doc_id",
                threshold,
                index_signatures=index_signatures,
                new_signatures=sigs,
                max_df=lsh_max_df,
            )
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        losers = losers.union(hits).distinct()
    out = (
        staged.join(losers.withColumn("_nd", F.lit(True)), "doc_id", "left")
        .withColumn(
            "reject_reason",
            F.coalesce(
                "reject_reason", F.when(F.col("_nd"), "near_duplicate")
            ),
        )
        .drop("_nd")
    )
    return out, sigs

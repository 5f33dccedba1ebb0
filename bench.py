#!/usr/bin/env python
"""Headline benchmark: runs the flagship pipeline plus representative
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

Each query is forced with a cheap count() action (no driver-side
materialization of results)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "pricing_summary",
    "person_360",
    "event_run_groups",
    "primary_event_election",
    "latest_event_per_user",
    "user_sessions",
    "merge_upsert_freshness",
    "snapshot_new_keys",
    "cdc_compaction",
    "cdc_end_to_end",
    "override_coalesce",
    "employee_jobs_transform",
    "person_assembly_cycle",
    "multi_format_dates",
    # hierarchy / serialization / skew packs
    "tree_depths",
    "person_sync_xml",
    "person_cycle_xml",
    "pub_cycle",
    "skew_tolerant_counts",
    # LLM-data pipeline pack
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_winnow",
    "ann_topk_bucketed",
    # ann_topk_ivf_refined dropped r8: superseded flat-IVF baseline
    # (n·√n assignment, exp 1.13); the production trained path is
    # ann_topk_ivf2_refined below (r7 verdict item 4).
    "text_quality_metrics",
    "corpus_curation",
    # training-data pipeline extras (round 4)
    "train_val_split",
    "benchmark_contamination",
    "tfidf_topk_terms",
    "sequence_packing",
    "stratified_sample",
    # corpus-curation pack (round 4, second wave)
    "dedup_cluster_resolution",
    "pii_redaction",
    "repetition_metrics",
    "domain_mixture_sample",
    "training_corpus_pipeline",
    "epoch_shuffle",
    "corpus_token_stats",
    "dedup_incremental_ingest",
    "dedup_lsh_recall",
    "multimodal_dedup",
    "vocab_topk",
    "encode_token_ids",
    # round-5 additions
    "training_dedup_leakage",
    "curation_stream_routing",
    "span_dedup",
    "ann_topk_ivf2",
    "dedup_cluster_resolution_lsh",
    # round-6 additions
    # ann_topk_ivf2_refined dropped r10: superseded non-PQ baseline
    # (composite exp drifted to 0.97 as training grew; the production
    # trained path is ann_topk_ivfpq_refined below, same coverage) —
    # the same retirement ann_topk_ivf_refined got in r8.
    "training_dedup_leakage_sampled",
    # round-8 additions: the production scale paths rotated into the
    # gate this round
    "dedup_ngram_jaccard",       # AllPairs/PPJoin prefix-filter miner
    "ann_ivf_kmeans_sampled",    # √n-sampled Lloyd training (O(n))
    "dedup_lsh_recall_sampled",  # sampled recall audit
    # round-8 additions: product quantization (llm/pq.py)
    "ann_pq_codes",              # PQ train+encode (index build)
    "ann_topk_ivfpq",            # IVFADC residual-code search
    # round-9 addition: the FAISS production composition (trained
    # coarse quantizer + residual PQ) — the ANN headline path
    "ann_topk_ivfpq_refined",
    # round-10 additions: the incremental-ingest production paths
    "dedup_exact_substrings_incremental",   # hot-window store probe
    "embedding_semantic_dedup_incremental",  # kept-embedding store
    # round-11 additions: the composed tick + the bounded re-audit
    "curation_tick_pipeline",    # one batch through every store
    "ann_recall_sampled",        # p=1/4 SRP recall re-audit (flat)
]


def main() -> None:
    from experts_etl_spark.llm.similarity import _TRUTH_CACHE
    from experts_etl_spark.session import get_spark
    from experts_etl_spark.plans import registry
    from experts_etl_spark.plans.flagship import person_assembly

    spark = get_spark("bench")
    timings: dict[str, float] = {}
    plans: dict[str, str] = {}

    def plan_signature(df) -> str:
        """Compact physical-plan shape: shuffle/broadcast/scan counts
        (+ join strategy flags).  Stable across runs at fixed code, so
        round-over-round BENCH diffs separate plan regressions (signature
        changed) from environment noise (timing changed, signature same)."""
        try:
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )
        except Exception:
            # Private-API fallback chain: the JVM helper mirrors
            # DataFrame.explain but may move across Spark versions; degrade
            # to the queryExecution string, then to an empty signature, so a
            # Spark upgrade degrades the signature and not the benchmark.
            try:
                p = df._jdf.queryExecution().simpleString()
            except Exception:
                return "unavailable"
        sh = len(
            re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning", p)
        )
        flags = "".join(
            tag
            for tag, marker in (
                ("+smj", "SortMergeJoin"),
                ("+bnlj", "BroadcastNestedLoopJoin"),
            )
            if marker in p
        )
        return f"sh{sh}/bc{p.count('BroadcastExchange')}/sc{p.count('Scan parquet')}{flags}"

    # Warm the JVM/codegen once so timings measure the engine, not startup.
    try:
        person_assembly(spark, SF_DIR).count()
    except Exception:
        pass  # the per-query isolation below records the real failure

    # Each query runs four times: the first run pays whole-stage-codegen
    # compilation + broadcast build (one-time costs that amortize over a
    # real workload, reported separately as cold_total_sec); the reported
    # per-query time is the MIN of three warm runs — the noise-robust
    # estimator, since host-level scheduling jitter only ever adds time
    # (measured cross-run spread with min-of-two was 20-50% on the
    # heavier queries; min-of-three roughly halves it).
    cold = 0.0
    t0 = time.time()
    errors: dict[str, str] = {}

    def run_once(fn):
        # A deployment runs each recall audit once per process, so every
        # timed run pays the exact-truth scan: drop the in-process truth
        # memo that would otherwise serve it from the previous run.
        _TRUTH_CACHE.clear()
        start = time.time()
        fn().count()
        return time.time() - start

    def timed(name, fn):
        nonlocal cold
        # Per-query fault isolation: one broken query must never zero the
        # whole round's perf evidence — record its error and keep going.
        try:
            plans[name] = plan_signature(fn())
            cold += run_once(fn)
            warm = [run_once(fn) for _ in range(3)]
            timings[name] = round(min(warm), 3)
        except Exception as exc:  # noqa: BLE001 — isolation boundary
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            plans.pop(name, None)
        # Release the query's residue (localCheckpoint blocks, caches,
        # broadcasts) before timing the next one: ContextCleaner only
        # reclaims them after the Python refs die and the JVM GCs, so
        # without this each query is timed under the accumulated storage
        # pressure of every query before it — measured ~40% inflation on
        # the back half of the suite.  persist()-based queries
        # (pub_cycle, benchmark_contamination) additionally hold
        # JVM-side cache-manager entries independent of Python refs —
        # clearCache drops those (within-query warm runs already
        # happened, so this only affects cross-query state).
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    timed("flagship_person_assembly", lambda: person_assembly(spark, SF_DIR))
    for name in HEADLINE:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        timed(name, lambda fn=fn: fn(spark, SF_DIR))

    total = round(sum(timings.values()), 3)
    wall = round(time.time() - t0, 3)
    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    common = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total_sec": round(cold, 3),
        "errors": errors,
        "sf": float(sf_match.group(1).rstrip(".")) if sf_match else None,
    }
    # The driver keeps only the LAST 2000 chars of stdout and parses
    # that (BENCH_r04/BENCH_r10: head chopped → "parsed: null"), so the
    # stdout line must stay under that window: compact separators, the
    # bulky per-query plan signatures relegated to the file copy, and
    # a fail-safe that drops per-query timings entirely rather than
    # ever printing a line the capture window would behead.
    line = json.dumps(common, separators=(",", ":"))
    if len(line) > 1900:
        slim = dict(common)
        slim["queries"] = {"_dropped": len(timings)}
        line = json.dumps(slim, separators=(",", ":"))
    print(line)
    payload = json.dumps({**common, "plans": plans, "wall_sec": wall})
    # The file copy preserves the full per-query map + plan signatures
    # regardless of how the caller buffers or truncates our stdout.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LAST.json"),
            "w",
        ) as fh:
            fh.write(payload + "\n")
    except OSError:
        pass  # a read-only checkout must not fail the benchmark itself
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark runner — prints ONE JSON line.

Headline: end-to-end quality-filter pipeline (filter_corpus, tiered) over a
deterministic synthetic pages corpus sized by SF, plus representative
operator queries from __spark_entry__ over the driver testdata tables.
Every timed query is forced with the noop sink (full computation, no
driver collect).

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default 32)
  QF_BENCH_PAGES      (rows in the synthetic pages corpus; default 40000)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("QF_BENCH_PAGES", "100000"))
# Spark-side replication factor: the pandas generator is the slow part,
# so generate N_PAGES base rows once and fan them out row-parallel with
# rewritten urls.  Total corpus = N_PAGES * REPLICATE.
REPLICATE = int(os.environ.get("QF_BENCH_REPLICATE", "10"))
# fixed partition count independent of this run's core count, so every
# parallelism level sees the same input layout (≥2 waves at 32 cores)
PAGES_PARTITIONS = 64
TIMED_REPS = int(os.environ.get("QF_BENCH_TIMED_REPS", "2"))
TOTAL_PAGES = N_PAGES * REPLICATE

# operator queries timed from the registry (representative of each family)
BENCH_QUERIES = [
    "pricing_summary",        # scan + group agg
    "revenue_by_nation",      # broadcast joins
    "salted_user_stats",      # salted skew join
    "hourly_event_stats",     # event-time tumbling window
    "forward_fill_purchase",  # ordered window function
    "sessionized_counts",     # lag + cumulative windows
    "near_dup_pairs",         # minhash + LSH band join
    "simhash_docs",           # explode + 64-bit agg
    "knn_bruteforce",         # vector math, top-k
    # round-2 families
    "simhash_near_dup",       # band join + popcount verify
    "near_dup_survivors",     # star edges + components + anti-join
    "tfidf_top_docs",         # explode agg + broadcast vocab + window top-k
    "embedding_near_dup_pairs",  # triangle block join (exact all-pairs)
    # round-4 families
    "segment_dedup_docs",     # min-struct partial-agg segment dedup
    "containment_pairs",      # df-capped segment containment join
    "semantic_dedup",         # k-means assign + cluster-bounded pair join
    # round-4 graph/retrieval/local-dedup tier
    "host_pagerank",          # iterative integer power iteration (3 rounds)
    "bm25_top_docs",          # filtered explode + broadcast df dim + top-k
    "winnowing_pairs",        # window-min fingerprints + df-capped fp join
    # round-4 crawl-web tier
    "outlink_pagerank",       # href extraction -> host edges -> 3 PR rounds
    "exact_substring_dedup",  # overlapping-window keeper agg + excision
    # round-4 weighted-vocabulary dedup
    "tfidf_cosine_pairs",     # exact-int tfidf weights + df-capped term join
    # round-4 corpus LM scoring
    "kn_doc_surprisal",       # KN stats dims (broadcast) + per-doc sorted fold
    # round-5 data-selection tier
    "dsir_logweights_docs",   # B-row ratio dim -> literal -> zero-shuffle scoring
    "corpus_curation_v3",     # DSIR select -> full v2 curation chain
    "doremi_mixture_weights",  # KN dims -> quantized vocab dim -> per-source EG step
    "ccnet_ppl_buckets",      # KN scoring -> histogram-CDF per-lang tercile cuts
    # round-5 classifier-in-the-loop tier
    "gate_distill_weights",   # staged fact + 12 exact-int Gauss-Seidel scalar aggs
    "rule_ablation_report",   # 8 gate flags in one scan -> 8-row groupBy
    # round-5 tokenizer tier
    "bpe_train_merges",       # word-dim fact + K driver-loop merge rounds
    "bpe_token_counts_docs",  # zero-shuffle merge application (sentinel arithmetic)
    "curriculum_order",       # two-level rank: nibble subshard windows + offsets
]


def ensure_pages(spark, replicate: int = REPLICATE) -> str:
    """Deterministic pages corpus parquet (N_PAGES base rows replicated
    row-parallel with rewritten urls), built once and cached (build
    time is NOT part of the measured pipeline)."""
    path = f"/tmp/qf_bench_pages_{N_PAGES}x{replicate}_p{PAGES_PARTITIONS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from quality_filter.corpus import generate_pages, pages_spark_schema

        from pyspark.sql import functions as F

        pdf = generate_pages(N_PAGES, seed=2026).drop(columns=["cls"])
        sdf = spark.createDataFrame(pdf, schema=pages_spark_schema())
        if replicate > 1:
            reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep")
            sdf = (
                sdf.select("*", reps)
                .withColumn("url", F.concat("url", F.lit("#r"), F.col("_rep")))
                .drop("_rep")
            )
        sdf.repartition(PAGES_PARTITIONS).write.mode("overwrite").parquet(path)
    return path


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    from quality_filter.session import get_spark
    from quality_filter.pipeline import tiered_scored
    import __spark_entry__ as E

    spark = get_spark(cpus=CPUS, app_name="qf-bench")
    pages_path = ensure_pages(spark)

    timings: dict[str, float] = {}

    # warmup: one full untimed pass — spawns every python worker, loads
    # model artifacts per worker, JITs codegen (the deploy-time pre-warm
    # lesson, /root/reference/app/main.py:14-20).  The timed run below is
    # steady-state throughput, which is what a long-running corpus job
    # actually sustains.
    pages = spark.read.parquet(pages_path)
    force(tiered_scored(pages))

    # headline: tiered pipeline end-to-end over the pages corpus —
    # one scan, one model pass, all three outputs (single job)
    pipeline_sec = min(_timed(lambda: force(tiered_scored(pages))) for _ in range(TIMED_REPS))
    timings["pipeline_filter_corpus"] = round(pipeline_sec, 3)

    # full (untiered) scoring for comparison — quantifies the tier win.
    # Warm once untimed (the tiered warmup above does NOT exercise the
    # FULL-profile LM path on every row) then best-of-N like the
    # headline: a cold single-shot here recorded 66.8s against a
    # same-session steady state of 17s (round-4 session A/B) — the same
    # window-noise trap the round-2 bench fell into.
    from quality_filter.pipeline import score_documents

    force(score_documents(pages))
    timings["pipeline_full_score"] = round(
        min(_timed(lambda: force(score_documents(pages))) for _ in range(TIMED_REPS)), 3
    )

    # best-of-TIMED_REPS per query: a single noisy host window poisoned
    # the round-2 recording (unchanged binaries drifted 7.3s -> 17.0s);
    # min-of-2 keeps one clean sample per query at ~2x bench runtime
    qs = E.queries()
    for name in BENCH_QUERIES:
        timings[name] = round(
            min(_timed(lambda: force(qs[name](spark, SF_DIR))) for _ in range(TIMED_REPS)),
            3,
        )

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "e2e_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec": round(TOTAL_PAGES / pipeline_sec, 1),
        "pages_rows": TOTAL_PAGES,
        "cpus": CPUS,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

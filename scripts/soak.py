"""Replication soaks: one harness, one entry per operator.

Every entry grows its input R-fold with ``replicate`` (replica 0 keeps
the original ids, replica i shifts them by i * OFFSET), times the
operator at each replication level in one session on cached input, and
asserts the entry's invariants.  Run exclusively (no concurrent Spark):
host drift poisons mixed runs.

Usage: PYTHONPATH=. python scripts/soak.py <name>
       (names: see ENTRIES at the bottom)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import N_PAGES, SF_DIR, ensure_pages, force  # noqa: E402

OFFSET = 1_000_000_000


def replicate(df, id_col: str, r: int):
    """R exact copies with disjoint ids; replica 0 keeps the original
    ids, so min-id survivors are replica-0 rows."""
    out = df
    for i in range(1, r):
        out = out.unionByName(df.withColumn(id_col, F.col(id_col) + F.lit(i * OFFSET)))
    return out


def cached(df):
    """``df`` persisted and materialized outside any timed window."""
    df = df.cache()
    df.count()
    return df


def timed(fn, repeat: int = 1):
    """(result, best wall seconds) of ``fn()`` over ``repeat`` runs."""
    best = None
    for _ in range(repeat):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return out, best


def sweep(base, id_col: str, levels, run, repeat: int = 1, partitions: int | None = None):
    """The timed loop: yields (r, rep, run(rep), wall) per level, where
    rep = ``base`` replicated r-fold (optionally repartitioned) and
    cached before the clock starts."""
    for r in levels:
        rep = replicate(base, id_col, r)
        rep = cached(rep.repartition(partitions) if partitions else rep)
        out, wall = timed(lambda: run(rep), repeat)
        yield r, rep, out, wall
        rep.unpersist()


def read(spark, table: str, *cols: str, sf_dir: str = SF_DIR):
    return cached(spark.read.parquet(f"{sf_dir}/{table}.parquet").select(*cols))


# ---------------------------------------------------------------------------
# entries
# ---------------------------------------------------------------------------

PAGES_SCALES = (10, 100)  # replicate factors -> 1M, 10M rows


def soak_10m(spark) -> None:
    """End-of-round 10M-row soak: tiered pipeline + segment dedup.

    Extends the round-2/3 10M pipeline soaks (BENCH/ROUND2.md §10M,
    BENCH/ROUND3.md §10M) with the round-4 segment-dedup operator; warmup
    pass before timing.  Corpus: bench.py's pages generator, 100k base
    rows replicated to 1M and 10M rows.  Replication makes every
    replica's text an exact copy of a base row, so:
      * pipeline docs/sec should be FLAT 1M -> 10M (shuffle-free map plan
        scales with input splits);
      * the gate -> segment_dedup composition (dedup over the SCRUBBED
        text of kept docs — the realistic curation order) must keep an
        IDENTICAL kept-segment total at 1M and 10M (replicas contribute
        zero new segments — asserted; extraction is deterministic), and
        its wall should scale with the scan, not with the 10x duplicate
        explosion, because the min-struct partial agg collapses repeats
        map-side."""
    from quality_filter.operators import dedup
    from quality_filter.pipeline import tiered_scored

    print("| rows | pipeline wall | docs/sec | gate->segdedup wall | kept segs |")
    print("|---|---|---|---|---|")
    kept_ref = None
    for rep in PAGES_SCALES:
        pages = spark.read.parquet(ensure_pages(spark, rep))
        n = N_PAGES * rep
        force(tiered_scored(pages))  # warmup: workers + artifacts + codegen
        _, pipe = timed(lambda: force(tiered_scored(pages)))
        gated = (
            tiered_scored(pages)
            .filter(F.col("status") == "keep")
            .select("url", "scrubbed_text")
        )
        kept, seg = timed(
            lambda: dedup.segment_dedup(gated, "scrubbed_text", "url")
            .agg(F.sum("n_kept")).collect()[0][0]
        )
        if kept_ref is None:
            kept_ref = kept
        assert kept == kept_ref, f"kept segments drifted: {kept} vs {kept_ref}"
        print(f"| {n:,} | {pipe:.1f}s | {n / pipe:,.0f} | {seg:.1f}s | {kept:,} |")


def soak_doremi(spark) -> None:
    """DoReMi replication soak for textagg.doremi_mixture_weights: the
    operator keys on source only, so replication multiplies every c12 /
    c1 / n_t by R while the bigram-TYPE relations stay fixed:
      * the model dims are EXACTLY constant: B does not move at any R
        (the vocabulary-bounded-dimension claim, the KN soak invariant);
      * the per-source fact (source, w1, w2) row count is EXACTLY
        constant — replication only scales n_t, so the broadcast join and
        per-source aggregation process the SAME rows at R=4 as at R=1;
      * wall must be ~FLAT in R (the only growing stage is the token
        explode feeding two partial aggs — map-side work);
      * weights stay a probability vector (Σ = 1 ± rounding) and drift
        only mildly: p(w2|w1) = ((4·R·c12−3)·B + 3·nrc·nlc)/(4·R·c1·B)
        moves with R (the absolute discount 3/4 does not scale), so bits
        shift by O(1/R·c12) — assert the max per-source weight drift is
        small and monotonically shrinking, NOT exact invariance.
    Timed best-of-2 (host drift discipline)."""
    from quality_filter.operators import textagg

    docs = read(spark, "documents", "doc_id", "source", "text")
    bg1 = textagg._kn_model_dims(docs, "text")[4]
    weights, walls = {}, {}
    def run(rep):
        return textagg.doremi_mixture_weights(rep, "text", "source").collect()
    for r, rep, rows, wall in sweep(docs, "doc_id", (1, 2, 4), run, repeat=2):
        walls[r] = wall
        weights[r] = {row["source"]: row["weight"] for row in rows}
        br = textagg._kn_model_dims(rep, "text")[4]
        assert br == bg1, f"B moved under replication: {bg1} -> {br} at R={r}"
        s = sum(weights[r].values())
        assert abs(s - 1.0) < 1e-4, f"weights not normalized at R={r}: {s}"
        print(f"R={r}: wall={wall:.2f}s  B={br}  sum_w={s:.6f}")
    drift2 = max(abs(weights[2][s] - weights[1][s]) for s in weights[1])
    drift4 = max(abs(weights[4][s] - weights[2][s]) for s in weights[2])
    print(f"max weight drift R1->R2 {drift2:.2e}, R2->R4 {drift4:.2e}")
    assert drift2 < 1e-3 and drift4 <= drift2 + 1e-12, (
        "weight drift must be small and shrinking (discount effect is O(1/R))"
    )
    assert walls[4] < walls[1] * 2.5, f"wall not ~flat under replication: {walls}"


def soak_exactsubstr(spark) -> None:
    """ExactSubstr replication soak for dedup.excise_duplicate_spans
    (arXiv:2107.06499 §4.1): replicas get ids ABOVE the originals, so
    every replica span duplicates the original's (global order = (id,
    position)):
      * the ORIGINAL docs' output rows must be EXACTLY the R=1 rows at
        every R (replicas can never steal a min-struct keeper);
      * every replica doc with >= span_len tokens must be FULLY excised
        (n_removed == n_tokens), and shorter replicas untouched;
      * wall must grow <= ~linearly in R: the window relation is
        O(tokens), while a 10^9-hot span ships one row per map task
        through the min-struct partial agg — superlinear growth would
        mean the keeper join is blowing up on hot spans."""
    from quality_filter.operators import dedup
    from quality_filter.operators.dedup import SPAN_WORDS

    docs = read(spark, "documents", "doc_id", "text")
    base_rows, walls = None, {}
    def run(rep):
        return dedup.excise_duplicate_spans(rep, "text", "doc_id").collect()
    for r, rep, rows, wall in sweep(docs, "doc_id", (1, 2, 4), run):
        walls[r] = wall
        out = {row["doc_id"]: (row["n_tokens"], row["n_removed"], row["dedup_fp"]) for row in rows}
        orig = {k: v for k, v in out.items() if k < OFFSET}
        if r == 1:
            base_rows = orig
        assert orig == base_rows, f"original excision drifted at R={r}"
        for k, (n_tok, n_rm, _) in out.items():
            if k >= OFFSET:
                if n_tok >= SPAN_WORDS:
                    assert n_rm == n_tok, f"replica {k} not fully excised"
                else:
                    assert n_rm == 0, f"short replica {k} excised"
        print(f"R={r}  rows={rep.count():7d}  wall={wall:6.2f}s  "
              "orig rows exactly stable; replicas fully excised", flush=True)
    assert walls[4] <= 6.0 * walls[1], (
        f"superlinear wall: {walls[1]:.2f}s -> {walls[4]:.2f}s at R=4"
    )


def soak_kn_surprisal(spark) -> None:
    """KN-surprisal scale soak: exact replication grows the doc FACT
    linearly but leaves the model DIMENSIONS (bigram counts, context
    sums, continuation counts) at a FIXED row count — only their count
    values scale:
      1. dim row counts constant in R (vocabulary-bounded, the broadcast
         justification);
      2. replicas of the same doc always agree with each other EXACTLY
         (the per-doc fold sees identical inputs).  No cross-R score
         assertion is possible: replication scales the model counts,
         legitimately shifting every probability — the discounted ratio
         ((4c-3)B + 3*nr*nl)/(4*c1*B) is only mildly perturbed;
      3. per-doc wall cost falls as fixed overhead amortizes (the fact
         path is two partition-bounded shuffles)."""
    from quality_filter.operators import textagg

    docs = read(spark, "documents", "doc_id", "text")
    reps = (1, 4, 16)
    dim0 = None
    def run(rep):
        return textagg.kn_doc_surprisal(rep, "text", "doc_id").collect()
    for r, rep, rows, wall in sweep(docs, "doc_id", reps, run):
        bits = {row["doc_id"]: row["surprisal_bits"] for row in rows}
        for i in range(1, r):
            assert all(
                bits[d] == bits[d + i * OFFSET] for d in bits if d < OFFSET
            ), f"replica divergence at R={r}"
        dim_rows = textagg._bigram_pairs(rep, "text").groupBy("w1", "w2").count().count()
        if dim0 is None:
            dim0 = dim_rows
        else:
            assert dim_rows == dim0, (dim_rows, dim0)
        nd = rep.count()
        print(f"R={r:3d} docs={nd:8d} dim_rows={dim_rows} wall={wall:7.2f}s"
              f" us/doc={wall / nd * 1e6:8.1f}")


def soak_outlinks(spark) -> None:
    """Outlink-tier scale soak: href extraction → host edges → PageRank.
    Replicas are NEW pages (offset doc_ids → fresh md5 link targets),
    i.e. a genuinely R×-larger crawl — the steady-state shape for
    link-graph building:
      1. the host universe and edge relation stay DIMENSION-bounded
         (≤ OL_HOSTS nodes, ≤ OL_HOSTS² weighted edges) at every R — the
         whole corpus collapses in the map-side partial agg;
      2. total edge weight grows exactly linearly in the page count (2
         absolute links per page, minus self-loops — id-dependent, so the
         drop fraction must stay small: md5-uniform ~2/OL_HOSTS);
      3. per-page wall cost of edges+pagerank should stay ~flat as R
         grows (narrow extraction scales with input splits; the
         iterative part runs on the collapsed dimension only)."""
    from __spark_entry__ import OL_HOSTS, _ol_pages

    from quality_filter.operators import graph, links

    docs = read(spark, "documents", "doc_id", "text")

    def run(rep):
        edges, t_edges = timed(lambda: cached(links.host_edges(_ol_pages(rep))))
        _, t_pr = timed(lambda: graph.pagerank(edges, iters=3).count())
        return edges, t_edges, t_pr

    for r, rep, (edges, t_edges, t_pr), _ in sweep(docs, "doc_id", (1, 4, 16), run):
        n = rep.count()
        ne = edges.count()
        tot_w = edges.agg(F.sum("w")).first()[0]
        nodes = (
            edges.select(F.col("src").alias("h"))
            .union(edges.select(F.col("dst").alias("h")))
            .distinct()
            .count()
        )
        print(f"R={r:2d} pages={n:6d} edges={ne:4d} nodes={nodes} tot_w={tot_w} "
              f"edges_wall={t_edges:6.2f}s pr_wall={t_pr:6.2f}s "
              f"per_page={(t_edges + t_pr) / n * 1e6:7.1f}us")
        assert nodes <= OL_HOSTS and ne <= OL_HOSTS * OL_HOSTS, (
            "edge relation not dimension-bounded"
        )
        assert 2 * n * 0.9 <= tot_w <= 2 * n, f"total edge weight {tot_w} not ~2x pages {n}"
        edges.unpersist()


def soak_round4(spark) -> None:
    """Round-4 soak: segment dedup + incremental band-index probe, with
    EXACT-duplicate replication — the adversarial case for dedup (every
    segment/band of replica r>0 collides with replica 0):
      1. segment_dedup: replicas share every segment, so the total of
         KEPT segments must be constant in R (all survivors come from the
         min-id replica); the min-struct partial agg should keep per-doc
         cost falling as fixed overhead amortizes.
      2. incremental_near_dup_flags with a FIXED probe batch against an
         index grown R×: flagged-doc output must be identical at every R
         (extra replicas add band rows for keys the probe already hits),
         and probe wall should grow far sublinearly — the join shuffle is
         bounded by the batch's band rows, the index side is scan+prune."""
    from quality_filter.operators import dedup

    docs = read(spark, "documents", "doc_id", "text")
    n_base = docs.count()
    reps = (1, 4, 16)

    print(f"\n## segment_dedup soak (base {n_base} docs)\n")
    print("| R | docs | sum(n_kept) | wall | us/doc |")
    print("|---|---|---|---|---|")
    kept_ref = None
    def run(rep):
        return dedup.segment_dedup(rep, "text", "doc_id").agg(F.sum("n_kept")).collect()[0][0]
    for r, rep, kept, dt in sweep(docs, "doc_id", reps, run):
        n = rep.count()
        if kept_ref is None:
            kept_ref = kept
        assert kept == kept_ref, f"kept segments drifted: {kept} vs {kept_ref}"
        print(f"| {r} | {n:,} | {kept:,} | {dt:.1f}s | {dt / n * 1e6:.0f} |")

    print(f"\n## incremental_near_dup probe vs growing index (batch {n_base} docs)\n")
    batch_bands = cached(dedup.lsh_bands(dedup.minhash_signature(docs, "text", "doc_id"), "doc_id"))
    print("| R | index band rows | flagged | wall |")
    print("|---|---|---|---|")
    flagged_ref = None
    for r in reps:
        idx_docs = replicate(docs.withColumn("doc_id", F.col("doc_id") + F.lit(500_000_000)), "doc_id", r)
        idx_path = os.path.join(tempfile.gettempdir(), f"qf_soak_idx_{r}")
        dedup.write_band_index(
            dedup.lsh_bands(dedup.minhash_signature(idx_docs, "text", "doc_id"), "doc_id"),
            idx_path,
        )
        idx = dedup.read_band_index(spark, idx_path)
        n_idx = idx.count()
        flagged, dt = timed(
            lambda: dedup.incremental_near_dup_flags(batch_bands, idx, "doc_id")
            .filter(F.col("hit_index")).count()
        )
        if flagged_ref is None:
            flagged_ref = flagged
        assert flagged == flagged_ref, f"flags drifted: {flagged} vs {flagged_ref}"
        print(f"| {r} | {n_idx:,} | {flagged:,} | {dt:.1f}s |")


def soak_semdedup(spark) -> None:
    """SemDedup hot-cluster soak: exact-duplicate replication is the
    ADVERSARIAL case for cluster-bounded pair joins — every replica lands
    in its original's cluster, so per-cluster pair work grows
    quadratically in R while the survivor set must stay EXACTLY the R=1
    set (all replicas drop against the min-id copy at cos = 1 >=
    threshold).

    Fixed k in {8, 32}: survivors identical to R=1 at every k (asserted);
    walls document the quadratic hot-cluster growth and the mitigation
    (finer k divides expected bucket size).

    Derived k = semdedup_n_clusters(rows) (the registered parameters)
    holds expected bucket ~constant, so wall must grow ≤ ~linearly in R.
    Survivor sets are k-dependent by SemDedup's nature (finer clusters see
    fewer pairs), so the invariant there is the replica one: every
    replica dies against its original (same vector → same cluster, cos =
    1 ≥ threshold, smaller id wins)."""
    from quality_filter.operators import similarity

    threshold = 0.35
    emb = read(spark, "embeddings", "vec_id", "embedding")
    n0 = emb.count()

    def survivors(rep, cents):
        return {
            row["vec_id"]
            for row in similarity.semantic_dedup(rep, "embedding", "vec_id", cents, threshold).collect()
        }

    for n_clusters in (8, 32):
        cents = similarity.train_ivf_centroids(emb, "embedding", "vec_id", n_clusters=n_clusters, seed=7)
        base_survivors = None
        for r, rep, surv, wall in sweep(emb, "vec_id", (1, 2, 4), lambda rep: survivors(rep, cents)):
            if r == 1:
                base_survivors = surv
            assert all(v < OFFSET for v in surv), "replica survived its original"
            assert surv == base_survivors, f"survivor drift at k={n_clusters} R={r}"
            print(f"k={n_clusters:3d} R={r}  rows={rep.count():6d}  survivors={len(surv):4d}  "
                  f"wall={wall:6.2f}s", flush=True)
    print("OK: survivors exactly the R=1 set at every replication level")

    walls = {}
    for r in (1, 2, 4):
        rep = cached(replicate(emb, "vec_id", r))
        k = similarity.semdedup_n_clusters(r * n0)
        cents = similarity.train_ivf_centroids(rep, "embedding", "vec_id", n_clusters=k, seed=7)
        surv, walls[r] = timed(lambda: survivors(rep, cents))
        assert all(v < OFFSET for v in surv), "replica survived its original"
        print(f"derived k={k:3d} R={r}  rows={r * n0:6d}  survivors={len(surv):4d}  "
              f"wall={walls[r]:6.2f}s", flush=True)
        rep.unpersist()
    # ≤ ~linear: R=4 wall within 4x of R=1 (+50% noise headroom)
    assert walls[4] <= 6.0 * walls[1], (
        f"derived-k wall superlinear: {walls[1]:.2f}s -> {walls[4]:.2f}s"
    )


def soak_tfidf_cosine(spark) -> None:
    """Adversarial-duplication soak for dedup.tfidf_cosine_pairs over the
    sf0.01 documents: R replicas of one doc produce O(R²) legitimate
    pairs.  The df hot-term cap is the bound — once replication pushes a
    term's document frequency above max_df the term leaves BOTH the join
    and the norms, so hot boilerplate stops generating candidate work:
      * R small: pairs grow ~R² within duplicate clusters (correct
        output, every replica pair IS a near-dup);
      * R ≥ max_df: shared vocabulary saturates the cap, vectors empty,
        pair count COLLAPSES and wall stays bounded — the 100-TB behavior
        (a boilerplate phrase in 10^9 docs never reaches the join).
    Reports only; no invariant is asserted."""
    from quality_filter.operators import dedup

    from __spark_entry__ import ORACLE_SF_DIR

    base = read(spark, "documents", "doc_id", "text", sf_dir=ORACLE_SF_DIR)
    def run(rep):
        return dedup.tfidf_cosine_pairs(rep, "text", "doc_id", min_cos=0.5).count()
    for r, rep, pairs, w in sweep(base, "doc_id", (1, 4, 16, 64), run, partitions=32):
        n = rep.count()
        print(f"R={r:3d} docs={n:7d} pairs={pairs:9d} wall={w:6.1f}s "
              f"us_per_doc={w / n * 1e6:8.1f}")


def soak_worker_tax(spark) -> None:
    """Fixed cost of a Python-UDF task: an identity pandas UDF against the
    native ``upper`` over the same 12k cached rows in 3, 12 and 48
    partitions.  The rows stay fixed, so slot seconds per task (wall x
    slots / tasks) is what each task costs beyond its rows; the gap to
    ``upper`` is the Python crossing's share.  Reports only; the one
    invariant is that both outputs equal the input (the rows are upper
    case already)."""
    @F.pandas_udf("string")
    def identity(s: pd.Series) -> pd.Series:
        return s

    base = spark.range(12_000).select(F.format_string("DOC %05d", "id").alias("s"))
    expected = sorted(r.s for r in base.collect())
    slots = spark.sparkContext.defaultParallelism
    print(f"slots={slots}")
    print("| tasks | udf | wall | slot s/task |")
    print("|---|---|---|---|")
    for tasks in (3, 12, 48):
        rows = cached(base.repartition(tasks))
        for name, fn in (("pandas identity", identity), ("native upper", F.upper)):
            def run(fn=fn):
                return rows.select(fn("s").alias("s")).collect()
            run()  # warm-up: workers for this partition count
            out, wall = timed(run, repeat=3)
            assert sorted(r.s for r in out) == expected, name
            print(f"| {tasks} | {name} | {wall:.3f}s | {wall * slots / tasks:.3f}s |")
        rows.unpersist()


ENTRIES = {
    "10m": soak_10m,
    "doremi": soak_doremi,
    "exactsubstr": soak_exactsubstr,
    "kn_surprisal": soak_kn_surprisal,
    "outlinks": soak_outlinks,
    "round4": soak_round4,
    "semdedup": soak_semdedup,
    "tfidf_cosine": soak_tfidf_cosine,
    "worker_tax": soak_worker_tax,
}


def main() -> int:
    from quality_filter.session import get_spark

    if len(sys.argv) != 2 or sys.argv[1] not in ENTRIES:
        print(f"usage: soak.py <{'|'.join(ENTRIES)}>", file=sys.stderr)
        return 2
    name = sys.argv[1]
    spark = get_spark(app_name=f"qf-soak-{name}")
    try:
        ENTRIES[name](spark)
    finally:
        spark.stop()
    print(f"SOAK PASS: {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
(random-hyperplane) variant as the scale path: at 10^12 rows the
brute-force scan is a full-corpus map (fine for one query, embarrassingly
parallel), while the LSH variant turns repeated queries into a bucket
lookup — the buckets are the partition keys.

Cosine spec: the higher-order-function expressions below (``dot`` /
``norm`` / ``cosine``) are the NORMATIVE formulation — a sequential
left fold over the element products, which is also what the DuckDB
oracle's list_dot_product evaluates.  They are CodegenFallback
(interpreted per element) in Spark, so the hot scan paths use the
Arrow-vectorized EXACT-FOLD kernels (``cosine_to_query_col`` etc.):
``np.cumsum`` reproduces the left fold's float64 operation order
bit-for-bit (each prefix sum IS the fold's accumulator sequence), so
kernel output is bit-identical to the expression output — pinned by
tests/test_similarity_and_registry.py's kernel-vs-expression
differential test.  Same defect class + fix as the round-2
blocked_all_pairs cogroup/BLAS rewrite (52.1s -> 6.8s at sf0.1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# exact-fold vectorized kernels (bit-identical fast path for the HOF spec)
# ---------------------------------------------------------------------------

def _fold_dots(X, Y):
    """Per-row left-fold dot product: cumsum's last column is exactly the
    sequence of ``acc + x_i*y_i`` float64 operations the HOF performs
    (acc starts at 0.0; 0.0 + p0 == p0 exactly)."""
    return np.cumsum(X * Y, axis=1)[:, -1]


def _fold_norms(X):
    return np.sqrt(np.cumsum(X * X, axis=1)[:, -1])


def _as_matrix(series):
    return np.array(list(series), dtype=np.float64)


def cosine_to_query_col(vec_col: Column, query_vec: list[float]) -> Column:
    """Arrow-vectorized twin of ``cosine(vec_col, lit(query_vec))`` —
    bit-identical output (exact-fold kernel), ~vectorized-C per batch
    instead of interpreted per element."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt(np.cumsum(q * q)[-1]))

    @F.pandas_udf("double")
    def kernel(v: pd.Series) -> pd.Series:
        X = _as_matrix(v)
        return pd.Series(_fold_dots(X, q) / (_fold_norms(X) * qn))

    return kernel(vec_col)


def cosine_pair_col(a: Column, b: Column) -> Column:
    """Arrow-vectorized twin of ``cosine(a, b)`` for two array columns —
    bit-identical output (exact-fold kernel)."""
    @F.pandas_udf("double")
    def kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
        X, Y = _as_matrix(va), _as_matrix(vb)
        return pd.Series(_fold_dots(X, Y) / (_fold_norms(X) * _fold_norms(Y)))

    return kernel(a, b)


def cosines_to_queries_col(vec_col: Column, query_vecs: list[list[float]]) -> Column:
    """array<double> of exact-fold cosines to each query vector — one
    Arrow crossing computes the whole query batch per corpus row (the
    knn_join kernel).  Element i is bit-identical to
    ``cosine(vec_col, lit(query_vecs[i]))``."""
    Q = np.asarray(query_vecs, dtype=np.float64)  # (nq, dim)
    qns = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])  # (nq,)

    @F.pandas_udf("array<double>")
    def kernel(v: pd.Series) -> pd.Series:
        X = _as_matrix(v)
        norms = _fold_norms(X)
        cols = [_fold_dots(X, Q[i]) / (norms * qns[i]) for i in range(len(Q))]
        out = np.stack(cols, axis=1) if len(Q) else np.zeros((len(X), 0))
        return pd.Series(list(out))

    return kernel(vec_col)


def knn_bruteforce(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.

    The query vector is a closure constant of the exact-fold Arrow
    kernel (bit-identical to the HOF ``cosine`` spec); the scan is a
    single narrow map + a k-row ORDER BY (Spark executes as
    TakeOrderedAndProject — no full sort materialization).

    Zero-norm vectors (no cosine direction → NaN, which Spark sorts
    ABOVE all reals descending) are excluded, as in every knn_* path.
    """
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_to_query_col(F.col(vec_col), query_vec), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_bucket_col(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket as a COLUMN: sign-bit string over the
    planes, from the exact-fold dot (bit-identical to the HOF spec; sign
    decisions can only differ from any other summation order on
    exact-zero boundaries anyway)."""
    P = np.asarray(planes, dtype=np.float64)

    @F.pandas_udf("string")
    def bucket_kernel(v: pd.Series) -> pd.Series:
        X = _as_matrix(v)
        bits = np.stack(
            [_fold_dots(X, P[i]) >= 0 for i in range(len(P))], axis=1
        ).astype(np.uint8)
        return pd.Series(["".join("1" if b else "0" for b in row) for row in bits])

    return bucket_kernel(vec_col)


def hyperplane_lsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, planes: list[list[float]]
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over the planes.
    Deterministic given the plane list (caller derives planes from a seed).
    At scale: repartition by bucket → queries probe one bucket."""
    return df.select(F.col(id_col), lsh_bucket_col(F.col(vec_col), planes).alias("bucket"))


def knn_lsh(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float],
    planes: list[list[float]], k: int = 10,
) -> DataFrame:
    """ANN: restrict the exact scan to the query's LSH bucket.
    Recall < 1.0 by construction; the scale path for repeated queries."""
    bucketed = hyperplane_lsh_buckets(df, vec_col, id_col, planes)
    qbits = "".join(
        "1" if sum(a * b for a, b in zip(p, query_vec)) >= 0 else "0" for p in planes
    )
    candidates = df.join(
        bucketed.filter(F.col("bucket") == qbits).select(id_col), id_col
    )
    return knn_bruteforce(candidates, vec_col, id_col, query_vec, k)


def query_bucket(query_vec: list[float], planes: list[list[float]]) -> str:
    """The query's LSH bucket string (sign bits over the planes)."""
    return "".join(
        "1" if sum(a * b for a, b in zip(p, query_vec)) >= 0 else "0" for p in planes
    )


def knn_lsh_multiprobe(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float],
    planes: list[list[float]], k: int = 10, probe_hamming: int = 1,
) -> DataFrame:
    """Multiprobe ANN: candidates come from every bucket within
    ``probe_hamming`` bit flips of the query's bucket — the standard
    recall lever that costs sum_i C(n_planes, i) extra bucket probes
    instead of extra hash tables.  Monotone: recall >= single-probe
    knn_lsh by construction (its bucket is probed too)."""
    import itertools

    qbits = query_bucket(query_vec, planes)
    probes = {qbits}
    for d in range(1, probe_hamming + 1):
        for pos in itertools.combinations(range(len(qbits)), d):
            b = list(qbits)
            for p in pos:
                b[p] = "0" if b[p] == "1" else "1"
            probes.add("".join(b))
    bucketed = hyperplane_lsh_buckets(df, vec_col, id_col, planes)
    candidates = df.join(
        bucketed.filter(F.col("bucket").isin(*sorted(probes))).select(id_col), id_col
    )
    return knn_bruteforce(candidates, vec_col, id_col, query_vec, k)


def knn_join_lsh(
    df: DataFrame, vec_col: str, id_col: str,
    queries: list[tuple[int, list[float]]], planes: list[list[float]], k: int = 10,
) -> DataFrame:
    """Batch ANN join: per-query top-k restricted to the query's
    hyperplane-LSH bucket — the recall<1 scale twin of ``knn_join``
    (same scoring kernel, same (rounded-cos desc, id asc) rank order,
    but only bucket-sharing candidates compete).

    Plan shape: ONE corpus scan computes the whole query batch's
    cosines AND the row's bucket (two Arrow crossings on the same
    narrow map), the bucket≠query-bucket rows die in a codegen'd
    filter before the explode output reaches the window, and the
    per-query top-k is a rank-limited window (WindowGroupLimit: only
    per-query candidate heads shuffle).  At 100 TB the filter removes
    ~(1 - 2^-n_planes) of the exploded rows map-side, which is the
    whole point of the index."""
    from pyspark.sql import Window as W

    qids = F.array(*[F.lit(int(qid)) for qid, _ in queries])
    qbuckets = F.array(*[F.lit(query_bucket(qv, planes)) for _, qv in queries])
    cos_arr = cosines_to_queries_col(F.col(vec_col), [qv for _, qv in queries])
    scored = (
        df.select(
            F.col(id_col),
            cos_arr.alias("_cs"),
            lsh_bucket_col(F.col(vec_col), planes).alias("_bkt"),
        )
        .select(F.col(id_col), F.col("_bkt"), F.posexplode("_cs").alias("_pos", "_cos"))
        .filter(F.col("_cos").isNotNull() & ~F.isnan("_cos"))
        .filter(F.element_at(qbuckets, F.col("_pos") + 1) == F.col("_bkt"))
        .select(
            F.element_at(qids, F.col("_pos") + 1).alias("query_id"),
            F.col(id_col),
            F.round("_cos", 6).alias("cos_sim"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# Above this many queries the per-query cumsum loop loses to BLAS
# candidate selection + exact rescore (measured: Q=2000 over 2000
# vectors, 12.0s cumsum vs 0.9s BLAS path, identical rows).
KNN_JOIN_BLAS_THRESHOLD = 64


def knn_join(
    df: DataFrame, vec_col: str, id_col: str,
    queries: list[tuple[int, list[float]]], k: int = 10,
) -> DataFrame:
    """Exact batch KNN join: top-k corpus neighbors for EVERY query in a
    (bounded) query set.  One corpus scan, no join operator for the
    scoring; the per-query top-k is a rank-limited window
    (WindowGroupLimit), so nothing shuffles but per-query candidate
    heads.  Two physical strategies, row-identical by construction
    (both pinned by test):

      * small Q: one exact-fold Arrow kernel scores the whole query
        batch per corpus row (array<double>, posexploded);
      * large Q (>= KNN_JOIN_BLAS_THRESHOLD): per-task BLAS matmul
        emits CANDIDATES (each task's per-query top-k plus a 2e-6
        rounding-plateau margin — a global top-k row is always inside
        its task's top-k, and the margin keeps every row whose ROUNDED
        value could still compete), then the exact-fold pair kernel
        rescores the small candidate set so emitted floats are
        bit-identical to the small-Q path.  Same
        BLAS-select/exact-verify template as blocked_all_pairs.

    Zero-norm corpus vectors have no cosine direction: their similarity
    is NaN under the fold spec (NULL once the kernel output crosses
    Arrow, which maps float NaN to null) — so both paths explicitly drop
    NULL/NaN-scored rows (the filter below / the rescore filter in the
    BLAS twin),
    keeping the two paths row-identical and the top-k meaningful.  A
    zero-norm QUERY vector likewise yields no rows for that query_id."""
    if len(queries) >= KNN_JOIN_BLAS_THRESHOLD:
        return _knn_join_blas(df, vec_col, id_col, queries, k)
    from pyspark.sql import Window as W

    qids = F.array(*[F.lit(int(qid)) for qid, _ in queries])
    cos_arr = cosines_to_queries_col(F.col(vec_col), [qv for _, qv in queries])
    scored = (
        df.select(F.col(id_col), cos_arr.alias("_cs"))
        .select(F.col(id_col), F.posexplode("_cs").alias("_pos", "_cos"))
        .filter(F.col("_cos").isNotNull() & ~F.isnan("_cos"))
        .select(
            F.element_at(qids, F.col("_pos") + 1).alias("query_id"),
            F.col(id_col),
            F.round("_cos", 6).alias("cos_sim"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def _knn_join_blas(
    df: DataFrame, vec_col: str, id_col: str,
    queries: list[tuple[int, list[float]]], k: int,
    margin: float = 2e-6,
) -> DataFrame:
    """Large-Q path: BLAS candidates per Arrow batch → exact rescore.

    Soundness of the per-batch cut: the final ordering is (round(cos,6)
    desc, id asc).  If a row is NOT within ``margin`` of its batch's
    k-th best BLAS similarity for a query, then >= k rows in that batch
    alone have exact cosine > row's + (margin - 1e-9) > 2 rounding
    half-steps → strictly greater ROUNDED values → the row cannot be in
    the global top-k.  Ties/plateaus (duplicate vectors) fall inside
    the margin and are all emitted; the exact rescore + global window
    decides, bit-identically to the small-Q kernel path."""
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    Q = np.asarray([qv for _, qv in queries], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # candidate id field mirrors the caller's id column type (string ids
    # work on both paths; hardcoding LongType silently broke them at Q>=64)
    out_schema = T.StructType(
        [
            T.StructField("_qidx", T.IntegerType()),
            T.StructField("_cid", df.schema[id_col].dataType),
        ]
    )

    def candidates(batches):
        # two-level cut: per-BATCH margin cut bounds accumulation, then a
        # per-TASK cut emits ~Q*k rows per task (not per 2048-row Arrow
        # batch) — the candidate volume that reaches the rescore join is
        # O(tasks * Q * k), independent of rows-per-task
        acc_q, acc_id, acc_s = [], [], []
        for pdf in batches:
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            if not len(X):
                continue
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            sims = Xn @ Qn.T  # (B, Q)
            kk = min(k, len(X))
            thresh = np.partition(sims, len(X) - kk, axis=0)[len(X) - kk] - margin
            ii, qq = np.nonzero(sims >= thresh[None, :])
            acc_q.append(qq.astype(np.int32))
            acc_id.append(pdf[id_col].to_numpy()[ii])
            acc_s.append(sims[ii, qq])
        if not acc_q:
            return
        qq = np.concatenate(acc_q)
        ids = np.concatenate(acc_id)
        ss = np.concatenate(acc_s)
        keep = np.zeros(len(qq), dtype=bool)
        order = np.lexsort((-ss, qq))  # group by query, sim desc
        qq_o, ss_o = qq[order], ss[order]
        starts = np.searchsorted(qq_o, np.arange(len(Qn)))
        ends = np.searchsorted(qq_o, np.arange(len(Qn)), side="right")
        for s, e in zip(starts, ends):
            if s == e:
                continue
            kth = ss_o[min(s + k, e) - 1]
            sel = order[s:e][ss_o[s:e] >= kth - margin]
            keep[sel] = True
        yield pd.DataFrame({"_qidx": qq[keep], "_cid": ids[keep]})

    cand = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(candidates, out_schema)
    qdf = F.broadcast(
        cand.sparkSession.createDataFrame(
            [(i, int(qid), [float(x) for x in qv]) for i, (qid, qv) in enumerate(queries)],
            "_qidx int, query_id long, _qv array<double>",
        )
    )
    vecs = df.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))
    rescored = (
        cand.join(qdf, "_qidx")
        .join(vecs, "_cid")
        .select(
            "query_id",
            F.col("_cid").alias(id_col),
            F.round(cosine_pair_col(F.col("_cv"), F.col("_qv")), 6).alias("cos_sim"),
        )
        # zero-norm rows that survive the BLAS cut rescore to NaN (NULL
        # after the Arrow crossing) — drop them, matching the small-Q path
        .filter(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    )
    return (
        rescored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def make_planes(dim: int, n_planes: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG state dependence)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def semantic_decontamination(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    is_bench: Column,
    planes: list[list[float]],
    cos_min: float,
) -> DataFrame:
    """Embedding-space eval-leak guard: flag every TRAIN vector within
    cos ≥ ``cos_min`` of ANY benchmark vector (``is_bench`` splits the
    relation).  Candidates are restricted to shared hyperplane-LSH
    buckets — a bucket equi-join, never train×bench all-pairs, so the
    per-bucket work is |train_b|×|bench_b| and replicating the training
    side grows the join LINEARLY (the bench side is the fixed small
    dimension).  Returns (id, n_bench_hits, contaminated) for every
    train row.  Recall < 1 by construction (a near-pair split across
    buckets is missed); the registered oracle applies the identical
    restriction so correctness is a full value-hash, and the recall
    question itself is measured by ann_recall_report."""
    buckets = hyperplane_lsh_buckets(emb, vec_col, id_col, planes)
    base = emb.join(buckets, id_col)
    bench = base.filter(is_bench).select(F.col(vec_col).alias("bv"), "bucket")
    train = base.filter(~is_bench).select(
        id_col, F.col(vec_col).alias("tv"), "bucket"
    )
    cos = cosine_pair_col(F.col("tv"), F.col("bv"))
    hits = (
        train.join(bench, "bucket")
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= F.lit(cos_min))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_bench_hits"))
    )
    n_hits = F.coalesce("n_bench_hits", F.lit(0)).cast("long")
    return (
        emb.filter(~is_bench)
        .select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col, n_hits.alias("n_bench_hits"), (n_hits > 0).alias("contaminated")
        )
    )


# ---------------------------------------------------------------------------
# exact all-pairs without a cartesian node — triangle block join
# ---------------------------------------------------------------------------

def _triangle_blocks(df: DataFrame, vec_col: str, id_col: str, n_blocks: int):
    """(side A, side B) for the triangle block join: rows land in block
    g = id % B; side A replicates each row to block-pairs (g, j >= g),
    side B to (i <= g, g) — the equi-join/cogroup on (bi, bj) then sees
    every unordered pair exactly once across B(B+1)/2 evenly-sized
    tasks (same-block pairs appear in both orders; callers keep one)."""
    g = (F.col(id_col) % n_blocks).cast("int")
    blocks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    a = (
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), g.alias("ga"))
        .withColumn("bj", F.explode(F.filter(blocks, lambda j: j >= F.col("ga"))))
        .withColumnRenamed("ga", "bi")
    )
    b = (
        df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), g.alias("gb"))
        .withColumn("bi", F.explode(F.filter(blocks, lambda i: i <= F.col("gb"))))
        .withColumnRenamed("gb", "bj")
    )
    return a, b


def blocked_all_pairs(
    df: DataFrame, vec_col: str, id_col: str,
    threshold: float, n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b, cos >= threshold)
    without a cartesian node: triangle block COGROUP + per-task BLAS.

    Each (bi, bj) block pair lands in one `cogroup.applyInPandas` task
    that runs the O(|Xi| x |Xj|) comparison as a single normalized
    float64 matmul — Arrow-batched numpy, not 2M interpreted
    higher-order-function evaluations (the HOF cosine in a join
    condition measured ~50s for 2000 vectors at sf0.1; the matmul path
    is sub-second).  The matmul emits CANDIDATES with a 1e-9 slack;
    survivors are re-verified with the exact left-fold `cosine`
    expression, so the emitted floats are bit-identical to the
    expression formulation (and to the DuckDB oracle) — BLAS summation
    order never decides membership or output values.

    Exact all-pairs is O(n^2) compute by definition; this gives it the
    shape that survives scale: B(B+1)/2 evenly-sized tasks, shuffle
    ~n*B/2 rows per side, candidates (not all pairs) leaving the
    cogroup.  Pick B so (n/B)^2 comparisons fit one task.  LSH buckets
    (`hyperplane_lsh_buckets`) are the sub-quadratic recall<1 path."""
    import pandas as pd
    from pyspark.sql import types as T

    a, b = _triangle_blocks(df, vec_col, id_col, n_blocks)
    out_schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
    )
    slack = threshold - 1e-9

    def compare(key, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if not len(pa) or not len(pb):
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        Xa = np.array(list(pa["va"]), dtype=np.float64)
        Xb = np.array(list(pb["vb"]), dtype=np.float64)
        Xa /= np.maximum(np.linalg.norm(Xa, axis=1, keepdims=True), 1e-300)
        Xb /= np.maximum(np.linalg.norm(Xb, axis=1, keepdims=True), 1e-300)
        sim = Xa @ Xb.T
        ia, ib = np.nonzero(sim >= slack)
        id_a = pa["id_a"].to_numpy()[ia]
        id_b = pb["id_b"].to_numpy()[ib]
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        keep = lo < hi  # drops self-pairs; same-block dup orders collapse below
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    candidates = (
        a.groupBy("bi", "bj")
        .cogroup(b.groupBy("bi", "bj"))
        .applyInPandas(compare, out_schema)
        .distinct()  # same-block pairs arrive once per ordering
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = cosine_pair_col(F.col("va"), F.col("vb"))
    return (
        candidates.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def kmeans_fit(
    X, n_clusters: int, iters: int = 10, seed: int = 7
) -> list[list[float]]:
    """Deterministic Lloyd's k-means (cosine / normalized rows) — the
    shared trainer core.  Pure numpy, bit-identical for identical input
    in identical order; both the Spark path and the local/oracle twin
    call THIS function so their centroids agree exactly."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=n_clusters, replace=False)].copy()
    for _ in range(iters):
        assign = (X @ cent.T).argmax(axis=1)  # cosine on normalized rows
        for c in range(n_clusters):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent.tolist()


def training_sample_order(id_value) -> tuple[str, str]:
    """Deterministic, order-invariant sample key: md5 of the stringified
    id (tie-broken by the id itself).  Content-addressed, so the sample
    is invariant under input repartition/sort — a plain LIMIT reads
    whatever partitions come first and trains biased centroids on
    sorted/partitioned corpora."""
    import hashlib

    s = str(id_value)
    return (hashlib.md5(s.encode()).hexdigest(), s)


def train_ivf_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_clusters: int = 8,
    iters: int = 10, seed: int = 7, sample_rows: int = 4096,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means on a bounded, HASH-ORDERED sample.

    The centroid table is a MODEL ARTIFACT, not a query-time computation:
    at corpus scale it is trained once on a sample (this routine), shipped
    like langid.npz, and the assignment below is the distributed part.
    The sample = the ``sample_rows`` smallest rows by md5(id) — executed
    as TakeOrderedAndProject (bounded driver memory, no full sort) and
    invariant under input partitioning, unlike limit() which reads the
    first partitions only."""
    rows = (
        df.select(F.col(id_col).cast("string").alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5("_id").asc(), F.col("_id").asc())
        .limit(sample_rows)
        .collect()
    )
    return kmeans_fit([list(r["_v"]) for r in rows], n_clusters, iters, seed)


def train_ivf_centroids_local(
    parquet_path: str, vec_col: str, id_col: str, n_clusters: int = 8,
    iters: int = 10, seed: int = 7, sample_rows: int = 4096,
) -> list[list[float]]:
    """Engine-free twin of train_ivf_centroids: same hash-ordered sample,
    same kmeans_fit core, bit-identical centroids — used by the DuckDB
    oracle generator and by differential tests."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    order = sorted(range(len(ids)), key=lambda i: training_sample_order(ids[i]))
    sample = [list(vecs[i]) for i in order[:sample_rows]]
    return kmeans_fit(sample, n_clusters, iters, seed)


def _assign_rows(X, C) -> "np.ndarray":
    """Nearest-centroid assignment for a float64 matrix — THE one
    definition shared by the Spark kernel (per Arrow batch) and the
    engine-free twin (whole matrix): per-row ops only, so the result is
    independent of batch boundaries.  sim_i = fold_dot(x, c_i) /
    (fold_norm(x) + 1e-12), winner = FIRST index attaining the max
    (matching the SQL when-chain's tie order)."""
    denom = _fold_norms(X) + 1e-12
    sims = np.stack([_fold_dots(X, C[i]) / denom for i in range(len(C))], axis=1)
    return sims.argmax(axis=1)


def assign_cluster_col(vec_col: Column, centroids: list[list[float]]) -> Column:
    """int Column of the nearest-centroid index (exact-fold kernel)."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    @F.pandas_udf("int")
    def assign_kernel(v: pd.Series) -> pd.Series:
        return pd.Series(_assign_rows(_as_matrix(v), C).astype(np.int32))

    return assign_kernel(vec_col)


def ivf_assign(df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]]) -> DataFrame:
    """(id, cluster): nearest-centroid assignment — one Arrow crossing
    computing every centroid similarity via the exact-fold kernel
    (bit-identical to the former greatest()-over-HOF-dots when-chain:
    sim_i = fold_dot(v, c_i) / (fold_norm(v) + 1e-12), winner = FIRST
    index attaining the max, matching the when-chain's tie order).
    At scale the output is written bucketed/partitioned by cluster so a
    query probes one bucket (the inverted file)."""
    return df.select(
        F.col(id_col), assign_cluster_col(F.col(vec_col), centroids).alias("cluster")
    )


KMEANS_SCALE = 10**6  # floor(x * 1e6) component integerization


def _normalized_micro(X, scale: int) -> "np.ndarray":
    """floor(x_i / (fold_norm(x) + 1e-12) * scale) as int64 — THE one
    integerization shared by the Spark kernel and the twin.  Normalized
    components (the kmeans_fit cosine convention: cluster means average
    UNIT rows), then the exact floor grid.  Every step is exact or
    correctly rounded identically across engines (the fold norm is the
    sequential-fold spec DuckDB's list_dot_product evaluates)."""
    denom = _fold_norms(X) + 1e-12
    return np.floor((X / denom[:, None]) * float(scale)).astype(np.int64)


def kmeans_step_stats(
    df: DataFrame, vec_col: str, centroids: list[list[float]],
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """One EXACT distributed Lloyd accumulation: (cluster int, dim int,
    n bigint, sum_micro bigint) over the FULL corpus.

    Components are unit-normalized (the kmeans_fit cosine convention)
    and integerized as floor(xn * scale) — exact doubles in, identical
    correctly-rounded ops in every engine — then summed in
    DECIMAL(38,0), the gate_distill_stats pattern: sums are EXACT and
    order-free, so the update is invariant under partitioning, task
    retries, and engines.  That is what lets the ITERATIVE refinement
    below carry a full value-hash oracle.

    Scale shape: ONE Arrow crossing computes assignment + integerized
    components together; posexplode to (cluster, dim) cells partial-
    aggregates map-side to ≤ k*d rows per task — the exchange moves
    O(tasks * k * d), never O(corpus)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("struct<cluster:int, xm:array<long>>")
    def step_kernel(v: pd.Series) -> pd.DataFrame:
        X = _as_matrix(v)
        return pd.DataFrame({
            "cluster": _assign_rows(X, C).astype(np.int32),
            "xm": list(_normalized_micro(X, scale)),
        })

    cells = (
        df.select(step_kernel(F.col(vec_col)).alias("s"))
        .select(F.col("s.cluster").alias("cluster"), F.posexplode("s.xm").alias("dim", "xm"))
    )
    return cells.groupBy("cluster", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xm").cast("decimal(38,0)")).cast("long").alias("sum_micro"),
    )


def _refine_update(
    prev: list[list[float]], stats_rows, scale: int = KMEANS_SCALE,
) -> list[list[float]]:
    """Centroid update from exact integer sums — THE one definition
    shared by the distributed path (collected step stats) and the
    engine-free twin: mean = sums/(n*scale) in float64, then unit-
    normalize (the kmeans_fit cosine convention); empty clusters keep
    their previous centroid."""
    k, d = len(prev), len(prev[0])
    sums = np.zeros((k, d), dtype=np.float64)
    ns = np.zeros(k, dtype=np.int64)
    for r in stats_rows:
        sums[r[0], r[1]] = float(r[3])
        ns[r[0]] = r[2]
    out = [list(c) for c in prev]
    for c in range(k):
        if ns[c] > 0:
            m = sums[c] / (float(ns[c]) * float(scale))
            out[c] = (m / max(np.linalg.norm(m), 1e-12)).tolist()
    return out


def kmeans_refine(
    df: DataFrame, vec_col: str, centroids: list[list[float]],
    iters: int = 3, scale: int = KMEANS_SCALE,
) -> list[list[float]]:
    """Distributed Lloyd refinement over the FULL corpus: the sample-
    trained centroids (train_ivf_centroids) are the init; each round is
    one kmeans_step_stats job + a k*d-row collect + the shared driver
    update.  Because the accumulations are exact integers and the
    driver math is identical, the result is bit-identical to
    kmeans_refine_local on the same input — the iterative algorithm
    itself sits under the value-hash oracle (q_kmeans_refined_clusters),
    not just a single step.  At 10^12 rows each round is one map +
    O(tasks*k*d) exchange; the collect is k*d rows."""
    cents = [[float(x) for x in c] for c in centroids]
    for _ in range(int(iters)):
        rows = [
            (r["cluster"], r["dim"], r["n"], r["sum_micro"])
            for r in kmeans_step_stats(df, vec_col, cents, scale).collect()
        ]
        cents = _refine_update(cents, rows, scale)
    return cents


def kmeans_refine_local(
    parquet_path: str, vec_col: str, centroids: list[list[float]],
    iters: int = 3, scale: int = KMEANS_SCALE,
) -> list[list[float]]:
    """Engine-free twin of kmeans_refine (oracle generation +
    differential tests): same _assign_rows kernel, same floor(x*scale)
    int64 accumulation (exact at test scale; the Spark side's decimal
    carries it at corpus scale), same _refine_update — bit-identical
    centroids by construction."""
    import pyarrow.parquet as pq

    X = np.array(
        pq.read_table(parquet_path, columns=[vec_col]).column(vec_col).to_pylist(),
        dtype=np.float64,
    )
    Xi = _normalized_micro(X, scale)
    cents = [[float(x) for x in c] for c in centroids]
    k = len(cents)
    for _ in range(int(iters)):
        assign = _assign_rows(X, np.asarray(cents, dtype=np.float64))
        rows = []
        for c in range(k):
            members = Xi[assign == c]
            if len(members):
                s = members.sum(axis=0)
                rows.extend((c, d, len(members), int(s[d])) for d in range(X.shape[1]))
        cents = _refine_update(cents, rows, scale)
    return cents


def write_ivf_index(
    df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]],
    path: str,
) -> None:
    """Materialize the INVERTED FILE: vectors written hive-partitioned
    by their coarse cluster (`cluster=<i>/`), so a query's n_probe
    restriction becomes PARTITION PRUNING at the scan — the probed
    clusters' files are the only bytes read, which is the entire point
    of IVF at corpus scale (ivf_assign alone computes the key; this
    writes the layout that makes the key useful)."""
    assigned = ivf_assign(df, vec_col, id_col, centroids)
    df.join(assigned, id_col).write.mode("overwrite").partitionBy("cluster").parquet(path)


def knn_ivf_indexed(
    spark, path: str, vec_col: str, id_col: str, query_vec: list[float],
    centroids: list[list[float]], n_probe: int = 2, k: int = 10,
) -> DataFrame:
    """ANN over a written IVF index: the cluster filter lands in the
    scan's PartitionFilters (pruned before any file is opened), then
    the exact-fold kernel scores only the probed clusters' rows.
    Same results as knn_ivf over the source table by construction
    (same centroids → same assignment → same candidate set)."""
    q = np.array(query_vec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    cent = np.array(centroids, dtype=np.float64)
    order = (cent @ q).argsort()[::-1][:n_probe].tolist()
    scan = spark.read.parquet(path).filter(F.col("cluster").isin(order))
    return knn_bruteforce(scan, vec_col, id_col, query_vec, k)


def knn_ivf(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float],
    centroids: list[list[float]], n_probe: int = 2, k: int = 10,
) -> DataFrame:
    """ANN via IVF: exact scan restricted to the ``n_probe`` clusters
    nearest to the query.  Recall grows with n_probe; n_probe = n_clusters
    degrades gracefully to the exact scan.  Query-time form over a source
    table; for repeated queries materialize the inverted file once with
    ``write_ivf_index`` and probe via ``knn_ivf_indexed`` (partition
    pruning reads only the probed clusters' files)."""
    import numpy as np

    q = np.array(query_vec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    cent = np.array(centroids, dtype=np.float64)
    order = (cent @ q).argsort()[::-1][:n_probe].tolist()
    assigned = ivf_assign(df, vec_col, id_col, centroids)
    candidates = df.join(
        assigned.filter(F.col("cluster").isin(order)).select(id_col), id_col
    )
    return knn_bruteforce(candidates, vec_col, id_col, query_vec, k)


SEMDEDUP_TARGET_BUCKET = 256  # expected cluster size n/k the pair join
# is sized for: per-cluster pair work ~ bucket², so holding the bucket
# ~constant makes total pair work LINEAR in corpus size instead of
# quadratic (the r4 soak measured the fixed-k=8 quadratic: 4.6→15.2s at
# R=4 while k=32 ran 3.3× faster on the same input).
SEMDEDUP_MIN_CLUSTERS = 8
SEMDEDUP_MAX_CLUSTERS = 4096  # past this, centroid ASSIGNMENT (O(n·k·d))
# dominates — the documented upgrade is hierarchical/IVF-tree assignment,
# not a bigger flat k.


def semdedup_n_clusters(
    n_rows: int,
    target_bucket: int = SEMDEDUP_TARGET_BUCKET,
    lo: int = SEMDEDUP_MIN_CLUSTERS,
    hi: int = SEMDEDUP_MAX_CLUSTERS,
) -> int:
    """Corpus-size-derived k for ``semantic_dedup``: the smallest k that
    keeps the expected cluster ≤ ``target_bucket`` rows, clamped to
    [lo, hi].  Shared by the Spark query AND the engine-free oracle twin
    (both compute it from the same row count), so the derived k can
    never diverge between engines."""
    if n_rows <= 0:
        return lo
    return min(hi, max(lo, -(-int(n_rows) // int(target_bucket))))


def semantic_dedup(
    df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]],
    threshold: float,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): coarse k-means
    partition of the embedding space, then WITHIN-CLUSTER near-dup
    removal — a vector is dropped iff some smaller-id vector assigned to
    the same cluster has cosine >= threshold; the min-id member of every
    semantic duplicate group survives.  Returns (id, cluster) for the
    surviving rows.

    Scale shape: the quadratic pair work is confined to single clusters
    (equi-join on the cluster id — the same bucket-join bound as LSH
    near-dup, with k-means granularity controlling expected bucket size
    n/k), so the corpus never does all-pairs; assignment itself is one
    Arrow crossing (``ivf_assign``).  The dropped-id set is a DISTINCT
    on ids (O(dups)), applied as a left-anti join.  Unbalanced clusters
    concentrate join work exactly like hot LSH bands — raise n_clusters
    (finer partition) or pre-split hot clusters the same way star_edges
    handles hot bands."""
    assigned = ivf_assign(df, vec_col, id_col, centroids)
    sides = df.join(assigned, id_col)
    a = sides.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "cluster"
    )
    b = sides.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "cluster"
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("_idb") < F.col("_ida"))
        .withColumn("_cos", cosine_pair_col(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
        .select(F.col("_ida").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti")


def quantize_int8_col(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i * (127 /
    max|x|) + 0.5) as BIGINT (zeros if the vector is all-zero).  The
    whole transform is ONE IEEE expression tree over doubles (cast,
    abs, max, divide, multiply, add, floor — all correctly-rounded
    ops), so Spark, DuckDB, and driver-side Python produce IDENTICAL
    integers from identical input floats: downstream integer dot
    products are exact and engine-comparable with no tolerance.  The
    100-TB lever: 4x less vector memory/shuffle than float32, 8x less
    than float64, with scores within quantization error of exact."""
    from quality_filter.operators.dedup import let_bound

    xd = F.transform(vec, lambda x: x.cast("double"))

    def with_xd(x):
        m = F.aggregate(x, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v)))

        def with_m(mm):
            return F.when(
                mm == 0.0,
                F.transform(x, lambda v: F.lit(0).cast("long")),
            ).otherwise(
                F.transform(
                    x,
                    lambda v: F.floor(v * (F.lit(127.0) / mm) + F.lit(0.5)).cast("long"),
                )
            )

        return let_bound(m, with_m)

    return let_bound(xd, with_xd)


def knn_bruteforce_int8(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k over int8-QUANTIZED vectors: the memory-compressed
    ANN baseline (quantize once at ingest, score with exact integer
    dot products).  Driver-side query quantization repeats the same
    IEEE expression as quantize_int8_col, so corpus and query live in
    the same integer space; all sums are exact BIGINTs (<= 127² × dim
    per dot — double-exact far beyond any real dim), the final cosine
    is one double expression over exact ints.  Zero-norm vectors
    (pp = 0) are excluded, as in every knn_* path.  Plan: narrow map +
    TakeOrderedAndProject — no sort materialization, no shuffle."""
    import math

    from quality_filter.operators.dedup import let_bound

    m = max(abs(float(x)) for x in query_vec)
    if m == 0.0:
        raise ValueError("query vector has zero norm")
    qint = [int(math.floor(float(x) * (127.0 / m) + 0.5)) for x in query_vec]
    qq = sum(v * v for v in qint)
    qarr = F.array([F.lit(v).cast("long") for v in qint])

    def dots(p):
        return F.struct(
            F.aggregate(
                F.zip_with(p, qarr, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
            F.aggregate(
                p, F.lit(0).cast("long"), lambda acc, v: acc + v * v
            ).alias("pp"),
        )

    st = df.select(
        F.col(id_col),
        let_bound(quantize_int8_col(F.col(vec_col)), dots).alias("_d"),
    )
    score = F.col("_d.dot").cast("double") / (
        F.sqrt(F.col("_d.pp").cast("double")) * F.lit(math.sqrt(float(qq)))
    )
    return (
        st.filter(F.col("_d.pp") > 0)
        .select(F.col(id_col), F.round(score, 6).alias("cos_sim_q8"))
        .orderBy(F.col("cos_sim_q8").desc(), F.col(id_col).asc())
        .limit(k)
    )

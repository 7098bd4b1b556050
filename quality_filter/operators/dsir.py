"""DSIR — Data Selection via Importance Resampling (hashed n-grams).

The target-distribution data-selection scheme of Xie et al., "Data
Selection for Language Models via Importance Resampling" (NeurIPS
2023, public): featurize every document as a bag of hashed word
n-grams (unigrams + bigrams here), fit two multinomial bucket
distributions — p from a small TARGET corpus (the "wiki-quality" data
you want more of) and q from the RAW corpus being filtered — and score
each raw document by its log importance weight
``sum_over_ngram_occurrences log(p_bucket / q_bucket)``.  Documents
whose weight clears a threshold (or the Gumbel-top-k resample) are
kept: the corpus is tilted toward the target distribution without
training a classifier.

Engine-portable determinism (the repo-wide discipline):

* bucket(g) = md5-bucket of the n-gram % ``n_buckets`` — the same md5
  hash universe as minhash/sampling, so DuckDB derives the identical
  bucket for every n-gram.
* the per-bucket log-ratio is INTEGERIZED once at the dimension level:
  ``lr_micro = floor(ln((n_t+1)*(R+B) / ((n_r+1)*(T+B))) * 1e9)`` — all
  count products are exact doubles (< 2^53), the single ``ln`` is the
  only correctly-rounded-not-exact step, and it happens B times total
  (not per doc), so a 1-ulp engine divergence has ~1e-7 per-bucket odds
  of flipping a floor.  Per-DOC weights are then SUMS OF BIGINTS —
  exact, order-free, retry/partition/engine-invariant (the
  gate_distill_stats integerization pattern applied to DSIR).
* selection compares that integer to an integer threshold — no float
  boundary anywhere in the keep/drop decision.

Scale shape (10^12 docs): the bucket-count pass is explode → partial
count, shuffling O(B) rows per task (B = ``DSIR_BUCKETS``, a dimension);
the learned ratio table is B rows — collected once like the IVF
centroid artifact and folded into a LITERAL array, so the scoring pass
is a pure narrow map (zero shuffles, zero joins): filter pushdown and
input-split parallelism do the rest.  Reference parity: this is the
same score-then-threshold verb as the NSFW gate
(/root/reference/opennsfw2/_inference.py:36-61), with the "model" a
count-based LM ratio instead of a CNN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quality_filter.operators.sampling import hash_bucket

DSIR_BUCKETS = 1024
LR_SCALE = 1_000_000_000  # log-ratio integerization: floor(ln(...) * 1e9)


def _tokens_lower(text: Column) -> Column:
    """lower(trim(text)) split on runs of ASCII spaces — the top_terms /
    corpus vocabulary tokenizer (oracle twin: _SIMPLE_TOKS lowered)."""
    return F.split(F.lower(F.trim(text)), "[ ]+")


def hashed_ngrams(text: Column) -> Column:
    """array<string> of word unigrams + space-joined bigrams, WITH
    multiplicity (bag semantics — the multinomial LM counts occurrences,
    not distinct types).  Bigrams via zip_with over two pre-sliced token
    arrays (O(tokens); the transform(sequence) form is O(tokens^2), see
    dedup.shingles)."""
    toks = _tokens_lower(text)
    m = F.size(toks) - 1
    bi = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, m), F.slice(toks, 2, m),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bi)


def ngram_bucket(g: Column, n_buckets: int = DSIR_BUCKETS) -> Column:
    """Hashed-feature bucket: md5-bucket(g) % n_buckets (int)."""
    return (hash_bucket(g) % n_buckets).cast("int")


def bucket_counts(df: DataFrame, text_col: str, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(bucket int, n long) — SPARSE occurrence counts of hashed n-grams
    over a corpus.  explode → partial count: each task emits at most
    n_buckets rows into the shuffle regardless of corpus size."""
    return (
        df.select(F.explode(hashed_ngrams(F.col(text_col))).alias("g"))
        .select(ngram_bucket(F.col("g"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def bucket_counts_pair(
    df: DataFrame, text_col: str, is_target: Column,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(bucket, n_target, n_raw) in ONE corpus pass.  The target corpus
    is a SUBSET of the raw corpus (a per-row predicate names it), so
    one explode with a target flag replaces two full explode+hash
    passes — the md5 per n-gram occurrence is the dominant cost of the
    ratio-dimension build, and this halves it (measured ~1.9x at sf0.1,
    exact-integer counts identical to the two-pass form)."""
    return (
        df.select(
            F.explode(hashed_ngrams(F.col(text_col))).alias("g"),
            is_target.alias("_t"),
        )
        .select(ngram_bucket(F.col("g"), n_buckets).alias("bucket"), "_t")
        .groupBy("bucket")
        .agg(
            F.sum(F.col("_t").cast("long")).cast("long").alias("n_target"),
            F.count(F.lit(1)).cast("long").alias("n_raw"),
        )
    )


def bucket_log_ratios_pair(
    spark: SparkSession,
    pair_counts: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """bucket_log_ratios over the single-pass (bucket, n_target, n_raw)
    relation — same full-domain join, same integerized ratio."""
    dom = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    j = dom.join(pair_counts, "bucket", "left").select(
        "bucket",
        F.coalesce("n_target", F.lit(0)).cast("long").alias("n_target"),
        F.coalesce("n_raw", F.lit(0)).cast("long").alias("n_raw"),
    )
    return _ratios_from_joined(j, n_buckets)


def _ratios_from_joined(j: DataFrame, n_buckets: int) -> DataFrame:
    """lr_micro over a full-domain (bucket, n_target, n_raw) relation —
    shared tail of both ratio builders (totals window over the B-row
    dimension, never a corpus)."""
    from pyspark.sql import Window

    # unpartitioned on purpose: one row per hash bucket (n_buckets rows)
    w = Window.partitionBy()
    t_tot = F.sum("n_target").over(w)
    r_tot = F.sum("n_raw").over(w)
    num = (F.col("n_target") + 1).cast("double") * (r_tot + n_buckets).cast("double")
    den = (F.col("n_raw") + 1).cast("double") * (t_tot + n_buckets).cast("double")
    lr = F.floor(F.log(num / den) * F.lit(float(LR_SCALE))).cast("long")
    return j.select("bucket", "n_target", "n_raw", lr.alias("lr_micro"))


def bucket_log_ratios(
    spark: SparkSession,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The learned DSIR dimension: (bucket, n_target, n_raw, lr_micro)
    over the FULL bucket domain (zero-count buckets included — they
    still carry the smoothing prior's log ratio).

    lr_micro = floor(ln((n_t+1)*(R+B) / ((n_r+1)*(T+B))) * 1e9) as a
    BIGINT — Laplace-smoothed multinomial log-likelihood ratio,
    integerized once per bucket (see module docstring for the
    cross-engine argument).  All arithmetic below B rows; the totals
    window runs over the dimension, never a corpus."""
    dom = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    j = (
        dom.join(target_counts.withColumnRenamed("n", "n_target"), "bucket", "left")
        .join(raw_counts.withColumnRenamed("n", "n_raw"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_target", F.lit(0)).cast("long").alias("n_target"),
            F.coalesce("n_raw", F.lit(0)).cast("long").alias("n_raw"),
        )
    )
    return _ratios_from_joined(j, n_buckets)


def collect_lr_array(ratios: DataFrame, n_buckets: int = DSIR_BUCKETS) -> list[int]:
    """Driver-side materialization of the B-row ratio dimension (the
    model artifact — bounded like the IVF centroid table, shipped as a
    literal into the scoring map)."""
    rows = ratios.select("bucket", "lr_micro").collect()
    lrs = [0] * n_buckets
    for r in rows:
        lrs[r["bucket"]] = int(r["lr_micro"])
    return lrs


def dsir_logweights(
    df: DataFrame, id_col: str, text_col: str,
    lr_by_bucket: list[int], n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(id, logw_micro bigint, n_ngrams bigint): per-document log
    importance weight = sum over n-gram OCCURRENCES of the bucket's
    lr_micro, plus the occurrence count (the length normalizer the
    selection uses — raw log weights scale with document length).

    The ratio table rides along as a constant-folded literal array and
    the sum is an ``aggregate`` fold over the doc's own n-grams — a pure
    narrow map with ZERO shuffles/joins: the scale-optimal scoring form
    (a broadcast-join twin only becomes necessary when B outgrows the
    expression tree, ~1e6 buckets)."""
    from quality_filter.operators.dedup import let_bound

    arr = F.array(*[F.lit(int(v)).cast("long") for v in lr_by_bucket])

    # LET-bind the n-gram array: referenced by BOTH the fold and the
    # size, it would otherwise be tokenized+concatenated twice per row
    # (measured 1.35x at sf0.1; bitwise-identical — pinned by the
    # differential test against the unbound spec)
    def _fold(ng):
        w = F.aggregate(
            ng,
            F.lit(0).cast("long"),
            lambda acc, g: acc + F.element_at(arr, ngram_bucket(g, n_buckets) + 1),
        )
        return F.struct(w.alias("w"), F.size(ng).cast("long").alias("n"))

    b = let_bound(hashed_ngrams(F.col(text_col)), _fold)
    return df.select(F.col(id_col), b.alias("_b")).select(
        id_col,
        F.col("_b.w").alias("logw_micro"),
        F.col("_b.n").alias("n_ngrams"),
    )


def dsir_select(weights: DataFrame, per_ngram_micro: int) -> DataFrame:
    """Keep documents whose MEAN per-n-gram log ratio clears the
    threshold, spelled as the cross-multiplied INTEGER compare
    ``logw_micro >= per_ngram_micro * n_ngrams`` — exact in every
    engine, so no float boundary can flip a keep/drop across engines,
    partitionings, or retries.  The threshold is corpus-calibrated
    (like config.quality_threshold): ln-ratio-per-ngram units * 1e9."""
    return weights.filter(
        F.col("logw_micro") >= F.lit(int(per_ngram_micro)) * F.col("n_ngrams")
    )


# ---------------------------------------------------------------------------
# engine-free twin (oracle generation + differential tests)
# ---------------------------------------------------------------------------

def _ngrams_local(text: str) -> list[str]:
    import re

    toks = re.split("[ ]+", text.strip(" ").lower())
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bucket_local(g: str, n_buckets: int = DSIR_BUCKETS) -> int:
    import hashlib

    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets


def dsir_local(
    texts: list[str], is_target: list[bool], n_buckets: int = DSIR_BUCKETS,
) -> tuple[list[int], list[int], list[int]]:
    """Pure-Python twin: returns (lr_micro by bucket, logw_micro by doc,
    n_ngrams by doc).  Same tokenizer, same md5 buckets, same
    smoothing/integerization — bit-identical to the Spark path by
    construction (differential tests + oracle cross-check pin it)."""
    import math

    nt = [0] * n_buckets
    nr = [0] * n_buckets
    per_doc: list[list[int]] = []
    for text, tgt in zip(texts, is_target):
        buckets = [_bucket_local(g, n_buckets) for g in _ngrams_local(text)]
        per_doc.append(buckets)
        for b in buckets:
            nr[b] += 1
            if tgt:
                nt[b] += 1
    T, R = sum(nt), sum(nr)
    lrs = [
        int(math.floor(
            math.log(((nt[b] + 1.0) * (R + n_buckets)) / ((nr[b] + 1.0) * (T + n_buckets)))
            * LR_SCALE
        ))
        for b in range(n_buckets)
    ]
    weights = [sum(lrs[b] for b in buckets) for buckets in per_doc]
    return lrs, weights, [len(b) for b in per_doc]

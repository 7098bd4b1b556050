"""Deterministic, engine-portable sampling operators.

A training-data pipeline needs samples that are (a) reproducible across
reruns, task retries, and parallelism levels, and (b) content-addressed
— NOT `df.sample()` (seeded per-partition RNG: the sample changes when
the partitioning does) and NOT `LIMIT` (reads whichever partitions come
first).  Hash sampling keys each row's fate to md5 of its id: the same
row is in or out forever, on any engine — DuckDB computes the identical
sample, so these are fully oracle-checkable.

Scale shape: a narrow map + filter, no shuffle; the sample decision is
pushed into the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 32  # first 8 md5 hex digits, uniform on [0, 2^32)


def hash_bucket(id_col: Column) -> Column:
    """Uniform [0, 2^32) bucket from md5 of the stringified id —
    `conv(substr(md5(id), 1, 8), 16, 10)` — byte-identical in DuckDB as
    `('0x' || substr(md5(id), 1, 8))::BIGINT` (same trick as the
    minhash/simhash portable hash universes)."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")


def hash_sample(df: DataFrame, id_col: str, rate: float) -> DataFrame:
    """Keep each row iff hash_bucket(id) < rate * 2^32: a deterministic
    ~rate sample, invariant under repartition/sort/retry."""
    return df.filter(hash_bucket(F.col(id_col)) < int(rate * _HASH_SPACE))


def stratified_hash_sample(
    df: DataFrame, id_col: str, stratum_col: str, rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum hash sampling (e.g. language rebalancing: downsample
    English, keep all of everything else).  Same row-fate determinism;
    the per-stratum threshold is a CASE over the stratum column, so the
    plan stays a single narrow filter — no shuffle, no per-group pass."""
    thr: Column = F.lit(int(default_rate * _HASH_SPACE))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum, int(rate * _HASH_SPACE)).otherwise(thr)
    return df.filter(hash_bucket(F.col(id_col)) < thr)


def temperature_mixture_rates(
    df: DataFrame, stratum_col: str, temperature: float = 0.5,
) -> DataFrame:
    """Per-stratum keep-rates that retemper the corpus mix: kept counts
    become proportional to n_s**temperature (the corpus-mixing scheme of
    multilingual/multi-source LM training — tau=1 keeps the natural
    mix, tau→0 approaches uniform).  rate_s = (n_s / n_min)**(tau-1),
    normalized so the smallest stratum keeps everything (a filter can
    only downsample).

    Returns (stratum, n_docs long, keep_threshold long) where
    keep_threshold = floor(rate * 2^32) is the hash_bucket cutoff.

    Cross-engine determinism: at tau=0.5 the rate is spelled
    sqrt(n_min/n_s) — count, min, one double divide, sqrt, a *2^32
    scale (exact: pure exponent shift), floor: every step is exact or
    IEEE-754 correctly-rounded, so Spark and DuckDB derive the SAME
    threshold integer and the sampled row set is bit-identical, no
    tolerance needed.  Any other tau routes through pow(), which is NOT
    correctly rounded; a 1-ulp cross-engine divergence could flip a
    boundary row (probability ~2^-20 per stratum) — registered oracle
    queries therefore pin tau=0.5.

    Scale shape: groupBy(stratum).count() partial-aggregates map-side to
    #strata rows per task; the window below runs over the dimension-sized
    count table, never the corpus."""
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # unpartitioned on purpose: one row per stratum (dimension-sized)
    nmin = F.min(F.col("n_docs").cast("double")).over(Window.partitionBy())
    n = F.col("n_docs").cast("double")
    if temperature == 0.5:
        rate = F.sqrt(nmin / n)
    else:
        rate = F.pow(n / nmin, F.lit(float(temperature) - 1.0))
    return counts.select(
        stratum_col,
        "n_docs",
        F.floor(rate * F.lit(float(_HASH_SPACE))).alias("keep_threshold"),
    )


def temperature_mixture_sample(
    df: DataFrame, id_col: str, stratum_col: str, temperature: float = 0.5,
) -> DataFrame:
    """Deterministic temperature sampling: rows whose hash_bucket(id)
    falls under their stratum's keep_threshold survive; kept stratum
    sizes are ~ n_s**temperature (rescaled).  The rate table is
    dimension-sized, so the join back is a broadcast hash join — the
    corpus side stays a narrow scan+filter with no shuffle; row fate is
    content-addressed (retry/partition/engine-invariant, see
    temperature_mixture_rates for the bit-exactness argument)."""
    rates = temperature_mixture_rates(df, stratum_col, temperature)
    return (
        df.join(F.broadcast(rates.drop("n_docs")), stratum_col, "inner")
        .filter(hash_bucket(F.col(id_col)) < F.col("keep_threshold"))
        .drop("keep_threshold")
    )


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
) -> DataFrame:
    """Per-stratum epoch replication — mixture weighting where weights
    may EXCEED 1 (the "see quality sources 2-3x per epoch" scheme that
    temperature_mixture_sample, a pure filter, cannot express).  Each
    row yields floor(e) full copies plus one extra copy iff
    hash_bucket(id) < frac(e) * 2^32 — the same content-addressed fate
    as hash_sample, so the replicated multiset is invariant under
    repartition/retry and identical cross-engine (both the full-copy
    count and the fractional threshold are precomputed INTEGER
    literals; no float compare at row time).  e < 1 degrades to a
    plain hash sample; rows with zero copies are dropped.

    Output: input columns + copy_idx (1-based long).  Scale shape: a
    narrow map + explode(sequence(1, n_copies)) — zero exchanges at
    any corpus size; output volume is sum_s(e_s * n_s) rows, produced
    per input split."""
    import math

    def _full(e: float) -> int:
        return int(math.floor(e))

    def _thr(e: float) -> int:
        return int((e - math.floor(e)) * _HASH_SPACE)

    full_col: Column = F.lit(_full(default_epochs))
    thr_col: Column = F.lit(_thr(default_epochs))
    for stratum, e in sorted(epochs.items()):
        full_col = F.when(F.col(stratum_col) == stratum, _full(e)).otherwise(full_col)
        thr_col = F.when(F.col(stratum_col) == stratum, _thr(e)).otherwise(thr_col)
    n_copies = full_col + (hash_bucket(F.col(id_col)) < thr_col).cast("int")
    seq = F.when(n_copies > 0, F.sequence(F.lit(1), n_copies)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy_idx", F.explode(seq)).withColumn(
        "copy_idx", F.col("copy_idx").cast("long")
    )


def weighted_hash_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int,
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling WITHOUT replacement (the
    one-pass distributed classic): each row draws key = u**(1/w) from
    its content-addressed uniform u, and the global top-k keys are the
    sample — inclusion probability rises with weight, no replacement
    bookkeeping, reproducible across reruns/retries/partitionings.

    Cross-engine determinism: u = (hash_bucket(id)+1) / 2^32 is an
    EXACT double (integer + exponent shift); weights are restricted to
    {1, 2, 4} so u**(1/w) is an sqrt chain — exact-or-correctly-rounded
    IEEE in every engine (the tau=0.5 trick from
    temperature_mixture_rates; arbitrary weights would route through
    pow(), which is not correctly rounded).  Ties broken by id.

    Scale shape: narrow map for the key, then TakeOrderedAndProject —
    a per-partition top-k heap merged on the driver, O(k) memory per
    task, no global sort materialization.  For k beyond driver memory,
    switch to a threshold refinement (sample the key distribution,
    filter, re-rank) — same key algebra."""
    u = (hash_bucket(F.col(id_col)) + 1).cast("double") / F.lit(float(_HASH_SPACE))
    w = F.col(weight_col)
    # any other weight would need pow() (not correctly rounded -> the
    # cross-engine guarantee dies) — hard-fail at execution rather than
    # silently sampling at weight 1 (the enum_check job-abort pattern)
    key = (
        F.when(w == 4, F.sqrt(F.sqrt(u)))
        .when(w == 2, F.sqrt(u))
        .when(w == 1, u)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("weighted_hash_sample: weight must be one of {1,2,4}, got "),
                    w.cast("string"),
                )
            ).cast("double")
        )
    )
    return (
        df.withColumn("es_key", key)
        .orderBy(F.desc("es_key"), F.col(id_col))
        .limit(k)
    )

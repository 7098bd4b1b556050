"""Driver contract: flagship entry, operator query registry, DuckDB oracles.

Every SQL-expressible operator from SURVEY.md §2 is registered twice: once
as a Spark DataFrame program (``queries()``) and once as ANSI SQL for the
DuckDB oracle (``oracle_sql()``).  Column names and integer/double types
are aligned on both sides (counts cast to BIGINT, floats rounded) so the
driver's order-insensitive value-hash matches.

Engine-specific hashing is avoided in registered queries (md5 hash
universes, shared plane/centroid literals, engine-free trainer twins)
so EVERY registry entry carries a full value-hash oracle — including
simhash, LSH/IVF ANN, and the LSH near-dup path.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from quality_filter.config import load_config
from quality_filter.features import SYMBOL_PATTERN, TOKEN_SEP_PATTERN
from quality_filter.corpus import STOPWORDS
from quality_filter.functions import rules as R
from quality_filter.functions import textstats as TS
from quality_filter.operators import dedup, graph, links, relational, sampling, similarity, textagg, windows

CFG = load_config()
LANGS = sorted(STOPWORDS)
NUM_HASHES = dedup.DEFAULT_NUM_HASHES
BAND_SIZE = dedup.DEFAULT_BAND_SIZE


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full quality-filter pipeline over the sf0.001
    documents table (text passthrough → rules → langid → ppl → gates)."""
    from quality_filter.pipeline import score_documents

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2025-06-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return score_documents(pages)


# ---------------------------------------------------------------------------
# Spark query implementations
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = relational.broadcast_join(
        relational.broadcast_join(orders, customer, orders.o_custkey == customer.c_custkey),
        nation, F.col("c_nationkey") == nation.n_nationkey,
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )


def q_top_suppliers_by_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    joined = relational.broadcast_join(rev, sup, rev.l_suppkey == sup.s_suppkey)
    top = windows.topk_per_group(
        joined, "s_nationkey", F.col("revenue").desc(), "s_suppkey", 5
    )
    return top.select(
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        "s_suppkey", "revenue", F.col("rank").cast("long").alias("rank"),
    )


def q_rollup_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )


def q_customers_without_orders(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return relational.anti_join_keys(
        customer.select("c_custkey"),
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


def q_salted_user_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("total_value"))
    joined = relational.salted_join(ev, dim, "user_id", "event_id", n_salts=8)
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.min("total_value"), 4).alias("total_value"),
    )


def q_decimated_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return windows.decimate(ev, "user_id", "ts", "event_id", CFG.frame_interval).select(
        "event_id", "user_id"
    )


def _tumbling(spark, sf_dir, agg):
    ev = _t(spark, sf_dir, "events")
    out = windows.tumbling_count_agg(
        ev, "user_id", "ts", "event_id", "value", CFG.aggregation_size, agg
    )
    return out.select(
        "user_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.round("agg_value", 6).alias("agg_value"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "bucket_start",
    )


def q_tumbling_agg_mean(spark, sf_dir):
    return _tumbling(spark, sf_dir, "MEAN")


def q_tumbling_agg_median(spark, sf_dir):
    return _tumbling(spark, sf_dir, "MEDIAN")


def q_tumbling_agg_max(spark, sf_dir):
    return _tumbling(spark, sf_dir, "MAX")


def q_tumbling_agg_min(spark, sf_dir):
    return _tumbling(spark, sf_dir, "MIN")


def q_hourly_event_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = windows.tumbling_time_agg(ev, "ts", "event_type", "value", "1 hour")
    return out.select(
        "window_start", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_hourly_unique_users(spark, sf_dir):
    """Exact distinct users per hour — Spark expands COUNT(DISTINCT)
    into a two-phase aggregate (partial distinct per map task, then the
    merge), so the shuffle carries (hour, user) partials, not raw
    events.  The mergeable-sketch twin for past-memory cardinalities is
    metrics.sketch_summary's HLL (rsd-bounded, pytest-pinned) — exact
    is the registered oracle form because HLL bit-layouts differ
    engine to engine."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


def q_forward_fill_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    out = windows.forward_fill(ev, "user_id", "ts", "event_id", purchase_val, "filled")
    return out.select("event_id", "user_id", F.round("filled", 6).alias("filled"))


def q_sessionized_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = windows.sessionize(ev, "user_id", "ts", "event_id", gap_seconds=3600)
    return s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )


def q_topk_events_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    top = windows.topk_per_group(ev, "user_id", F.col("value").desc(), "event_id", 3)
    return top.select("event_id", "user_id", "value", F.col("rank").cast("long").alias("rank"))


def q_text_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    toks = TS.tokens_simple(t)
    n_words = F.size(toks).cast("double")
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_calc"),
        TS.token_count_ws(t).cast("long").alias("n_words"),
        TS.token_count_bpe(t).cast("long").alias("n_tokens_bpe"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / n_words, 6
        ).alias("mean_word_len"),
    )


def q_stopword_ratio_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    return docs.select("doc_id", F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"))


def q_symbol_density_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    return docs.select("doc_id", F.round(feats["symbol_ratio"], 6).alias("symbol_ratio"))


def q_quality_gate_docs(spark, sf_dir):
    """FAST-profile heuristic gate over the documents table — the fully
    SQL-expressible shadow of the production pipeline."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    hard = R.hard_rule_reasons(feats, CFG)
    fail_any = None
    for _, cond in hard:
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (q >= CFG.quality_threshold)
    return docs.select(
        "doc_id", F.round(q, 6).alias("quality_score"), keep.alias("keep_heuristic")
    )


def _distill_base(spark, sf_dir):
    """Staged (id, x0..x5, y) fact with y = the heuristic gate's keep
    decision — the distillation label (q_quality_gate_docs's plan)."""
    from quality_filter.operators import distill

    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    fail_any = None
    for _, cond in R.hard_rule_reasons(feats, CFG):
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (q >= CFG.quality_threshold)
    return docs, distill.staged_base(docs, "doc_id", feats, keep)


def q_gate_distill_weights(spark, sf_dir):
    """The classifier-in-the-loop capstone (DCLM/FineWeb-Edu pattern):
    a linear student model TRAINED INSIDE THE ENGINE to imitate the
    heuristic gate, by exact-integer class-balanced Gauss-Seidel
    (operators/distill.py).  Output = the 6 learned weights — the
    oracle re-derives every one bit-for-bit from unrolled SQL, so the
    full training trajectory is value-hash checked.

    Fuzz-safe: the whole trajectory is exact-integer (floored IEEE ratio
    doubles, HUGEINT/DECIMAL sums, trunc division); a degenerate
    one-class corpus keeps every weight at 0 in both engines."""
    from quality_filter.operators import distill

    _, base = _distill_base(spark, sf_dir)
    w = distill.train_distilled_gate(base)
    rows = [(f, int(w[f])) for f in distill._FEATURES]
    wdf = spark.createDataFrame(rows, "f string, w_int long")
    return wdf.select(
        "f",
        "w_int",
        F.round(
            F.col("w_int").cast("double") / F.lit(float(distill.DISTILL_SCALE)), 6
        ).alias("w_real"),
    )


def q_distilled_gate_agreement(spark, sf_dir):
    """Deployment report for the in-engine trained classifier: per
    source, gate keeps vs model keeps vs agreement.  Scoring is a
    ZERO-SHUFFLE narrow map over literal weights (margin >= 2^31, an
    exact integer compare) — the shape that replaces the full rule
    stack on a 100 TB corpus once agreement is acceptable."""
    from quality_filter.operators import distill

    docs, base = _distill_base(spark, sf_dir)
    w = distill.train_distilled_gate(base)
    km = distill.model_keep_col(
        {f: F.col(f"_x_{f}") for f in distill._FEATURES}, w
    )
    scored = base.select(
        F.col("_id").alias("doc_id"),
        F.col("_y").alias("y"),
        km.cast("int").alias("km"),
    )
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_keep_gate"),
            F.sum("km").cast("long").alias("n_keep_model"),
            F.sum(F.when(F.col("y") == F.col("km"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep_gate",
            "n_keep_model",
            "n_agree",
            F.round(
                F.col("n_agree").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("accuracy"),
        )
    )


RELIABILITY_BIN_LO, RELIABILITY_BIN_HI = -8, 15


def q_distilled_gate_reliability(spark, sf_dir):
    """Calibration audit of the in-engine trained student (the
    reliability-diagram companion to distilled_gate_agreement): per
    exact-integer margin bin (eighths of a clean-keep margin,
    floor-div spelled via pmod so both engines bin identically),
    the teacher's keep rate next to the student's decision — a
    well-calibrated student shows teacher keep-rate rising through
    the 0.5-margin decision boundary (bin 4, since TARGET/2 is
    exactly 4 bin widths).  Everything up to the final rate is
    exact-integer; scoring stays a zero-shuffle narrow map over
    literal weights (the distill deploy shape)."""
    from quality_filter.operators import distill

    _, base = _distill_base(spark, sf_dir)
    w = distill.train_distilled_gate(base)
    m = distill.margin_col({f: F.col(f"_x_{f}") for f in distill._FEATURES}, w)
    bw = distill.DISTILL_TARGET // 8  # bin width 2^29 — TARGET//2 == 4 bins
    scored = base.select(F.col("_y").alias("y"), m.alias("margin"))
    fdiv = (
        (F.col("margin") - F.pmod(F.col("margin"), F.lit(bw))) / F.lit(bw)
    ).cast("long")  # exact floor-div: |margin| < 2^49 << 2^53
    bin_id = F.greatest(
        F.lit(RELIABILITY_BIN_LO), F.least(F.lit(RELIABILITY_BIN_HI), fdiv)
    ).cast("long")
    return (
        scored.select("y", bin_id.alias("bin_id"))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_keep_gate"),
        )
        .select(
            "bin_id",
            F.round(F.col("bin_id").cast("double") * 0.125, 6).alias("bin_lo"),
            "n_docs",
            "n_keep_gate",
            F.round(
                F.col("n_keep_gate").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("keep_rate_gate"),
            (F.col("bin_id") >= F.lit(4)).alias("model_keep"),
        )
    )


def q_rule_ablation_report(spark, sf_dir):
    """Per-rule ablation of the quality gate (the gate-tuning
    observability verb): for each hard rule plus the soft quality
    threshold, how many docs fail it, and how many fail ONLY it —
    i.e. the docs that would flip to keep if that rule were removed
    (its marginal cost to the corpus).  One narrow map computes all
    8 booleans per doc (shared feature expression tree, CSE'd by
    Catalyst), then an 8-way struct explode feeding a map-side-
    combined 8-row groupBy — no second corpus scan per rule, which is
    how a naive ablation (8 separate gate runs) would burn a 100 TB
    scan per rule.

    Fuzz-safe: one flag per quality_gate_docs predicate plus an
    exact-integer fail count."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    # LET-bind the feature struct ONCE per row: the 8 flag conditions +
    # the 8-term fail count reference lambda-bearing feature expressions
    # ~16x, and Catalyst's subexpression elimination skips lambda trees
    # — unbound, the tokenization re-runs per flag (measured 5.3s vs
    # 1.35s at sf0.1, output bitwise-identical; the winnowing let_bound
    # lesson applied to scalar features)
    fkeys = [
        "n_chars", "n_words", "stopword_ratio", "symbol_ratio",
        "distinct_ratio", "mean_word_len", "length_norm",
    ]
    fstruct = F.struct(*[feats[k].alias(k) for k in fkeys])

    def _flags(s):
        f2 = {k: s[k] for k in fkeys}
        f2["ppl_norm"] = F.lit(0.0)
        q = R.quality_score_col(f2, CFG)
        conds = list(R.hard_rule_reasons(f2, CFG)) + [
            ("low_quality", q < CFG.quality_threshold)
        ]
        nf = None
        for _, c in conds:
            nf = c.cast("int") if nf is None else nf + c.cast("int")
        arr = F.array(
            *[
                F.struct(F.lit(n).alias("rule"), c.cast("int").alias("fail"))
                for n, c in conds
            ]
        )
        return F.struct(arr.alias("arr"), nf.alias("nf"))

    bound = dedup.let_bound(fstruct, _flags)
    ex = (
        docs.select(bound.alias("_b"))
        .select(F.explode(F.col("_b.arr")).alias("rf"), F.col("_b.nf").alias("nf"))
        .select(F.col("rf.rule").alias("rule"), F.col("rf.fail").alias("fail"), "nf")
    )
    return ex.groupBy("rule").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fail").cast("long").alias("n_fail"),
        F.sum(F.when((F.col("fail") == 1) & (F.col("nf") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_fail_only"),
    ).select(
        "rule",
        "n_docs",
        "n_fail",
        "n_fail_only",
        F.round(F.col("n_fail").cast("double") / F.col("n_docs"), 6).alias(
            "fail_rate"
        ),
        F.round(F.col("n_fail_only").cast("double") / F.col("n_docs"), 6).alias(
            "marginal_keep_rate"
        ),
    )


SRC_KEEP_FRAC_MIN = 0.1


def q_source_reputation_flags(spark, sf_dir):
    """Domain-level curation (the RefinedWeb/Gopher practice of gating
    whole low-quality sources, not just docs): per-source keep-rate
    reputation joined back to flag each doc.  The reputation dim is
    O(#sources) — one map-side-combined agg shuffle O(sources), then a
    broadcast join back; the corpus side is scan + narrow map, never
    shuffled on doc_id.  keep_frac is a division of exact integer
    counts, so the threshold compare is bit-identical cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    fail_any = None
    for _, cond in R.hard_rule_reasons(feats, CFG):
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (q >= CFG.quality_threshold)
    scored = docs.select("doc_id", "source", keep.alias("keep"))
    rep = scored.groupBy("source").agg(
        (F.sum(F.col("keep").cast("long")) / F.count(F.lit(1))).alias("frac")
    )
    return scored.join(F.broadcast(rep), "source").select(
        "doc_id",
        "source",
        F.round("frac", 6).alias("src_keep_frac"),
        (F.col("keep") & (F.col("frac") >= SRC_KEEP_FRAC_MIN)).alias("keep_domain"),
    )


N_SCORE_BINS = 20


def q_quality_score_histogram(spark, sf_dir):
    """One-pass threshold sweep for gate calibration: fixed-width
    histogram of the quality score plus the would-keep count at each
    candidate threshold (descending cumulative).  The corpus collapses
    map-side into <= 20 bin rows before the exchange; the cumulative
    window runs over the bin DIMENSION only (single tiny task by
    construction) — no corpus shuffle, no global sort of docs.  Bin
    assignment is floor(score * 20) on the bit-identical sigmoid, so
    the full value hash holds cross-engine."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    bin_ = F.least(F.floor(q * N_SCORE_BINS), F.lit(N_SCORE_BINS - 1)).cast("long")
    hist = (
        docs.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    # unpartitioned on purpose: one row per score bin (N_SCORE_BINS rows)
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return hist.select(
        "bin",
        F.round(F.col("bin").cast("double") / N_SCORE_BINS, 6).alias("bin_lo"),
        "n_docs",
        F.sum("n_docs").over(w).alias("n_ge_bin"),
    )


def q_score_drift_psi(spark, sf_dir):
    """Population-stability-index drift monitor between two crawl
    snapshots: per-bin quality-score shares (Laplace-smoothed so empty
    bins stay defined) and the PSI contribution
    (p_new - p_old)·ln(p_new/p_old) per bin — the batch-over-batch
    distribution-shift alarm a production gate needs.  Both snapshot
    histograms collapse map-side to ≤ {N_SCORE_BINS} rows; totals and
    terms run on the bin DIMENSION only (single tiny task).  The final
    PSI is the consumer's driver-side sum of psi_term (kept per-bin
    here so the hash check is over exact expression trees, not a
    shuffle-ordered float sum)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    bin_ = F.least(F.floor(q * N_SCORE_BINS), F.lit(N_SCORE_BINS - 1)).cast("long")
    b = docs.select(F.col("doc_id"), bin_.alias("bin"))
    old = (
        b.filter(F.col("doc_id") % SNAP_MOD != SNAP_MOD - 1)
        .groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("n_old"))
    )
    new = (
        b.filter(F.col("doc_id") % SNAP_MOD != 0)
        .groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    j = old.join(new, "bin", "full").select(
        "bin",
        F.coalesce("n_old", F.lit(0).cast("long")).alias("n_old"),
        F.coalesce("n_new", F.lit(0).cast("long")).alias("n_new"),
    )
    # unpartitioned on purpose: one row per score bin (N_SCORE_BINS rows)
    w = Window.partitionBy()
    t = j.select(
        "bin", "n_old", "n_new",
        F.sum("n_old").over(w).alias("_to"), F.sum("n_new").over(w).alias("_tn"),
    )
    p_old = (F.col("n_old") + 1.0) / (F.col("_to") + float(N_SCORE_BINS))
    p_new = (F.col("n_new") + 1.0) / (F.col("_tn") + float(N_SCORE_BINS))
    return t.select(
        "bin", "n_old", "n_new",
        F.round(p_old, 6).alias("p_old"),
        F.round(p_new, 6).alias("p_new"),
        F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_term"),
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def q_doc_chunks(spark, sf_dir):
    """Fixed-window token chunking with overlap (training-window /
    RAG-passage prep): each doc yields ceil((n-64)/48)+1 chunks of 64
    tokens at stride 48 (one chunk when n <= 64).  Pure narrow map —
    tokenize, per-row sequence, slice, posexplode; NO shuffle, no
    window, no join at any corpus size.  Tokenization is the shared
    lower/trim/space split (cross-engine parity already fuzz-proven on
    the top-terms/TF-IDF family)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), "[ ]+")
    n = F.size(toks)
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.ceil((n - CHUNK_TOKENS) / F.lit(CHUNK_STRIDE)) + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
        ),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).select("doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk_text")


CONTAIN_K = 4
CONTAIN_MAX_DF = 50
V2_URL_PATH_MOD = 400
V2_URL_ID_MOD = 2


def q_containment_pairs(spark, sf_dir):
    """Subset/quote containment over distinctive 4-word segments: catches
    quoted articles and excerpt subsets that minhash under-scores when
    |contained| << |container|.  Hot segments (df > 50) are capped out of
    both candidate generation and the coverage requirement — the LSH
    hot-band mitigation applied to containment."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.segment_containment_pairs(
        docs, "text", "doc_id", k=CONTAIN_K, max_df=CONTAIN_MAX_DF
    ).select(
        "contained_id", "container_id", F.col("n_shared").cast("long").alias("n_shared")
    )


def q_repetition_profile_docs(spark, sf_dir):
    """Gopher-style repetition bundle per doc: top-token share (most
    frequent word's fraction), duplicate word-2-gram and word-3-gram
    fractions.  Pure array math (shared shingle builder + HOF counts) —
    no explode, no shuffle; per-row cost bounded by doc length."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "[ ]+")
    n = F.size(toks).cast("double")
    top = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    ).cast("double")

    def dup_ratio(k):
        sh = dedup.shingles(F.col("text"), k)
        total = F.size(sh).cast("double")
        distinct = F.size(F.array_distinct(sh)).cast("double")
        return F.when(total > 0, 1.0 - distinct / total).otherwise(F.lit(0.0))

    return docs.select(
        "doc_id",
        F.round(top / n, 6).alias("top_token_share"),
        F.round(dup_ratio(2), 6).alias("dup_2gram_ratio"),
        F.round(dup_ratio(3), 6).alias("dup_3gram_ratio"),
    )


def q_unit_dedup_docs(spark, sf_dir):
    """Within-doc keep-first-occurrence dedup (C4 line-dedup algebra at
    token granularity — this corpus is newline-free): zero-shuffle
    narrow map via array HOFs; reassembled text pinned by md5 so the
    hash check carries the exact surviving sequence."""
    docs = _t(spark, sf_dir, "documents")
    units = F.split(F.col("text"), " ")
    kept = dedup.keep_first_units_col(F.col("text"), sep_pattern=" ")
    return docs.select(
        "doc_id",
        F.md5(F.array_join(kept, " ")).alias("dedup_fp"),
        F.size(units).cast("long").alias("n_units"),
        (F.size(units) - F.size(kept)).cast("long").alias("n_removed"),
    )


def q_gate_funnel(spark, sf_dir):
    """Gate observability: every doc attributed to its FIRST failing
    hard rule (the frozen oracle order), to 'low_score' when it clears
    the hard rules but misses the soft threshold, else 'kept'.  The
    corpus collapses map-side to <= 9 reason rows — the shuffle moves
    O(reasons), never O(docs), so the funnel costs one narrow pass at
    any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    chain = None
    for name, cond in R.hard_rule_reasons(feats, CFG):
        chain = F.when(cond, name) if chain is None else chain.when(cond, name)
    reason = chain.when(q < CFG.quality_threshold, "low_score").otherwise("kept")
    return (
        docs.select(reason.alias("drop_reason"))
        .groupBy("drop_reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


WS_K = 100
WS_W4 = ("src0", "src1")
WS_W2 = ("src2", "src3")


def q_weighted_sample_docs(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample without replacement: sources
    src0/src1 at weight 4, src2/src3 at weight 2, rest 1; global top-100
    by key = u**(1/w).  Weights restricted to {1,2,4} keep the key an
    sqrt chain — exact-or-correctly-rounded IEEE, so both engines rank
    the SAME rows (the tau=0.5 determinism trick)."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        F.when(F.col("source").isin(*WS_W4), F.lit(4))
        .when(F.col("source").isin(*WS_W2), F.lit(2))
        .otherwise(F.lit(1))
    )
    out = sampling.weighted_hash_sample(
        docs.withColumn("weight", w), "doc_id", "weight", WS_K
    )
    return out.select(
        "doc_id",
        F.col("weight").cast("long").alias("weight"),
        F.round("es_key", 6).alias("es_key"),
    )


def q_term_cms_sketch(spark, sf_dir):
    """Count-min sketch of corpus term frequencies: fixed 4×64 counter
    matrix — O(1) state vs vocabulary size, mergeable cell-wise, point
    queries never underestimate.  The md5 bucket universe makes the
    DuckDB sketch identical cell for cell."""
    docs = _t(spark, sf_dir, "documents")
    out = textagg.term_cms_sketch(docs, "text")
    return out.select(
        F.col("sketch_row").cast("long").alias("sketch_row"),
        F.col("bucket").cast("long").alias("bucket"),
        "cnt",
    )


DISTILL_SCALE = 10**6
DISTILL_FEATS = ["bias", "stop", "sym", "dist", "len"]


def q_gate_distill_stats(spark, sf_dir):
    """EXACT distributed sufficient statistics for distilling the full
    heuristic gate into a linear probe (the fastText-classifier-distill
    practice): upper-triangle Gram sums X'X and moments X'y over
    (bias, stopword, symbol, distinct, length_norm) with y = the gate's
    keep bit.  Features are integerized as floor(f*1e6) (bit-identical
    IEEE floor in both engines), products summed in DECIMAL(38,0) so the
    aggregation is EXACT and order-independent — no float-summation
    nondeterminism across partitions/retries at any scale.  The corpus
    collapses map-side into ONE partial-agg row per task; the exchange
    moves O(tasks) rows of 20 columns; the 5x5 solve happens driver-side
    (see tests).  Output: one wide row (cast to BIGINT at the edge —
    exact up to ~9e18; the decimal stays upstream at 10^12-doc scale)."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    fail_any = None
    for _, cond in R.hard_rule_reasons(feats, CFG):
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (q >= CFG.quality_threshold)
    xs = {
        "bias": F.lit(1.0),
        "stop": feats["stopword_ratio"],
        "sym": feats["symbol_ratio"],
        "dist": feats["distinct_ratio"],
        "len": feats["length_norm"],
    }
    ints = {k: F.floor(v * DISTILL_SCALE).cast("long") for k, v in xs.items()}
    ints["_y"] = F.when(keep, F.lit(DISTILL_SCALE)).otherwise(F.lit(0)).cast("long")
    proj = docs.select(*[v.alias(k) for k, v in ints.items()])
    aggs = []
    for i, a in enumerate(DISTILL_FEATS):
        for b in DISTILL_FEATS[i:] + ["_y"]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
                .cast("long")
                .alias(f"s_{a}_{b.lstrip('_')}")
            )
    return proj.agg(*aggs)


DSIR_TARGET_SOURCE = "src0"        # the "wiki-quality" target corpus
DSIR_KEEP_PER_NGRAM = -60_000_000  # mean ln-ratio/ngram >= -0.06 (corpus-calibrated)


def _dsir_ratio_df(spark, sf_dir):
    from quality_filter.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    # one corpus pass for both count columns (target is a subset of
    # raw, named by a per-row predicate) — the two-pass form paid the
    # dominant md5-per-occurrence explode twice
    pair = dsir.bucket_counts_pair(
        docs, "text", F.col("source") == DSIR_TARGET_SOURCE
    )
    return dsir.bucket_log_ratios_pair(spark, pair)


def q_dsir_bucket_ratios(spark, sf_dir):
    """DSIR importance-resampling dimension (Xie et al. 2023): hashed
    unigram+bigram bucket counts for the target corpus (source=src0)
    and the raw corpus, with the Laplace-smoothed log-likelihood ratio
    integerized to lr_micro = floor(ln(p/q)*1e9) — the learned "model"
    of the selection, B=1024 rows.  See operators/dsir.py for the
    cross-engine exactness argument and the 100-TB shape (two
    explode+partial-count passes shuffling O(B) per task).

    An absent target source (fuzz corpora have host*, not src0) is the
    spec'd degenerate: all-zero target counts in both engines."""
    return _dsir_ratio_df(spark, sf_dir)


def q_dsir_logweights_docs(spark, sf_dir):
    """Per-document DSIR log importance weight: the B-row ratio
    dimension is collected once (a model artifact, like the IVF
    centroid table) and folded into a literal array, so scoring is a
    ZERO-shuffle narrow map — sum of bigint lr_micro over the doc's
    n-gram occurrences, exact and order-free at any scale."""
    from quality_filter.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    lrs = dsir.collect_lr_array(_dsir_ratio_df(spark, sf_dir))
    return dsir.dsir_logweights(docs, "doc_id", "text", lrs)


def q_dsir_sample_docs(spark, sf_dir):
    """The DSIR selection itself: keep documents whose MEAN per-n-gram
    log ratio clears the threshold, spelled as the cross-multiplied
    integer compare logw_micro >= thr * n_ngrams — exact in every
    engine, no float boundary in the keep/drop (at sf0.01 this keeps
    23/25 target-source docs and 3/475 raw docs)."""
    from quality_filter.operators import dsir

    return dsir.dsir_select(q_dsir_logweights_docs(spark, sf_dir), DSIR_KEEP_PER_NGRAM)


def q_corpus_token_budget(spark, sf_dir):
    """Training-token budget per source: BPE-ish token totals and each
    source's share of the corpus budget (the number a mixture plan is
    written against).  One map-side-combined agg to O(#sources) rows;
    the share window runs on the source DIMENSION only."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(TS.token_count_bpe(F.col("text"))).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    # unpartitioned on purpose: one row per source (dimension-sized)
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per.select(
        "source", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias("token_share"),
    )


def _synth_url_col(path_mod: int = 5, id_mod: int = 3):
    """Deterministic messy crawl URL per doc (the documents table has no
    url column): scheme/www/trailing-slash/tracking-param/fragment noise
    keyed off doc_id so canonicalization has real work to undo, with the
    canonical identity (source, doc_id%path_mod, id=doc_id%id_mod)
    coarse enough that distinct docs collide — URL-level dup groups
    exist by construction.  The defaults give heavy collapse (the
    url_dedup_docs showcase); corpus_curation_v2 uses a finer keyspace
    so its URL stage removes real variants without dominating."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(d % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example.com/a/"), (d % path_mod).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="), (d % id_mod).cast("string"),
        F.when(d % 7 == 0, F.lit("&ref=promo")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_url_dedup_docs(spark, sf_dir):
    """URL-level dedup over canonicalized crawl URLs (SURT practice:
    collapse scheme/www/params/fragment variants BEFORE content dedup).
    One map-side-combined shuffle on the canonical key; a URL crawled
    10^6 times collapses in the partial agg.

    Fuzz-safe: the url is synthesized from doc_id and source in both
    engines, so canonicalization never reads fuzzed text."""
    from quality_filter.io import pages

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    out = pages.url_dedup(docs, "url", "doc_id")
    return out.select(
        "canonical_url", "rep_id", F.col("n_dups").cast("long").alias("n_dups")
    )


SAMPLE_RATE = 0.1
STRATA_RATES = {"en": 0.2, "de": 0.5}
STRATA_DEFAULT = 0.8
TOP_TERMS_K = 100
TFIDF_K = 3
TFIDF_MIN_DF = 2


def q_docs_hash_sample(spark, sf_dir):
    """Deterministic ~10% sample, content-addressed by md5(doc_id) —
    invariant under repartition/retry; DuckDB computes the identical
    member set (shared md5 hash universe)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", SAMPLE_RATE).select("doc_id")


def q_docs_stratified_sample(spark, sf_dir):
    """Per-language rebalancing sample (downsample dominant strata) —
    one narrow filter, no shuffle, same determinism as hash_sample."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        docs, "doc_id", "lang", STRATA_RATES, STRATA_DEFAULT
    ).select("doc_id", "lang")


MIX_TEMPERATURE = 0.5
UPSAMPLE_EPOCHS = {"src0": 2.5, "src2": 3.0, "src5": 0.4}


def q_mixture_epoch_upsample(spark, sf_dir):
    """Epoch-weighted mixture (weights may exceed 1): src0 seen ~2.5x,
    src2 exactly 3x, src5 downsampled to ~0.4x, everything else 1x.
    Full copies + a content-addressed fractional copy — deterministic
    multiset, zero exchanges (narrow map + explode)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.epoch_upsample(docs, "doc_id", "source", UPSAMPLE_EPOCHS)


def q_temperature_mixture_rates(spark, sf_dir):
    """Per-language temperature-mixing thresholds (kept counts ~
    n_lang**tau): dimension-sized output; tau=0.5 so the threshold
    derivation is bit-exact cross-engine (sqrt chain — see
    sampling.temperature_mixture_rates)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.temperature_mixture_rates(docs, "lang", MIX_TEMPERATURE)


def q_temperature_mixture_sample(spark, sf_dir):
    """Temperature-resampled corpus (tau=0.5): dominant languages
    downsampled toward the tempered mix, row fate content-addressed by
    md5(doc_id) under a bit-exact per-stratum threshold.  Broadcast
    join of the #langs-sized rate table; corpus side is scan+filter,
    no corpus shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.temperature_mixture_sample(
        docs, "doc_id", "lang", MIX_TEMPERATURE
    ).select("doc_id", "lang")


def q_zipf_fit_audit(spark, sf_dir):
    """Zipf rank-frequency fit over the vocabulary head: slope /
    intercept / r² of the log-log least squares — the corpus-health
    audit (natural text sits near slope −1; boilerplate floods and
    synthetic junk drift).  Exact-integer micro sums (DECIMAL(38,0) /
    HUGEINT — provably in range by construction) make the fit
    value-hash-checkable; everything after the one vocabulary shuffle
    is a K-row relation (textagg.zipf_fit)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.zipf_fit(docs, "text")


def q_heaps_fit_audit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (Zipf's companion): β and ln K
    of V ≈ K·N^β over id-space power-of-two prefixes — near-dup floods
    depress β, random noise pushes it toward 1.  First-occurrence fact
    is vocabulary-bounded, checkpoints a ≤64-row literal, least squares
    the shared exact-integer core (textagg.heaps_fit)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.heaps_fit(docs, "text", "doc_id")


def q_corpus_top_terms(spark, sf_dir):
    """Corpus vocabulary head: explode → map-side partial count →
    O(distinct terms) shuffle → TakeOrderedAndProject top-k."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.top_terms(docs, "text", TOP_TERMS_K)


def q_tfidf_top_docs(spark, sf_dir):
    """Per-doc top-k TF-IDF terms (keyword extraction): two shuffles —
    doc-frequency aggregate + per-doc window; the vocabulary-side join
    is broadcast."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.tfidf_top_terms(docs, "text", "doc_id", k=TFIDF_K, min_df=TFIDF_MIN_DF)


def q_dup_ngram_ratio_docs(spark, sf_dir):
    """Duplicate word-3-gram fraction (the Gopher-family repetition
    signal beyond distinct_ratio): 1 - distinct/total shingles, 0 for
    docs with < 3 tokens.  Pure array math over the shared shingle
    builder — no explode, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.shingles(F.col("text"), 3)
    total = F.size(sh).cast("double")
    distinct = F.size(F.array_distinct(sh)).cast("double")
    ratio = F.when(total > 0, 1.0 - distinct / total).otherwise(F.lit(0.0))
    return docs.select("doc_id", F.round(ratio, 6).alias("dup_ngram_ratio"))


PACK_CAPACITY = 256
PACK_SHARDS = 4


def q_packed_docs(spark, sf_dir):
    """Sequence packing (pretraining sequences from a corpus): docs
    shard by content hash, pack greedily in id order into
    fixed-token-budget bins.  The recurrence is deterministic, so the
    oracle replays it exactly as a recursive CTE."""
    from quality_filter.operators import packing

    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), "[ ]+"))
    return packing.pack_sequences(docs, "doc_id", n_tokens, PACK_CAPACITY, PACK_SHARDS)


BPE_PACK_CAPACITY = 4096


def q_packed_docs_bpe(spark, sf_dir):
    """Sequence packing priced in REAL tokenizer units: the engine's own
    trained BPE merges (bpe_train_merges) count each doc
    (bpe_token_counts_docs's zero-shuffle apply map), and the packing
    recurrence bins those counts — the full train-tokenizer → price →
    pack chain a pretraining pipeline actually runs, replacing the
    whitespace approximation packed_docs uses.  Scale shape unchanged:
    the count is a narrow map feeding the one hash-shard shuffle."""
    from quality_filter.operators import packing

    docs = _t(spark, sf_dir, "documents")
    merges = textagg._bpe_merge_list(docs, "text", BPE_TRAIN_MERGES)
    n_bpe, _ = textagg._bpe_apply_cols("text", merges)
    return packing.pack_sequences(
        docs, "doc_id", n_bpe, BPE_PACK_CAPACITY, PACK_SHARDS
    )


def q_corpus_curation(spark, sf_dir):
    """The end-to-end curation flow a pretraining corpus actually runs,
    as ONE composed plan: heuristic quality gate → exact-dup
    representatives → near-dup survivors → per-language stratified
    downsample → sequence packing.  Every stage is an operator from
    this registry; the oracle composes the same stages as CTEs, so the
    whole flow is value-hash-checked end to end.

    Stage order matters and is frozen: dedup before sampling (sampling
    first would randomly thin duplicate clusters), gate before dedup
    (no point clustering junk), packing last (it consumes the final
    membership)."""
    from pyspark.sql import Window

    from quality_filter.operators import packing

    docs = _t(spark, sf_dir, "documents")

    # 1. heuristic gate (FAST shadow — same predicate as quality_gate_docs)
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    hard = R.hard_rule_reasons(feats, CFG)
    fail_any = None
    for _, cond in hard:
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (R.quality_score_col(feats, CFG) >= CFG.quality_threshold)
    gated = docs.filter(keep)

    # 2. exact-dup representatives (min doc_id per fingerprint)
    reps = (
        gated.withColumn("_fp", dedup.fingerprint_col(F.col("text")))
        .withColumn("_rep", F.min("doc_id").over(Window.partitionBy("_fp")))
        .filter(F.col("doc_id") == F.col("_rep"))
        .drop("_fp", "_rep")
    )

    # 3. near-dup survivors among the exact survivors
    sig = dedup.minhash_signature(reps, "text", "doc_id", NUM_HASHES)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    comp = dedup.near_dup_components(bands, "doc_id")
    surv = dedup.near_dup_survivors(reps, "doc_id", comp)
    survivors = reps.join(surv, "doc_id")

    # 4. per-language stratified hash sample
    sampled = sampling.stratified_hash_sample(
        survivors, "doc_id", "lang", STRATA_RATES, STRATA_DEFAULT
    )

    # 5. sequence packing over the final membership
    n_tokens = F.size(F.split(F.trim("text"), "[ ]+"))
    return packing.pack_sequences(sampled, "doc_id", n_tokens, PACK_CAPACITY, PACK_SHARDS)


def _v2_reps(docs):
    """Stages 0-2 of the v2 curation flow: URL dedup → heuristic gate →
    exact-dup representatives.  This is the relation the downstream
    dedup tiers reference MANY times (signatures, components, survivor
    join, containment, sample) — _v2_staged materializes it once
    instead of recomputing the gate per reference."""
    from pyspark.sql import Window

    from quality_filter.io import pages

    # 0. URL dedup on canonicalized synthetic crawl URLs
    urled = (
        docs.withColumn("_cu", pages.canonical_url_col(_synth_url_col(V2_URL_PATH_MOD, V2_URL_ID_MOD)))
        .withColumn("_urep", F.min("doc_id").over(Window.partitionBy("_cu")))
        .filter(F.col("doc_id") == F.col("_urep"))
        .drop("_cu", "_urep")
    )

    # 1. heuristic gate
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    fail_any = None
    for _, cond in R.hard_rule_reasons(feats, CFG):
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (R.quality_score_col(feats, CFG) >= CFG.quality_threshold)
    gated = urled.filter(keep)

    # 2. exact-dup representatives
    return (
        gated.withColumn("_fp", dedup.fingerprint_col(F.col("text")))
        .withColumn("_rep", F.min("doc_id").over(Window.partitionBy("_fp")))
        .filter(F.col("doc_id") == F.col("_rep"))
        .drop("_fp", "_rep")
    )


def _v2_tail(reps):
    """Stages 3-6 of the v2 curation flow over the representative
    relation: near-dup survivors → containment drop → stratified
    sample → packing."""
    from quality_filter.operators import packing

    # 3. near-dup survivors
    sig = dedup.minhash_signature(reps, "text", "doc_id", NUM_HASHES)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    comp = dedup.near_dup_components(bands, "doc_id")
    survivors = reps.join(dedup.near_dup_survivors(reps, "doc_id", comp), "doc_id")

    # 4. containment drop among survivors
    cont = dedup.segment_containment_pairs(
        survivors, "text", "doc_id", k=CONTAIN_K, max_df=CONTAIN_MAX_DF
    )
    kept2 = survivors.join(
        cont.select(F.col("contained_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )

    # 5. stratified sample + 6. packing
    sampled = sampling.stratified_hash_sample(
        kept2, "doc_id", "lang", STRATA_RATES, STRATA_DEFAULT
    )
    n_tokens = F.size(F.split(F.trim("text"), "[ ]+"))
    return packing.pack_sequences(sampled, "doc_id", n_tokens, PACK_CAPACITY, PACK_SHARDS)


def _v2_staged(spark, sf_dir, docs, tag):
    """The v2 flow with a persist boundary: the representative table
    (_v2_reps) is written ONCE to a per-(tag, input) scratch dir (write →
    parquet scan, the write_filtered → read stage seam) and every
    downstream tier reads the scan instead of recomputing the URL-canon
    + gate + window chain per reference.  Measured against the composed
    single plan with identical rows: 4.5 s vs 10.9 s at sf0.1
    (BENCH/ROUND5.md)."""
    from quality_filter.io import formats

    path = formats.scratch_path(tag, sf_dir)
    _v2_reps(docs).write.mode("overwrite").parquet(path)
    return _v2_tail(spark.read.parquet(path))


def q_corpus_curation_v2(spark, sf_dir):
    """Curation flow with the round-4 tiers composed in: URL-level
    dedup (canonicalized crawl variants collapse BEFORE any content
    hashing — the cheapest tier runs first) → heuristic gate →
    exact-dup reps → near-dup survivors → containment drop (quoted
    subsets of surviving docs) → stratified sample → packing, staged at
    the representative table (_v2_staged).  Every stage reuses its
    registered operator; the oracle chains each stage's own SQL
    formulation, so the seven-stage flow is value-hash-checked end to
    end."""
    return _v2_staged(spark, sf_dir, _t(spark, sf_dir, "documents"), "v2_reps")


def q_corpus_curation_v3(spark, sf_dir):
    """The target-tilted curation capstone (r4 verdict item 7): DSIR
    importance selection (keep documents whose hashed-ngram log weight
    says "looks like the target corpus") feeds the full v2 chain — the
    quality filter choosing what the model trains on, end to end:
    DSIR select → URL dedup → gate → exact reps → near-dup survivors →
    containment drop → stratified sample → packing.  The DSIR stage is
    a zero-shuffle narrow map over a folded literal ratio table
    (operators/dsir.py), so stage -1 adds no exchange; every later
    stage is per-doc deterministic, so the oracle restricts the v2
    chain's first relation to the same dsel set."""
    sel = q_dsir_sample_docs(spark, sf_dir).select("doc_id")
    docs = _t(spark, sf_dir, "documents").join(sel, "doc_id")
    return _v2_staged(spark, sf_dir, docs, "v3_reps")


def q_quality_contribs_docs(spark, sf_dir):
    """Numeric per-term attribution (the Grad-CAM analog) over the
    documents table, FAST-profile shadow (ppl_norm = 0), exploded to
    (doc_id, term, contrib) rows so the oracle hash covers map values."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    m = R.quality_contribs_col(feats, CFG)
    # + 0.0 collapses IEEE -0.0 to +0.0 (Spark's round() normalizes the
    # sign, DuckDB's keeps it — both engines get the explicit normalize)
    return docs.select("doc_id", F.explode(m).alias("term", "contrib")).select(
        "doc_id", "term", (F.round("contrib", 6) + F.lit(0.0)).alias("contrib")
    )


def q_lang_guess_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.lang_guess(F.col("text")).alias("lang_guess"))


def q_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix (labelled lang × heuristic guess,
    with counts): the calibration observability a multilingual curation
    run reports per batch.  Corpus collapses map-side to ≤ |langs|²
    rows — the quality_score_histogram shape applied to langid."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", TS.lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_doc_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.fingerprint_col(F.col("text")).alias("fp"))


def q_dedup_exact_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = dedup.dedup_exact(docs, "text", "doc_id")
    return out.select("fp", "rep_id", F.col("dup_count").cast("long").alias("dup_count"))


def q_minhash_signatures(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_signature(docs, "text", "doc_id", NUM_HASHES)


def q_lsh_band_keys(spark, sf_dir):
    sig = q_minhash_signatures(spark, sf_dir)
    out = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    return out.select("doc_id", F.col("band_idx").cast("long").alias("band_idx"), "band_key")


def q_near_dup_pairs(spark, sf_dir):
    bands = q_lsh_band_keys(spark, sf_dir)
    return dedup.near_dup_pairs(bands, "doc_id").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def q_cross_source_dup_matrix(spark, sf_dir):
    """Near-dup LEAKAGE matrix between corpus sources: every LSH
    near-dup pair labeled with its two docs' sources (canonicalized
    least/greatest) and counted per source pair — the observability
    product that tells a mixture curator which sources are mirroring
    each other (off-diagonal mass) vs self-duplicating (diagonal).
    Scale shape: the pair relation is near-dup-density-bounded; the
    two source lookups are equi-joins of pairs against the (doc_id,
    source) projection — the corpus is shuffled only on its key, the
    matrix collapses map-side to O(|sources|²)."""
    # NULL sources are excluded BEFORE the least/greatest canonicalization
    # (the q_crawl_fetch_plan NULL-host precedent): engines' NULL-skipping
    # in least/greatest would otherwise make the cell key asymmetric.
    docs = _t(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    pairs = q_near_dup_pairs(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def q_near_dup_clusters(spark, sf_dir):
    """Pairs → clusters: star edges from band collisions (linear in
    bucket size — the hot-band-key mitigation) + min-label connected
    components.  comp = each cluster's min doc id.  The DuckDB oracle
    derives the same components from the pair edges via a recursive
    closure — star vs clique edge sets have identical components."""
    bands = q_lsh_band_keys(spark, sf_dir)
    return dedup.near_dup_components(bands, "doc_id")


def q_near_dup_survivors(spark, sf_dir):
    """Clusters → deduped corpus: drop every clustered doc except its
    representative; one left-anti join against the non-rep member list."""
    docs = _t(spark, sf_dir, "documents")
    comp = dedup.near_dup_components(q_lsh_band_keys(spark, sf_dir), "doc_id")
    return dedup.near_dup_survivors(docs, "doc_id", comp)


def q_near_dup_quality_survivors(spark, sf_dir):
    """Quality-aware dedup: within each near-dup cluster keep the
    LONGEST member (ties → smallest id) — the keep-best policy a
    production curator uses instead of keep-first.  One max-struct agg
    per cluster (map-side combinable) + a left-anti join for the
    unclustered corpus; the rank is evaluated only on clustered rows.

    Fuzz-safe: the keeper is an exact-integer length rank with an id
    tie-break over the fuzz-proven component algebra, so both engines
    pick the same member on any corpus."""
    docs = _t(spark, sf_dir, "documents")
    comp = dedup.near_dup_components(q_lsh_band_keys(spark, sf_dir), "doc_id")
    return dedup.near_dup_best_survivors(
        docs, "doc_id", comp, F.length("text").cast("long")
    )


def q_ngram_jaccard_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "source", n=3, threshold=0.05
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")


SCURVE_MAX_DF = 50  # boilerplate-shingle cap for the exact-Jaccard universe
SCURVE_MIN_JAC = 0.05


def q_ngram_jaccard_global(spark, sf_dir):
    """Exact shingle-Jaccard near-dup pairs CORPUS-WIDE (no blocking
    column): a pair with Jaccard > 0 must share a shingle, so the
    df-capped shingle equi-join enumerates candidates exactly — the
    inverted-index identity that makes exact Jaccard sub-quadratic
    (dedup.exact_jaccard_pairs_global).  The group-blocked
    ngram_jaccard_dups is the cheaper within-partition form; this is
    the cross-source-capable one."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.exact_jaccard_pairs_global(
        docs, "text", "doc_id", shingle_n=3, threshold=SCURVE_MIN_JAC,
        max_df=SCURVE_MAX_DF,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _scurve_analytic() -> dict[int, float]:
    """Analytic band-catch probability 1-(1-s^r)^b at decile midpoints —
    driver-side constants (same rounded literals in both engines, so
    the column is seam-free)."""
    b, r = NUM_HASHES // BAND_SIZE, BAND_SIZE
    return {
        d: round(1.0 - (1.0 - (d / 10 + 0.05) ** r) ** b, 6) for d in range(0, 10)
    }


def q_minhash_band_scurve(spark, sf_dir):
    """The S-curve audit of the MinHash banding scheme: per exact-
    Jaccard decile, how many true near-dup pairs the band join actually
    caught, next to the analytic 1-(1-s^r)^b catch probability — the
    measurement that justifies (or indicts) a bands/rows choice BEFORE
    a 100 TB dedup run bets its recall on it.  True pairs come from the
    exact inverted-index Jaccard (df-capped universe, sub-quadratic);
    candidates from the production band join itself; everything after
    the pair relations is O(10) bins."""
    docs = _t(spark, sf_dir, "documents")
    true_pairs = dedup.exact_jaccard_pairs_global(
        docs, "text", "doc_id", shingle_n=3, threshold=SCURVE_MIN_JAC,
        max_df=SCURVE_MAX_DF,
    )
    sig = dedup.minhash_signature(docs, "text", "doc_id", NUM_HASHES)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    cand = dedup.near_dup_pairs(bands, "doc_id").select(
        "id_a", "id_b", F.lit(1).alias("_c")
    )
    analytic = _scurve_analytic()
    amap = F.create_map(
        *[F.lit(x) for d, p in sorted(analytic.items()) for x in (d, p)]
    )
    binned = true_pairs.join(cand, ["id_a", "id_b"], "left").select(
        F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("long").alias("jac_decile"),
        F.when(F.col("_c").isNotNull(), 1).otherwise(0).alias("_caught"),
    )
    return (
        binned.groupBy("jac_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("_caught").cast("long").alias("n_caught"),
        )
        .select(
            "jac_decile",
            "n_true",
            "n_caught",
            F.round(
                F.col("n_caught").cast("double") / F.col("n_true").cast("double"), 6
            ).alias("recall_emp"),
            F.element_at(amap, F.col("jac_decile").cast("int")).alias("recall_analytic"),
        )
    )


def q_minhash_jaccard_estimate(spark, sf_dir):
    """Estimated Jaccard for LSH candidate pairs = fraction of equal
    minhash components — the standard MinHash estimator, engine-identical
    because the signatures are md5-based."""
    sig = q_minhash_signatures(spark, sf_dir)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    pairs = dedup.near_dup_pairs(bands, "doc_id")
    a = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)])
    b = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)])
    eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(NUM_HASHES)
    )
    return (
        pairs.withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .join(a.withColumnRenamed("id_a", "doc_a"), "doc_a")
        .join(b.withColumnRenamed("id_b", "doc_b"), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(eq.cast("double") / NUM_HASHES, 6).alias("jaccard_est"),
        )
    )


def q_bbit_minhash_estimate(spark, sf_dir):
    """b-bit minhash (Li & Konig, WWW 2010) next to the full estimator
    on the same LSH candidate pairs: keep only the LOWEST 2 BITS of each
    minhash (last hex char's value mod 4 — engine-identical string
    algebra on the md5 universe) and correct for collisions,
    est = (P - 1/4)/(1 - 1/4).  A 2-bit signature is a 64x shuffle/
    memory cut vs the hex minhash — this query is the audit that shows
    what resolution that compression costs before a 100 TB dedup adopts
    it (the int8-KNN / S-curve precedent)."""
    sig = q_minhash_signatures(spark, sf_dir)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    pairs = dedup.near_dup_pairs(bands, "doc_id")
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )

    def b2(c: str):
        return F.expr(
            f"(locate(substring({c}, 32, 1), '0123456789abcdef') - 1) % 4"
        )

    eq_full = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    eq_b2 = sum(
        F.when(b2(f"a{i}") == b2(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    est_b2 = (
        eq_b2.cast("double") / F.lit(float(NUM_HASHES)) - F.lit(0.25)
    ) / F.lit(0.75)
    return (
        pairs.withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            eq_full.cast("long").alias("k_eq_full"),
            F.round(eq_full.cast("double") / NUM_HASHES, 6).alias(
                "jaccard_est_full"
            ),
            eq_b2.cast("long").alias("k_eq_b2"),
            F.round(est_b2, 6).alias("jaccard_est_b2"),
        )
    )


def q_minhash_containment_estimate(spark, sf_dir):
    """Asymmetric containment estimate for LSH candidate pairs — the
    signal that separates 'doc_a quotes doc_b' from 'same size near-dup'
    (Jaccard under-scores subset pairs): |A∩B| ≈ J(|A|+|B|)/(1+J) via
    the inclusion-exclusion identity, containment(A⊆B) = |A∩B|/|A|,
    clamped to 1.  All inputs are exact (integer shingle-set sizes,
    eq/8 rational J), so the arithmetic chain is engine-identical."""
    sig = q_minhash_signatures(spark, sf_dir)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    pairs = dedup.near_dup_pairs(bands, "doc_id")
    docs = _t(spark, sf_dir, "documents")
    nsh = docs.select(
        "doc_id",
        F.size(F.array_distinct(dedup.shingles(F.col("text"), 3))).cast("double").alias("nsh"),
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)])
    b = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)])
    eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(NUM_HASHES)
    )
    j = eq.cast("double") / NUM_HASHES
    inter = j * (F.col("na") + F.col("nb")) / (1.0 + j)
    return (
        pairs.withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .join(a, "doc_a").join(b, "doc_b")
        .join(nsh.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("na")), "doc_a")
        .join(nsh.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(j, 6).alias("jaccard_est"),
            F.round(F.least(F.lit(1.0), inter / F.col("na")), 6).alias("containment_a_est"),
            F.round(F.least(F.lit(1.0), inter / F.col("nb")), 6).alias("containment_b_est"),
        )
    )


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: candidates restricted to shared
    hyperplane-LSH buckets (bucket-equi-join instead of a cross join).
    Recall < 1 by construction, but the DuckDB oracle applies the SAME
    bucket restriction (plane literals are shared), so the check is a
    full value-hash match, not rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    planes = similarity.make_planes(dim, n_planes=3, seed=99)
    buckets = similarity.hyperplane_lsh_buckets(emb, "embedding", "vec_id", planes)
    a = emb.join(buckets, "vec_id").select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket"
    )
    b = emb.join(buckets, "vec_id").select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket"
    )
    cos = similarity.cosine_pair_col(F.col("va"), F.col("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.4)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
        .distinct()
    )


SEMDECON_MOD = 10  # every 10th vector plays the benchmark/eval set
SEMDECON_COS = 0.4


def q_semantic_decontamination(spark, sf_dir):
    """Semantic decontamination — the embedding-space eval-leak guard
    that n-gram decontamination cannot provide (a paraphrased benchmark
    item shares no 13-gram but sits at cos≈1): flag every training
    vector within cos ≥ {thr} of ANY benchmark vector.  Candidates are
    restricted to shared hyperplane-LSH buckets (the
    embedding_near_dup_lsh scale path — a bucket equi-join, never
    train×bench all-pairs; recall < 1 by construction and the oracle
    applies the SAME bucket restriction, so the check is a full
    value-hash match).  The embedding-space complement of the exact
    n-gram form (benchmark_decontamination)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    planes = similarity.make_planes(dim, n_planes=3, seed=99)
    return similarity.semantic_decontamination(
        emb,
        "embedding",
        "vec_id",
        F.col("vec_id") % SEMDECON_MOD == 0,
        planes,
        SEMDECON_COS,
    )


def q_decontamination_report(spark, sf_dir):
    """Decontamination capstone: ONE per-train-doc verdict combining the
    exact word-8-gram guard and the semantic (embedding cos ≥ τ) guard
    under a single benchmark split (doc_id % {mod} — documents and
    embeddings share an id space in this corpus).  Both legs keep their
    individual scale shapes — bounded benchmark n-gram dim broadcast
    into the probe join; LSH-bucket equi-join for the semantic leg —
    and meet in two left joins on the O(train) id dimension.  A doc
    flagged by EITHER leg is contaminated; the report is what a curator
    acts on (and shows the semantic leg catching paraphrases the n-gram
    leg misses, and vice versa for short verbatim quotes)."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    is_bench = F.col("doc_id") % SEMDECON_MOD == 0
    ng = F.array_distinct(dedup.shingles(F.col("text"), DECONTAM_NGRAM))
    bench_ng = docs.filter(is_bench).select(F.explode(ng).alias("ng")).distinct()
    probe = docs.filter(~is_bench).select("doc_id", F.explode(ng).alias("ng"))
    ng_hits = (
        probe.join(F.broadcast(bench_ng), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    dim = len(emb.select("embedding").head()[0])
    planes = similarity.make_planes(dim, n_planes=3, seed=99)
    sem = similarity.semantic_decontamination(
        emb,
        "embedding",
        "vec_id",
        F.col("vec_id") % SEMDECON_MOD == 0,
        planes,
        SEMDECON_COS,
    ).select(F.col("vec_id").alias("doc_id"), F.col("contaminated").alias("_sc"))
    ngram_hit = F.coalesce("_n", F.lit(0)) > 0
    sem_hit = F.coalesce("_sc", F.lit(False))
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(ng_hits, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            ngram_hit.alias("ngram_hit"),
            sem_hit.alias("semantic_hit"),
            (ngram_hit | sem_hit).alias("contaminated"),
        )
    )


def q_knn_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.knn_bruteforce(emb, "embedding", "vec_id", list(qvec), k=10)


def q_knn_quantized_int8(spark, sf_dir):
    """Top-k cosine over int8-QUANTIZED embeddings — the 4x-compressed
    ANN variant (quantize at ingest, exact integer dot products;
    similarity.knn_bruteforce_int8).  Quantization is one IEEE
    expression tree, so Spark / DuckDB / the driver-side query path
    emit identical integers and the scores hash-match with no
    tolerance."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.knn_bruteforce_int8(emb, "embedding", "vec_id", list(qvec), k=10)


def q_purchase_last_view_asof(spark, sf_dir):
    """As-of join: each purchase picks up the latest strictly-earlier view
    value for the same user (union + forward-fill composition; the DuckDB
    oracle uses its native ASOF JOIN — different algorithms, same rows)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    out = windows.asof_last_value(
        purchases, views, "user_id", "ts", "event_id", "value", "last_view_value"
    )
    return out.select(
        F.col("event_id"), "user_id", F.round("last_view_value", 6).alias("last_view_value")
    )


def q_orders_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 4) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_type_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    cols = [F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in EVENT_TYPES]
    return out.select("user_id", *cols)


def q_event_counts_unpivot(spark, sf_dir):
    """UNPIVOT (melt): the wide per-type count matrix back to long
    (user_id, event_type, n) rows — the inverse of event_type_pivot,
    dropping the zero cells the pivot materialized."""
    wide = q_event_type_pivot(spark, sf_dir)
    long = wide.unpivot(
        "user_id", [f"n_{t}" for t in EVENT_TYPES], "event_type", "n"
    )
    return long.filter(F.col("n") > 0).select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        F.col("n").cast("long").alias("n"),
    )


def q_doc_quality_deciles(spark, sf_dir):
    """ntile(10) quality bucketing over the heuristic score — the
    corpus-curriculum operator (train on the top deciles first).

    Scale note: an UNPARTITIONED ntile is a global sort (Spark warns,
    correctly) — exact global ranks cost that by definition.  At corpus
    scale the pattern is two-phase: compute the 9 decile BOUNDARIES once
    (exact `percentile` — tree-aggregated partials) and assign buckets
    by comparison in a narrow map; this registered query keeps the exact
    single-window form because the driver's oracle checks exact ranks
    with deterministic tie-breaks, which boundary-assignment cannot
    reproduce for duplicate scores at the boundary."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = F.round(R.quality_score_col(feats, CFG), 6)
    # unbounded by design: the exact test-scale form (global ranks);
    # doc_quality_decile_bounds is the corpus-scale form
    w = Window.orderBy(q.desc(), F.col("doc_id").asc())
    return docs.select(
        "doc_id",
        q.alias("quality_score"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


def q_doc_length_quantiles(spark, sf_dir):
    """Exact per-group percentiles — TEST-SCALE oracle of record only:
    Spark's exact `percentile` buffers every group value in the agg
    buffer (O(group size) memory).  The registered 100-TB form is
    q_doc_length_quantiles_approx (mergeable sketch, bounded buffer)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        *[
            F.round(F.percentile("n_chars", q), 6).alias(f"q{int(q * 100)}")
            for q in (0.25, 0.5, 0.75)
        ],
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


def q_doc_quality_decile_bounds(spark, sf_dir):
    """Scale-safe decile twin (round-3 verdict item 2): phase 1 computes
    the 9 exact decile BOUNDARIES once (`percentile` — tree-aggregated
    partials, one 9-double driver result; same bounded-O(1)-result
    pattern as the IVF probe-order extraction), phase 2 assigns buckets
    in a NARROW MAP comparing against the boundary literals — no global
    sort, no single-task window, survives 1000 executors unchanged.

    Boundary ties are defined as ``score >= b_i`` in BOTH engines, so
    bucket membership is deterministic without global-rank tie-breaks;
    q_doc_quality_deciles keeps the exact single-window ntile form as
    the test-scale oracle of record for exact ranks.  decile 1 = top
    scores, matching that form's ORDER BY score DESC."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = F.round(R.quality_score_col(feats, CFG), 6)
    scored = docs.select("doc_id", q.alias("quality_score"))
    bounds = scored.agg(
        F.transform(
            F.percentile(
                "quality_score", F.array(*[F.lit(i / 10) for i in range(1, 10)])
            ),
            lambda x: F.round(x, 6),
        ).alias("bs")
    ).head()["bs"] or []  # NULL on an empty table: no bounds, no rows
    promoted = sum(
        (F.col("quality_score") >= F.lit(float(b))).cast("int") for b in bounds
    )
    return scored.select(
        "doc_id",
        "quality_score",
        (F.lit(10) - promoted).cast("long").alias("decile"),
    )


def q_curriculum_order(spark, sf_dir):
    """Curriculum training order: every doc's exact 1-based position in
    the schedule ORDER BY (quality decile ASC [1 = best first],
    content-addressed md5 shuffle within decile) — easy-to-hard tiers,
    deterministic pseudo-random order inside each tier (the
    hash_sample retry/repartition-proof precedent).

    No global sort anywhere: deciles come from the boundary narrow map
    (q_doc_quality_decile_bounds's phase-1 percentile literals) and
    positions from windows.global_order_positions — md5-nibble range
    subshards ranked in parallel plus offsets on the O(tiers x 16)
    dimension.  The oracle checks the exact global row_number, proving
    the two-level decomposition IS the total order."""
    from quality_filter.operators import windows as WD

    tiered = q_doc_quality_decile_bounds(spark, sf_dir).select(
        "doc_id", "decile", F.md5(F.col("doc_id").cast("string")).alias("_k")
    )
    out = WD.global_order_positions(tiered, "decile", "_k", "doc_id")
    return out.select("doc_id", "decile", "pos")


def q_doc_length_quantiles_approx(spark, sf_dir):
    """Scale-safe quantile twin (round-3 verdict item 3): per-lang
    ``percentile_approx`` — a MERGEABLE sketch with an accuracy-bounded
    buffer (O(accuracy), not O(group size)), so per-lang groups at
    100 TB aggregate in constant executor memory where the exact
    `percentile` form would buffer every value.

    Oracle exactness: percentile_approx returns actual data values
    (discrete quantiles), and below `accuracy` observations per group
    the sketch never compresses — at driver scale it IS the exact
    discrete quantile, which DuckDB's quantile_disc reproduces
    (verified hash-identical); at corpus scale the same query degrades
    gracefully to rsd-bounded estimates (pytest-pinned pattern in
    metrics.sketch_summary)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        *[
            F.percentile_approx("n_chars", p, 10000).alias(f"q{int(p * 100)}")
            for p in (0.25, 0.5, 0.75)
        ],
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


def q_running_value_sum(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 6).alias("run_sum"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


def q_active_positive_custkeys(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    positive = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return positive.intersect(with_orders)


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 analog: 3-way-filtered join + revenue agg + global top-k
    (TakeOrderedAndProject — no full sort at scale)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = orders.filter(F.col("o_orderdate") < "1998-01-01").join(
        li.filter(F.col("l_shipdate") > "1998-01-01"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    rev = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


def q_supplier_part_breadth(spark, sf_dir):
    """COUNT(DISTINCT) per group — the two-phase distinct-aggregate path."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


def q_customer_order_cume(spark, sf_dir):
    """Per-customer cumulative spend over order time (running window with
    a deterministic tie-break; one shuffle on the partition key)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("cume_spend"),
    )


def q_embedding_near_dup_pairs(spark, sf_dir):
    """Exact cosine near-dup pairs via the triangle block join
    (operators/similarity.py: blocked_all_pairs) — every unordered pair
    exactly once through an equi-join on block-pair keys, no cartesian
    node.  Exact all-pairs is O(n^2) compute by definition; the LSH
    bucket path (q_embedding_near_dup_lsh) is the sub-quadratic,
    recall<1 alternative."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.blocked_all_pairs(emb, "embedding", "vec_id", 0.46, n_blocks=8)


def _pii_aug_col():
    """The synthetic-PII augmentation shared by the scrub probe and the
    hit-count twin — ONE definition per engine (see _PII_AUG_SQL)."""
    return F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 192.168.1."), (F.col("doc_id") % 250).cast("string"),
        F.lit(" tel 555-123-4567."),
    )


def q_pii_scrub_docs(spark, sf_dir):
    """Regex-parity probe: augment each doc with synthetic PII, run the
    production scrub chain, compare against DuckDB's RE2 on identical
    input (validates Java-regex vs RE2 semantics of the frozen patterns)."""
    docs = _t(spark, sf_dir, "documents")
    aug = _pii_aug_col()
    return docs.select("doc_id", R.scrub_pii_col(aug, CFG).alias("scrubbed"))


def q_pii_pseudonymize_docs(spark, sf_dir):
    """Join-preserving pseudonymization over the augmented-PII corpus:
    every distinct span → deterministic <NAME:md5[:8]> token (same
    entity → same token corpus-wide; the shared 192.168.1.x ips and the
    constant phone number land on identical tokens across docs, which
    the value hash pins).  One extraction pass per rule on the raw
    text, one longest-first fold — zero-shuffle narrow map
    (rules.pseudonymize_pii_col)."""
    docs = _t(spark, sf_dir, "documents")
    aug = _pii_aug_col()
    return docs.select(
        "doc_id",
        R.pseudonymize_pii_col(aug, CFG).alias("pseudo"),
        F.size(R.pii_replacement_pairs(aug, CFG)).cast("long").alias("n_pseudonyms"),
    )


def q_toxicity_gate_docs(spark, sf_dir):
    """The NSFW-gate analog itself, driver-visible: lexicon-density
    toxicity score (codegen'd regexp_count, no UDF) + the calibrated
    sigmoid threshold gate — exactly how the reference gates NSFW
    (score >= fixed threshold).  Pipeline goldens pin it end-to-end;
    this registers the scalar contract against the RE2 twin.

    Fuzz-safe: the lexicon is ASCII, so its word-boundary anchors mean
    the same in RE2 and Java on any corpus."""
    docs = _t(spark, sf_dir, "documents")
    toks = TS.tokens_simple(F.col("text"))
    n_words = F.size(toks).cast("double")
    tox = R.tox_score_col(F.col("text"), n_words, CFG)
    return docs.select(
        "doc_id",
        F.round(tox, 6).alias("tox_score"),
        (tox >= CFG.tox_threshold).alias("flag_toxic"),
    )


def q_pii_hit_counts_docs(spark, sf_dir):
    """PII exposure observability (the scrub's counting twin: what WOULD
    be redacted, by type): native regexp_count per frozen rule over the
    same augmented corpus the scrub probe uses.  Counts are per-pattern
    over the original text — independent, not chained — so a compliance
    dashboard can aggregate them without running the rewrite."""
    docs = _t(spark, sf_dir, "documents")
    aug = _pii_aug_col()
    cols = [
        F.regexp_count(aug, F.lit(rule.pattern)).cast("long").alias(f"n_{rule.name}")
        for rule in CFG.pii_rules
    ]
    return docs.select("doc_id", *cols)


def q_simhash_docs(spark, sf_dir):
    """Engine-portable SimHash (md5 hash universe) — the DuckDB oracle
    computes the identical 64-bit fingerprint; dedup.simhash64 is the
    xxhash64 production-speed twin (same vote structure)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_md5(docs, "text", "doc_id")


SIMHASH_MAX_HAMMING = 3


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs: band equi-join (pigeonhole-exact for
    hamming <= 3 with 4x16-bit bands) + native popcount verify."""
    sim = q_simhash_docs(spark, sf_dir)
    return dedup.simhash_near_dup(sim, "doc_id", max_hamming=SIMHASH_MAX_HAMMING)


def q_hopping_event_stats(spark, sf_dir):
    """2-hour windows sliding by 1 hour — each event lands in 2 windows."""
    ev = _t(spark, sf_dir, "events")
    out = windows.hopping_time_agg(ev, "ts", "value", "2 hours", "1 hour")
    return out.select(
        "window_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_embedding_clusters(spark, sf_dir):
    """Coarse k-means cluster assignment for every vector (the inverted
    file's partition key at scale) — centroids from the shared
    deterministic trainer, so the oracle re-derives them exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.train_ivf_centroids(
        emb, "embedding", "vec_id", n_clusters=IVF_CLUSTERS, seed=IVF_SEED
    )
    return similarity.ivf_assign(emb, "embedding", "vec_id", cents)


FIDELITY_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _roundtrip_stats(spark, sf_dir, fmt: str):
    from quality_filter.io import formats

    docs = _t(spark, sf_dir, "documents")
    path = formats.scratch_path(fmt, sf_dir)
    rt_fn = {
        "jsonl": formats.roundtrip_jsonl,
        "csv": formats.roundtrip_csv,
        "orc": formats.roundtrip_orc,
        "warc": formats.roundtrip_warc,
        "wet": formats.roundtrip_wet,
    }[fmt]
    rt = rt_fn(docs, spark, path, formats.DOCUMENTS_SCHEMA)
    return formats.fidelity_summary(rt, "lang", FIDELITY_COLS)


def q_orc_roundtrip_stats(spark, sf_dir):
    """Columnar-interchange fidelity: documents → ORC → explicit-schema
    read → the same per-lang count + order-free md5-bucket row-image
    checksum as the JSONL/CSV twins.  ORC's own type system makes the
    textual-escaping failure modes impossible, but the contract is
    proved, not assumed (io/formats.roundtrip_orc)."""
    return _roundtrip_stats(spark, sf_dir, "orc")


def q_warc_roundtrip_stats(spark, sf_dir):
    """Crawl-native interchange fidelity: documents → WARC resource
    records (Content-Length-framed payload — no quoting layer exists to
    get wrong) → strict parse → the same per-lang fidelity reduction as
    the JSONL/CSV/ORC twins.  One task per WARC file on read, the
    Common-Crawl decomposition (io/warc.py)."""
    return _roundtrip_stats(spark, sf_dir, "warc")


def q_wet_roundtrip_stats(spark, sf_dir):
    """Extracted-text interchange fidelity: documents → WET conversion
    records (Common Crawl's text/plain product — WARC-Type: conversion,
    WARC-Refers-To back-pointer) → strict typed parse (non-conversion
    records ABORT inside the parse task) → the same per-lang fidelity
    reduction as the JSONL/CSV/ORC/WARC twins.  Proves the engine's
    extracted text can feed any WET consumer and come back byte-intact
    (io/warc.py:write_wet/read_wet)."""
    return _roundtrip_stats(spark, sf_dir, "wet")


PR_NODES = 97
PR_ITERS = 3
PR_FANOUT = 2


def _pr_edge_instances(docs):
    """Deterministic synthetic host graph (documents carry no link
    column): src = doc_id % PR_NODES, targets from the shared md5 hash
    universe — both engines rebuild the identical multigraph, and the
    md5 targets make in-degree genuinely non-uniform."""
    d = F.col("doc_id")
    insts = []
    for j in range(1, PR_FANOUT + 1):
        dst = (
            sampling.hash_bucket(F.concat(d.cast("string"), F.lit(f":{j}")))
            % PR_NODES
        ).cast("long")
        insts.append(docs.select((d % PR_NODES).cast("long").alias("src"), dst.alias("dst")))
    out = insts[0]
    for more in insts[1:]:
        out = out.union(more)
    return out


def q_host_pagerank(spark, sf_dir):
    """Exact integerized PageRank over the synthetic host graph — the
    Common-Crawl host-centrality verb (crawl prioritization / source
    reputation).  Each of the 3 rounds is one broadcast join of the
    O(nodes) rank relation against the weighted edge fact + one
    map-side-combined BIGINT sum; integer floor-division contributions
    make every round order-free and hash-exact (operators/graph.py)."""
    docs = _t(spark, sf_dir, "documents")
    edges = graph.edge_weights(_pr_edge_instances(docs))
    pr = graph.pagerank(edges, iters=PR_ITERS)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        "rank_micro",
        F.round(F.col("rank_micro") / F.lit(float(graph.PAGERANK_R0)), 6).alias("rank"),
    )


def _pr_default_inst_sql() -> str:
    """DuckDB twin of _pr_edge_instances: the md5-universe synthetic
    host multigraph (shared by the pagerank and HITS oracles)."""
    insts = []
    for j in range(1, PR_FANOUT + 1):
        insts.append(
            f"SELECT doc_id % {PR_NODES} AS src,\n"
            f"  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{j}'), 1, 8))::BIGINT"
            f" % {PR_NODES} AS dst\n"
            f"FROM documents"
        )
    return "\nUNION ALL\n".join(insts)


def _hits_ctes(
    inst_sql: str | None = None, iters: int = PR_ITERS, r0: int | None = None
) -> str:
    """DuckDB twin of graph.hits over any (src, dst) edge-instance
    relation: ``iters`` unrolled rounds of the exact-integer HITS
    recurrence — auth half-step, L1 renormalization to ~r0 via
    ``raw // greatest(1, Σraw // r0)`` (a window total, the Spark
    spelling), then the hub half-step the same way."""
    from quality_filter.operators import graph as _g

    if inst_sql is None:
        inst_sql = _pr_default_inst_sql()
    if r0 is None:
        r0 = _g.HITS_R0
    ctes = [
        "pr_inst AS (\n" + inst_sql + "\n)",
        "pr_edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w"
        " FROM pr_inst GROUP BY src, dst)",
        "pr_nodes AS (SELECT src AS node FROM pr_edges"
        " UNION SELECT dst AS node FROM pr_edges)",
        f"h0 AS (SELECT node, CAST({r0} AS BIGINT) AS hub FROM pr_nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"ar{i} AS (SELECT e.dst AS node, sum(h.hub * e.w) AS raw\n"
            f"  FROM pr_edges e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"an{i} AS (SELECT node, raw, sum(raw) OVER () AS tot FROM ar{i})"
        )
        ctes.append(
            f"a{i} AS (SELECT n.node,\n"
            f"  CAST(coalesce(r.raw // greatest(1, r.tot // {r0}), 0) AS BIGINT)"
            f" AS auth\n"
            f"  FROM pr_nodes n LEFT JOIN an{i} r USING (node))"
        )
        ctes.append(
            f"hr{i} AS (SELECT e.src AS node, sum(a.auth * e.w) AS raw\n"
            f"  FROM pr_edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"hn{i} AS (SELECT node, raw, sum(raw) OVER () AS tot FROM hr{i})"
        )
        ctes.append(
            f"h{i} AS (SELECT n.node,\n"
            f"  CAST(coalesce(r.raw // greatest(1, r.tot // {r0}), 0) AS BIGINT)"
            f" AS hub\n"
            f"  FROM pr_nodes n LEFT JOIN hn{i} r USING (node))"
        )
    return ",\n".join(ctes)


RD_NODES = PR_NODES  # redirect universe shares the synthetic host space
RD_GATE = 3
RD_HAS_MOD = 5  # a node redirects iff md5('rd:'||h) % 5 < 3 (~60% of hosts
# — dense enough that the md5 functional graph contains real cycles, so the
# unresolved/too-many-redirects verdict is exercised by the oracle)


def _redirect_edges(docs):
    """Deterministic functional redirect set over the synthetic host
    universe (documents carry no redirect column): host h redirects iff
    md5('rd:'||h) lands in 2 of 5 buckets, to md5('rt:'||h) % N — both
    engines rebuild the identical edge set from the shared md5 hash
    universe.  Functional by construction (one row per distinct h)."""
    h = (F.col("doc_id") % RD_NODES).cast("long")
    hosts = docs.select(h.alias("src")).distinct()
    gate = sampling.hash_bucket(F.concat(F.lit("rd:"), F.col("src").cast("string")))
    tgt = (
        sampling.hash_bucket(F.concat(F.lit("rt:"), F.col("src").cast("string")))
        % RD_NODES
    ).cast("long")
    return hosts.filter(gate % RD_HAS_MOD < RD_GATE).select("src", tgt.alias("dst"))


def q_redirect_resolution(spark, sf_dir):
    """Redirect-chain canonicalization by pointer doubling: every host
    in the synthetic redirect universe resolves to its chain terminal
    in log2(cap) self-join rounds (f^16 in 4 shuffles) — cycles and
    over-cap chains report resolved = false, the crawler's
    too-many-redirects verdict.  All-integer state, hash-exact
    (operators/graph.py:resolve_redirects)."""
    docs = _t(spark, sf_dir, "documents")
    return graph.resolve_redirects(_redirect_edges(docs))


CRAWL_BUDGET = 10000  # total fetch quota; 10^4·rank_micro stays far inside BIGINT


def q_crawl_budget_allocation(spark, sf_dir):
    """Per-host fetch-quota apportionment: Hamilton largest-remainder
    split of a fixed crawl budget ∝ host PageRank — exact integers end
    to end, Σ quota == budget EXACTLY (floor-only shares under-spend;
    float shares drift).  The weight relation is the O(hosts) rank
    dimension, so the windows are the pagerank-normalization precedent
    (operators/relational.py:apportion_budget)."""
    docs = _t(spark, sf_dir, "documents")
    pr = graph.pagerank(graph.edge_weights(_pr_edge_instances(docs)), iters=PR_ITERS)
    w = pr.select(F.col("node").alias("host"), "rank_micro")
    return relational.apportion_budget(w, "host", "rank_micro", CRAWL_BUDGET)


def q_host_hits(spark, sf_dir):
    """Exact integerized HITS (hubs & authorities) over the synthetic
    host graph — the link-analysis complement of host_pagerank that
    separates directory/link-farm hosts (hub-heavy) from content hosts
    (authority-heavy).  Each half-step is one broadcast join + BIGINT
    partial-agg sum; the L1 renormalization is integer floor division
    by a window total, so every round is order-free and hash-exact
    (operators/graph.py:hits)."""
    docs = _t(spark, sf_dir, "documents")
    edges = graph.edge_weights(_pr_edge_instances(docs))
    return graph.hits(edges, iters=PR_ITERS)


def _hamilton_ctes(weight_rel: str, budget: int, p: str) -> str:
    """DuckDB twin of relational.apportion_budget over ``weight_rel``
    (any SELECT producing (host, rank_micro)): ONE definition for every
    apportioning oracle (the _ol_frontier 'ONE definition' rule) —
    emits {p}_w/{p}_t/{p}_b/{p}_l/{p}_q; read quotas from
    ``{p}_q (host, rank_micro, quota)``."""
    return f"""{p}_w AS ({weight_rel}),
{p}_t AS (SELECT host, rank_micro, sum(rank_micro) OVER () AS tw FROM {p}_w),
{p}_b AS (
  SELECT host, rank_micro, tw,
    CASE WHEN tw = 0 THEN 0 ELSE ({budget} * rank_micro) // tw END AS base,
    CASE WHEN tw = 0 THEN 0 ELSE ({budget} * rank_micro) % tw END AS rem
  FROM {p}_t
),
{p}_l AS (
  SELECT host, rank_micro, base,
    CASE WHEN tw = 0 THEN 0 ELSE {budget} - sum(base) OVER () END AS leftover,
    row_number() OVER (ORDER BY rem DESC, host ASC) AS rn
  FROM {p}_b
),
{p}_q AS (
  SELECT host, rank_micro,
    CAST(base + (CASE WHEN rn <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS quota
  FROM {p}_l
)"""


def _pagerank_ctes(
    inst_sql: str | None = None, iters: int = PR_ITERS,
    teleport_sql: str | None = None,
) -> str:
    """DuckDB twin of graph.pagerank over any edge-instance relation:
    ``inst_sql`` must select ``(src, dst)`` rows (one per link
    instance); default is the md5-universe multigraph twin of
    ``_pr_edge_instances``.  Then PR_ITERS unrolled rounds of the same
    integer floor-division recurrence (`//` in DuckDB == `div` in Spark
    for the all-positive operands here).  ``teleport_sql`` (selecting
    ``(node, tw)``) switches to graph.pagerank_personalized's spec:
    per-node base = ((tw*1000) // ΣTW) * (BASE // 1000), absent nodes
    base 0."""
    if inst_sql is None:
        inst_sql = _pr_default_inst_sql()
    base = (graph.DAMP_DEN - graph.DAMP_NUM) * graph.PAGERANK_R0 // graph.DAMP_DEN
    ctes = [
        "pr_inst AS (\n" + inst_sql + "\n)",
        "pr_edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w"
        " FROM pr_inst GROUP BY src, dst)",
        "pr_nodes AS (SELECT src AS node FROM pr_edges"
        " UNION SELECT dst AS node FROM pr_edges)",
        "pr_outw AS (SELECT src, sum(w) AS ow FROM pr_edges GROUP BY src)",
        f"pr_r0 AS (SELECT node, CAST({graph.PAGERANK_R0} AS BIGINT) AS rank_micro"
        " FROM pr_nodes)",
    ]
    if teleport_sql is not None:
        ctes.append("pr_tw AS (\n" + teleport_sql + "\n)")
        ctes.append("pr_twt AS (SELECT sum(tw) AS twt FROM pr_tw)")
        ctes.append(
            "pr_base AS (\n"
            "  SELECT n.node,\n"
            "    CAST(CASE WHEN coalesce(twt, 0) = 0 THEN 0\n"
            f"      ELSE ((coalesce(t.tw, 0) * 1000) // twt) * {base // 1000} END"
            " AS BIGINT) AS nbase\n"
            "  FROM pr_nodes n LEFT JOIN pr_tw t ON t.node = n.node, pr_twt\n)"
        )
    for i in range(1, iters + 1):
        ctes.append(
            f"pr_c{i} AS (\n"
            f"  SELECT e.dst AS node,\n"
            f"    sum(({graph.DAMP_NUM} * r.rank_micro * e.w)"
            f" // ({graph.DAMP_DEN} * o.ow)) AS cin\n"
            f"  FROM pr_edges e JOIN pr_outw o USING (src)\n"
            f"  JOIN pr_r{i - 1} r ON r.node = e.src\n"
            f"  GROUP BY e.dst\n)"
        )
        if teleport_sql is None:
            ctes.append(
                f"pr_r{i} AS (\n"
                f"  SELECT n.node, CAST({base} + coalesce(c.cin, 0) AS BIGINT) AS rank_micro\n"
                f"  FROM pr_nodes n LEFT JOIN pr_c{i} c USING (node)\n)"
            )
        else:
            ctes.append(
                f"pr_r{i} AS (\n"
                f"  SELECT b.node, CAST(b.nbase + coalesce(c.cin, 0) AS BIGINT) AS rank_micro\n"
                f"  FROM pr_base b LEFT JOIN pr_c{i} c USING (node)\n)"
            )
    return ",\n".join(ctes)


BM25_QUERY_TERMS = ["hash", "spark", "table"]
BM25_K = 10


def q_bm25_top_docs(spark, sf_dir):
    """Okapi BM25 top-k retrieval for a fixed 3-term query: exploded
    terms filtered to the query set BEFORE any shuffle, ≤|Q|-row
    broadcast df dim, per-term scores pivoted to fixed columns and
    added in sorted-term order (never a float SUM over shuffled rows)
    so the final double is the same expression tree in both engines
    (textagg.bm25_topk).

    A fuzzed corpus without the query terms returns no rows in both
    engines, which passes."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bm25_topk(docs, "text", "doc_id", BM25_QUERY_TERMS, k=BM25_K)


BPE_PAIRS_K = 50


def q_bpe_pair_counts(spark, sf_dir):
    """Adjacent character-pair counts (one BPE merge round's counting
    step, tokenizer training over the curated corpus): token explode →
    per-token pair HOF → partial-agg count → TakeOrderedAndProject
    top-k; pair vocabulary bounded by charset², exact integer counts
    (textagg.bpe_pair_counts)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_pair_counts(docs, "text", k=BPE_PAIRS_K)


BPE_MERGE_K = 40


def q_bpe_merge_round(spark, sf_dir):
    """One full BPE training iteration (count → winner → APPLY merge →
    recount): the iterative tokenizer-training step, with the greedy
    non-overlapping merge expressed as a literal replace over the
    spaced symbol form — no UDF; the winner crosses the driver as one
    string and re-enters the recount plan as a literal
    (textagg.bpe_merge_round).

    Fuzz-safe: the spaced form uses ([\\s\\S]), the one dot-class
    spelling Java and RE2 read identically on any token bytes."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_merge_round(docs, "text", k=BPE_MERGE_K)


BPE_TRAIN_MERGES = 6


def q_bpe_train_merges(spark, sf_dir):
    """Multi-round BPE tokenizer training (Sennrich 2016): the full
    greedy merge-table loop to K rounds over the vocabulary-bounded
    word-frequency fact — one corpus pass, then every round is a narrow
    map + map-side-combined pair aggregate over the WORD dimension, one
    winning pair crossing the driver per round.  Sentinel-prefixed
    symbols make the literal-replace merge exact for multi-char symbols
    (textagg.bpe_train_merges).

    Fuzz-safe: data \\x01 bytes are stripped char-level by spec in both
    engines, so adversarial sentinels cannot split them."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_train_merges(docs, "text", n_merges=BPE_TRAIN_MERGES)


def q_bpe_token_counts_docs(spark, sf_dir):
    """Per-doc token count under the engine's own trained BPE merges —
    the train→apply tokenizer loop closed.  Application is a
    zero-shuffle narrow map with NO HOF and no explode: one sentinel
    spacing regexp, K literal replaces, and sentinel-count arithmetic
    (every symbol owns exactly one \\x01), all codegen'd JVM string ops
    (textagg.bpe_token_counts).

    Fuzz-safe: data sentinels are stripped char-level in both engines,
    and astral chars count 1 in both length() implementations."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_token_counts(
        docs, "text", "doc_id", n_merges=BPE_TRAIN_MERGES
    )


BPE_VOCAB_K = 100


def q_bpe_vocab(spark, sf_dir):
    """The learned BPE vocabulary: top-k (symbol, n) over the segmented
    corpus — the second half of the shipped tokenizer artifact next to
    bpe_train_merges' merge table.  Word-dimension narrow map +
    map-side-combined symbol counts; TakeOrderedAndProject
    (textagg.bpe_vocab)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_vocab(docs, "text", n_merges=BPE_TRAIN_MERGES, k=BPE_VOCAB_K)


def q_bpe_merge_curve(spark, sf_dir):
    """BPE training compression curve: corpus token count after each
    merge round 0..K (step 0 = raw chars) — the diminishing-returns
    measurement that prices each merge's vocabulary slot.  One shared
    word fact, one narrow map of K+1 chain prefixes (CSE'd), one
    scalar agg of exact integer sums (textagg.bpe_merge_curve)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_merge_curve(docs, "text", n_merges=BPE_TRAIN_MERGES)


def q_bpe_compression_by_lang(spark, sf_dir):
    """Tokenizer-equity audit: per-language chars-per-token under the
    engine's own trained BPE merges — the number that exposes a merge
    table trained on a skewed mix under-serving tail languages before
    a token budget silently under-buys them.  Same zero-shuffle narrow
    map as bpe_token_counts_docs, collapsing map-side to the O(#langs)
    dimension (textagg.bpe_compression_by_lang)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.bpe_compression_by_lang(
        docs, "text", "lang", n_merges=BPE_TRAIN_MERGES
    )


WINNOW_MAX_DF = 50
WINNOW_MIN_SHARED = 2
SNAP_MOD = 5


def q_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprints: window-min over k-gram hashes —
    the local-substring-similarity complement to minhash/simhash, with
    the ~2/(w+1) density bound.  Zero-shuffle narrow map
    (dedup.winnowing_fingerprints).

    Fuzz-safe: the k-gram hashes come from the md5 universe, so both
    engines choose the same window minima."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnowing_fingerprints(docs, "text", "doc_id")


def q_winnowing_pairs(spark, sf_dir):
    """Shared-fingerprint candidate pairs over the winnowing set: fp
    equi-join (LSH band-join shape), boilerplate fps df-capped exactly
    like star_edges/containment (dedup.winnowing_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnowing_pairs(docs, "text", "doc_id", max_df=WINNOW_MAX_DF)


def q_host_reputation(spark, sf_dir):
    """Host reputation = content quality × link centrality, the two
    signals a crawl planner combines: per-host exact-integer quality
    mass (floor(score·1e6) micro-units summed as BIGINT — order-free,
    the gate_distill_stats pattern; mean = ONE division of exact ints)
    joined with the extracted-link-graph PageRank.  Both sides collapse
    to the O(hosts) dimension before the join."""
    docs = _t(spark, sf_dir, "documents")
    pages = _ol_pages(docs)  # bound ONCE: host map + edges share the subtree
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    qm = F.floor(F.round(R.quality_score_col(feats, CFG), 6) * 1e6).cast("long")
    scored = docs.select("doc_id", qm.alias("q_micro")).join(
        pages.select("doc_id", "host"), "doc_id"
    )
    agg = scored.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum("q_micro").cast("long").alias("sum_q_micro"),
    )
    ranks = graph.pagerank(links.host_edges(pages), iters=OL_PR_ITERS)
    return agg.join(ranks, agg["host"] == ranks["node"]).select(
        "host",
        "n_pages",
        "sum_q_micro",
        F.round(
            F.col("sum_q_micro") / F.col("n_pages") / F.lit(1000000.0), 6
        ).alias("mean_quality"),
        "rank_micro",
    )


def q_host_trustrank(spark, sf_dir):
    """TrustRank (Gyöngyi et al., VLDB 2004): personalized PageRank
    whose teleport mass lands proportionally to each host's exact
    quality mass — rank flows outward from trusted (high-quality)
    hosts, demoting link farms that uniform PageRank rewards.  The
    composition host_reputation only JOINS; this one feeds quality
    INTO the rank recurrence.  Teleport weights are the same
    floor(score·1e6) BIGINT masses; the whole recurrence stays exact
    integer (graph.pagerank_personalized).

    With zero total trust weight (TW = 0) the teleport is zero in both
    engines by spec."""
    docs = _t(spark, sf_dir, "documents")
    pages = _ol_pages(docs)  # bound ONCE: host map + edges share the subtree
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    qm = F.floor(F.round(R.quality_score_col(feats, CFG), 6) * 1e6).cast("long")
    hq = (
        docs.select("doc_id", qm.alias("q_micro"))
        .join(pages.select("doc_id", "host"), "doc_id")
        .groupBy("host")
        .agg(F.sum("q_micro").cast("long").alias("tw"))
        .select(F.col("host").alias("node"), "tw")
    )
    return graph.pagerank_personalized(
        links.host_edges(pages), hq, iters=OL_PR_ITERS
    )


def q_winnowing_survivors(spark, sf_dir):
    """The winnowing dedup tier end-to-end: fp candidate pairs →
    connected components (alternating large/small-star, min-label) →
    one survivor per local-similarity cluster + all
    unclustered docs.  The survivors verb near_dup_survivors already
    provides for the minhash tier, applied to the LOCAL-substring
    tier.  Edges require >= WINNOW_MIN_SHARED shared fingerprints (the
    MOSS match-evidence threshold — a single shared fp is one hash
    collision away from noise and over-connects a small-vocab corpus
    into one giant component)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.winnowing_pairs(docs, "text", "doc_id", max_df=WINNOW_MAX_DF)
    comp = dedup.connected_components_altstar(
        pairs.filter(F.col("n_shared") >= WINNOW_MIN_SHARED).select("doc_a", "doc_b"),
        src="doc_a",
        dst="doc_b",
    ).select(F.col("x").alias("doc_id"), "comp")
    return dedup.near_dup_survivors(docs, "doc_id", comp)


def q_corpus_snapshot_diff(spark, sf_dir):
    """Crawl-snapshot content diff: two overlapping snapshots (modeled
    as doc_id % {SNAP_MOD} slices) compared by exact-dup fingerprint —
    added / removed / common distinct-content counts.  Two map-side
    distinct aggregates + one fp-keyed full join; corpus collapses to
    O(distinct fps) before the join and to 3 rows at the end."""
    docs = _t(spark, sf_dir, "documents")
    fp = dedup.fingerprint_col(F.col("text"))
    old = (
        docs.filter(F.col("doc_id") % SNAP_MOD != SNAP_MOD - 1)
        .select(fp.alias("fp")).distinct().withColumn("_o", F.lit(1))
    )
    new = (
        docs.filter(F.col("doc_id") % SNAP_MOD != 0)
        .select(fp.alias("fp")).distinct().withColumn("_n", F.lit(1))
    )
    j = old.join(new, "fp", "full")
    status = (
        F.when(F.col("_o").isNull(), F.lit("added"))
        .when(F.col("_n").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fps"))
    )


OL_HOSTS = 61       # synthetic host universe for the outlink tier
OL_NOINDEX_MOD = 7  # ~1/7 of pages carry a robots-noindex meta
OL_PR_ITERS = 3
ANCHOR_TERMS_K = 50


def _ol_pages(docs):
    """Deterministic synthetic crawled-page relation for the outlink
    tier (documents carry no html column, so each engine derives the
    pages from them): each doc becomes a page on host
    ``doc_id % OL_HOSTS`` whose html embeds (a) two relative nav links, (b) two absolute links to
    md5-universe target hosts with anchor text from the doc's own
    tokens (one https://, one scheme-relative //), (c) one opaque
    mailto: link, and (d) for ~1/OL_NOINDEX_MOD of pages a
    robots-noindex meta.  Doc text is embedded with ``[<>"]`` blanked
    (as a real templater would escape it), so the href set is exactly
    the synthesized one on ANY corpus — including the adversarial fuzz
    corpora — and both engines parse identical links.  Pure narrow map,
    shared md5 hash universe; DuckDB rebuilds the identical relation
    (_ol_pages_cte)."""
    d = F.col("doc_id")

    def hostname(n):
        return F.concat(F.lit("host"), F.lpad(n.cast("string"), 3, "0"), F.lit(".example.com"))

    def tgt(j):
        return hostname(
            sampling.hash_bucket(F.concat(d.cast("string"), F.lit(f":L{j}"))) % OL_HOSTS
        )

    own = hostname(d % OL_HOSTS)
    safe = F.regexp_replace(F.lower(F.col("text")), '[<>"]', " ")
    anchor = F.substring(safe, 1, 24)
    noindex = (
        sampling.hash_bucket(F.concat(d.cast("string"), F.lit(":ri"))) % OL_NOINDEX_MOD
    ) == 0
    html = F.concat(
        F.lit("<html><head><title>t</title>"),
        F.when(noindex, F.lit('<meta name="robots" content="noindex,nofollow">')).otherwise(F.lit("")),
        F.lit('</head><body><nav><a href="/">home</a><a href="/about">about page</a></nav><p>'),
        safe,
        F.lit('</p><a href="https://'), tgt(1), F.lit("/p/"), d.cast("string"), F.lit('">'),
        anchor,
        F.lit('</a><a href="//'), tgt(2), F.lit("/r/"), d.cast("string"), F.lit('">more '),
        anchor,
        F.lit('</a><a href="mailto:info@example.com">contact us</a></body></html>'),
    )
    return docs.select(d.alias("doc_id"), own.alias("host"), html.alias("html_str"))


def _ol_pages_cte() -> str:
    """DuckDB twin of _ol_pages: identical html string per doc_id (same
    md5 target universe, same [<>\"] blanking, same 24-char anchor
    slice), so regex link extraction parses identical hrefs."""

    def tgt(j: int) -> str:
        return (
            f"'host' || lpad(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':L{j}'), 1, 8))::BIGINT"
            f" % {OL_HOSTS} AS VARCHAR), 3, '0') || '.example.com'"
        )

    noindex = (
        f"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ri'), 1, 8))::BIGINT"
        f" % {OL_NOINDEX_MOD} = 0"
    )
    return f"""ol_pages AS (
  SELECT doc_id,
    'host' || lpad(CAST(doc_id % {OL_HOSTS} AS VARCHAR), 3, '0') || '.example.com' AS host,
    '<html><head><title>t</title>'
      || CASE WHEN {noindex}
           THEN '<meta name="robots" content="noindex,nofollow">' ELSE '' END
      || '</head><body><nav><a href="/">home</a><a href="/about">about page</a></nav><p>'
      || regexp_replace(lower(text), '[<>"]', ' ', 'g')
      || '</p><a href="https://' || {tgt(1)} || '/p/' || CAST(doc_id AS VARCHAR) || '">'
      || substr(regexp_replace(lower(text), '[<>"]', ' ', 'g'), 1, 24)
      || '</a><a href="//' || {tgt(2)} || '/r/' || CAST(doc_id AS VARCHAR) || '">more '
      || substr(regexp_replace(lower(text), '[<>"]', ' ', 'g'), 1, 24)
      || '</a><a href="mailto:info@example.com">contact us</a></body></html>' AS html_str
  FROM documents
)"""


# Twin of links.link_host_col over a column named `link` with page host
# `src`: same branch order, same host classes.  Host parse is a regex
# (DuckDB has no parse_url); synthesized links are well-formed so the
# regex and try_parse_url agree by construction.
_OL_HOST_CASE = """CASE
      WHEN regexp_matches(link, '^(?i)https?://')
        THEN nullif(lower(regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:@]+)', 1)), '')
      WHEN link LIKE '//%'
        THEN nullif(lower(regexp_extract('https:' || link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:@]+)', 1)), '')
      WHEN regexp_matches(link, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN NULL
      ELSE lower(src)
    END"""


def _ol_edges_ctes() -> str:
    """ol_pages → exploded hrefs → resolved (src, dst) instances →
    weighted unique edges: the full DuckDB twin of links.host_edges."""
    return f"""{_ol_pages_cte()},
ol_links AS (
  SELECT host AS src,
    unnest(regexp_extract_all(html_str, '(?i)<a\\s(?:[^>]*\\s)?href="([^"]*)"', 1)) AS link
  FROM ol_pages
),
ol_inst AS (
  SELECT src, {_OL_HOST_CASE} AS dst
  FROM ol_links
),
ol_kept AS (
  SELECT src, dst FROM ol_inst
  WHERE dst IS NOT NULL AND dst <> '' AND dst <> src
),
ol_edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM ol_kept GROUP BY src, dst
)"""


def q_outlink_host_edges(spark, sf_dir):
    """Host-level link graph from crawled HTML — the web-graph product
    CC publishes from its page sets: regexp href extraction + per-link
    host resolution (absolute / scheme-relative / page-relative /
    opaque-scheme classes), all JVM-native narrow maps; the only
    exchange is the map-side-combined (src, dst) count, O(unique host
    pairs) — link-frequency skew collapses in the partial agg
    (operators/links.py).

    Fuzz-safe, for the whole outlink tier: the synthesized html blanks
    <, > and " out of the doc text in both engines, so the href set is
    exactly the generated one on any corpus; host parsing and the anchor
    split are ASCII regexes that Java and RE2 read identically."""
    docs = _t(spark, sf_dir, "documents")
    return links.host_edges(_ol_pages(docs))


def q_outlink_pagerank(spark, sf_dir):
    """Crawl → link graph → host centrality, composed end-to-end: the
    edges come out of actual href extraction (not a pre-made edge
    table) and feed the exact integerized PageRank — every round
    hash-exact through the extraction (operators/links.py +
    operators/graph.py)."""
    docs = _t(spark, sf_dir, "documents")
    e = links.host_edges(_ol_pages(docs))
    pr = graph.pagerank(e, iters=OL_PR_ITERS, src="src", dst="dst", w="w")
    return pr.select(
        "node",
        "rank_micro",
        F.round(F.col("rank_micro") / F.lit(float(graph.PAGERANK_R0)), 6).alias("rank"),
    )


def q_anchor_text_terms(spark, sf_dir):
    """Top-k anchor-text terms per TARGET host — the aggregate behind
    anchor-text retrieval (a page is described by the text of links
    pointing at it).  Per-<a>-element parse so href and inner text can
    never misalign; O(hosts x anchor vocab) count exchange +
    TakeOrderedAndProject (operators/links.py)."""
    docs = _t(spark, sf_dir, "documents")
    return links.anchor_terms(_ol_pages(docs), k=ANCHOR_TERMS_K)


def q_robots_noindex_flags(spark, sf_dir):
    """Crawl-politeness gate: per-page robots-noindex flag from the
    meta directive — pages a compliant corpus builder must drop before
    any quality scoring.  Pure rlike narrow map, zero exchanges
    (operators/links.py)."""
    docs = _t(spark, sf_dir, "documents")
    pages = _ol_pages(docs)
    return pages.select(
        "doc_id",
        links.robots_noindex_col(F.col("html_str")).alias("noindex"),
    )


def q_host_degree_stats(spark, sf_dir):
    """Web-graph degree summary per host (the distribution CC publishes
    with its host-graph releases): distinct out/in neighbor counts and
    link-instance weights, from the extracted edge list.  Two
    map-side-combined aggs over O(unique edges) + one O(hosts) full
    join — all dimension-sized after the edge collapse."""
    docs = _t(spark, sf_dir, "documents")
    e = links.host_edges(_ol_pages(docs))
    out_d = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg"),
        F.sum("w").cast("long").alias("out_w"),
    )
    in_d = e.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg"),
        F.sum("w").cast("long").alias("in_w"),
    )
    z = F.lit(0).cast("long")
    return out_d.join(in_d, "host", "full").select(
        "host",
        F.coalesce("out_deg", z).alias("out_deg"),
        F.coalesce("out_w", z).alias("out_w"),
        F.coalesce("in_deg", z).alias("in_deg"),
        F.coalesce("in_w", z).alias("in_w"),
    )


CRAWL_FRONTIER_K = 100


def _ol_frontier(pages):
    """Frontier URL relation shared by the scheduling queries: distinct
    absolute discovered links anti-joined against the crawl log.  ONE
    definition — a drift between the two registered schedulers would
    silently desynchronize crawl planning."""
    crawled = pages.select(
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/p/"), F.col("doc_id").cast("string")
        ).alias("url")
    )
    lnk = pages.select(
        F.explode(links.outlink_urls_col(F.col("html_str"))).alias("link")
    )
    disc = lnk.filter(F.col("link").rlike("^(?i)https?://")).select("link").distinct()
    return disc.join(crawled, disc["link"] == crawled["url"], "left_anti")


FETCH_PLAN_BUDGET = 200


def q_crawl_fetch_plan(spark, sf_dir):
    """The crawl scheduler end-to-end: frontier URLs (extracted links
    anti-joined vs the crawl log) are ordered into per-host politeness
    rounds, the fetch budget is Hamilton-apportioned across frontier
    hosts ∝ extracted-graph PageRank, and a URL is fetched iff its
    round fits inside its host's quota.  A host's quota may exceed its
    frontier (the plan simply exhausts the host); hosts absent from the
    link graph weigh 0.  NULL/empty hosts are excluded BEFORE the
    apportionment (NULL ordering differs across engines — a spec'd
    guard, not a workaround).  Composition of three green operators;
    all joins broadcast O(hosts) dims."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    pages = _ol_pages(docs)
    frontier = _ol_frontier(pages)
    tgt_host = links.link_host_col(F.col("link"), F.lit(None).cast("string"))
    fr = (
        frontier.select(F.col("link").alias("url"), tgt_host.alias("host"))
        .filter(F.col("host").isNotNull() & (F.col("host") != ""))
    )
    rn = F.row_number().over(W.partitionBy("host").orderBy(F.col("url").asc()))
    fr = fr.withColumn("fetch_round", rn.cast("long"))
    ranks = graph.pagerank(links.host_edges(pages), iters=OL_PR_ITERS)
    hosts = fr.select("host").distinct()
    w = hosts.join(ranks, hosts["host"] == ranks["node"], "left").select(
        "host", F.coalesce("rank_micro", F.lit(0).cast("long")).alias("rank_micro")
    )
    quotas = relational.apportion_budget(
        w, "host", "rank_micro", FETCH_PLAN_BUDGET
    ).select("host", "quota")
    return (
        fr.join(F.broadcast(quotas), "host")
        .filter(F.col("fetch_round") <= F.col("quota"))
        .select("url", "host", "fetch_round", "quota")
    )


def q_crawl_frontier_topk(spark, sf_dir):
    """Crawl-frontier scheduling, composed end-to-end: absolute URLs
    DISCOVERED by href extraction, deduped, anti-joined against the
    crawl log (already-fetched URLs), and prioritized by the target
    host's extracted-link-graph PageRank — top-k next fetches.  Scale
    shape: discovered URLs collapse map-side before the O(distinct
    URLs) anti-join; the rank relation is a broadcast dim; the output
    is a TakeOrderedAndProject heap."""
    docs = _t(spark, sf_dir, "documents")
    pages = _ol_pages(docs)
    frontier = _ol_frontier(pages)
    ranks = graph.pagerank(links.host_edges(pages), iters=OL_PR_ITERS)
    tgt_host = links.link_host_col(F.col("link"), F.lit(None).cast("string"))
    return (
        frontier.select("link", tgt_host.alias("host"))
        .join(F.broadcast(ranks), F.col("host") == F.col("node"))
        .select(F.col("link").alias("url"), "host", "rank_micro")
        .orderBy(F.col("rank_micro").desc(), F.col("url").asc())
        .limit(CRAWL_FRONTIER_K)
    )


def q_frontier_robots(spark, sf_dir):
    """RFC 9309 robots gate over the crawl frontier: per-host
    Disallow/Allow path-prefix rule groups (synthesized from the shared
    md5 universe — Disallow '/p/<d1>', Allow '/p/<d1><d2>', the longer
    Allow genuinely exercising longest-match-wins), decided per
    discovered URL by links.robots_decision.  The compliant-fetch
    complement to the noindex meta gate and politeness rounds: frontier
    → robots filter → per-host scheduling.  Scale shape: rules are an
    O(hosts) broadcast dim; the frontier is never shuffled except the
    map-side-combined max-struct winner per URL."""
    docs = _t(spark, sf_dir, "documents")
    frontier = _ol_frontier(_ol_pages(docs))
    tgt_host = links.link_host_col(F.col("link"), F.lit(None).cast("string"))
    urls = frontier.select(
        F.col("link").alias("url"),
        tgt_host.alias("host"),
        F.try_parse_url(F.col("link"), F.lit("PATH")).alias("path"),
    )
    hosts = urls.select("host").distinct()
    d1 = (sampling.hash_bucket(F.concat(F.col("host"), F.lit(":rbd"))) % 10).cast("string")
    d2 = (sampling.hash_bucket(F.concat(F.col("host"), F.lit(":rba"))) % 10).cast("string")
    rules = hosts.select(
        "host", F.lit("disallow").alias("rule"),
        F.concat(F.lit("/p/"), d1).alias("prefix"),
    ).unionByName(
        hosts.select(
            "host", F.lit("allow").alias("rule"),
            F.concat(F.lit("/p/"), d1, d2).alias("prefix"),
        )
    )
    return links.robots_decision(urls, rules)


SPAN_L = dedup.SPAN_WORDS
SAVINGS_K = 30


def q_dedup_savings_report(spark, sf_dir):
    """Dedup observability: the top-k duplicated SEGMENTS ranked by
    wasted chars (occurrences beyond the first × segment size) — the
    report a curation run publishes to justify its segment-dedup pass
    (whole-doc exact dups are rarer than repeated boilerplate blocks,
    and this surfaces exactly which blocks pay).  Segment relation
    collapses map-side to O(distinct segments); only n > 1 groups
    survive; md5 key keeps the hash check content-addressed;
    TakeOrderedAndProject top-k."""
    docs = _t(spark, sf_dir, "documents")
    occ = dedup.segment_occurrences(docs, "text", "doc_id")
    return (
        occ.groupBy(F.md5(F.col("seg")).alias("seg_fp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.max(F.length("seg")).cast("long").alias("seg_chars"),
        )
        .filter(F.col("n_copies") > 1)
        .withColumn("wasted_chars", (F.col("n_copies") - 1) * F.col("seg_chars"))
        .orderBy(F.col("wasted_chars").desc(), F.col("seg_fp").asc())
        .limit(SAVINGS_K)
    )


MIRROR_MAX_HOST_DF = 10
MIRROR_MIN_SHARED = 3


def q_mirror_host_pairs(spark, sf_dir):
    """Mirror-site detection: host pairs sharing ≥ MIRROR_MIN_SHARED
    distinct content segments, excluding segments present on more than
    MIRROR_MAX_HOST_DF hosts (corpus-wide boilerplate is not mirror
    evidence — the LSH hot-band df-cap applied at host granularity).
    The (host, segment) relation collapses map-side to distinct before
    the capped equi-join, so pair work is O(segments × host_df²) with
    host_df bounded."""
    docs = _t(spark, sf_dir, "documents")
    pages = _ol_pages(docs).select("doc_id", "host")
    hs = (
        docs.join(pages, "doc_id")
        .select("host", F.explode(dedup.segments_col(F.col("text"))).alias("seg"))
        .distinct()
    )
    capped = hs.join(
        hs.groupBy("seg").agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= MIRROR_MAX_HOST_DF)
        .select("seg"),
        "seg",
    )
    a = capped.select("seg", F.col("host").alias("host_a"))
    b = capped.select("seg", F.col("host").alias("host_b"))
    return (
        a.join(b, "seg")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_segments"))
        .filter(F.col("n_shared_segments") >= MIRROR_MIN_SHARED)
    )


def q_exact_substring_dedup(spark, sf_dir):
    """ExactSubstr span dedup (Lee et al.): every overlapping 8-token
    window duplicated anywhere earlier in the corpus is excised;
    surviving token sequence pinned by md5.  Window relation is
    O(tokens) like shingles; the keeper min-struct collapses hot spans
    map-side (dedup.excise_duplicate_spans).

    Fuzz-safe: md5 window universe plus positional array algebra; the
    oracle pins the NULL-vs-empty join seam with coalesce."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.excise_duplicate_spans(docs, "text", "doc_id")


def q_frontier_politeness_rounds(spark, sf_dir):
    """Per-host crawl politeness: every frontier URL is assigned a
    fetch round such that each round touches a host AT MOST ONCE
    (row_number per host over a deterministic order) — the scheduling
    step between frontier ranking and actual fetching.  The window
    partitions on host, the natural key: per-host fetch order is
    inherently sequential, and the partition size is bounded by the
    per-host frontier (already URL-deduped), so no global sort and no
    unbounded skew."""
    docs = _t(spark, sf_dir, "documents")
    frontier = _ol_frontier(_ol_pages(docs))
    from pyspark.sql import Window as W

    tgt_host = links.link_host_col(F.col("link"), F.lit(None).cast("string"))
    rn = F.row_number().over(W.partitionBy("host").orderBy(F.col("url").asc()))
    return (
        frontier.select(F.col("link").alias("url"), tgt_host.alias("host"))
        .withColumn("fetch_round", rn.cast("long"))
    )


PMI_K = 50
PMI_MIN_COUNT = 5
NOVELTY_NGRAM = 3
TFIDF_COS_MAX_DF = 50
TFIDF_COS_MIN = 0.5


def q_collocation_pmi(spark, sf_dir):
    """Top-k adjacent-pair collocations by PMI — phrase mining for
    tokenizer/vocabulary construction.  Exact BIGINT counts feed one
    fixed ln expression tree (the bm25 ln precedent), so the double is
    engine-identical (textagg.collocation_pmi_topk)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.collocation_pmi_topk(docs, "text", k=PMI_K, min_count=PMI_MIN_COUNT)


def q_doc_novelty_docs(spark, sf_dir):
    """Per-doc novelty: fraction of the doc's distinct 3-gram shingles
    first seen in THIS doc (corpus-wide min-id first occurrence) — the
    originality signal separating source pages from mirrors/recombined
    boilerplate.  All exact ints until one final division
    (dedup.doc_novelty)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.doc_novelty(docs, "text", "doc_id", n=NOVELTY_NGRAM)


def q_word_entropy_docs(spark, sf_dir):
    """Shannon word-entropy + type-token ratio per doc — the
    low-entropy gibberish/boilerplate detector of CCNet/Gopher-style
    webtext filters (templated or repeated text scores near 0; TTR is
    the vocabulary-diversity companion).  Shuffle-free per-row HOF
    array math: the token array is LET-bound once per row
    (dedup.let_bound — Catalyst would otherwise re-split the text once
    per distinct word), counts via the repetition_profile
    distinct×filter pattern, entropy via one aggregate fold.  `+ 0.0`
    canonicalizes the all-identical-words -0.0 on both engines.

    Fuzz-safe: ASCII-space tokens and log2 of rational counts (the
    pmi/bm25 ln class), rounded to 6 dp in both engines."""
    docs = _t(spark, sf_dir, "documents")

    def ent_ttr(toks):
        n = F.size(toks).cast("double")
        counts = F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)).cast("double"),
        )
        ent = -F.aggregate(
            counts, F.lit(0.0), lambda acc, c: acc + (c / n) * F.log2(c / n)
        ) + F.lit(0.0)
        ttr = F.size(F.array_distinct(toks)).cast("double") / n
        return F.struct(
            F.round(ent, 6).alias("word_entropy"), F.round(ttr, 6).alias("ttr")
        )

    return docs.select(
        "doc_id",
        dedup.let_bound(F.split(F.trim(F.col("text")), "[ ]+"), ent_ttr).alias("_e"),
    ).select("doc_id", "_e.word_entropy", "_e.ttr")


def q_encoding_noise_docs(spark, sf_dir):
    """Mojibake / encoding-damage signals per doc: U+FFFD count,
    control-char count, non-ASCII ratio, and the suspect flag —
    codegen'd regexp_count narrow maps (functions/textstats
    .encoding_noise_cols); patterns are \\xNN-escape-only so Java and
    RE2 read them identically on any corpus."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", *TS.encoding_noise_cols(F.col("text")))


def q_corpus_datasheet(spark, sf_dir):
    """Corpus datasheet: the CUBE over (source, lang_guess) a curation
    run publishes with each release — doc / whitespace-token / char
    totals and encoding-suspect counts at every marginal (per source,
    per language, per cell, grand total).  All exact-integer aggregates
    that collapse map-side to O(|sources| × |langs|) rows before the
    one exchange; the CUBE expansion runs on the collapsed dimension,
    never the corpus."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        TS.lang_guess(F.col("text")).alias("lang_guess"),
        F.size(TS.tokens_simple(F.col("text"))).cast("long").alias("_tok"),
        F.length("text").cast("long").alias("_chr"),
        TS.encoding_noise_cols(F.col("text"))[3].cast("long").alias("_sus"),
    )
    return base.cube("source", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_tok").cast("long").alias("n_tokens"),
        F.sum("_chr").cast("long").alias("n_chars"),
        F.sum("_sus").cast("long").alias("n_suspect"),
    )


def q_tfidf_cosine_pairs(spark, sf_dir):
    """TF-IDF-weighted cosine near-dup pairs — the weighted-vocabulary
    complement to ngram_jaccard (set overlap) and simhash (sketch):
    catches paraphrases that keep distinctive terms but break shingle
    order.  Exact-integer weights (idf via integer division in
    micro-units) + DECIMAL(38,0) sums make the cosine bit-identical
    cross-engine; terms hotter than df 50 dropped (hot-key cap) so the
    term join never goes corpus-quadratic (dedup.tfidf_cosine_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.tfidf_cosine_pairs(
        docs, "text", "doc_id", min_df=1, max_df=TFIDF_COS_MAX_DF,
        min_cos=TFIDF_COS_MIN,
    )


def q_kn_bigram_counts(spark, sf_dir):
    """Distributed LM-training counts: the c(w1,w2) table the engine's
    own 5-gram perplexity scorer would retrain from at corpus scale.
    One O(distinct bigrams) shuffle (textagg.kn_bigram_counts).

    Fuzz-safe: pure positional token algebra (zip_with slices match
    DuckDB's double-unnest zip) and exact integers."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.kn_bigram_counts(docs, "text")


def q_kn_continuation_stats(spark, sf_dir):
    """Kneser-Ney continuation/backoff statistics per word: unigram
    count + distinct left/right contexts, distinct-ed on the pair
    relation before the per-word aggregates
    (textagg.kn_continuation_stats)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.kn_continuation_stats(docs, "text")


def q_mojibake_repair_docs(spark, sf_dir):
    """Mojibake repair (ftfy-lite): the ordered literal replace chain
    that undoes common UTF-8-as-latin1 double-encode artifacts — the
    fixer companion to encoding_noise_docs' detector.  Documents are
    deterministically corrupted first (every 5th doc gets 'a' → 'Ã©')
    so the repair branch is genuinely exercised under the value hash;
    both engines synthesize and repair identically.  Zero-shuffle
    narrow map (functions/textstats.mojibake_repair_col)."""
    docs = _t(spark, sf_dir, "documents")
    corrupt = F.when(
        F.col("doc_id") % 5 == 0,
        F.replace(F.col("text"), F.lit("a"), F.lit("Ã©")),
    ).otherwise(F.col("text"))
    fixed = TS.mojibake_repair_col(corrupt)
    return docs.select(
        "doc_id",
        fixed.alias("text_fixed"),
        (F.length(corrupt) != F.length(fixed)).alias("repaired"),
        (F.length(corrupt) - F.length(fixed)).cast("long").alias("n_chars_saved"),
    )


OOV_VOCAB = 30  # small vs the ~40-word synthetic vocabulary so the
# OOV branch is genuinely exercised at test scale


def q_oov_rate_docs(spark, sf_dir):
    """Per-doc OOV rate vs the corpus top-V vocabulary — the tokenizer
    coverage report (deterministic top-V: count desc, term asc; exact
    integer counts; broadcast vocab dim — textagg.oov_rate)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.oov_rate(docs, "text", "doc_id", v=OOV_VOCAB)


def q_doremi_mixture_weights(spark, sf_dir):
    """DoReMi-style domain reweighting (Xie et al., arXiv:2305.10429):
    one exponentiated-gradient step over per-source excess KN surprisal
    — the data-mixing verb that sits between DSIR selection and the
    temperature mixture in a curation flow.  All floats are either
    quantized at the vocabulary dim (engine-identical q12 BIGINTs,
    DECIMAL(38,0) sums) or folded in source order with a polynomial exp
    spec, so the oracle is a full value-hash check."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.doremi_mixture_weights(docs, "text", "source")


DOREMI_BUDGET = 1_000_000


def q_doremi_token_budget(spark, sf_dir):
    """The mixing plan made executable: DoReMi weights → Hamilton
    largest-remainder INTEGER token quotas per source (Σ quota ==
    budget EXACTLY — float shares drift, floor-only shares under-spend;
    relational.apportion_budget).  Weights are integerized from the
    round-6 contract values (one IEEE multiply + floor, identical in
    both engines), so the whole chain — LM stats → EG step →
    apportionment — is engine-exact end to end."""
    w = q_doremi_mixture_weights(spark, sf_dir).select(
        "source",
        F.floor(F.col("weight") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("w_micro"),
    )
    return relational.apportion_budget(w, "source", "w_micro", DOREMI_BUDGET)


def q_kn_doc_surprisal(spark, sf_dir):
    """Per-doc Kneser-Ney bigram surprisal + perplexity, trained on the
    corpus itself — the in-engine KenLM analog: exact-integer KN
    probability ratios through ONE log2 expression per bigram type, the
    per-doc sum folded in (w1, w2)-sorted order so no float SUM ever
    crosses a shuffle (textagg.kn_doc_surprisal)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.kn_doc_surprisal(docs, "text", "doc_id")


# Multi-level host universe for the blocklist gate (the flat _ol_pages
# hosts share one registrable domain, which cannot exercise the
# label-suffix lattice): pure integer arithmetic + concat, so both
# engines synthesize the identical string per doc_id on ANY corpus.
_BL_HOSTS_SQL = """SELECT doc_id,
    (CASE WHEN doc_id % 5 = 0 THEN 'ads.' WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END)
    || 'w' || CAST(doc_id % 10 AS VARCHAR) || '.site' || CAST(doc_id % 8 AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 0 THEN '.com' WHEN doc_id % 3 = 1 THEN '.net'
        ELSE '.org' END) AS host
  FROM documents"""


def _bl_hosts(docs):
    d = F.col("doc_id")
    sub = (
        F.when(d % 5 == 0, F.lit("ads."))
        .when(d % 7 == 0, F.lit("cdn."))
        .otherwise(F.lit(""))
    )
    tld = (
        F.when(d % 3 == 0, F.lit(".com"))
        .when(d % 3 == 1, F.lit(".net"))
        .otherwise(F.lit(".org"))
    )
    host = F.concat(
        sub,
        F.lit("w"),
        (d % 10).cast("string"),
        F.lit(".site"),
        (d % 8).cast("string"),
        tld,
    )
    return docs.select("doc_id", host.alias("host"))


def q_url_blocklist_gate(spark, sf_dir):
    """UT1-category domain blocklist over the crawl (RefinedWeb §3.1's
    first gate): block iff any dot-boundary label-suffix of the host is
    listed; the longest entry names the category (robots longest-match
    precedent — ads.w0.site0.com takes 'ads' over site0.com's
    'tracker').  Suffix expansion is a narrow HOF, the list a broadcast
    dim, the winner a max-struct on the unique page id
    (links.blocklist_gate).

    Fuzz-safe: the host is synthesized from doc_id by integer arithmetic
    and concat, so no text column is ever read."""
    docs = _t(spark, sf_dir, "documents")
    bl = spark.createDataFrame(
        list(links.HOST_BLOCKLIST), "rule string, category string"
    )
    return links.blocklist_gate(_bl_hosts(docs), "host", bl)


def q_ccnet_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles PER LANGUAGE (Wenzek
    et al. 1911.00359): the in-engine KN LM scores every doc, then each
    language is cut into thirds by a histogram-CDF over integer
    perplexity bins — no per-language global sort (the 90%-one-language
    corpus would serialize a rank window into a single task).  Cut bins
    are exact integer statistics of a dimension-sized histogram;
    assignment is a broadcast CASE (textagg.ccnet_ppl_buckets)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.ccnet_ppl_buckets(docs, "text", "doc_id", "lang")


def q_hll_vocab_estimate(spark, sf_dir):
    """Engine-exact HyperLogLog vocabulary estimate audited against the
    exact distinct-term count: 256 registers from md5 string algebra,
    exact-integer harmonic terms (2^(61-M) in DECIMAL), one IEEE
    division + the standard linear-counting branch
    (textagg.hll_vocab_estimate)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.hll_vocab_estimate(docs, "text")


def q_moore_lewis_selection(spark, sf_dir):
    """Moore-Lewis cross-entropy-difference selection (ACL 2010): every
    doc scored as bits/bigram under the lang='fr' in-domain KN model
    minus bits under the whole-corpus model; selected iff covered >= 1/2
    (exact-int compare) and the raw difference <= 0.  One shared bigram
    fact, two vocabulary-bounded model dims broadcast into it
    (textagg.moore_lewis_scores)."""
    docs = _t(spark, sf_dir, "documents")
    return textagg.moore_lewis_scores(
        docs, "text", "doc_id", F.col("lang") == "fr"
    )


def q_jsonl_roundtrip_stats(spark, sf_dir):
    """Interchange-source fidelity, proven not assumed: documents →
    JSON Lines → explicit-schema FAILFAST read → per-lang counts + an
    order-free md5-bucket checksum over every column of every row.  The
    oracle computes the identical summary over the ORIGINAL table, so a
    single altered byte anywhere in the encode/decode breaks the hash
    match (io/formats.py)."""
    return _roundtrip_stats(spark, sf_dir, "jsonl")


def q_csv_roundtrip_stats(spark, sf_dir):
    """Same fidelity contract through RFC-4180 CSV (quote-doubling
    escapes, multiLine quoted-newline read, explicit schema,
    FAILFAST)."""
    return _roundtrip_stats(spark, sf_dir, "csv")


KMEANS_REFINE_ITERS = 3


def _sample_centroids(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb, similarity.train_ivf_centroids(
        emb, "embedding", "vec_id", n_clusters=IVF_CLUSTERS, seed=IVF_SEED
    )


def q_kmeans_step(spark, sf_dir):
    """One EXACT distributed Lloyd accumulation over the full corpus:
    per (cluster, dim), member count and the order-free integerized
    component sum (floor(x*1e6), DECIMAL upstream) — the k-means update
    as a value-hash-checkable aggregate of exact integers; the mean is
    sum_micro / n / 1e6.  See similarity.kmeans_step_stats for the
    scale shape."""
    emb, cents = _sample_centroids(spark, sf_dir)
    return similarity.kmeans_step_stats(emb, "embedding", cents).select(
        "cluster", "dim", "n", "sum_micro"
    )


def q_kmeans_refined_clusters(spark, sf_dir):
    """Distributed k-means, the ITERATIVE algorithm under the oracle:
    sample-trained centroids refined by KMEANS_REFINE_ITERS full-corpus
    Lloyd rounds (exact integer accumulations → the engine-free twin
    reproduces every refined centroid bit-for-bit), then the final
    assignment for every vector.  Fixes the sample-only training story:
    at corpus scale the refinement sees ALL rows, each round one map +
    O(tasks*k*d) exchange."""
    emb, cents0 = _sample_centroids(spark, sf_dir)
    cents = similarity.kmeans_refine(
        emb, "embedding", cents0, iters=KMEANS_REFINE_ITERS
    )
    return similarity.ivf_assign(emb, "embedding", "vec_id", cents)


CLUSTER_SAMPLE_QUOTA = 20


def q_cluster_balanced_sample(spark, sf_dir):
    """Topic-balanced sampling over LEARNED clusters (the SemDedup/
    DCLM cluster-proportional curation step, inverted: equal quota per
    k-means cluster so no topic dominates the training mix — the
    embedding-space analog of docs_stratified_sample's metadata
    strata).  Assignment is the shared refined-centroid narrow map;
    the per-cluster quota is a row_number window ordered by the
    content-addressed md5 rank (deterministic under retry/repartition,
    the hash_sample precedent), partition-bounded by cluster — never a
    global sort.  At 100 TB the assignment output is written bucketed
    by cluster, so the window sorts one bucket per task."""
    from pyspark.sql import Window

    emb, cents0 = _sample_centroids(spark, sf_dir)
    cents = similarity.kmeans_refine(
        emb, "embedding", cents0, iters=KMEANS_REFINE_ITERS
    )
    asg = similarity.ivf_assign(emb, "embedding", "vec_id", cents)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        asg.select(
            "vec_id", "cluster", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= CLUSTER_SAMPLE_QUOTA)
    )


SEMDEDUP_THRESHOLD = 0.35


def q_semantic_dedup(spark, sf_dir):
    """SemDedup survivors: k-means-cluster the embeddings (shared
    deterministic trainer → the oracle re-derives identical centroids),
    drop every vector with a smaller-id same-cluster neighbor at
    cosine >= 0.35.  Pair work is cluster-bounded (equi-join), never
    all-pairs; the oracle replays assignment + the within-cluster pair
    predicate exactly.  k is DERIVED from corpus size (expected bucket
    ≈ SEMDEDUP_TARGET_BUCKET, r4-verdict fix for the fixed-k hot-cluster
    quadratic): the count is one cheap scan, and the oracle derives the
    identical k from the same parquet's row count."""
    emb = _t(spark, sf_dir, "embeddings")
    k = similarity.semdedup_n_clusters(emb.count())
    cents = similarity.train_ivf_centroids(
        emb, "embedding", "vec_id", n_clusters=k, seed=IVF_SEED
    )
    out = similarity.semantic_dedup(
        emb, "embedding", "vec_id", cents, SEMDEDUP_THRESHOLD
    )
    return out.select("vec_id", "cluster")


KNN_LSH_PLANES = 4
KNN_LSH_SEED = 1234
IVF_CLUSTERS = 8
IVF_SEED = 7
IVF_PROBE = 2


def q_knn_lsh(spark, sf_dir):
    """ANN via hyperplane-LSH bucket restriction.  The oracle rebuilds
    the SAME buckets from shared plane literals → full hash check."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    planes = similarity.make_planes(len(qvec), n_planes=KNN_LSH_PLANES, seed=KNN_LSH_SEED)
    return similarity.knn_lsh(emb, "embedding", "vec_id", qvec, planes, k=10)


def q_knn_lsh_multiprobe(spark, sf_dir):
    """ANN with hamming<=1 bucket probing — better recall from the same
    single hash table; the oracle applies the identical per-character
    bucket-distance restriction in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    planes = similarity.make_planes(len(qvec), n_planes=KNN_LSH_PLANES, seed=KNN_LSH_SEED)
    return similarity.knn_lsh_multiprobe(
        emb, "embedding", "vec_id", qvec, planes, k=10, probe_hamming=1
    )


KNN_JOIN_QUERIES = 5


def q_knn_join(spark, sf_dir):
    """Exact batch KNN join: top-k corpus neighbors for every query in
    a bounded query set (vec_id < 5), inlined as plan literals — one
    corpus scan, no join operator, rank-limited windows."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < KNN_JOIN_QUERIES)
        .select("vec_id", "embedding").collect()
    )
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in qrows]
    return similarity.knn_join(emb, "embedding", "vec_id", queries, k=5)


ANN_RECALL_QUERIES = 8
ANN_RECALL_K = 10


def q_ann_recall_report(spark, sf_dir):
    """Recall@k audit of the hyperplane-LSH ANN path against exact
    brute-force ground truth, per query — the measurement that gates a
    recall<1 index before it replaces the exact path (you never point a
    100 TB corpus at an ANN index without knowing what it misses).

    GT = exact batch KNN join (one corpus scan, plan-literal query
    batch, rank-limited windows); ANN = the same scoring kernel
    restricted to each query's LSH bucket (similarity.knn_join_lsh —
    the bucket filter kills ~(1 - 2^-n_planes) of the exploded rows
    map-side); recall = |ANN ∩ GT| / |GT| per query.  Everything after
    the two scans is O(Q·k) rows, so the report's cost is two corpus
    scans regardless of corpus size.  The oracle rebuilds BOTH sides
    from the shared plane literals → full value-hash check, so the
    recall numbers themselves are cross-engine-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < ANN_RECALL_QUERIES)
        .select("vec_id", "embedding").collect()
    )
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in qrows]
    planes = similarity.make_planes(
        len(queries[0][1]), n_planes=KNN_LSH_PLANES, seed=KNN_LSH_SEED
    )
    gt = similarity.knn_join(emb, "embedding", "vec_id", queries, k=ANN_RECALL_K)
    ann = similarity.knn_join_lsh(
        emb, "embedding", "vec_id", queries, planes, k=ANN_RECALL_K
    )
    gtc = gt.groupBy("query_id").agg(F.count("*").cast("long").alias("gt_k"))
    hitc = (
        gt.select("query_id", "vec_id")
        .join(ann.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    hits = F.coalesce(F.col("hits"), F.lit(0)).cast("long")
    return gtc.join(hitc, "query_id", "left").select(
        F.col("query_id").cast("long").alias("query_id"),
        "gt_k",
        hits.alias("hits"),
        F.round(hits / F.col("gt_k"), 6).alias("recall"),
    )


def q_embedding_centroids_by_label(spark, sf_dir):
    """Per-label mean embedding (class prototypes — the op behind
    nearest-class-mean classifiers and per-source drift monitoring),
    emitted as (label, pos, avg_val) rows: posexplode → partial agg →
    one shuffle of O(labels x dim) rows, never a collect of vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    return ex.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        (F.round(F.avg(F.col("val").cast("double")), 6) + F.lit(0.0)).alias("avg_val"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
    )


DECONTAM_NGRAM = 8
DECONTAM_MOD = 97


def q_benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination — the eval-leak guard every pretraining
    corpus needs: flag documents sharing any word-8-gram with a
    benchmark set (stand-in: every 97th doc).  The benchmark n-gram set
    is a dimension table (bounded by benchmark size) → broadcast into
    the probe join; the corpus side explodes per-doc DISTINCT shingles
    and partial-aggregates hit counts before the one shuffle."""
    docs = _t(spark, sf_dir, "documents")
    ng = F.array_distinct(dedup.shingles(F.col("text"), DECONTAM_NGRAM))
    bench = (
        docs.filter(F.col("doc_id") % DECONTAM_MOD == 0)
        .select(F.explode(ng).alias("ng"))
        .distinct()
    )
    probe = docs.select("doc_id", F.explode(ng).alias("ng"))
    hits = probe.join(F.broadcast(bench), "ng").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


SEGMENT_WORDS = dedup.SEGMENT_WORDS
INCR_NEW_MOD = 5  # doc_id % 5 == 0 -> today's batch; rest -> accepted corpus


def q_segment_dedup_docs(spark, sf_dir):
    """C4/CCNet-style corpus-wide segment dedup: split every doc into
    deterministic 10-word segments, keep each distinct segment only at
    its first occurrence (min (doc_id, seg_idx)), reassemble docs from
    surviving segments.  Two map-side-combined shuffles, no join/window
    on the occurrence stream — the kept occurrence IS the min-struct
    aggregate, so a boilerplate segment repeated 10^9 times collapses in
    the partial agg (see dedup.segment_dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.segment_dedup(docs, "text", "doc_id", SEGMENT_WORDS)


BOILER_MIN_DF = 3  # sf0.01 has 15 segments at df>=3 (max 6) — removal fires


def q_boilerplate_scrub_docs(spark, sf_dir):
    """RefinedWeb-style boilerplate scrub: remove EVERY occurrence of
    any segment repeated >= BOILER_MIN_DF times corpus-wide (the
    nav-bar / cookie-banner verb; segment_dedup's keep-first sibling
    keeps one copy, the boilerplate verb keeps none).  The hot set is a
    bounded dimension (<= occurrences/min_df by pigeonhole) broadcast
    as ONE array row; the corpus is never shuffled — codegen'd HOF
    filter + array_join narrow map (see dedup.boilerplate_segment_scrub).

    Fuzz-safe: segments are exact strings and their df exact counts, so
    the hot set is identical in both engines."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.boilerplate_segment_scrub(
        docs, "text", "doc_id", SEGMENT_WORDS, BOILER_MIN_DF
    )


def q_incremental_near_dup(spark, sf_dir):
    """Daily-increment near-dup: docs with doc_id % 5 != 0 model the
    already-accepted corpus (its persisted LSH band index — see
    dedup.write_band_index for the partitioned artifact), docs with
    doc_id % 5 == 0 are the new batch.  A new doc is flagged when its
    bands collide with the index (hit_index) and/or with a smaller-id
    doc in its own batch (hit_batch).  At 10^12 docs the corpus is never
    re-signed: the increment joins the parquet index on
    (band_idx, band_key), shuffle bounded by the batch."""
    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(docs, "text", "doc_id", NUM_HASHES)
    bands = dedup.lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    new_b = bands.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    idx_b = bands.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    return dedup.incremental_near_dup_flags(new_b, idx_b, "doc_id")


def q_incremental_curation(spark, sf_dir):
    """Day-2 curation composition — the daily-increment pipeline as ONE
    plan: gate today's batch (doc_id % 5 == 0) on the heuristic quality
    score, sign ONLY the gated survivors, probe the accepted corpus's
    band index (doc_id % 5 != 0 — the write_band_index artifact at
    scale) plus the batch itself, and emit the de-duplicated accepted
    docs with their scores.  Composes quality_gate_docs →
    incremental_near_dup → anti-join; every stage shuffles on batch-
    bounded keys, the corpus side is only ever read as its band index."""
    docs = _t(spark, sf_dir, "documents")
    feats = R.feature_columns(F.col("text"), CFG)
    feats["ppl_norm"] = F.lit(0.0)
    q = R.quality_score_col(feats, CFG)
    fail_any = None
    for _, cond in R.hard_rule_reasons(feats, CFG):
        fail_any = cond if fail_any is None else (fail_any | cond)
    keep = ~fail_any & (q >= CFG.quality_threshold)
    new_kept = docs.filter(F.col("doc_id") % INCR_NEW_MOD == 0).filter(keep).select(
        "doc_id", "text", F.round(q, 6).alias("quality_score")
    )
    idx_docs = docs.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    b_new = dedup.lsh_bands(
        dedup.minhash_signature(new_kept, "text", "doc_id", NUM_HASHES),
        "doc_id", NUM_HASHES, BAND_SIZE,
    )
    b_idx = dedup.lsh_bands(
        dedup.minhash_signature(idx_docs, "text", "doc_id", NUM_HASHES),
        "doc_id", NUM_HASHES, BAND_SIZE,
    )
    flags = dedup.incremental_near_dup_flags(b_new, b_idx, "doc_id")
    return new_kept.join(flags, "doc_id", "left_anti").select(
        "doc_id", "quality_score"
    )


MIX_TARGET_UNIFORM = True


def q_source_mixing_rates(spark, sf_dir):
    """Domain-mixing rate table: per-source keep probability that
    rebalances the corpus toward a uniform source mix —
    rate_s = min(1, (total/n_sources) / count_s).  Post-aggregation
    cardinality is #sources, so the unpartitioned window runs over a
    dimension-sized frame, not the corpus."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # unpartitioned on purpose: one row per source (dimension-sized)
    w = Window.partitionBy()
    total = F.sum("n_docs").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    rate = F.least(
        F.lit(1.0),
        (total.cast("double") / n_sources.cast("double"))
        / F.col("n_docs").cast("double"),
    )
    return counts.select("source", "n_docs", F.round(rate, 6).alias("rate"))


def q_knn_ivf(spark, sf_dir):
    """ANN via IVF coarse quantizer.  Centroids come from a
    deterministic hash-ordered sample + shared numpy k-means, so the
    oracle generator re-derives bit-identical centroids from the same
    parquet and the check is a full hash match."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    cents = similarity.train_ivf_centroids(
        emb, "embedding", "vec_id", n_clusters=IVF_CLUSTERS, seed=IVF_SEED
    )
    return similarity.knn_ivf(emb, "embedding", "vec_id", qvec, cents, n_probe=IVF_PROBE, k=10)


def _last_reported_round() -> dict[str, int]:
    """query name -> the last ``CORRECTNESS_r<N>.json`` round that
    reported it (names no report mentions are absent)."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_<name>`` function under key ``<name>``.

    Order = least recently driver-verified first: never-reported names
    lead, then by the last CORRECTNESS round that reported them; ties
    keep definition order.  The driver reports only the first ~50
    entries per round, so each round's report rotates the next-oldest
    block into its window without any hand-kept list."""
    defined = [
        (name[len("q_"):], fn)
        for name, fn in globals().items()
        if name.startswith("q_") and inspect.isfunction(fn)
    ]
    last = _last_reported_round()
    defined.sort(key=lambda kv: last.get(kv[0], 0))
    return dict(defined)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# The driver evaluates oracles at sf0.01; data-derived oracle artifacts
# (embedding dim, IVF centroids, probe order) are re-derived from the same
# parquet the queries read, via engine-free numpy twins.
ORACLE_SF_DIR = os.environ.get("QF_SF_DIR", "/root/testdata/sf0.01")


def _sql_list(words) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def _sql_vec(v) -> str:
    """DOUBLE[] literal; repr() round-trips Python floats exactly, so the
    DuckDB literal equals the Spark F.lit(float(x)) double bit-for-bit."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _embedding_dim() -> int:
    import pyarrow.parquet as pq

    path = f"{ORACLE_SF_DIR}/embeddings.parquet"
    try:
        batch = next(pq.ParquetFile(path).iter_batches(batch_size=1, columns=["embedding"]))
        return len(batch.column(0)[0].as_py())
    except Exception:
        return 64  # the generated testdata's frozen dim


def _query_vec() -> list[float]:
    """The vec_id = 0 embedding (the frozen query vector) from the oracle
    scale's parquet — float32 → Python float is exact, matching what the
    Spark query collects via head()."""
    import pyarrow.parquet as pq
    import pyarrow.compute as pc

    t = pq.read_table(
        f"{ORACLE_SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    idx = pc.index(t.column("vec_id"), 0).as_py()
    return [float(x) for x in t.column("embedding")[idx].as_py()]


def _bucket_sql(vexpr: str, planes) -> str:
    """Hyperplane-LSH bucket string for a DOUBLE[] expression — the SQL
    twin of similarity.hyperplane_lsh_buckets, with identical plane
    literals (sign of an O(1)-magnitude dot product: engine summation
    order cannot flip it except on exact-zero boundaries)."""
    return " || ".join(
        f"(CASE WHEN list_dot_product({vexpr}, {_sql_vec(p)}) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )


def _simhash_ctes() -> str:
    """CTE chain ending in sim(doc_id, simhash) — SQL twin of
    dedup.simhash_md5: same md5 hash universe, same two-word hex parse,
    same vote rule, same nibble packing."""
    sums = []
    for i in range(64):
        w, j = ("w0", i) if i < 32 else ("w1", i - 32)
        sums.append(f"sum(CASE WHEN (({w} >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}")
    nibs = []
    for n in range(16):
        v = " + ".join(
            f"(CASE WHEN b{4 * n + k} > 0 THEN {1 << (3 - k)} ELSE 0 END)" for k in range(4)
        )
        nibs.append(f"substr('0123456789abcdef', ({v}) + 1, 1)")
    return f"""toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text, ' '), '[ ]+'))) AS tok
  FROM documents
),
words AS (
  SELECT doc_id,
    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS w0,
    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS w1
  FROM toks
),
votes AS (SELECT doc_id, {', '.join(sums)} FROM words GROUP BY doc_id),
sim AS (SELECT doc_id, {' || '.join(nibs)} AS simhash FROM votes)"""


def _simhash_sql() -> str:
    return f"WITH {_simhash_ctes()}\nSELECT doc_id, simhash FROM sim"


def _simhash_near_dup_sql() -> str:
    """SQL twin of dedup.simhash_near_dup: same 4x16-bit banding, same
    popcount-of-xor verify (bit_count/xor are native in both engines)."""
    ham = "bit_count(xor(a.w0, c.w0)) + bit_count(xor(a.w1, c.w1))"
    return f"""
WITH {_simhash_ctes()},
simw AS (
  SELECT doc_id, simhash,
    ('0x' || substr(simhash, 1, 8))::BIGINT AS w0,
    ('0x' || substr(simhash, 9, 8))::BIGINT AS w1
  FROM sim
),
bands AS (
  SELECT doc_id, w0, w1, b.band_idx, substr(simhash, b.band_idx * 4 + 1, 4) AS band_key
  FROM simw, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
)
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
  CAST({ham} AS BIGINT) AS hamming
FROM bands a JOIN bands c ON a.band_idx = c.band_idx AND a.band_key = c.band_key
WHERE a.doc_id < c.doc_id AND {ham} <= {SIMHASH_MAX_HAMMING}"""


def _components_ctes(src: str = "documents") -> str:
    """CTE chain (no WITH prefix) ending in comp(doc_id, comp):
    recursive-closure connected components over the LSH candidate pair
    edges — comp(x) = min id reachable.  The Spark twin uses star edges
    (linear per bucket) — identical components, since a bucket's
    pair-clique and its star are both connected through the bucket min."""
    return f"""{_minhash_sig_cte(src).lstrip()},
bands AS ({_bands_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
edges AS (SELECT doc_a AS x, doc_b AS y FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (SELECT x AS doc_id, least(x, min(y)) AS comp FROM reach GROUP BY x)"""


def _components_sql() -> str:
    return "\nWITH RECURSIVE " + _components_ctes() + "\n"


def _packing_ctes(
    src: str = "documents",
    tokens_sql: str | None = None,
    capacity: int | None = None,
) -> str:
    """CTE chain (no WITH prefix) ending in pack(shard, rn, doc_id,
    n_tokens, bin_idx, fill) — the greedy packing recurrence.
    ``tokens_sql``/``capacity`` default to the whitespace-token contract
    (packed_docs); packed_docs_bpe passes the BPE sentinel arithmetic
    over the rdk apply chain and its own capacity."""
    tokens_sql = tokens_sql or f"len({_SIMPLE_TOKS})"
    cap = capacity if capacity is not None else PACK_CAPACITY
    return f"""toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {PACK_SHARDS} AS INTEGER) AS shard,
    CAST({tokens_sql} AS BIGINT) AS n_tokens
  FROM {src}
),
ordered AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM toks
),
pack(shard, rn, doc_id, n_tokens, bin_idx, fill) AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN p.fill + o.n_tokens <= {cap} THEN p.bin_idx ELSE p.bin_idx + 1 END,
    CASE WHEN p.fill + o.n_tokens <= {cap} THEN p.fill + o.n_tokens ELSE o.n_tokens END
  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
)"""


def _strata_threshold_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {int(r * (1 << 32))}"
        for s, r in sorted(STRATA_RATES.items())
    )
    return f"CASE {cases} ELSE {int(STRATA_DEFAULT * (1 << 32))} END"


def _url_canon_ctes(path_mod: int = 5, id_mod: int = 3) -> str:
    """CTE chain (no WITH prefix) ending in canon(doc_id, canonical_url)
    — the synthesized messy crawl URL + SURT canonicalization twin of
    _synth_url_col / io.pages.canonical_url_col."""
    from quality_filter.io.pages import TRACKING_PARAM_PATTERN

    return f"""u AS (
  SELECT doc_id,
    'https://' || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
      || source || '.example.com/a/' || CAST(doc_id % {path_mod} AS VARCHAR)
      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      || '?utm_source=feed&id=' || CAST(doc_id % {id_mod} AS VARCHAR)
      || (CASE WHEN doc_id % 7 = 0 THEN '&ref=promo' ELSE '' END)
      || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
),
uparts AS (
  SELECT doc_id,
    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\\.', '') AS host,
    regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u
),
canon AS (
  SELECT doc_id,
    CASE WHEN host IS NULL OR host = '' THEN url
         ELSE 'https://' || host || path || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END)
    END AS canonical_url
  FROM (
    SELECT p.doc_id, p.host, p.path, u.url,
      array_to_string(list_sort(list_filter(string_split(p.q, '&'),
        x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_PATTERN}'))), '&') AS qs
    FROM uparts p JOIN u USING (doc_id)
  )
)"""


def _containment_ctes(src: str) -> str:
    """CTE chain (no WITH prefix) ending in contained(contained_id):
    the df-capped distinctive-segment containment drop set over ``src``
    (which must provide doc_id, text) — same algebra and orientation as
    the registered containment_pairs oracle."""
    return f"""ctoks AS (
  SELECT doc_id, regexp_split_to_array(trim(text, ' '), '[ ]+') AS t FROM {src}
),
cocc0 AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(0, CAST(ceil(len(t) / {CONTAIN_K}.0) AS BIGINT) - 1),
    i -> array_to_string(t[i*{CONTAIN_K}+1 : i*{CONTAIN_K}+{CONTAIN_K}], ' '))) AS seg
  FROM ctoks
),
cocc AS (SELECT DISTINCT doc_id, seg FROM cocc0),
cdfq AS (SELECT seg FROM cocc GROUP BY seg HAVING count(*) <= {CONTAIN_MAX_DF}),
crare AS (SELECT o.doc_id, o.seg FROM cocc o JOIN cdfq USING (seg)),
csizes AS (SELECT doc_id, count(*) AS nd FROM crare GROUP BY doc_id),
cshared AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS n_shared
  FROM crare a JOIN crare b ON a.seg = b.seg AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
cpairs AS (
  SELECT contained_id, container_id, n_shared FROM cshared
  JOIN csizes sa ON sa.doc_id = contained_id
  JOIN csizes sb ON sb.doc_id = container_id
  WHERE n_shared = sa.nd
    AND (sa.nd < sb.nd OR (sa.nd = sb.nd AND contained_id > container_id))
),
contained AS (
  SELECT DISTINCT contained_id FROM cpairs
)"""


def _corpus_curation_v2_sql(qz: str, hard_fail: str, pre_ctes: str = "",
                            sel_join: str = "") -> str:
    """Composed oracle for the v2 curation flow: URL dedup → gate →
    exact reps → near-dup survivors → containment drop → stratified
    sample → packing — each stage reusing its own oracle formulation.
    ``pre_ctes``/``sel_join`` let the v3 variant prepend a selection
    relation (dsel) and restrict the URL-dedup universe to it; every
    later stage is per-doc deterministic, so restricting the FIRST
    stage restricts the whole chain (the Spark side joins the selection
    before _v2_reps for the same reason)."""
    return f"""
WITH RECURSIVE {pre_ctes}{_url_canon_ctes(path_mod=V2_URL_PATH_MOD, id_mod=V2_URL_ID_MOD).lstrip()},
urep AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY canonical_url) AS rep
    FROM canon{sel_join}
  ) WHERE doc_id = rep
),
{_features_cte().lstrip()},
gated_ids AS (
  SELECT r.doc_id FROM ratios r JOIN urep USING (doc_id)
  WHERE (NOT {hard_fail}) AND 1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold}
),
gated AS (
  SELECT d.doc_id, d.text, d.lang FROM documents d JOIN gated_ids USING (doc_id)
),
fp AS (
  SELECT doc_id, text, lang, md5(lower(trim(text, ' '))) AS fpv FROM gated
),
reps AS MATERIALIZED (
  SELECT doc_id, text, lang FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fpv) AS rep FROM fp
  ) WHERE doc_id = rep
),
{_components_ctes('reps')},
survivors AS MATERIALIZED (
  SELECT * FROM reps
  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> comp)
),
{_containment_ctes('survivors')},
kept2 AS MATERIALIZED (
  SELECT * FROM survivors
  WHERE doc_id NOT IN (SELECT contained_id FROM contained)
),
sampled AS (
  SELECT doc_id, text, lang FROM kept2
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < {_strata_threshold_sql()}
),
{_packing_ctes('sampled')}
SELECT doc_id, shard, bin_idx, n_tokens FROM pack"""


def _corpus_curation_sql(qz: str, hard_fail: str) -> str:
    """Composed oracle for the end-to-end curation flow — the same five
    stages as q_corpus_curation, each reusing the stage's own oracle
    formulation, chained as CTEs."""
    return f"""
WITH RECURSIVE {_features_cte().lstrip()},
gated_ids AS (
  SELECT doc_id FROM ratios
  WHERE (NOT {hard_fail}) AND 1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold}
),
gated AS (
  SELECT d.doc_id, d.text, d.lang FROM documents d JOIN gated_ids USING (doc_id)
),
fp AS (
  SELECT doc_id, text, lang, md5(lower(trim(text, ' '))) AS fpv FROM gated
),
reps AS (
  SELECT doc_id, text, lang FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fpv) AS rep FROM fp
  ) WHERE doc_id = rep
),
{_components_ctes('reps')},
survivors AS (
  SELECT * FROM reps
  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> comp)
),
sampled AS (
  SELECT doc_id, text, lang FROM survivors
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < {_strata_threshold_sql()}
),
{_packing_ctes('sampled')}
SELECT doc_id, shard, bin_idx, n_tokens FROM pack"""


_COS_SQL = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _knn_lsh_sql(probe_hamming: int = 0) -> str:
    from quality_filter.operators import similarity as S

    planes = S.make_planes(_embedding_dim(), n_planes=KNN_LSH_PLANES, seed=KNN_LSH_SEED)
    cos = _COS_SQL.format(a="cb.v", b="q.qe")
    if probe_hamming == 0:
        cond = "cb.bucket = qb.bucket"
    else:
        dist = " + ".join(
            f"(CASE WHEN substr(cb.bucket, {i + 1}, 1) <> substr(qb.bucket, {i + 1}, 1) THEN 1 ELSE 0 END)"
            for i in range(len(planes))
        )
        cond = f"({dist}) <= {probe_hamming}"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
qb AS (SELECT {_bucket_sql('qe', planes)} AS bucket FROM q),
cb AS (SELECT vec_id, v, {_bucket_sql('v', planes)} AS bucket FROM e)
SELECT cb.vec_id, round({cos}, 6) AS cos_sim
FROM cb, q, qb WHERE {cond}
ORDER BY cos_sim DESC, cb.vec_id ASC LIMIT 10"""


def _ann_recall_sql() -> str:
    from quality_filter.operators import similarity as S

    planes = S.make_planes(_embedding_dim(), n_planes=KNN_LSH_PLANES, seed=KNN_LSH_SEED)
    cos = _COS_SQL.format(a="e.v", b="q.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, {_bucket_sql('v', planes)} AS qbkt
      FROM e WHERE vec_id < {ANN_RECALL_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id, round({cos}, 6) AS cos_sim,
         {_bucket_sql('e.v', planes)} AS cbkt, q.qbkt
  FROM e, q
),
gt AS (
  SELECT query_id, vec_id FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) <= {ANN_RECALL_K}
),
ann AS (
  SELECT query_id, vec_id FROM scored WHERE cbkt = qbkt
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) <= {ANN_RECALL_K}
),
gtc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS gt_k FROM gt GROUP BY 1),
hitc AS (
  SELECT g.query_id, CAST(count(*) AS BIGINT) AS hits
  FROM gt g JOIN ann a USING (query_id, vec_id) GROUP BY 1
)
SELECT CAST(g.query_id AS BIGINT) AS query_id, g.gt_k,
  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
  round(coalesce(h.hits, 0) * 1.0 / g.gt_k, 6) AS recall
FROM gtc g LEFT JOIN hitc h USING (query_id)"""


def _semantic_decon_ctes() -> str:
    """CTE chain (no WITH prefix) ending in h(vec_id, n): bucket-joined
    cos>=tau hit counts of train vectors against the benchmark split."""
    from quality_filter.operators import similarity as S

    planes = S.make_planes(_embedding_dim(), n_planes=3, seed=99)
    cos = _COS_SQL.format(a="t.tv", b="s.bv")
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_bucket_sql('v', planes)} AS bucket FROM e),
bench AS (SELECT v AS bv, bucket FROM b WHERE vec_id % {SEMDECON_MOD} = 0),
train AS (SELECT vec_id, v AS tv, bucket FROM b WHERE vec_id % {SEMDECON_MOD} <> 0),
h AS (
  SELECT t.vec_id, CAST(count(*) AS BIGINT) AS n
  FROM train t JOIN bench s ON t.bucket = s.bucket
  WHERE {cos} >= {SEMDECON_COS}
  GROUP BY 1
)"""


def _semantic_decon_sql() -> str:
    return f"""
WITH {_semantic_decon_ctes()}
SELECT t.vec_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_bench_hits,
  coalesce(h.n, 0) > 0 AS contaminated
FROM (SELECT vec_id FROM e WHERE vec_id % {SEMDECON_MOD} <> 0) t
LEFT JOIN h USING (vec_id)"""


def _embedding_lsh_sql() -> str:
    from quality_filter.operators import similarity as S

    planes = S.make_planes(_embedding_dim(), n_planes=3, seed=99)
    cos = _COS_SQL.format(a="a.v", b="c.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_bucket_sql('v', planes)} AS bucket FROM e)
SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b, round({cos}, 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {cos} >= 0.4"""


def _oracle_centroids(n_clusters: int | None = None) -> list[list[float]]:
    from quality_filter.operators import similarity as S

    return S.train_ivf_centroids_local(
        f"{ORACLE_SF_DIR}/embeddings.parquet", "embedding", "vec_id",
        n_clusters=n_clusters or IVF_CLUSTERS, seed=IVF_SEED,
    )


def _semdedup_oracle_k() -> int:
    """The oracle's twin of q_semantic_dedup's derived k: same
    semdedup_n_clusters over the same parquet's row count (pyarrow
    metadata — no scan)."""
    import pyarrow.parquet as pq

    from quality_filter.operators import similarity as S

    n = pq.read_metadata(f"{ORACLE_SF_DIR}/embeddings.parquet").num_rows
    return S.semdedup_n_clusters(n)


def _ivf_assign_ctes(cents) -> str:
    """CTE chain ending in assign(vec_id, v, cluster) — SQL twin of
    similarity.ivf_assign over centroid literals (first-match argmax,
    same tie order as the Spark when-chain)."""
    sim_cols = ", ".join(
        f"list_dot_product(v, {_sql_vec(c)}) / (sqrt(list_dot_product(v, v)) + 1e-12) AS s{i}"
        for i, c in enumerate(cents)
    )
    best = "greatest(" + ", ".join(f"s{i}" for i in range(len(cents))) + ")"
    cluster = "CASE " + " ".join(
        f"WHEN s{i} = best THEN {i}" for i in range(len(cents))
    ) + " ELSE -1 END"
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (SELECT vec_id, v, {sim_cols} FROM e),
withbest AS (SELECT *, {best} AS best FROM sims),
assign AS (SELECT vec_id, v, {cluster} AS cluster FROM withbest)"""


def _dsir_weights_sql() -> str:
    """Per-doc DSIR weight select over the _dsir_ctes relations —
    shared by the dsir_logweights/sample oracles and the v3 curation
    chain (one SQL definition, three consumers)."""
    return """SELECT doc_id, CAST(sum(lr_micro) AS BIGINT) AS logw_micro,
  CAST(count(*) AS BIGINT) AS n_ngrams
FROM occ JOIN ratios_d USING (bucket) GROUP BY doc_id"""


def _dsir_selection_ctes() -> str:
    """CTE chain (no WITH prefix, trailing comma-ready) ending in
    dsel(doc_id): the DSIR-selected document set — the v3 curation
    flow's stage -1."""
    return f"""{_dsir_ctes()},
dw AS ({_dsir_weights_sql()}),
dsel AS (SELECT doc_id FROM dw WHERE logw_micro >= {DSIR_KEEP_PER_NGRAM} * n_ngrams),
"""


def _ls_fit_sql(points: str, xcol: str, ycol: str, count_alias: str) -> str:
    """SQL twin of textagg._loglog_ls_fit over ``points(xcol, ycol)``:
    floor(ln*scale) micro ints, HUGEINT sums, closed forms via one
    exact-int->double conversion per factor.  Appends the zxy/zs CTEs
    and the final 1-row select; prepend the points CTEs + 'WITH'."""
    S = textagg.ZIPF_SCALE
    return f"""zxy AS (
  SELECT CAST(floor(ln({xcol}) * {S}) AS HUGEINT) AS x,
         CAST(floor(ln({ycol}) * {S}) AS HUGEINT) AS y
  FROM {points}
),
zs AS (
  SELECT CAST(count(*) AS HUGEINT) AS k,
    sum(x) AS sx, sum(y) AS sy,
    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM zxy
)
SELECT CAST(k AS BIGINT) AS {count_alias},
  CASE WHEN (k * sxx - sx * sx) <> 0 THEN
    round(CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE), 6)
  END AS slope,
  CASE WHEN (k * sxx - sx * sx) <> 0 THEN
    round(CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE)
          / {S}, 6)
  END AS intercept,
  CASE WHEN (k * sxx - sx * sx) <> 0 AND (k * syy - sy * sy) <> 0 THEN
    round((CAST(k * sxy - sx * sy AS DOUBLE) * CAST(k * sxy - sx * sy AS DOUBLE))
          / (CAST(k * sxx - sx * sx AS DOUBLE) * CAST(k * syy - sy * sy AS DOUBLE)), 6)
  END AS r2
FROM zs"""


def _bpe_train_sql(k: int) -> str:
    """Unrolled K-round BPE training twin of textagg.bpe_train_merges:
    see _bpe_train_ctes for the chain mechanics."""
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, a AS s1, b AS s2,"
        f" a || b AS merged, n FROM bc{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH " + _bpe_train_ctes(k) + f"\nSELECT * FROM ({sel}) ORDER BY step"
    )


def _bpe_apply_ctes(k: int) -> str:
    """Twin of textagg._bpe_apply_cols: re-derives the merge table via
    _bpe_train_ctes, then applies it doc-wide — sentinel-spaced text,
    K chained replaces whose patterns come from scalar subqueries on
    the bc{i} winners (coalesced to the structurally-impossible
    chr(1)chr(1) so an empty winner round is an identity replace,
    exactly the Spark loop's break).  Ends in rdk(doc_id, lang, sp,
    nsp, nch): sp the fully-merged spaced form, nsp the space-symbol
    count, nch the non-space char count; symbol count = sentinel count
    minus nsp."""
    expr = _bpe_chain_expr("sp", k)
    return f"""{_bpe_train_ctes(k)},
rd0 AS (
  SELECT doc_id, lang,
    regexp_replace(replace(lower(trim(text, ' ')), chr(1), ''),
                   '([\\s\\S])', chr(1) || '\\1 ', 'g') AS sp,
    length(replace(lower(trim(text, ' ')), chr(1), ''))
      - length(replace(replace(lower(trim(text, ' ')), chr(1), ''), ' ', '')) AS nsp,
    length(replace(replace(lower(trim(text, ' ')), chr(1), ''), ' ', '')) AS nch
  FROM documents
),
rdk AS (SELECT doc_id, lang, {expr} AS sp, nsp, nch FROM rd0)"""


def _bpe_apply_sql(k: int) -> str:
    return f"""WITH {_bpe_apply_ctes(k)}
SELECT doc_id,
  CAST(length(sp) - length(replace(sp, chr(1), '')) - nsp AS BIGINT)
    AS n_bpe_tokens
FROM rdk"""


def _bpe_compression_sql(k: int) -> str:
    """Twin of textagg.bpe_compression_by_lang over the shared apply
    chain: exact-integer per-lang sums, ONE double division, NULL when
    a language has zero tokens."""
    return f"""WITH {_bpe_apply_ctes(k)},
bagg AS (
  SELECT lang,
    CAST(sum(nch) AS BIGINT) AS n_chars,
    CAST(sum(length(sp) - length(replace(sp, chr(1), '')) - nsp) AS BIGINT)
      AS n_bpe_tokens
  FROM rdk GROUP BY lang
)
SELECT lang, n_chars, n_bpe_tokens,
  CASE WHEN n_bpe_tokens > 0
       THEN round(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) END
    AS chars_per_token
FROM bagg"""


def _bpe_chain_expr(base: str, k: int) -> str:
    """The coalesced K-round literal-replace chain over ``base`` —
    patterns from the bc{i} winner scalar subqueries, coalesced to the
    structurally-impossible chr(1)chr(1) so a round the training loop
    never reached is an identity replace on both engines (shared by the
    apply chain and the vocab segmentation)."""
    expr = base
    for i in range(1, k + 1):
        pat = (
            f"coalesce(chr(1) || (SELECT a FROM bc{i}) || ' ' ||"
            f" chr(1) || (SELECT b FROM bc{i}) || ' ', chr(1) || chr(1))"
        )
        rep = (
            f"coalesce(chr(1) || (SELECT a || b FROM bc{i}) || ' ',"
            f" chr(1) || chr(1))"
        )
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


def _bpe_curve_sql(k: int) -> str:
    """Twin of textagg.bpe_merge_curve: K+1 prefix lengths of the
    coalesced chain (round 0 = the bare spaced form), each an exact
    integer sentinel-count sum over the word fact; unreached rounds are
    identity replaces so both engines emit exactly K+1 rows."""
    spaced0 = "regexp_replace(tok, '([\\s\\S])', chr(1) || '\\1 ', 'g')"
    selects = []
    for i in range(k + 1):
        expr = _bpe_chain_expr(spaced0, i)
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS step,"
            f" CAST(coalesce(sum(n * (length(sp) - length(replace(sp, chr(1), '')))), 0)"
            f" AS BIGINT) AS n_tokens"
            f" FROM (SELECT {expr} AS sp, n FROM bwf)"
        )
    return (
        "WITH " + _bpe_train_ctes(k)
        + "\nSELECT * FROM (" + "\nUNION ALL ".join(selects) + ") ORDER BY step"
    )


def _bpe_vocab_sql(k: int, top: int) -> str:
    """Twin of textagg.bpe_vocab: word fact segmented by the coalesced
    chain, symbol counts weighted by word frequency, top-k."""
    chain = _bpe_chain_expr(
        "regexp_replace(tok, '([\\s\\S])', chr(1) || '\\1 ', 'g')", k
    )
    return f"""WITH {_bpe_train_ctes(k)},
bvz AS (
  SELECT {chain} AS sp, n FROM bwf
),
bsy AS (
  SELECT unnest(regexp_split_to_array(rtrim(sp, ' '), ' ')) AS s, n FROM bvz
)
SELECT substr(s, 2) AS symbol, CAST(sum(n) AS BIGINT) AS n
FROM bsy GROUP BY 1 ORDER BY n DESC, symbol ASC LIMIT {top}"""


def _bpe_train_ctes(k: int) -> str:
    """Unrolled K-round BPE training CTE chain (bwf/br{i}/bp{i}/bc{i}):
    word-frequency fact (data chr(1) bytes stripped char-level on both
    engines — the apply path's seam) -> sentinel-prefixed spaced form
    -> per round, a
    weighted pair count, the (n DESC, a, b) argmax as a MATERIALIZED
    1-row CTE, and the merge applied by a literal replace whose pattern
    is built from scalar subqueries on that winner.  r{{i}} is
    MATERIALIZED because it is referenced twice (next round's pair scan
    and next round's replace) — without it the doubly-referenced chain
    inlines 2^K scans (the distilled-gate CTE lesson).  An empty winner
    round yields NULL patterns -> NULL spaced rows -> every later round
    empty, exactly the Spark loop's break."""
    ctes = [
        # data sentinels stripped char-level, emptied tokens dropped —
        # the ONE seam shared with the apply path (rd0) and vocabulary
        "bwf AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS n"
        " FROM (SELECT replace(rawtok, chr(1), '') AS tok"
        " FROM (SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')),"
        " '[ ]+')) AS rawtok FROM documents))"
        " WHERE length(tok) > 0 GROUP BY tok)",
        "br0 AS MATERIALIZED (SELECT regexp_replace(tok, '([\\s\\S])',"
        " chr(1) || '\\1 ', 'g') AS sp, n FROM bwf)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"bp{i} AS (SELECT unnest(s[1:len(s) - 1]) AS s1,"
            f" unnest(s[2:len(s)]) AS s2, n"
            f" FROM (SELECT regexp_split_to_array(rtrim(sp, ' '), ' ') AS s, n"
            f" FROM br{i - 1}) WHERE len(s) >= 2)"
        )
        ctes.append(
            f"bc{i} AS MATERIALIZED (SELECT substr(s1, 2) AS a,"
            f" substr(s2, 2) AS b, CAST(sum(n) AS BIGINT) AS n"
            f" FROM bp{i} GROUP BY 1, 2 ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"br{i} AS MATERIALIZED (SELECT replace(sp,"
                f" chr(1) || (SELECT a FROM bc{i}) || ' ' ||"
                f" chr(1) || (SELECT b FROM bc{i}) || ' ',"
                f" chr(1) || (SELECT a || b FROM bc{i}) || ' ') AS sp, n"
                f" FROM br{i - 1})"
            )
    return ",\n".join(ctes)


def _dsir_ctes() -> str:
    """CTE chain ending in occ(doc_id, bucket) + ratios_d(bucket,
    n_target, n_raw, lr_micro) — SQL twin of operators/dsir.py: same
    lowered tokenizer, same md5 bucket universe, same Laplace-smoothed
    integerized log ratio (count products as exact doubles, one ln,
    floor(.*1e9) to BIGINT)."""
    from quality_filter.operators.dsir import DSIR_BUCKETS, LR_SCALE

    B = DSIR_BUCKETS
    toks = "regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')"
    ngrams = (
        f"list_concat({toks}, list_transform("
        f"generate_series(1, len({toks}) - 1), i -> {toks}[i] || ' ' || {toks}[i+1]))"
    )
    return f"""ng AS (SELECT doc_id, source, unnest({ngrams}) AS g FROM documents),
occ AS (
  SELECT doc_id, source,
    CAST(('0x' || substr(md5(g), 1, 8))::BIGINT % {B} AS INTEGER) AS bucket
  FROM ng
),
tc AS (SELECT bucket, count(*) AS n_t FROM occ WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY 1),
rc AS (SELECT bucket, count(*) AS n_r FROM occ GROUP BY 1),
dom AS (SELECT CAST(r.range AS INTEGER) AS bucket FROM range(0, {B}) r),
j AS (
  SELECT dom.bucket, coalesce(n_t, 0) AS n_target, coalesce(n_r, 0) AS n_raw
  FROM dom LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
),
tot AS (SELECT sum(n_target) AS t_tot, sum(n_raw) AS r_tot FROM j),
ratios_d AS (
  SELECT bucket, CAST(n_target AS BIGINT) AS n_target, CAST(n_raw AS BIGINT) AS n_raw,
    CAST(floor(ln(
      (CAST(n_target + 1 AS DOUBLE) * CAST(r_tot + {B} AS DOUBLE))
      / (CAST(n_raw + 1 AS DOUBLE) * CAST(t_tot + {B} AS DOUBLE))
    ) * {float(LR_SCALE)}) AS BIGINT) AS lr_micro
  FROM j, tot
)"""


def _embedding_clusters_sql() -> str:
    return f"""
WITH {_ivf_assign_ctes(_oracle_centroids())}
SELECT vec_id, cluster FROM assign"""


def _kmeans_step_sql() -> str:
    """SQL twin of kmeans_step_stats: same assignment CTE as the IVF
    family, components integerized as floor(x*1e6) (exact both
    engines), sums exact integers."""
    return f"""
WITH {_ivf_assign_ctes(_oracle_centroids())},
ex AS (
  SELECT cluster, unnest(list_transform(generate_series(1, len(v)),
    i -> struct_pack(dim := i - 1,
                     xn := v[i] / (sqrt(list_dot_product(v, v)) + 1e-12)))) AS u
  FROM assign
),
cells AS (
  SELECT cluster, CAST(u.dim AS INTEGER) AS dim,
         CAST(floor(u.xn * 1000000.0) AS BIGINT) AS xm
  FROM ex
)
SELECT cluster, dim, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(xm) AS BIGINT) AS sum_micro
FROM cells GROUP BY cluster, dim"""


def _kmeans_refined_sql() -> str:
    """Refined centroids re-derived by the engine-free twin (same
    init, same exact integer Lloyd rounds → bit-identical to the Spark
    job's), embedded as literals into the shared assignment CTE."""
    from quality_filter.operators import similarity as S

    cents = S.kmeans_refine_local(
        f"{ORACLE_SF_DIR}/embeddings.parquet", "embedding",
        _oracle_centroids(), iters=KMEANS_REFINE_ITERS,
    )
    return f"""
WITH {_ivf_assign_ctes(cents)}
SELECT vec_id, cluster FROM assign"""


def _knn_ivf_sql() -> str:
    """Centroids re-derived by the engine-free twin (same hash-ordered
    sample, same kmeans_fit) → bit-identical to the Spark query's; the
    SQL then replays assignment, probe restriction, and the exact top-k."""
    import numpy as np

    cents = _oracle_centroids()
    q = np.array(_query_vec(), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    order = (np.array(cents, dtype=np.float64) @ q).argsort()[::-1][:IVF_PROBE].tolist()
    cos = _COS_SQL.format(a="a.v", b="q.qe")
    return f"""
WITH {_ivf_assign_ctes(cents)},
q AS (SELECT v AS qe FROM e WHERE vec_id = 0)
SELECT a.vec_id, round({cos}, 6) AS cos_sim
FROM assign a, q WHERE a.cluster IN ({', '.join(str(i) for i in order)})
ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 10"""


# Trim seams (found by scripts/fuzz_oracle.py; invisible on clean text):
#  * Spark F.trim strips ASCII space ONLY -> DuckDB must use trim(s, ' ')
#    (its default trim also strips Unicode spaces: NBSP, U+3000, ...).
#  * The feature tier's strip_col has Python str.strip semantics (29 ws
#    chars) -> DuckDB twin is the same frozen regex, not trim().
from quality_filter.features import PY_STRIP_PATTERN  # noqa: E402

_PY_STRIP = f"regexp_replace(text, '{PY_STRIP_PATTERN}', '', 'g')"
_SPACE_TRIM = "trim(text, ' ')"
_TOKS = f"regexp_split_to_array({_PY_STRIP}, '{TOKEN_SEP_PATTERN}')"
_SIMPLE_TOKS = f"regexp_split_to_array({_SPACE_TRIM}, '[ ]+')"
_EV_RN = "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)"


def _features_cte() -> str:
    """Shared feature CTE mirroring quality_filter.features.text_features."""
    stop = _sql_list(CFG.stopwords)
    return f"""
feat AS (
  SELECT doc_id, text,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CASE WHEN {_PY_STRIP}='' THEN 0.0 ELSE CAST(len({_TOKS}) AS DOUBLE) END AS n_words,
    CAST(len(list_filter({_TOKS}, x -> list_contains({stop}, lower(x)))) AS DOUBLE) AS stop_n,
    CAST(len(regexp_extract_all(text, '{SYMBOL_PATTERN}')) AS DOUBLE) AS sym_n,
    CAST(len(list_distinct(list_transform({_TOKS}, x -> lower(x)))) AS DOUBLE) AS distinct_n,
    CAST(list_sum(list_transform({_TOKS}, x -> length(x))) AS DOUBLE) AS tok_len_sum
  FROM documents
),
ratios AS (
  SELECT doc_id,
    n_chars, n_words,
    coalesce(stop_n / nullif(n_words, 0), 0.0) AS stopword_ratio,
    coalesce(sym_n / nullif(n_chars, 0), 0.0) AS symbol_ratio,
    coalesce(distinct_n / nullif(n_words, 0), 0.0) AS distinct_ratio,
    coalesce(tok_len_sum / nullif(n_words, 0), 0.0) AS mean_word_len,
    least(n_chars, 2000.0) / 2000.0 AS length_norm
  FROM feat
)"""


def _ngram_expr_n(n: int) -> str:
    """Positional word-n-gram list — SQL twin of dedup.shingles(text, n)."""
    join = " || ' ' || ".join(
        f"{_SIMPLE_TOKS}[i]" if j == 0 else f"{_SIMPLE_TOKS}[i+{j}]" for j in range(n)
    )
    return (
        f"CASE WHEN len({_SIMPLE_TOKS}) >= {n} THEN "
        f"list_transform(generate_series(1, len({_SIMPLE_TOKS}) - {n - 1}), "
        f"i -> {join}) ELSE [] END"
    )


def _ngram_expr() -> str:
    return _ngram_expr_n(3)


def _jaccard_pairs_ctes(src: str = "documents") -> str:
    """CTE chain ending in tp(id_a, id_b, jaccard) — SQL twin of
    dedup.exact_jaccard_pairs_global over the df-capped shingle
    universe (sizes AND intersections both from the capped set)."""
    return f"""jsets AS (
  SELECT doc_id, list_distinct({_ngram_expr()}) AS ng FROM {src}
),
jex AS (SELECT doc_id, unnest(ng) AS sh FROM jsets WHERE len(ng) > 0),
jcap AS (SELECT sh FROM jex GROUP BY sh HAVING count(*) <= {SCURVE_MAX_DF}),
jexc AS (SELECT doc_id, sh FROM jex JOIN jcap USING (sh)),
jsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsz FROM jexc GROUP BY doc_id),
jitr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM jexc a JOIN jexc b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
tp AS (
  SELECT id_a, id_b,
    CAST(n_inter AS DOUBLE) / CAST(sa.nsz + sb.nsz - n_inter AS DOUBLE) AS jaccard
  FROM jitr JOIN jsz sa ON sa.doc_id = id_a JOIN jsz sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.nsz + sb.nsz - n_inter AS DOUBLE)
        >= {SCURVE_MIN_JAC}
)"""


def _scurve_analytic_case() -> str:
    """CASE over jac_decile emitting the SAME rounded analytic literals
    as the Spark map — no float seam, the constants are shared."""
    cases = " ".join(
        f"WHEN {d} THEN {p}" for d, p in sorted(_scurve_analytic().items())
    )
    return f"CAST((CASE jac_decile {cases} END) AS DOUBLE)"


def _minhash_sig_cte(src: str = "documents") -> str:
    ng = _ngram_expr()
    mhs = ",\n    ".join(
        f"list_min(list_transform(ng, x -> md5('{i}|' || x))) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    return f"""
shingled AS (SELECT doc_id, {ng} AS ng FROM {src}),
sig AS (
  SELECT doc_id,
    {mhs}
  FROM shingled
)"""


def _bands_sql() -> str:
    n_bands = NUM_HASHES // BAND_SIZE
    parts = []
    for b in range(n_bands):
        key = " || '|' || ".join(
            f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE)
        )
        parts.append(
            f"SELECT doc_id, CAST({b} AS BIGINT) AS band_idx, {key} AS band_key FROM sig"
        )
    return " UNION ALL ".join(parts)


def _qz_sql() -> str:
    """The quality-score logit over ratios-CTE columns (ppl_norm = 0) —
    shared by the gate queries and the distillation label."""
    w = CFG.quality_weights
    return (
        f"({CFG.quality_bias} + {w['stopword_ratio']}*stopword_ratio "
        f"+ ({w['symbol_ratio']})*symbol_ratio + {w['distinct_ratio']}*distinct_ratio "
        f"+ {w['length_norm']}*length_norm + 0.0)"
    )


def _hard_fail_sql() -> str:
    """hard_rule_reasons as one disjunction over ratios-CTE columns."""
    return (
        f"(n_chars < {CFG.min_chars} OR n_chars > {CFG.max_chars} "
        f"OR n_words < {CFG.min_words} OR stopword_ratio < {CFG.min_stopword_ratio} "
        f"OR symbol_ratio > {CFG.max_symbol_ratio} OR distinct_ratio < {CFG.min_distinct_ratio} "
        f"OR NOT (mean_word_len BETWEEN {CFG.min_mean_word_len} AND {CFG.max_mean_word_len}))"
    )


def oracle_sql() -> dict[str, str]:
    import math

    qz = _qz_sql()
    hard_fail = _hard_fail_sql()

    lang_hits = ",\n    ".join(
        f"CAST(len(list_filter({_SIMPLE_TOKS}, x -> list_contains({_sql_list(STOPWORDS[lang])}, lower(x)))) AS BIGINT) AS h_{lang}"
        for lang in LANGS
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in LANGS) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN h_{lang} = best AND best > 0 THEN '{lang}'" for lang in LANGS
    ) + " ELSE 'und' END"

    out = {
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 4) AS sum_qty,
  round(sum(l_extendedprice), 4) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
  round(avg(l_quantity), 6) AS avg_qty,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
        "revenue_by_nation": """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
  round(sum(o_totalprice), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",
        "top_suppliers_by_revenue": """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, s_suppkey, revenue,
  CAST(row_number() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rank
FROM rev JOIN supplier ON l_suppkey = s_suppkey
QUALIFY rank <= 5""",
        "rollup_orders": """
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(sum(o_totalprice), 4) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
        "customers_without_orders": """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
        "salted_user_stats": """
WITH dim AS (
  SELECT user_id, round(sum(value), 4) + 0.0 AS total_value FROM events GROUP BY user_id
)
SELECT e.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_events,
  round(min(d.total_value), 4) + 0.0 AS total_value
FROM events e JOIN dim d USING (user_id)
GROUP BY e.user_id""",
        "decimated_events": f"""
SELECT event_id, user_id FROM (
  SELECT event_id, user_id, {_EV_RN} AS rn FROM events
) WHERE rn = 1 OR (rn + 1) % {CFG.frame_interval} = 0""",
        "tumbling_agg_mean": _tumbling_sql("round(avg(value), 6)"),
        "tumbling_agg_median": _tumbling_sql("round(median(value), 6)"),
        "tumbling_agg_max": _tumbling_sql("round(max(value), 6)"),
        "tumbling_agg_min": _tumbling_sql("round(min(value), 6)"),
        "hourly_event_stats": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) + 0.0 AS sum_value
FROM events GROUP BY 1, 2""",
        "hourly_unique_users": """
SELECT date_trunc('hour', ts) AS window_start,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1""",
        "forward_fill_purchase": """
SELECT event_id, user_id,
  round(coalesce(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6) + 0.0 AS filled
FROM events""",
        "sessionized_counts": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, session_id""",
        "topk_events_per_user": """
SELECT event_id, user_id, value,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rank
FROM events QUALIFY rank <= 3""",
        "text_stats": f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_calc,
  CAST(len({_SIMPLE_TOKS}) AS BIGINT) AS n_words,
  CAST(len(regexp_extract_all(text, '{TS.BPE_TOKEN_PATTERN}')) AS BIGINT) AS n_tokens_bpe,
  round(CAST(list_sum(list_transform({_SIMPLE_TOKS}, x -> length(x))) AS DOUBLE)
        / CAST(len({_SIMPLE_TOKS}) AS DOUBLE), 6) AS mean_word_len
FROM documents""",
        "stopword_ratio_docs": f"""
WITH {_features_cte()}
SELECT doc_id, round(stopword_ratio, 6) AS stopword_ratio FROM ratios""",
        "symbol_density_docs": f"""
WITH {_features_cte()}
SELECT doc_id, round(symbol_ratio, 6) AS symbol_ratio FROM ratios""",
        "quality_gate_docs": f"""
WITH {_features_cte()}
SELECT doc_id,
  round(1.0 / (1.0 + exp(-{qz})), 6) AS quality_score,
  (NOT {hard_fail}) AND (1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold}) AS keep_heuristic
FROM ratios""",
        "source_reputation_flags": f"""
WITH {_features_cte()},
scored AS (
  SELECT r.doc_id AS doc_id, d.source AS source,
    (NOT {hard_fail}) AND (1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold}) AS keep
  FROM ratios r JOIN (SELECT doc_id, source FROM documents) d ON r.doc_id = d.doc_id
),
rep AS (
  SELECT source,
    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac
  FROM scored GROUP BY source
)
SELECT s.doc_id AS doc_id, s.source AS source,
  round(r.frac, 6) AS src_keep_frac,
  (s.keep AND r.frac >= {SRC_KEEP_FRAC_MIN}) AS keep_domain
FROM scored s JOIN rep r USING (source)""",
        "quality_score_histogram": f"""
WITH {_features_cte()},
hist AS (
  SELECT least(CAST(floor((1.0 / (1.0 + exp(-{qz}))) * {N_SCORE_BINS}) AS BIGINT),
               {N_SCORE_BINS - 1}) AS bin,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM ratios GROUP BY 1
)
SELECT bin, round(CAST(bin AS DOUBLE) / {N_SCORE_BINS}, 6) AS bin_lo, n_docs,
  CAST(sum(n_docs) OVER (ORDER BY bin DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge_bin
FROM hist""",
        "doc_chunks": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ ]+') AS t
  FROM documents
),
nc AS (
  SELECT doc_id, t,
    CASE WHEN len(t) <= {CHUNK_TOKENS} THEN 1
         ELSE CAST(ceil((len(t) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS BIGINT) + 1
    END AS n_chunks
  FROM toks
)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
  array_to_string(t[(i - 1) * {CHUNK_STRIDE} + 1 : (i - 1) * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM nc, unnest(generate_series(1, n_chunks)) AS u(i)""",
        "mixture_epoch_upsample": f"""
WITH base AS (
  SELECT doc_id, source,
    CASE {" ".join(f"WHEN source = '{s}' THEN {int(math.floor(e))}" for s, e in sorted(UPSAMPLE_EPOCHS.items()))} ELSE 1 END
    + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT <
        CASE {" ".join(f"WHEN source = '{s}' THEN {int((e - math.floor(e)) * (1 << 32))}" for s, e in sorted(UPSAMPLE_EPOCHS.items()))} ELSE 0 END
      THEN 1 ELSE 0 END AS n_copies
  FROM documents
)
SELECT doc_id, source, CAST(i AS BIGINT) AS copy_idx
FROM base, unnest(generate_series(1, n_copies)) AS u(i)""",
        "quality_contribs_docs": _quality_contribs_sql(),
        "dup_ngram_ratio_docs": f"""
WITH sh AS (SELECT doc_id, {_ngram_expr()} AS ng FROM documents)
SELECT doc_id,
  round(CASE WHEN len(ng) > 0
             THEN 1.0 - CAST(len(list_distinct(ng)) AS DOUBLE) / CAST(len(ng) AS DOUBLE)
             ELSE 0.0 END, 6) AS dup_ngram_ratio
FROM sh""",
        "packed_docs": "WITH RECURSIVE " + _packing_ctes("documents")
        + "\nSELECT doc_id, shard, bin_idx, n_tokens FROM pack",
        # tokenizer-priced packing: the BPE apply chain (rdk) feeds the
        # same recurrence with the sentinel-count token expression
        "packed_docs_bpe": "WITH RECURSIVE "
        + _bpe_apply_ctes(BPE_TRAIN_MERGES)
        + ",\n"
        + _packing_ctes(
            "rdk",
            tokens_sql="length(sp) - length(replace(sp, chr(1), '')) - nsp",
            capacity=BPE_PACK_CAPACITY,
        )
        + "\nSELECT doc_id, shard, bin_idx, n_tokens FROM pack",
        "corpus_curation": _corpus_curation_sql(qz, hard_fail),
        "corpus_curation_v2": _corpus_curation_v2_sql(qz, hard_fail),
        "corpus_curation_v3": _corpus_curation_v2_sql(
            qz, hard_fail,
            pre_ctes=_dsir_selection_ctes(),
            sel_join=" JOIN dsel USING (doc_id)",
        ),
        "docs_hash_sample": f"""
SELECT doc_id FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < {int(SAMPLE_RATE * (1 << 32))}""",
        "docs_stratified_sample": f"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < {_strata_threshold_sql()}""",
        "corpus_top_terms": f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks
GROUP BY term ORDER BY n DESC, term ASC LIMIT {TOP_TERMS_K}""",
        # Zipf fit: same head relation, micro-integerized log-log least
        # squares in HUGEINT (Spark: DECIMAL(38,0)) — bounds structural,
        # see textagg.zipf_fit
        "zipf_fit_audit": """
WITH ztoks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term FROM documents
),
zhead AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n FROM ztoks
  GROUP BY term ORDER BY n DESC, term ASC LIMIT """ + str(textagg.ZIPF_HEAD_K) + """
),
zpts AS (
  SELECT row_number() OVER (ORDER BY n DESC, term ASC) AS r, n FROM zhead
),
""" + _ls_fit_sql("zpts", "r", "n", "n_terms"),
        # Heaps fit: id-space power-of-two checkpoints (+ max_id+1) from
        # the corpus itself; N(c)/V(c) exact counts; same LS core
        "heaps_fit_audit": """
WITH hocc AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term
  FROM documents
),
hfd AS (SELECT term, min(doc_id) AS first_doc FROM hocc GROUP BY term),
hmx AS (SELECT max(doc_id) AS m FROM documents),
hck AS (
  SELECT DISTINCT c FROM (
    SELECT (CAST(1 AS BIGINT) << j) AS c
    FROM generate_series(0, 62) t(j), hmx
    WHERE (CAST(1 AS BIGINT) << j) <= m + 1
    UNION ALL SELECT m + 1 FROM hmx
  )
),
hvc AS (
  SELECT c, CAST(count(*) AS BIGINT) AS v FROM hfd, hck
  WHERE first_doc < c GROUP BY c
),
hnc AS (
  SELECT c, CAST(count(*) AS BIGINT) AS nd FROM documents, hck
  WHERE doc_id < c GROUP BY c
),
hpts AS (
  SELECT nd, v FROM hnc JOIN hvc USING (c) WHERE nd > 0 AND v > 0
),
""" + _ls_fit_sql("hpts", "nd", "v", "n_points"),        "tfidf_top_docs": f"""
WITH occ AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term
  FROM documents
),
tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM occ GROUP BY doc_id, term),
dfq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM occ GROUP BY term
  HAVING count(DISTINCT doc_id) >= {TFIDF_MIN_DF}
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf * ln(nd / d.df) AS tfidf
  FROM tfc t JOIN dfq d USING (term), n
)
SELECT doc_id, term, round(tfidf, 6) AS tfidf,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
FROM scored QUALIFY rank <= {TFIDF_K}""",
        "lang_guess_docs": f"""
WITH hits AS (
  SELECT doc_id,
    {lang_hits}
  FROM documents
),
best_t AS (SELECT *, {best} AS best FROM hits)
SELECT doc_id, {lang_case} AS lang_guess FROM best_t""",
        "doc_fingerprints": """
SELECT doc_id, md5(lower(trim(text, ' '))) AS fp FROM documents""",
        "dedup_savings_report": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text, ' '), '[ ]+') AS t FROM documents
),
occ0 AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(0, CAST(ceil(len(t) / {SEGMENT_WORDS}.0) AS BIGINT) - 1),
    i -> array_to_string(t[i*{SEGMENT_WORDS}+1 : i*{SEGMENT_WORDS}+{SEGMENT_WORDS}], ' '))) AS seg
  FROM toks
),
grp AS (
  SELECT md5(seg) AS seg_fp, CAST(count(*) AS BIGINT) AS n_copies,
    CAST(max(length(seg)) AS BIGINT) AS seg_chars
  FROM occ0 GROUP BY 1
)
SELECT seg_fp, n_copies, seg_chars,
  (n_copies - 1) * seg_chars AS wasted_chars
FROM grp WHERE n_copies > 1
ORDER BY wasted_chars DESC, seg_fp ASC LIMIT {SAVINGS_K}""",
        "dedup_exact_docs": """
SELECT md5(lower(trim(text, ' '))) AS fp, min(doc_id) AS rep_id,
  CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY 1""",
        "minhash_signatures": f"""
WITH {_minhash_sig_cte()}
SELECT * FROM sig""",
        "lsh_band_keys": f"""
WITH {_minhash_sig_cte()}
{_bands_sql()}""",
        "near_dup_pairs": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id""",
        "near_dup_clusters": _components_sql() + "\nSELECT doc_id, comp FROM comp",
        "ngram_jaccard_global": f"""
WITH {_jaccard_pairs_ctes()}
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM tp""",
        "minhash_band_scurve": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
{_jaccard_pairs_ctes()},
binned AS (
  SELECT CAST(least(floor(jaccard * 10), 9) AS BIGINT) AS jac_decile,
    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM tp LEFT JOIN cand c USING (id_a, id_b)
)
SELECT jac_decile, CAST(count(*) AS BIGINT) AS n_true,
  CAST(sum(caught) AS BIGINT) AS n_caught,
  round(CAST(sum(caught) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall_emp,
  {_scurve_analytic_case()} AS recall_analytic
FROM binned GROUP BY jac_decile""",
        "cross_source_dup_matrix": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()}),
xp AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
xs AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM xp JOIN documents da ON da.doc_id = xp.doc_a
          JOIN documents db ON db.doc_id = xp.doc_b
  WHERE da.source IS NOT NULL AND db.source IS NOT NULL
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM xs GROUP BY source_a, source_b""",
        "near_dup_survivors": _components_sql() + """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> comp)""",
        "near_dup_quality_survivors": _components_sql() + """,
mem AS (
  SELECT c.comp, d.doc_id, length(d.text) AS l
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
mx AS (SELECT comp, max(l) AS mxl FROM mem GROUP BY comp),
win AS (
  SELECT m.comp, min(m.doc_id) AS doc_id
  FROM mem m JOIN mx ON mx.comp = m.comp AND m.l = mx.mxl
  GROUP BY m.comp
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp)
UNION ALL
SELECT doc_id FROM win""",
        "segment_dedup_docs": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text, ' '), '[ ]+') AS t FROM documents
),
occ0 AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(0, CAST(ceil(len(t) / {SEGMENT_WORDS}.0) AS BIGINT) - 1),
    i -> struct_pack(seg_idx := i,
                     seg := array_to_string(t[i*{SEGMENT_WORDS}+1 : i*{SEGMENT_WORDS}+{SEGMENT_WORDS}], ' ')))) AS u
  FROM toks
),
occ AS (SELECT doc_id, u.seg_idx AS seg_idx, u.seg AS seg FROM occ0),
kept AS (
  SELECT doc_id, seg_idx, seg FROM occ
  QUALIFY row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1
),
agg AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, CAST(ceil(len(t) / {SEGMENT_WORDS}.0) AS BIGINT) AS n_segs FROM toks)
SELECT b.doc_id AS doc_id, coalesce(a.text_dedup, '') AS text_dedup,
       b.n_segs AS n_segs, coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM base b LEFT JOIN agg a USING (doc_id)""",
        "boilerplate_scrub_docs": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text, ' '), '[ ]+') AS t FROM documents
),
occ0 AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(0, CAST(ceil(len(t) / {SEGMENT_WORDS}.0) AS BIGINT) - 1),
    i -> struct_pack(seg_idx := i,
                     seg := array_to_string(t[i*{SEGMENT_WORDS}+1 : i*{SEGMENT_WORDS}+{SEGMENT_WORDS}], ' ')))) AS u
  FROM toks
),
occ AS (SELECT doc_id, u.seg_idx AS seg_idx, u.seg AS seg FROM occ0),
hot AS (
  SELECT seg FROM (SELECT seg, count(*) AS c FROM occ GROUP BY seg)
  WHERE c >= {BOILER_MIN_DF}
),
kept AS (
  SELECT o.doc_id, o.seg_idx, o.seg
  FROM occ o LEFT JOIN hot h ON h.seg = o.seg
  WHERE h.seg IS NULL
),
agg AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, CAST(ceil(len(t) / {SEGMENT_WORDS}.0) AS BIGINT) AS n_segs FROM toks)
SELECT b.doc_id AS doc_id, coalesce(a.text_clean, '') AS text_clean,
       b.n_segs - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_removed
FROM base b LEFT JOIN agg a USING (doc_id)""",
        "incremental_near_dup": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()}),
newb AS (SELECT * FROM bands WHERE doc_id % {INCR_NEW_MOD} = 0),
idx AS (SELECT * FROM bands WHERE doc_id % {INCR_NEW_MOD} <> 0),
hi AS (SELECT DISTINCT n.doc_id FROM newb n JOIN idx i
       ON n.band_idx = i.band_idx AND n.band_key = i.band_key),
hb AS (SELECT DISTINCT a.doc_id FROM newb a JOIN newb b
       ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND b.doc_id < a.doc_id)
SELECT coalesce(hi.doc_id, hb.doc_id) AS doc_id,
       hi.doc_id IS NOT NULL AS hit_index,
       hb.doc_id IS NOT NULL AS hit_batch
FROM hi FULL JOIN hb ON hi.doc_id = hb.doc_id""",
        "incremental_curation": f"""
WITH {_features_cte().lstrip()},
kept_new AS (
  SELECT doc_id, round(1.0 / (1.0 + exp(-{qz})), 6) AS quality_score
  FROM ratios
  WHERE doc_id % {INCR_NEW_MOD} = 0 AND NOT {hard_fail}
    AND 1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold}
),
{_minhash_sig_cte().lstrip()},
bands AS ({_bands_sql()}),
newb AS (SELECT b.* FROM bands b JOIN kept_new k ON b.doc_id = k.doc_id),
idx AS (SELECT * FROM bands WHERE doc_id % {INCR_NEW_MOD} <> 0),
flagged AS (
  SELECT DISTINCT n.doc_id FROM newb n JOIN idx i
    ON n.band_idx = i.band_idx AND n.band_key = i.band_key
  UNION
  SELECT DISTINCT a.doc_id FROM newb a JOIN newb b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND b.doc_id < a.doc_id
)
SELECT doc_id, quality_score FROM kept_new
WHERE doc_id NOT IN (SELECT doc_id FROM flagged)""",
        "ngram_jaccard_dups": f"""
WITH toks AS (SELECT doc_id, source, {_SIMPLE_TOKS} AS t FROM documents),
ng AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= 3 THEN
      list_distinct(list_transform(generate_series(1, len(t) - 2),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    ELSE [] END AS l
  FROM toks
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.l, b.l))) AS DOUBLE), 6) AS jaccard
FROM ng a JOIN ng b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_distinct(list_concat(a.l, b.l))) > 0
  AND CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.l, b.l))) AS DOUBLE) >= 0.05""",
        "minhash_jaccard_estimate": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
  round(({' + '.join(f'CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END' for i in range(NUM_HASHES))})::DOUBLE / {NUM_HASHES}, 6) AS jaccard_est
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b""",
        "bbit_minhash_estimate": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
  CAST({' + '.join(f'CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END' for i in range(NUM_HASHES))} AS BIGINT) AS k_eq_full,
  round(({' + '.join(f'CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END' for i in range(NUM_HASHES))})::DOUBLE / {NUM_HASHES}, 6) AS jaccard_est_full,
  CAST({' + '.join(f"CASE WHEN (strpos('0123456789abcdef', substr(sa.mh{i}, 32, 1)) - 1) % 4 = (strpos('0123456789abcdef', substr(sb.mh{i}, 32, 1)) - 1) % 4 THEN 1 ELSE 0 END" for i in range(NUM_HASHES))} AS BIGINT) AS k_eq_b2,
  round((({' + '.join(f"CASE WHEN (strpos('0123456789abcdef', substr(sa.mh{i}, 32, 1)) - 1) % 4 = (strpos('0123456789abcdef', substr(sb.mh{i}, 32, 1)) - 1) % 4 THEN 1 ELSE 0 END" for i in range(NUM_HASHES))})::DOUBLE / {NUM_HASHES} - 0.25) / 0.75, 6) AS jaccard_est_b2
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b""",
        "minhash_containment_estimate": f"""
WITH {_minhash_sig_cte()},
bands AS ({_bands_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
nsh AS (SELECT doc_id, CAST(len(list_distinct({_ngram_expr()})) AS DOUBLE) AS n FROM documents),
est AS (
  SELECT p.doc_a, p.doc_b, na.n AS na, nb.n AS nb,
    ({' + '.join(f'CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END' for i in range(NUM_HASHES))})::DOUBLE / {NUM_HASHES} AS j
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
  JOIN nsh na ON na.doc_id = p.doc_a
  JOIN nsh nb ON nb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, round(j, 6) AS jaccard_est,
  round(least(1.0, (j * (na + nb) / (1.0 + j)) / na), 6) AS containment_a_est,
  round(least(1.0, (j * (na + nb) / (1.0 + j)) / nb), 6) AS containment_b_est
FROM est""",
        "purchase_last_view_asof": """
SELECT p.event_id AS event_id, p.user_id AS user_id,
  round(coalesce(v.value, 0.0), 6) + 0.0 AS last_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts < p.ts""",
        "orders_grouping_sets": """
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(sum(o_totalprice), 4) AS sum_price
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
        "event_type_pivot": "SELECT user_id, "
        + ", ".join(
            f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
            for t in EVENT_TYPES
        )
        + " FROM events GROUP BY user_id",
        "event_counts_unpivot": """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY user_id, event_type""",
        "doc_quality_deciles": f"""
WITH {_features_cte()}
SELECT doc_id,
  round(1.0 / (1.0 + exp(-{qz})), 6) AS quality_score,
  CAST(ntile(10) OVER (
    ORDER BY round(1.0 / (1.0 + exp(-{qz})), 6) DESC, doc_id ASC
  ) AS BIGINT) AS decile
FROM ratios""",
        "doc_length_quantiles": """
SELECT lang,
  round(quantile_cont(n_chars, 0.25), 6) AS q25,
  round(quantile_cont(n_chars, 0.50), 6) AS q50,
  round(quantile_cont(n_chars, 0.75), 6) AS q75,
  CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang""",
        "doc_quality_decile_bounds": f"""
WITH {_features_cte()},
scored AS (
  SELECT doc_id, round(1.0 / (1.0 + exp(-{qz})), 6) AS quality_score FROM ratios
),
bounds AS (
  SELECT list_transform(
    quantile_cont(quality_score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
    x -> round(x, 6)) AS bs
  FROM scored
)
SELECT s.doc_id, s.quality_score,
  CAST(10 - len(list_filter(b.bs, x -> s.quality_score >= x)) AS BIGINT) AS decile
FROM scored s, bounds b""",
        # the oracle states the TOTAL order directly (one global
        # row_number); the Spark side must reproduce it from the
        # two-level nibble decomposition — that equality is the check
        "curriculum_order": f"""
WITH {_features_cte()},
scored AS (
  SELECT doc_id, round(1.0 / (1.0 + exp(-{qz})), 6) AS quality_score FROM ratios
),
bounds AS (
  SELECT list_transform(
    quantile_cont(quality_score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
    x -> round(x, 6)) AS bs
  FROM scored
),
dec AS (
  SELECT s.doc_id,
    CAST(10 - len(list_filter(b.bs, x -> s.quality_score >= x)) AS BIGINT) AS decile
  FROM scored s, bounds b
)
SELECT doc_id, decile,
  CAST(row_number() OVER (
    ORDER BY decile ASC, md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
  ) AS BIGINT) AS pos
FROM dec""",
        "doc_length_quantiles_approx": """
SELECT lang,
  quantile_disc(n_chars, 0.25) AS q25,
  quantile_disc(n_chars, 0.50) AS q50,
  quantile_disc(n_chars, 0.75) AS q75,
  CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang""",
        "running_value_sum": """
SELECT event_id, user_id,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS run_sum,
  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
FROM events""",
        "active_positive_custkeys": """
SELECT c_custkey FROM customer WHERE c_acctbal > 0
INTERSECT
SELECT DISTINCT o_custkey AS c_custkey FROM orders""",
        "shipping_priority": """
SELECT o_orderkey, o_orderdate,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        "supplier_part_breadth": """
SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
FROM lineitem GROUP BY l_suppkey""",
        "customer_order_cume": """
SELECT o_custkey, o_orderkey,
  round(sum(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cume_spend
FROM orders""",
        "embedding_near_dup_pairs": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.46""",
        "pii_scrub_docs": _pii_scrub_docs_sql(),
        "pii_pseudonymize_docs": _pii_pseudonymize_sql(),
        "pii_hit_counts_docs": _pii_hit_counts_sql(),
        "toxicity_gate_docs": _toxicity_gate_sql(),
        "simhash_docs": _simhash_sql(),
        "simhash_near_dup": _simhash_near_dup_sql(),
        "hopping_event_stats": """
WITH contrib AS (
  SELECT date_trunc('hour', ts) AS window_start, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events
)
SELECT window_start, CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 4) + 0.0 AS sum_value
FROM contrib GROUP BY 1""",
        "embedding_clusters": _embedding_clusters_sql(),
        "kmeans_step": _kmeans_step_sql(),
        "kmeans_refined_clusters": _kmeans_refined_sql(),
        "knn_lsh": _knn_lsh_sql(),
        "knn_lsh_multiprobe": _knn_lsh_sql(probe_hamming=1),
        "knn_ivf": _knn_ivf_sql(),
        "embedding_near_dup_lsh": _embedding_lsh_sql(),
        "ann_recall_report": _ann_recall_sql(),
        "semantic_decontamination": _semantic_decon_sql(),
        "knn_join": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {KNN_JOIN_QUERIES})
SELECT q.query_id, e.vec_id,
  round({_COS_SQL.format(a='e.v', b='q.qv')}, 6) AS cos_sim,
  CAST(row_number() OVER (
    PARTITION BY q.query_id
    ORDER BY round({_COS_SQL.format(a='e.v', b='q.qv')}, 6) DESC, e.vec_id ASC
  ) AS BIGINT) AS rank
FROM e, q QUALIFY rank <= 5""",
        "knn_bruteforce": """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
  round(list_dot_product(embedding::DOUBLE[], qe)
        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""",
    }
    out["embedding_centroids_by_label"] = f"""
WITH pos AS (SELECT unnest(range({_embedding_dim()})) AS i)
SELECT CAST(e.label AS BIGINT) AS label, CAST(pos.i AS BIGINT) AS pos,
  round(avg(e.embedding[pos.i + 1]::DOUBLE), 6) + 0.0 AS avg_val,
  CAST(count(*) AS BIGINT) AS n_vecs
FROM embeddings e, pos
GROUP BY 1, 2"""
    out["decontamination_report"] = f"""
WITH {_semantic_decon_ctes()},
ng0 AS (
  SELECT doc_id, unnest(list_distinct({_ngram_expr_n(DECONTAM_NGRAM)})) AS ng
  FROM documents
),
bng AS (SELECT DISTINCT ng FROM ng0 WHERE doc_id % {SEMDECON_MOD} = 0),
nh AS (
  SELECT n.doc_id, CAST(count(*) AS BIGINT) AS c
  FROM ng0 n JOIN bng USING (ng)
  WHERE n.doc_id % {SEMDECON_MOD} <> 0
  GROUP BY 1
)
SELECT d.doc_id,
  coalesce(nh.c, 0) > 0 AS ngram_hit,
  coalesce(h.n, 0) > 0 AS semantic_hit,
  (coalesce(nh.c, 0) > 0 OR coalesce(h.n, 0) > 0) AS contaminated
FROM documents d
LEFT JOIN nh ON nh.doc_id = d.doc_id
LEFT JOIN h ON h.vec_id = d.doc_id
WHERE d.doc_id % {SEMDECON_MOD} <> 0"""
    out["benchmark_decontamination"] = f"""
WITH ng AS (
  SELECT doc_id, unnest(list_distinct({_ngram_expr_n(DECONTAM_NGRAM)})) AS ng
  FROM documents
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % {DECONTAM_MOD} = 0),
hits AS (
  SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM ng n JOIN bench USING (ng) GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
  coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)"""
    # tau=0.5 only: sqrt chain is IEEE-correctly-rounded in both engines,
    # so thresholds (and therefore the kept row set) match bit-exactly —
    # see sampling.temperature_mixture_rates
    out["temperature_mixture_rates"] = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
m AS (SELECT CAST(min(n_docs) AS DOUBLE) AS nmin FROM counts)
SELECT lang, n_docs,
  CAST(floor(sqrt(nmin / CAST(n_docs AS DOUBLE)) * 4294967296.0) AS BIGINT)
    AS keep_threshold
FROM counts, m"""
    out["temperature_mixture_sample"] = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
m AS (SELECT CAST(min(n_docs) AS DOUBLE) AS nmin FROM counts),
thr AS (
  SELECT lang,
    CAST(floor(sqrt(nmin / CAST(n_docs AS DOUBLE)) * 4294967296.0) AS BIGINT)
      AS keep_threshold
  FROM counts, m
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr USING (lang)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      < thr.keep_threshold"""
    out["source_mixing_rates"] = """
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_docs) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS ns
  FROM counts
)
SELECT source, n_docs,
  round(least(1.0, (total / ns) / CAST(n_docs AS DOUBLE)), 6) AS rate
FROM counts, tot"""
    _dfeats = {
        "bias": "1.0", "stop": "stopword_ratio", "sym": "symbol_ratio",
        "dist": "distinct_ratio", "len": "length_norm",
    }
    _dints = ",\n    ".join(
        f"CAST(floor({expr} * {DISTILL_SCALE}) AS BIGINT) AS {k}"
        for k, expr in _dfeats.items()
    ) + f""",
    CAST(CASE WHEN (NOT {hard_fail}) AND (1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold})
         THEN {DISTILL_SCALE} ELSE 0 END AS BIGINT) AS _y"""
    _dsums = ",\n  ".join(
        f"CAST(SUM(CAST({a} * {b} AS HUGEINT)) AS BIGINT) AS s_{a}_{b.lstrip('_')}"
        for i, a in enumerate(DISTILL_FEATS)
        for b in DISTILL_FEATS[i:] + ["_y"]
    )
    out["gate_distill_stats"] = f"""
WITH {_features_cte()},
ints AS (
  SELECT doc_id,
    {_dints}
  FROM ratios
)
SELECT
  {_dsums}
FROM ints"""
    _fid = (
        "CAST(sum(('0x' || substr(md5("
        "CAST(doc_id AS VARCHAR) || '|' || text || '|' || lang || '|' || source"
        " || '|' || CAST(n_chars AS VARCHAR)"
        "), 1, 8))::BIGINT) AS BIGINT)"
    )
    _roundtrip_sql = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  {_fid} AS fidelity_sum
FROM documents GROUP BY lang"""
    out["jsonl_roundtrip_stats"] = _roundtrip_sql
    out["csv_roundtrip_stats"] = _roundtrip_sql
    out["orc_roundtrip_stats"] = _roundtrip_sql
    out["warc_roundtrip_stats"] = _roundtrip_sql
    out["wet_roundtrip_stats"] = _roundtrip_sql
    out["host_pagerank"] = f"""
WITH {_pagerank_ctes()}
SELECT node, rank_micro,
  round(rank_micro / {float(graph.PAGERANK_R0)!r}, 6) AS rank
FROM pr_r{PR_ITERS}"""
    out["crawl_budget_allocation"] = f"""
WITH {_pagerank_ctes()},
{_hamilton_ctes(f"SELECT node AS host, rank_micro FROM pr_r{PR_ITERS}", CRAWL_BUDGET, "cb")}
SELECT host, rank_micro, quota FROM cb_q"""
    _rd_dbl = "\n".join(
        f"s{i} AS (SELECT a.node, b.cur AS cur, a.hops + b.hops AS hops\n"
        f"  FROM s{i - 1} a JOIN s{i - 1} b ON b.node = a.cur),"
        for i in range(1, graph.REDIRECT_ROUNDS + 1)
    )
    out["redirect_resolution"] = f"""
WITH rd_hosts AS (SELECT DISTINCT doc_id % {RD_NODES} AS src FROM documents),
rd_edges AS (
  SELECT src,
    (('0x' || substr(md5('rt:' || CAST(src AS VARCHAR)), 1, 8))::BIGINT
     % {RD_NODES}) AS dst
  FROM rd_hosts
  WHERE ('0x' || substr(md5('rd:' || CAST(src AS VARCHAR)), 1, 8))::BIGINT
        % {RD_HAS_MOD} < {RD_GATE}
),
rd_nodes AS (SELECT src AS node FROM rd_edges UNION SELECT dst FROM rd_edges),
s0 AS (
  SELECT n.node, coalesce(e.dst, n.node) AS cur,
    CAST(CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS BIGINT) AS hops
  FROM rd_nodes n LEFT JOIN rd_edges e ON e.src = n.node
),
{_rd_dbl}
fin AS (SELECT * FROM s{graph.REDIRECT_ROUNDS})
SELECT s.node, s.cur AS final, CAST(s.hops AS BIGINT) AS hops,
  (e.src IS NULL) AS resolved
FROM fin s LEFT JOIN rd_edges e ON e.src = s.cur"""
    out["host_hits"] = f"""
WITH {_hits_ctes()}
SELECT a.node, a.auth, h.hub
FROM a{PR_ITERS} a JOIN h{PR_ITERS} h USING (node)"""
    out["outlink_host_edges"] = f"""
WITH {_ol_edges_ctes()}
SELECT src, dst, w FROM ol_edges"""
    out["outlink_pagerank"] = f"""
WITH {_ol_edges_ctes()},
{_pagerank_ctes("SELECT src, dst FROM ol_kept", OL_PR_ITERS)}
SELECT node, rank_micro,
  round(rank_micro / {float(graph.PAGERANK_R0)!r}, 6) AS rank
FROM pr_r{OL_PR_ITERS}"""
    out["anchor_text_terms"] = f"""
WITH {_ol_pages_cte()},
ol_elems AS (
  SELECT host AS src,
    unnest(regexp_extract_all(html_str,
      '(?i)<a\\s(?:[^>]*\\s)?href="[^"]*"[^>]*>[^<]*</a>', 0)) AS elem
  FROM ol_pages
),
ol_anchor_pairs AS (
  SELECT src,
    regexp_extract(elem, '(?:^|\\s)href="([^"]*)"', 1) AS link,
    lower(regexp_extract(elem, '>([^<>]*)</a>$', 1)) AS anchor
  FROM ol_elems
),
ol_terms AS (
  SELECT {_OL_HOST_CASE} AS dst,
    unnest(regexp_split_to_array(anchor, ' +')) AS term
  FROM ol_anchor_pairs
)
SELECT dst, term, CAST(count(*) AS BIGINT) AS n
FROM ol_terms
WHERE dst IS NOT NULL AND dst <> '' AND length(term) >= 2
GROUP BY dst, term
ORDER BY n DESC, dst ASC, term ASC
LIMIT {ANCHOR_TERMS_K}"""
    _ol_tgt_host = (
        "lower(regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:@]+)', 1))"
    )
    # twin of _ol_frontier — ONE definition for both scheduling oracles
    _ol_frontier_ctes = """crawled AS (
  SELECT 'https://' || host || '/p/' || CAST(doc_id AS VARCHAR) AS url FROM ol_pages
),
disc AS (
  SELECT DISTINCT link FROM ol_links WHERE regexp_matches(link, '^(?i)https?://')
),
frontier AS (
  SELECT link FROM disc d WHERE NOT EXISTS (SELECT 1 FROM crawled c WHERE c.url = d.link)
)"""
    out["crawl_fetch_plan"] = f"""
WITH {_ol_edges_ctes()},
{_pagerank_ctes("SELECT src, dst FROM ol_kept", OL_PR_ITERS)},
{_ol_frontier_ctes},
fp_urls AS (
  SELECT link AS url, {_ol_tgt_host} AS host,
    CAST(row_number() OVER (
      PARTITION BY {_ol_tgt_host} ORDER BY link ASC) AS BIGINT) AS fetch_round
  FROM frontier
  WHERE {_ol_tgt_host} IS NOT NULL AND {_ol_tgt_host} <> ''
),
fp_hosts AS (SELECT DISTINCT host FROM fp_urls),
{_hamilton_ctes(f"SELECT h.host, coalesce(r.rank_micro, 0) AS rank_micro FROM fp_hosts h LEFT JOIN pr_r{OL_PR_ITERS} r ON r.node = h.host", FETCH_PLAN_BUDGET, "fp")}
SELECT u.url, u.host, u.fetch_round, q.quota
FROM fp_urls u JOIN fp_q q USING (host)
WHERE u.fetch_round <= q.quota"""
    out["crawl_frontier_topk"] = f"""
WITH {_ol_edges_ctes()},
{_pagerank_ctes("SELECT src, dst FROM ol_kept", OL_PR_ITERS)},
{_ol_frontier_ctes}
SELECT f.link AS url, {_ol_tgt_host} AS host, r.rank_micro
FROM frontier f
JOIN pr_r{OL_PR_ITERS} r ON r.node = {_ol_tgt_host}
ORDER BY r.rank_micro DESC, url ASC
LIMIT {CRAWL_FRONTIER_K}"""
    _rb_d = "CAST(('0x' || substr(md5(host || ':rbd'), 1, 8))::BIGINT % 10 AS VARCHAR)"
    _rb_a = "CAST(('0x' || substr(md5(host || ':rba'), 1, 8))::BIGINT % 10 AS VARCHAR)"
    out["frontier_robots"] = f"""
WITH {_ol_edges_ctes()},
{_ol_frontier_ctes},
rb_urls AS (
  SELECT link AS url, {_ol_tgt_host} AS host,
    regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM frontier
),
rb_hosts AS (SELECT DISTINCT host FROM rb_urls),
rb_rules AS (
  SELECT host, 'disallow' AS rule, '/p/' || {_rb_d} AS prefix FROM rb_hosts
  UNION ALL
  SELECT host, 'allow' AS rule, '/p/' || {_rb_d} || {_rb_a} AS prefix FROM rb_hosts
),
rb_m AS (
  SELECT u.url, r.rule, r.prefix,
    row_number() OVER (
      PARTITION BY u.url
      ORDER BY length(r.prefix) DESC, (r.rule = 'allow') DESC, r.prefix DESC
    ) AS rn
  FROM rb_urls u JOIN rb_rules r ON u.host = r.host AND starts_with(u.path, r.prefix)
)
SELECT u.url, u.host, u.path,
  CASE WHEN m.rule = 'disallow' THEN 'blocked' ELSE 'allowed' END AS verdict,
  m.rule AS matched_rule, m.prefix AS matched_prefix
FROM rb_urls u LEFT JOIN (SELECT * FROM rb_m WHERE rn = 1) m ON u.url = m.url"""
    out["host_degree_stats"] = f"""
WITH {_ol_edges_ctes()},
od AS (
  SELECT src AS host, CAST(count(*) AS BIGINT) AS out_deg,
    CAST(sum(w) AS BIGINT) AS out_w
  FROM ol_edges GROUP BY src
),
idg AS (
  SELECT dst AS host, CAST(count(*) AS BIGINT) AS in_deg,
    CAST(sum(w) AS BIGINT) AS in_w
  FROM ol_edges GROUP BY dst
)
SELECT coalesce(od.host, idg.host) AS host,
  coalesce(out_deg, 0) AS out_deg, coalesce(out_w, 0) AS out_w,
  coalesce(in_deg, 0) AS in_deg, coalesce(in_w, 0) AS in_w
FROM od FULL JOIN idg ON od.host = idg.host"""
    out["exact_substring_dedup"] = f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text, ' '), '[ ]+') AS t FROM documents
),
win0 AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_L} + 1)) AS i, t
  FROM tok WHERE len(t) >= {SPAN_L}
),
win AS (
  SELECT doc_id, i, md5(array_to_string(t[i : i + {SPAN_L} - 1], ' ')) AS wkey
  FROM win0
),
keeper AS (
  SELECT wkey, doc_id AS kd, i AS ki FROM win
  QUALIFY row_number() OVER (PARTITION BY wkey ORDER BY doc_id, i) = 1
),
dups AS (
  SELECT w.doc_id, w.i FROM win w JOIN keeper k USING (wkey)
  WHERE w.doc_id <> k.kd OR w.i <> k.ki
),
covx AS (
  SELECT doc_id, unnest(generate_series(i, i + {SPAN_L} - 1)) AS j FROM dups
),
cov AS (SELECT doc_id, list(DISTINCT j) AS js FROM covx GROUP BY doc_id),
kept AS (
  SELECT t.doc_id, t.t,
    list_filter(
      generate_series(1, greatest(len(t.t), 1)),
      j -> j <= len(t.t) AND (c.js IS NULL OR NOT list_contains(c.js, j))) AS keep
  FROM tok t LEFT JOIN cov c USING (doc_id)
)
SELECT doc_id,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(len(t) - len(keep) AS BIGINT) AS n_removed,
  md5(coalesce(array_to_string(list_transform(keep, j -> t[j]), ' '), '')) AS dedup_fp
FROM kept"""
    out["frontier_politeness_rounds"] = f"""
WITH {_ol_pages_cte()},
ol_links AS (
  SELECT host AS src,
    unnest(regexp_extract_all(html_str, '(?i)<a\\s(?:[^>]*\\s)?href="([^"]*)"', 1)) AS link
  FROM ol_pages
),
{_ol_frontier_ctes}
SELECT link AS url, {_ol_tgt_host} AS host,
  CAST(row_number() OVER (
    PARTITION BY {_ol_tgt_host} ORDER BY link ASC) AS BIGINT) AS fetch_round
FROM frontier"""
    out["host_reputation"] = f"""
WITH {_features_cte()},
{_ol_edges_ctes()},
{_pagerank_ctes("SELECT src, dst FROM ol_kept", OL_PR_ITERS)},
qd AS (
  SELECT doc_id,
    CAST(floor(round(1.0 / (1.0 + exp(-{qz})), 6) * 1e6) AS BIGINT) AS q_micro
  FROM ratios
),
hq AS (
  SELECT p.host, CAST(count(*) AS BIGINT) AS n_pages,
    CAST(sum(q.q_micro) AS BIGINT) AS sum_q_micro
  FROM ol_pages p JOIN qd q USING (doc_id) GROUP BY p.host
)
SELECT h.host, h.n_pages, h.sum_q_micro,
  round(h.sum_q_micro / h.n_pages / 1000000.0, 6) AS mean_quality,
  r.rank_micro
FROM hq h JOIN pr_r{OL_PR_ITERS} r ON r.node = h.host"""
    _tr_qd = f"""qd AS (
  SELECT doc_id,
    CAST(floor(round(1.0 / (1.0 + exp(-{qz})), 6) * 1e6) AS BIGINT) AS q_micro
  FROM ratios
)"""
    _tr_tw = """SELECT p.host AS node, CAST(sum(q.q_micro) AS BIGINT) AS tw
  FROM ol_pages p JOIN qd q USING (doc_id) GROUP BY p.host"""
    out["host_trustrank"] = f"""
WITH {_features_cte()},
{_ol_edges_ctes()},
{_tr_qd},
{_pagerank_ctes("SELECT src, dst FROM ol_kept", OL_PR_ITERS, teleport_sql=_tr_tw)}
SELECT node, rank_micro FROM pr_r{OL_PR_ITERS}"""
    out["robots_noindex_flags"] = f"""
WITH {_ol_pages_cte()}
SELECT doc_id,
  regexp_matches(html_str,
    '(?i)<meta\\s[^>]*name="robots"[^>]*content="[^"]*noindex') AS noindex
FROM ol_pages"""
    _bm_terms = ", ".join(f"'{t}'" for t in sorted(BM25_QUERY_TERMS))
    _bm_piv = ",\n  ".join(
        f"max(CASE WHEN term = '{t}' THEN s END) AS s{i}"
        for i, t in enumerate(sorted(BM25_QUERY_TERMS))
    )
    _bm_tot = " + ".join(
        f"coalesce(s{i}, 0.0)" for i in range(len(BM25_QUERY_TERMS))
    )
    # literal spellings below are Python-repr of the SAME doubles the
    # Spark side folds (k1+1, 1-b) so both engines parse identical values
    out["bm25_top_docs"] = f"""
WITH b0 AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ ]+') AS t
  FROM documents
),
bdl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM b0),
st AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
    CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM b0
),
occ AS (SELECT doc_id, dl, unnest(t) AS term FROM bdl),
qocc AS (SELECT * FROM occ WHERE term IN ({_bm_terms})),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
  FROM qocc GROUP BY doc_id, term
),
dfq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM qocc GROUP BY term
),
sc AS (
  SELECT doc_id, term,
    ln((nd - df + 0.5) / (df + 0.5) + 1.0)
      * ((tf * {(textagg.BM25_K1 + 1.0)!r})
         / (tf + {textagg.BM25_K1!r}
            * ({(1.0 - textagg.BM25_B)!r} + {textagg.BM25_B!r} * dl / avgdl))) AS s
  FROM tf JOIN dfq USING (term), st
),
piv AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
  {_bm_piv}
  FROM sc GROUP BY doc_id
),
tot AS (SELECT doc_id, matched, {_bm_tot} AS score FROM piv)
SELECT doc_id, round(score, 6) AS bm25, matched FROM tot
ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}"""
    _win_w = dedup.WINNOW_W
    _win_ctes = f"""wsh AS (SELECT doc_id, {_ngram_expr_n(dedup.WINNOW_K)} AS ng FROM documents),
wh AS (
  SELECT doc_id,
    list_transform(ng, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hl
  FROM wsh
),
wfp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, len(hl) - {_win_w - 1}),
    i -> list_min(hl[i:i + {_win_w - 1}])))) AS fp
  FROM wh WHERE len(hl) >= {_win_w}
)"""
    out["winnowing_fingerprints"] = f"""
WITH {_win_ctes}
SELECT doc_id, fp FROM wfp"""
    out["winnowing_pairs"] = f"""
WITH {_win_ctes},
wcap AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
wp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM wfp a JOIN wcap c ON a.fp = c.fp JOIN wfp b ON b.fp = a.fp
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM wp GROUP BY doc_a, doc_b"""
    out["winnowing_survivors"] = f"""
WITH RECURSIVE {_win_ctes},
wcap AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
wp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM wfp a JOIN wcap c ON a.fp = c.fp JOIN wfp b ON b.fp = a.fp
  WHERE a.doc_id < b.doc_id
),
wpair2 AS (
  SELECT doc_a, doc_b FROM wp GROUP BY doc_a, doc_b
  HAVING count(*) >= {WINNOW_MIN_SHARED}
),
wedges AS (SELECT doc_a AS x, doc_b AS y FROM wpair2
           UNION SELECT doc_b, doc_a FROM wpair2),
wreach(x, y) AS (
  SELECT x, y FROM wedges
  UNION
  SELECT r.x, e.y FROM wreach r JOIN wedges e ON r.y = e.x
),
wcomp AS (SELECT x AS doc_id, least(x, min(y)) AS comp FROM wreach GROUP BY x)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM wcomp WHERE doc_id <> comp)"""
    out["corpus_snapshot_diff"] = f"""
WITH o AS (
  SELECT DISTINCT md5(lower(trim(text, ' '))) AS fp FROM documents
  WHERE doc_id % {SNAP_MOD} != {SNAP_MOD - 1}
),
n AS (
  SELECT DISTINCT md5(lower(trim(text, ' '))) AS fp FROM documents
  WHERE doc_id % {SNAP_MOD} != 0
),
j AS (
  SELECT CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              ELSE 'common' END AS status
  FROM o FULL OUTER JOIN n ON o.fp = n.fp
)
SELECT status, CAST(count(*) AS BIGINT) AS n_fps FROM j GROUP BY status"""
    _psi_bin = (
        f"least(CAST(floor((1.0 / (1.0 + exp(-{qz}))) * {N_SCORE_BINS}) AS BIGINT),"
        f" {N_SCORE_BINS - 1})"
    )
    out["score_drift_psi"] = f"""
WITH {_features_cte()},
pb AS (SELECT doc_id, {_psi_bin} AS bin FROM ratios),
po AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_old FROM pb
  WHERE doc_id % {SNAP_MOD} != {SNAP_MOD - 1} GROUP BY bin
),
pn AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_new FROM pb
  WHERE doc_id % {SNAP_MOD} != 0 GROUP BY bin
),
pj AS (
  SELECT coalesce(po.bin, pn.bin) AS bin,
    coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
  FROM po FULL OUTER JOIN pn ON po.bin = pn.bin
),
pt AS (
  SELECT bin, n_old, n_new,
    sum(n_old) OVER () AS _to, sum(n_new) OVER () AS _tn
  FROM pj
),
pp AS (
  SELECT bin, n_old, n_new,
    (n_old + 1.0) / (_to + {float(N_SCORE_BINS)!r}) AS p_old,
    (n_new + 1.0) / (_tn + {float(N_SCORE_BINS)!r}) AS p_new
  FROM pt
)
SELECT bin, n_old, n_new, round(p_old, 6) AS p_old, round(p_new, 6) AS p_new,
  round((p_new - p_old) * ln(p_new / p_old), 6) AS psi_term
FROM pp"""
    _kn_toks = (
        "SELECT regexp_split_to_array(lower(trim(text, ' ')), '[ ]+') AS t"
        " FROM documents"
    )
    # double-unnest of two aligned slices zips positionally in DuckDB —
    # the twin of Spark's zip_with over the same pre-sliced views
    _kn_pairs = (
        "SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2"
        " FROM kn_toks WHERE len(t) >= 2"
    )
    out["collocation_pmi"] = f"""
WITH kn_toks AS ({_kn_toks}),
kn_pairs AS ({_kn_pairs}),
pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM kn_pairs GROUP BY w1, w2),
uc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS word FROM kn_toks) GROUP BY word
),
nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uc)
SELECT p.w1, p.w2, p.n,
  round(ln(CAST(p.n AS DOUBLE) * CAST(nt.n_tok AS DOUBLE)
    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
FROM pc p JOIN uc u1 ON u1.word = p.w1 JOIN uc u2 ON u2.word = p.w2, nt
WHERE p.n >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {PMI_K}"""
    out["doc_novelty_docs"] = f"""
WITH nv0 AS (
  SELECT doc_id, unnest(list_distinct({_ngram_expr_n(NOVELTY_NGRAM)})) AS sh
  FROM documents
),
nvf AS (SELECT sh, min(doc_id) AS first_id FROM nv0 GROUP BY sh),
nvp AS (
  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
    CAST(sum(CASE WHEN f.first_id = o.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM nv0 o JOIN nvf f USING (sh) GROUP BY o.doc_id
)
SELECT d.doc_id,
  coalesce(p.n_shingles, 0) AS n_shingles,
  coalesce(p.n_novel, 0) AS n_novel,
  CASE WHEN coalesce(p.n_shingles, 0) > 0
       THEN round(p.n_novel / p.n_shingles, 6) END AS novelty
FROM documents d LEFT JOIN nvp p USING (doc_id)"""
    out["mirror_host_pairs"] = f"""
WITH {_ol_pages_cte()},
mh0 AS (
  SELECT DISTINCT p.host,
    unnest(list_transform(
      generate_series(0, CAST(ceil(len(regexp_split_to_array(trim(d.text, ' '), '[ ]+')) / {SEGMENT_WORDS}.0) AS BIGINT) - 1),
      i -> array_to_string(regexp_split_to_array(trim(d.text, ' '), '[ ]+')[i*{SEGMENT_WORDS}+1 : i*{SEGMENT_WORDS}+{SEGMENT_WORDS}], ' '))) AS seg
  FROM documents d JOIN ol_pages p USING (doc_id)
),
mh AS (SELECT DISTINCT host, seg FROM mh0),
mcap AS (SELECT seg FROM mh GROUP BY seg HAVING count(*) <= {MIRROR_MAX_HOST_DF}),
mp AS (
  SELECT a.host AS host_a, b.host AS host_b
  FROM mh a JOIN mcap c ON a.seg = c.seg JOIN mh b ON b.seg = a.seg
  WHERE a.host < b.host
)
SELECT host_a, host_b, CAST(count(*) AS BIGINT) AS n_shared_segments
FROM mp GROUP BY host_a, host_b
HAVING count(*) >= {MIRROR_MIN_SHARED}"""
    out["word_entropy_docs"] = f"""
WITH we AS (
  SELECT doc_id, {_SIMPLE_TOKS} AS toks,
    CAST(len({_SIMPLE_TOKS}) AS DOUBLE) AS n
  FROM documents
),
wc AS (
  SELECT doc_id, n,
    list_transform(list_distinct(toks),
      w -> CAST(len(list_filter(toks, x -> x = w)) AS DOUBLE)) AS cnts
  FROM we
)
SELECT doc_id,
  round((-list_sum(list_transform(cnts, c -> (c / n) * log2(c / n)))) + 0.0, 6) AS word_entropy,
  round(CAST(len(cnts) AS DOUBLE) / n, 6) AS ttr
FROM wc"""
    _q8 = (
        "CASE WHEN list_max(list_transform({v}, x -> abs(x))) = 0"
        " THEN list_transform({v}, x -> CAST(0 AS BIGINT))"
        " ELSE list_transform({v}, x -> CAST(floor(x * (127.0"
        " / list_max(list_transform({v}, y -> abs(y)))) + 0.5) AS BIGINT)) END"
    )
    out["knn_quantized_int8"] = f"""
WITH q8qv AS (
  SELECT {_q8.format(v="embedding::DOUBLE[]")} AS q
  FROM embeddings WHERE vec_id = 0
),
q8c AS (
  SELECT vec_id, {_q8.format(v="embedding::DOUBLE[]")} AS p FROM embeddings
),
q8s AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(p) + 1), i -> p[i] * q[i])) AS dot,
    list_sum(list_transform(p, v -> v * v)) AS pp,
    list_sum(list_transform(q, v -> v * v)) AS qq
  FROM q8c, q8qv
)
SELECT vec_id,
  round(CAST(dot AS DOUBLE) / (sqrt(CAST(pp AS DOUBLE)) * sqrt(CAST(qq AS DOUBLE))), 6)
    AS cos_sim_q8
FROM q8s WHERE pp > 0
ORDER BY cos_sim_q8 DESC, vec_id ASC LIMIT 10"""
    out["encoding_noise_docs"] = rf"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{TS.REPLACEMENT_CHAR}')) AS BIGINT) AS n_replacement,
  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_ctrl,
  round(CASE WHEN length(text) = 0 THEN 0.0
        ELSE CAST(len(regexp_extract_all(text, '[^\x00-\x7f]')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) END, 6) AS nonascii_ratio,
  (len(regexp_extract_all(text, '{TS.REPLACEMENT_CHAR}')) > 0
   OR len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0) AS encoding_suspect
FROM documents"""
    out["tfidf_cosine_pairs"] = f"""
WITH tc_occ AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term
  FROM documents
),
tc_tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tc_occ GROUP BY 1, 2),
tc_nd AS (SELECT count(*) AS n FROM documents),
tc_df AS (
  SELECT term, (n * 1000000) // count(DISTINCT doc_id) AS idf_micro
  FROM tc_occ, tc_nd GROUP BY term, n
  HAVING count(DISTINCT doc_id) BETWEEN 1 AND {TFIDF_COS_MAX_DF}
),
tc_w AS (SELECT doc_id, term, tf * idf_micro AS w FROM tc_tf JOIN tc_df USING (term)),
tc_norm AS (SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS n2 FROM tc_w GROUP BY doc_id),
tc_dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
  FROM tc_w a JOIN tc_w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  round(CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
FROM tc_dot
JOIN tc_norm na ON na.doc_id = id_a
JOIN tc_norm nb ON nb.doc_id = id_b
WHERE CAST(dot AS DOUBLE)
      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= {TFIDF_COS_MIN}"""
    out["kn_bigram_counts"] = f"""
WITH kn_toks AS ({_kn_toks}),
kn_pairs AS ({_kn_pairs})
SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
FROM kn_pairs GROUP BY w1, w2"""
    out["kn_continuation_stats"] = f"""
WITH kn_toks AS ({_kn_toks}),
kn_pairs AS ({_kn_pairs}),
uc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_unigram
  FROM (SELECT unnest(t) AS word FROM kn_toks) GROUP BY word
),
dp AS (SELECT DISTINCT w1, w2 FROM kn_pairs),
lc AS (SELECT w2 AS word, CAST(count(*) AS BIGINT) AS n_left_ctx FROM dp GROUP BY w2),
rc AS (SELECT w1 AS word, CAST(count(*) AS BIGINT) AS n_right_ctx FROM dp GROUP BY w1)
SELECT u.word, u.n_unigram,
  coalesce(lc.n_left_ctx, 0) AS n_left_ctx,
  coalesce(rc.n_right_ctx, 0) AS n_right_ctx
FROM uc u LEFT JOIN lc USING (word) LEFT JOIN rc USING (word)"""
    _kn_toksd = (
        "SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ ]+') AS t"
        " FROM documents"
    )
    _kn_dn, _kn_dd = textagg.KN_DISCOUNT_NUM, textagg.KN_DISCOUNT_DEN
    # the per-doc fold: list(contrib ORDER BY w1, w2) then list_sum is
    # DuckDB's in-order left fold — the twin of Spark's
    # aggregate(array_sort(collect_list(struct(w1, w2, contrib))))
    _kn_bits = (
        "(-(list_sum(list(contrib ORDER BY w1, w2)))) / CAST(sum(n_t) AS DOUBLE)"
    )
    from quality_filter.functions.textstats import MOJIBAKE_MAP as _MJ
    _mj_fixed = "mj_corrupt"
    for _bad, _good in _MJ:
        _mj_fixed = f"replace({_mj_fixed}, '{_bad}', '{_good}')"
    out["mojibake_repair_docs"] = f"""
WITH mj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN replace(text, 'a', 'Ã©') ELSE text END
      AS mj_corrupt
  FROM documents
),
mjf AS (SELECT doc_id, mj_corrupt, {_mj_fixed} AS text_fixed FROM mj)
SELECT doc_id, text_fixed,
  (length(mj_corrupt) != length(text_fixed)) AS repaired,
  CAST(length(mj_corrupt) - length(text_fixed) AS BIGINT) AS n_chars_saved
FROM mjf"""
    out["oov_rate_docs"] = f"""
WITH ov_toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term
  FROM documents
),
ov_vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM ov_toks GROUP BY term
    ORDER BY n DESC, term ASC LIMIT {OOV_VOCAB}
  )
)
SELECT t.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM ov_toks t LEFT JOIN ov_vocab v ON v.term = t.term
GROUP BY t.doc_id"""
    # kn_doc CTE chain shared by kn_doc_surprisal and ccnet_ppl_buckets
    # (one normative SQL spec of the per-doc KN score, like _dm_ctes)
    _kn_doc_ctes = f"""kn_toksd AS ({_kn_toksd}),
kn_toks AS (SELECT t FROM kn_toksd),
kn_pairs AS ({_kn_pairs}),
kn_dpairs AS (
  SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM kn_toksd WHERE len(t) >= 2
),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM kn_pairs GROUP BY w1, w2),
bt AS (SELECT count(*) AS nb FROM bg),
ctx AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY w1),
dp AS (SELECT DISTINCT w1, w2 FROM kn_pairs),
lc AS (SELECT w2, CAST(count(*) AS BIGINT) AS nlc FROM dp GROUP BY w2),
rc AS (SELECT w1, CAST(count(*) AS BIGINT) AS nrc FROM dp GROUP BY w1),
dt AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n_t
  FROM kn_dpairs GROUP BY doc_id, w1, w2
),
sc AS (
  SELECT doc_id, w1, w2, n_t,
    CAST(n_t AS DOUBLE) * log2(
      CAST(({_kn_dd} * c12 - {_kn_dn}) * nb + {_kn_dn} * nrc * nlc AS DOUBLE)
      / CAST({_kn_dd} * c1 * nb AS DOUBLE)) AS contrib
  FROM dt JOIN bg USING (w1, w2) JOIN ctx USING (w1)
  JOIN lc USING (w2) JOIN rc USING (w1), bt
)"""
    out["kn_doc_surprisal"] = f"""
WITH {_kn_doc_ctes}
SELECT doc_id, CAST(sum(n_t) AS BIGINT) AS n_bigrams,
  round({_kn_bits}, 6) AS surprisal_bits,
  round(pow(2.0, {_kn_bits}), 6) AS ppl
FROM sc GROUP BY doc_id"""
    out["ccnet_ppl_buckets"] = f"""
WITH {_kn_doc_ctes},
knd AS (
  SELECT doc_id, round({_kn_bits}, 6) AS surprisal_bits
  FROM sc GROUP BY doc_id
),
sb AS (
  SELECT d.lang, k.doc_id, k.surprisal_bits,
    CAST(floor(k.surprisal_bits * {float(textagg.CCNET_BIN_SCALE):.1f}) AS BIGINT)
      AS ppl_bin
  FROM knd k JOIN documents d USING (doc_id)
),
hist AS (
  SELECT lang, ppl_bin, CAST(count(*) AS BIGINT) AS nb FROM sb GROUP BY 1, 2
),
cdf AS (
  SELECT lang, ppl_bin,
    sum(nb) OVER (PARTITION BY lang ORDER BY ppl_bin) AS cum,
    sum(nb) OVER (PARTITION BY lang) AS tot
  FROM hist
),
cuts AS (
  SELECT lang,
    min(CASE WHEN 3 * cum >= tot THEN ppl_bin END) AS cut1,
    min(CASE WHEN 3 * cum >= 2 * tot THEN ppl_bin END) AS cut2
  FROM cdf GROUP BY lang
)
SELECT s.doc_id, s.lang, s.surprisal_bits, s.ppl_bin,
  CASE WHEN s.ppl_bin <= c.cut1 THEN 'head'
       WHEN s.ppl_bin <= c.cut2 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM sb s JOIN cuts c USING (lang)"""

    # hll: v = 60-bit int from hex chars 3..17 via the strpos polynomial
    # (DuckDB has no conv(); exact int64 — max term 15*16^14 < 2^61)
    _hl_v = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {3 + i}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )
    _hl_pos = f"strpos(lpad(bin({_hl_v}), 60, '0'), '1')"
    out["hll_vocab_estimate"] = f"""
WITH hl_toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term
  FROM documents
),
hl_h AS (SELECT md5(term) AS h FROM hl_toks),
hl_br AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) AS bucket,
    CASE WHEN {_hl_pos} = 0 THEN 61 ELSE {_hl_pos} END AS rho
  FROM hl_h
),
hl_regs AS (SELECT bucket, max(rho) AS m_j FROM hl_br GROUP BY bucket),
hl_all AS (
  SELECT gs.b AS bucket, r.m_j
  FROM (SELECT unnest(generate_series(0, 255)) AS b) gs
  LEFT JOIN hl_regs r ON r.bucket = gs.b
),
hl_s AS (
  SELECT sum((CAST(1 AS BIGINT) << (61 - coalesce(m_j, 0)))::DECIMAL(38,0)) AS s_int,
    CAST(sum(CASE WHEN m_j IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
  FROM hl_all
),
hl_ex AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM hl_toks),
hl_est AS (
  SELECT v_empty, n_exact,
    CASE WHEN v_empty > 0 AND raw <= 640.0
         THEN 256.0 * ln(256.0 / CAST(v_empty AS DOUBLE))
         ELSE raw END AS e
  FROM (
    SELECT (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 2305843009213693952.0
           / CAST(s_int AS DOUBLE) AS raw, v_empty, n_exact
    FROM hl_s, hl_ex
  )
)
SELECT 256 AS m, v_empty, n_exact, round(e, 4) AS hll_estimate,
  round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_error
FROM hl_est"""

    # gate distillation: the unrolled exact-integer training trajectory
    # (operators/distill.py) — final weights in CTE w{_D_K}
    from quality_filter.operators.distill import DISTILL_ROUNDS as _D_T
    from quality_filter.operators.distill import DISTILL_SCALE as _D_S
    from quality_filter.operators.distill import DISTILL_TARGET as _D_TGT
    from quality_filter.operators.distill import _FEATURES as _D_F

    _D_K = _D_T * len(_D_F)

    out["gate_distill_weights"] = f"""
WITH {_features_cte().lstrip()},
{_distill_sql_ctes()}
SELECT f, w_int, round(CAST(w_int AS DOUBLE) / {float(_D_S)!r}, 6) AS w_real
FROM (
  {_distill_weight_rows_sql()}
)"""

    out["distilled_gate_agreement"] = f"""
WITH {_features_cte().lstrip()},
{_distill_sql_ctes()},
dscored AS (
  SELECT b.id AS id, b.y AS y,
    CASE WHEN {_distill_margin_sql("w", "b")} >= {_D_TGT // 2}
         THEN 1 ELSE 0 END AS km
  FROM dbase b, w{_D_K} w
)
SELECT doc.source AS source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(s.y) AS BIGINT) AS n_keep_gate,
  CAST(sum(s.km) AS BIGINT) AS n_keep_model,
  CAST(sum(CASE WHEN s.y = s.km THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
  round(CAST(sum(CASE WHEN s.y = s.km THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM dscored s JOIN documents doc ON s.id = doc.doc_id
GROUP BY doc.source"""

    # reliability diagram over the SAME unrolled training chain: bin =
    # exact floor-div of the HUGEINT margin by TARGET/8 (pmod spelling
    # — DuckDB % truncates toward zero, +B %B lands in [0,B) exactly
    # like Spark's pmod), clamped to the same literal range
    _D_BW = _D_TGT // 8
    out["distilled_gate_reliability"] = f"""
WITH {_features_cte().lstrip()},
{_distill_sql_ctes()},
dms AS (
  SELECT b.y AS y, ({_distill_margin_sql("w", "b")}) AS m
  FROM dbase b, w{_D_K} w
),
dbin AS (
  SELECT y,
    CAST(greatest({RELIABILITY_BIN_LO}, least({RELIABILITY_BIN_HI},
      (m - ((m % {_D_BW} + {_D_BW}) % {_D_BW})) // {_D_BW})) AS BIGINT) AS bin_id
  FROM dms
)
SELECT bin_id,
  round(CAST(bin_id AS DOUBLE) * 0.125, 6) AS bin_lo,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(y) AS BIGINT) AS n_keep_gate,
  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS keep_rate_gate,
  bin_id >= 4 AS model_keep
FROM dbin GROUP BY bin_id"""

    # equal-quota sample over the refined k-means clusters: identical
    # centroids via the engine-free twin, identical md5 rank universe
    from quality_filter.operators import similarity as _S_cb

    _cb_cents = _S_cb.kmeans_refine_local(
        f"{ORACLE_SF_DIR}/embeddings.parquet", "embedding",
        _oracle_centroids(), iters=KMEANS_REFINE_ITERS,
    )
    out["cluster_balanced_sample"] = f"""
WITH {_ivf_assign_ctes(_cb_cents)},
crk AS (
  SELECT vec_id, cluster,
    CAST(row_number() OVER (
      PARTITION BY cluster
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
  FROM assign
)
SELECT vec_id, cluster, rk FROM crk WHERE rk <= {CLUSTER_SAMPLE_QUOTA}"""

    # per-rule gate ablation: the same frozen rule predicates as
    # quality_gate_docs (fuzz-proven expression tree), one flag column
    # per rule, UNION ALL'd into an 8-row report
    _abl_rules = [
        ("too_short", f"n_chars < {CFG.min_chars}"),
        ("too_long", f"n_chars > {CFG.max_chars}"),
        ("too_few_words", f"n_words < {CFG.min_words}"),
        ("low_stopword", f"stopword_ratio < {CFG.min_stopword_ratio}"),
        ("high_symbol", f"symbol_ratio > {CFG.max_symbol_ratio}"),
        ("low_distinct", f"distinct_ratio < {CFG.min_distinct_ratio}"),
        (
            "word_len",
            f"NOT (mean_word_len BETWEEN {CFG.min_mean_word_len}"
            f" AND {CFG.max_mean_word_len})",
        ),
        ("low_quality", f"1.0 / (1.0 + exp(-{qz})) < {CFG.quality_threshold}"),
    ]
    _abl_flags = ",\n    ".join(
        f"CAST({cond} AS INT) AS f_{name}" for name, cond in _abl_rules
    )
    _abl_nf = " + ".join(f"f_{name}" for name, _ in _abl_rules)
    _abl_union = "\n  UNION ALL\n  ".join(
        f"SELECT '{name}' AS rule, f_{name} AS fail, nf FROM abl_tot"
        for name, _ in _abl_rules
    )
    out["rule_ablation_report"] = f"""
WITH {_features_cte().lstrip()},
abl_flags AS (
  SELECT
    {_abl_flags}
  FROM ratios
),
abl_tot AS (SELECT *, ({_abl_nf}) AS nf FROM abl_flags),
abl_ex AS (
  {_abl_union}
)
SELECT rule,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(fail) AS BIGINT) AS n_fail,
  CAST(sum(CASE WHEN fail = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_fail_only,
  round(CAST(sum(fail) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fail_rate,
  round(CAST(sum(CASE WHEN fail = 1 AND nf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS marginal_keep_rate
FROM abl_ex GROUP BY rule"""

    # moore_lewis: one shared per-doc bigram fact scored under two KN
    # models (general corpus vs lang='fr' in-domain) — each model chain
    # is the kn_doc_surprisal CTE pattern with a prefixed namespace
    def _ml_model(prefix: str, where: str) -> str:
        p = prefix
        return f"""{p}pairs AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM (SELECT regexp_split_to_array(lower(trim(text, ' ')), '[ ]+') AS t
        FROM documents{where})
  WHERE len(t) >= 2
),
{p}bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM {p}pairs GROUP BY w1, w2),
{p}bt AS (SELECT count(*) AS nb FROM {p}bg),
{p}ctx AS (SELECT w1, sum(c12) AS c1 FROM {p}bg GROUP BY w1),
{p}dp AS (SELECT DISTINCT w1, w2 FROM {p}pairs),
{p}lc AS (SELECT w2, CAST(count(*) AS BIGINT) AS nlc FROM {p}dp GROUP BY w2),
{p}rc AS (SELECT w1, CAST(count(*) AS BIGINT) AS nrc FROM {p}dp GROUP BY w1),
{p}sc AS (
  SELECT d.doc_id, d.w1, d.w2, d.n_t,
    CAST(d.n_t AS DOUBLE) * log2(
      CAST(({_kn_dd} * c12 - {_kn_dn}) * nb + {_kn_dn} * nrc * nlc AS DOUBLE)
      / CAST({_kn_dd} * c1 * nb AS DOUBLE)) AS contrib
  FROM ml_dt d JOIN {p}bg USING (w1, w2) JOIN {p}ctx USING (w1)
  JOIN {p}lc USING (w2) JOIN {p}rc USING (w1), {p}bt
)"""

    out["moore_lewis_selection"] = f"""
WITH ml_toksd AS ({_kn_toksd}),
ml_dt AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n_t
  FROM (SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM ml_toksd WHERE len(t) >= 2)
  GROUP BY 1, 2, 3
),
{_ml_model("g_", "")},
{_ml_model("i_", " WHERE lang = 'fr'")},
ml_gen AS (
  SELECT doc_id, CAST(sum(n_t) AS BIGINT) AS n_bigrams,
    (-(list_sum(list(contrib ORDER BY w1, w2)))) / CAST(sum(n_t) AS DOUBLE)
      AS bits_gen
  FROM g_sc GROUP BY doc_id
),
ml_ind AS (
  SELECT doc_id, CAST(sum(n_t) AS BIGINT) AS n_in_model,
    (-(list_sum(list(contrib ORDER BY w1, w2)))) / CAST(sum(n_t) AS DOUBLE)
      AS bits_in
  FROM i_sc GROUP BY doc_id
)
SELECT g.doc_id, g.n_bigrams,
  coalesce(i.n_in_model, 0) AS n_in_model,
  round(CAST(coalesce(i.n_in_model, 0) AS DOUBLE)
        / CAST(g.n_bigrams AS DOUBLE), 6) AS coverage,
  round(i.bits_in, 6) AS bits_in,
  round(g.bits_gen, 6) AS bits_gen,
  round(i.bits_in - g.bits_gen, 6) AS ml_score,
  coalesce(2 * i.n_in_model >= g.n_bigrams
           AND (i.bits_in - g.bits_gen) <= 0.0, FALSE) AS selected
FROM ml_gen g LEFT JOIN ml_ind i USING (doc_id)"""

    # degree-7 Horner polynomial exp — the textual twin of textagg._expq
    # (the SPEC is the polynomial: no transcendental-libm seam)
    def _expq_sql(x: str) -> str:
        return (
            f"(1.0 + ({x})*(1.0 + ({x})/2.0*(1.0 + ({x})/3.0*(1.0 + ({x})/4.0*"
            f"(1.0 + ({x})/5.0*(1.0 + ({x})/6.0*(1.0 + ({x})/7.0)))))))"
        )

    _dm_scale = f"{float(textagg.DOREMI_Q):.1f}"  # 2^40: IEEE-exact scaling
    _dm_ctes = f"""dm_toksd AS (
  SELECT source, regexp_split_to_array(lower(trim(text, ' ')), '[ ]+') AS t
  FROM documents
),
kn_toks AS (SELECT t FROM dm_toksd),
kn_pairs AS ({_kn_pairs}),
dm_spairs AS (
  SELECT source, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM dm_toksd WHERE len(t) >= 2
),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM kn_pairs GROUP BY w1, w2),
bt AS (SELECT count(*) AS nb FROM bg),
ctx AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY w1),
dp AS (SELECT DISTINCT w1, w2 FROM kn_pairs),
lc AS (SELECT w2, CAST(count(*) AS BIGINT) AS nlc FROM dp GROUP BY w2),
rc AS (SELECT w1, CAST(count(*) AS BIGINT) AS nrc FROM dp GROUP BY w1),
bgq AS (
  SELECT w1, w2, CAST(floor(log2(
      CAST(({_kn_dd} * c12 - {_kn_dn}) * nb + {_kn_dn} * nrc * nlc AS DOUBLE)
      / CAST({_kn_dd} * c1 * nb AS DOUBLE)) * {_dm_scale} + 0.5) AS BIGINT) AS q12
  FROM bg JOIN ctx USING (w1) JOIN lc USING (w2) JOIN rc USING (w1), bt
),
dm_st AS (
  SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS n_t
  FROM dm_spairs GROUP BY 1, 2, 3
),
psrc AS (
  SELECT source, sum(CAST(n_t AS HUGEINT) * q12) AS sq,
    CAST(sum(n_t) AS BIGINT) AS n
  FROM dm_st JOIN bgq USING (w1, w2) GROUP BY source
),
tot AS (SELECT sum(sq) AS tsq, sum(n) AS tn FROM psrc),
exx0 AS (
  SELECT source, n,
    (-(CAST(sq AS DOUBLE))) / {_dm_scale} / CAST(n AS DOUBLE) AS bits_s,
    (-(CAST(tsq AS DOUBLE))) / {_dm_scale} / CAST(tn AS DOUBLE) AS bits_ref
  FROM psrc, tot
),
exx AS (
  SELECT source, n, bits_s, greatest(0.0, bits_s - bits_ref) AS excess FROM exx0
),
ww AS (
  SELECT source, n, bits_s, excess, {_expq_sql(f'{textagg.DOREMI_ETA}*excess')} AS w
  FROM exx
),
sw AS (SELECT list_sum(list(w ORDER BY source)) AS sum_w FROM ww)"""
    out["doremi_mixture_weights"] = f"""
WITH {_dm_ctes}
SELECT source, n AS n_bigrams, round(bits_s, 6) AS bits,
  round(excess, 6) AS excess_bits, round(w / sum_w, 6) AS weight
FROM ww, sw"""
    out["doremi_token_budget"] = f"""
WITH {_dm_ctes},
dw AS (
  SELECT source, CAST(floor(round(w / sum_w, 6) * 1000000.0 + 0.5) AS BIGINT)
    AS w_micro
  FROM ww, sw
),
{_hamilton_ctes("SELECT source AS host, w_micro AS rank_micro FROM dw",
                DOREMI_BUDGET, "db")}
SELECT host AS source, rank_micro AS w_micro, quota FROM db_q"""
    out["langid_confusion"] = f"""
WITH hits AS (
  SELECT doc_id, lang,
    {lang_hits}
  FROM documents
),
best_t AS (SELECT *, {best} AS best FROM hits)
SELECT lang, {lang_case} AS lang_guess, CAST(count(*) AS BIGINT) AS n
FROM best_t GROUP BY lang, lang_guess"""
    _ds_sus = (
        rf"(len(regexp_extract_all(text, '{TS.REPLACEMENT_CHAR}')) > 0"
        r" OR len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0)"
    )
    out["corpus_datasheet"] = f"""
WITH ds_hits AS (
  SELECT source,
    {lang_hits},
    CAST(len({_SIMPLE_TOKS}) AS BIGINT) AS _tok,
    CAST(length(text) AS BIGINT) AS _chr,
    CAST({_ds_sus} AS BIGINT) AS _sus
  FROM documents
),
ds_best AS (SELECT *, {best} AS best FROM ds_hits),
ds_base AS (SELECT source, {lang_case} AS lang_guess, _tok, _chr, _sus FROM ds_best)
SELECT source, lang_guess,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(_tok) AS BIGINT) AS n_tokens,
  CAST(sum(_chr) AS BIGINT) AS n_chars,
  CAST(sum(_sus) AS BIGINT) AS n_suspect
FROM ds_base GROUP BY CUBE (source, lang_guess)"""
    out["bpe_pair_counts"] = f"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS tok
  FROM documents
),
p AS (
  SELECT substr(tok, unnest(generate_series(1, len(tok) - 1)), 2) AS pair
  FROM w WHERE len(tok) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {BPE_PAIRS_K}"""
    # one BPE iteration: winner via scalar subquery (same n DESC, pair ASC
    # tie-break), merge applied by LITERAL replace on the spaced symbol
    # form, recount via the double-unnest positional zip of two aligned
    # slices (the kn_pairs twin pattern)
    out["bpe_merge_round"] = f"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS tok
  FROM documents
),
t2 AS (SELECT tok FROM w WHERE len(tok) >= 2),
p1 AS (
  SELECT substr(tok, unnest(generate_series(1, len(tok) - 1)), 2) AS pair
  FROM t2
),
top AS (
  SELECT coalesce(
    (SELECT pair FROM p1 GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1),
    chr(0) || chr(0)) AS mp
),
m AS (
  SELECT top.mp,
    regexp_split_to_array(
      rtrim(replace(
        regexp_replace(t2.tok, '([\\s\\S])', '\\1 ', 'g'),
        substr(top.mp, 1, 1) || ' ' || substr(top.mp, 2, 1) || ' ',
        top.mp || ' '), ' '), ' ') AS s
  FROM t2, top
),
p2 AS (
  SELECT mp, unnest(s[1:len(s) - 1]) AS s1, unnest(s[2:len(s)]) AS s2
  FROM m WHERE len(s) >= 2
)
SELECT mp AS merged, s1, s2, CAST(count(*) AS BIGINT) AS n
FROM p2 GROUP BY mp, s1, s2
ORDER BY n DESC, s1 ASC, s2 ASC LIMIT {BPE_MERGE_K}"""
    out["bpe_train_merges"] = _bpe_train_sql(BPE_TRAIN_MERGES)
    out["bpe_token_counts_docs"] = _bpe_apply_sql(BPE_TRAIN_MERGES)
    out["bpe_compression_by_lang"] = _bpe_compression_sql(BPE_TRAIN_MERGES)
    out["bpe_vocab"] = _bpe_vocab_sql(BPE_TRAIN_MERGES, BPE_VOCAB_K)
    out["bpe_merge_curve"] = _bpe_curve_sql(BPE_TRAIN_MERGES)
    out["dsir_bucket_ratios"] = f"""
WITH {_dsir_ctes()}
SELECT bucket, n_target, n_raw, lr_micro FROM ratios_d"""
    out["dsir_logweights_docs"] = f"""
WITH {_dsir_ctes()}
{_dsir_weights_sql()}"""
    out["dsir_sample_docs"] = f"""
WITH {_dsir_ctes()},
w AS ({_dsir_weights_sql()})
SELECT doc_id, logw_micro, n_ngrams FROM w
WHERE logw_micro >= {DSIR_KEEP_PER_NGRAM} * n_ngrams"""
    # same algebra as _containment_ctes (shared helper also drives the
    # corpus_curation_v2 stage) — one SQL definition, two consumers
    out["containment_pairs"] = f"""
WITH {_containment_ctes('documents')}
SELECT contained_id, container_id, CAST(n_shared AS BIGINT) AS n_shared
FROM cpairs"""
    _dup_sql = lambda ng: (  # noqa: E731
        f"round(CASE WHEN len({ng}) > 0 THEN 1.0 - CAST(len(list_distinct({ng})) AS DOUBLE)"
        f" / CAST(len({ng}) AS DOUBLE) ELSE 0.0 END, 6)"
    )
    out["repetition_profile_docs"] = f"""
SELECT doc_id,
  round(CAST(list_max(list_transform(list_distinct({_SIMPLE_TOKS}),
      t -> len(list_filter({_SIMPLE_TOKS}, x -> x = t)))) AS DOUBLE)
    / CAST(len({_SIMPLE_TOKS}) AS DOUBLE), 6) AS top_token_share,
  {_dup_sql(_ngram_expr_n(2))} AS dup_2gram_ratio,
  {_dup_sql(_ngram_expr_n(3))} AS dup_3gram_ratio
FROM documents"""
    _es_key = "CASE WHEN w = 4 THEN sqrt(sqrt(u)) WHEN w = 2 THEN sqrt(u) ELSE u END"
    out["weighted_sample_docs"] = f"""
WITH wdocs AS (
  SELECT doc_id,
    CASE WHEN source IN {WS_W4} THEN 4
         WHEN source IN {WS_W2} THEN 2 ELSE 1 END AS w,
    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1) / 4294967296.0) AS u
  FROM documents
)
SELECT doc_id, CAST(w AS BIGINT) AS weight, round({_es_key}, 6) AS es_key
FROM wdocs
ORDER BY {_es_key} DESC, doc_id LIMIT {WS_K}"""
    from quality_filter.operators.textagg import CMS_DEPTH, CMS_WIDTH

    _cms_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS sketch_row,"
        f" (('0x' || substr(md5('{r}|' || term), 1, 8))::BIGINT % {CMS_WIDTH}) AS bucket"
        " FROM terms"
        for r in range(CMS_DEPTH)
    )
    out["term_cms_sketch"] = f"""
WITH terms AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '[ ]+')) AS term FROM documents
),
cells AS ({_cms_rows})
SELECT sketch_row, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY sketch_row, bucket"""
    out["corpus_token_budget"] = f"""
WITH per AS (
  SELECT source,
    CAST(sum(len(regexp_extract_all(text, '{TS.BPE_TOKEN_PATTERN}'))) AS BIGINT) AS n_tokens,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
  round(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS token_share
FROM per"""
    out["semantic_dedup"] = f"""
WITH {_ivf_assign_ctes(_oracle_centroids(_semdedup_oracle_k()))},
dropped AS (
  SELECT DISTINCT a.vec_id AS vid
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
  WHERE {_COS_SQL.format(a="a.v", b="b.v")} >= {SEMDEDUP_THRESHOLD}
)
SELECT vec_id, cluster FROM assign
WHERE vec_id NOT IN (SELECT vid FROM dropped)"""
    out["unit_dedup_docs"] = """
WITH sp AS (SELECT doc_id, string_split(text, ' ') AS us FROM documents),
ded AS (
  SELECT doc_id, us,
    list_filter(us, (x, i) -> list_position(us, x) = i) AS kept
  FROM sp
)
SELECT doc_id,
  md5(array_to_string(kept, ' ')) AS dedup_fp,
  CAST(len(us) AS BIGINT) AS n_units,
  CAST(len(us) - len(kept) AS BIGINT) AS n_removed
FROM ded"""
    # same frozen rule order as hard_rule_reasons + the hard_fail expr above
    out["gate_funnel"] = f"""
WITH {_features_cte()}
SELECT CASE
    WHEN n_chars < {CFG.min_chars} THEN 'too_short'
    WHEN n_chars > {CFG.max_chars} THEN 'too_long'
    WHEN n_words < {CFG.min_words} THEN 'too_few_words'
    WHEN stopword_ratio < {CFG.min_stopword_ratio} THEN 'low_stopword'
    WHEN symbol_ratio > {CFG.max_symbol_ratio} THEN 'high_symbol'
    WHEN distinct_ratio < {CFG.min_distinct_ratio} THEN 'low_distinct'
    WHEN NOT (mean_word_len BETWEEN {CFG.min_mean_word_len} AND {CFG.max_mean_word_len}) THEN 'word_len'
    WHEN 1.0 / (1.0 + exp(-{qz})) < {CFG.quality_threshold} THEN 'low_score'
    ELSE 'kept' END AS drop_reason,
  CAST(count(*) AS BIGINT) AS n_docs
FROM ratios GROUP BY 1"""
    out["url_dedup_docs"] = f"""
WITH {_url_canon_ctes()}
SELECT canonical_url, min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_dups
FROM canon GROUP BY 1"""
    _bl_values = ", ".join(f"('{r}', '{c}')" for r, c in links.HOST_BLOCKLIST)
    out["url_blocklist_gate"] = f"""
WITH hosts AS ({_BL_HOSTS_SQL}),
bl(rule, category) AS (VALUES {_bl_values}),
sufs AS (
  SELECT doc_id, unnest(list_transform(range(1, len(string_split(host, '.')) + 1),
    i -> array_to_string(string_split(host, '.')[i:], '.'))) AS suf
  FROM hosts
),
mm AS (
  SELECT doc_id, rule, category,
    row_number() OVER (PARTITION BY doc_id ORDER BY length(rule) DESC, rule) AS rn
  FROM sufs JOIN bl ON suf = rule
)
SELECT h.doc_id, h.host, (m.rule IS NOT NULL) AS blocked,
  m.rule AS matched_rule, m.category
FROM hosts h LEFT JOIN (SELECT * FROM mm WHERE rn = 1) m USING (doc_id)"""
    return out


def _quality_contribs_sql() -> str:
    """(doc_id, term, contrib) — one UNION ALL branch per quality-weight
    term + bias, over the shared features CTE (ppl_norm = 0 in the
    FAST-profile shadow, matching q_quality_contribs_docs)."""
    branches = []
    for name, w in CFG.quality_weights.items():
        # ppl_norm contributes w * 0.0 in the FAST shadow — spelled as the
        # same multiplication so both engines produce the same signed zero
        expr = f"{float(w)!r} * 0.0" if name == "ppl_norm" else f"{float(w)!r} * {name}"
        branches.append(
            f"SELECT doc_id, '{name}' AS term, round({expr}, 6) + 0.0 AS contrib FROM ratios"
        )
    branches.append(
        f"SELECT doc_id, 'bias' AS term, round({float(CFG.quality_bias)!r}, 6) + 0.0 AS contrib FROM ratios"
    )
    return f"WITH {_features_cte()}\n" + "\nUNION ALL\n".join(branches)


_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 192.168.1.' "
    "|| CAST(doc_id % 250 AS VARCHAR) || ' tel 555-123-4567.'"
)  # SQL twin of _pii_aug_col — keep in lockstep


def _distill_margin_sql(w: str, b: str) -> str:
    """Exact-integer margin over the final weight CTE — SQL twin of
    distill.margin_col."""
    from quality_filter.operators.distill import _FEATURES

    return " + ".join(f"{w}.w_{f} * {b}.x_{f}" for f in _FEATURES)


def _distill_weight_rows_sql() -> str:
    """UNION ALL of (f, w_int) rows from the final weight CTE."""
    from quality_filter.operators.distill import DISTILL_ROUNDS, _FEATURES

    k = DISTILL_ROUNDS * len(_FEATURES)
    return "\n  UNION ALL\n  ".join(
        f"SELECT '{f}' AS f, CAST((SELECT w_{f} FROM w{k}) AS BIGINT) AS w_int"
        for f in _FEATURES
    )


def _distill_sql_ctes() -> str:
    """CTE chain reproducing operators/distill.train_distilled_gate
    BIT-FOR-BIT: staged (id, x0..x5, y) base with exact-integer
    features floored from the shared ratios CTE doubles, class-balance
    weights from one pre-pass count, then DISTILL_ROUNDS x 6 unrolled
    exact Gauss-Seidel coordinate steps (the pagerank / HITS
    unrolled-round precedent).  Every sum is carried in HUGEINT (the
    Spark side uses DECIMAL(38,0) — identical exact integers below the
    driver's 10^37 guard); the update's trunc-toward-zero division is
    spelled sign*(abs // d) so it is engine-proof regardless of an
    engine's floor/trunc choice (DuckDB ``//`` truncates — verified).
    Assumes the _features_cte() ratios CTE is in scope (the label y is
    quality_gate_docs's keep predicate verbatim)."""
    from quality_filter.operators.distill import (
        DISTILL_ROUNDS,
        DISTILL_TARGET,
        FEAT_SCALE,
        MWL_SCALE,
        _FEATURES,
    )

    qz, hard_fail = _qz_sql(), _hard_fail_sql()
    ratio_of = {
        "stop": "stopword_ratio",
        "sym": "symbol_ratio",
        "dist": "distinct_ratio",
        "lennorm": "length_norm",
    }
    xcols = [f"CAST({FEAT_SCALE} AS BIGINT) AS x_bias"]
    for f in ("stop", "sym", "dist", "lennorm"):
        xcols.append(
            f"CAST(floor(r.{ratio_of[f]} * {float(FEAT_SCALE)!r}) AS BIGINT) AS x_{f}"
        )
    xcols.append(
        f"CAST(floor(r.mean_word_len * {float(MWL_SCALE)!r}) AS BIGINT) AS x_mwl"
    )

    def marg(w: str, b: str) -> str:
        return " + ".join(f"{w}.w_{f} * {b}.x_{f}" for f in _FEATURES)

    hsums = ",\n         ".join(
        f"CAST(coalesce(sum(c * x_{f} * x_{f}), 0) AS HUGEINT) AS h_{f}"
        for f in _FEATURES
    )
    wzeros = ", ".join(f"CAST(0 AS HUGEINT) AS w_{f}" for f in _FEATURES)
    xcols_sql = ",\n    ".join(xcols)
    parts = [
        f"""dlab AS MATERIALIZED (
  SELECT doc_id,
    CAST(CASE WHEN (NOT {hard_fail})
              AND (1.0 / (1.0 + exp(-{qz})) >= {CFG.quality_threshold})
         THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM ratios
),
dbase AS MATERIALIZED (
  SELECT r.doc_id AS id,
    {xcols_sql},
    l.y AS y
  FROM ratios r JOIN dlab l ON r.doc_id = l.doc_id
),
dcnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(y), 0) AS BIGINT) AS np
  FROM dbase
),
cbase AS MATERIALIZED (
  SELECT d.*, CAST(CASE WHEN d.y = 1 THEN c.n - c.np ELSE c.np END AS HUGEINT) AS c
  FROM dbase d, dcnt c
),
hs AS MATERIALIZED (
  SELECT {hsums}
  FROM cbase
),
w0 AS MATERIALIZED (SELECT {wzeros})"""
    ]
    k = 0
    for _ in range(DISTILL_ROUNDS):
        for f in _FEATURES:
            resid = f"({marg('w', 'b')} - CAST(b.y AS HUGEINT) * {DISTILL_TARGET})"
            step = (
                f"(CASE WHEN g.g >= 0 THEN 1 ELSE -1 END)"
                f" * (abs(g.g) // greatest(h.h_{f}, 1))"
            )
            wnext = ",\n         ".join(
                f"CAST(w.w_{fo} - {step} AS HUGEINT) AS w_{fo}"
                if fo == f
                else f"w.w_{fo} AS w_{fo}"
                for fo in _FEATURES
            )
            parts.append(
                f"""g{k} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(b.c * {resid} * b.x_{f}), 0) AS HUGEINT) AS g
  FROM cbase b, w{k} w
),
w{k + 1} AS MATERIALIZED (
  SELECT {wnext}
  FROM w{k} w, g{k} g, hs h
)"""
            )
            k += 1
    return ",\n".join(parts)


def _toxicity_gate_sql() -> str:
    """RE2 twin of tox_score_col: same lexicon pattern ((?U)-stripped —
    ASCII word lexicon, so \\b agrees), same density→sigmoid chain."""
    from quality_filter.features import py_pattern
    from quality_filter.functions.rules import tox_pattern

    pat = py_pattern(tox_pattern(CFG.tox_lexicon)).replace("'", "''")
    density = (
        f"coalesce(CAST(len(regexp_extract_all(lower(text), '{pat}')) AS DOUBLE)"
        f" / nullif(CAST(len({_SIMPLE_TOKS}) AS DOUBLE), 0.0), 0.0)"
    )
    tox = f"1.0 / (1.0 + exp(-({float(CFG.tox_a)!r} * {density} + ({float(CFG.tox_b)!r}))))"
    return f"""
SELECT doc_id,
  round({tox}, 6) AS tox_score,
  {tox} >= {CFG.tox_threshold} AS flag_toxic
FROM documents"""


def _pii_hit_counts_sql() -> str:
    """Per-rule match counts via RE2 on the identical augmented text —
    same (?U)-strip seam as the scrub oracle (ASCII corpus: both
    engines' \\d/\\b agree; the Unicode seam is pinned vs the PYTHON
    oracle in tests, see fuzz_oracle exclusion note)."""
    from quality_filter.features import py_pattern

    aug = _PII_AUG_SQL
    cols = ",\n  ".join(
        "CAST(len(regexp_extract_all(" + aug + ", '"
        + py_pattern(rule.pattern).replace("'", "''")
        + f"')) AS BIGINT) AS n_{rule.name}"
        for rule in CFG.pii_rules
    )
    return f"SELECT doc_id,\n  {cols}\nFROM documents"


def _pii_pseudonymize_sql() -> str:
    """RE2 twin of pseudonymize_pii_col: same raw-text extraction per
    rule, same (rule, -len, span) ordering, the fold spelled as a
    recursive CTE applying one replace per step (DuckDB's foldl has no
    init value; the winnowing recursive-closure precedent)."""
    from quality_filter.features import py_pattern

    aug = _PII_AUG_SQL
    branches = []
    for ri, rule in enumerate(CFG.pii_rules):
        pat = py_pattern(rule.pattern).replace("'", "''")
        branches.append(
            f"SELECT doc_id, {ri} AS ri, '{rule.name.upper()}' AS tag,\n"
            f"      unnest(list_distinct(regexp_extract_all(t0, '{pat}'))) AS s"
            f" FROM pz_base"
        )
    union = "\n    UNION ALL\n    ".join(branches)
    return f"""
WITH RECURSIVE pz_base AS (SELECT doc_id, {aug} AS t0 FROM documents),
pz_m AS (
  SELECT doc_id, ri, s, '<' || tag || ':' || substr(md5(s), 1, 8) || '>' AS r
  FROM (
    {union}
  )
),
pz_seq AS (
  SELECT doc_id, s, r,
    row_number() OVER (PARTITION BY doc_id ORDER BY ri, -length(s), s) AS step
  FROM pz_m
),
pz_cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pz_seq GROUP BY doc_id),
pz_rec AS (
  SELECT doc_id, t0 AS txt, 0 AS step FROM pz_base
  UNION ALL
  SELECT q.doc_id, replace(p.txt, q.s, q.r), q.step
  FROM pz_rec p JOIN pz_seq q ON q.doc_id = p.doc_id AND q.step = p.step + 1
)
SELECT b.doc_id, p.txt AS pseudo, coalesce(c.n, 0) AS n_pseudonyms
FROM pz_base b
LEFT JOIN pz_cnt c USING (doc_id)
JOIN pz_rec p ON p.doc_id = b.doc_id AND p.step = coalesce(c.n, 0)"""


def _pii_scrub_docs_sql() -> str:
    aug = _PII_AUG_SQL
    expr = aug
    from quality_filter.features import py_pattern

    for rule in CFG.pii_rules:  # frozen order: email → phone → ip
        # strip the Java-only (?U) prefix: RE2 would read it as
        # "swap greediness", silently changing the match; this oracle's
        # synthetic PII is ASCII so RE2's ASCII \d/\b suffice
        pat = py_pattern(rule.pattern).replace("'", "''")
        expr = "regexp_replace(" + expr + ", '" + pat + "', '" + rule.replacement + "', 'g')"
    return "SELECT doc_id, " + expr + " AS scrubbed FROM documents"


def _tumbling_sql(agg_expr: str) -> str:
    return f"""
WITH numbered AS (
  SELECT user_id, ts, value, {_EV_RN} AS rn FROM events
),
bucketed AS (
  SELECT user_id, ts, value, CAST((rn - 1) // {CFG.aggregation_size} AS BIGINT) AS bucket
  FROM numbered
)
SELECT user_id, bucket, {agg_expr} + 0.0 AS agg_value,
  CAST(count(*) AS BIGINT) AS n_rows, min(ts) AS bucket_start
FROM bucketed GROUP BY user_id, bucket"""

"""Sampling determinism, corpus text aggregation, streaming dedup."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quality_filter.operators import sampling, textagg

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_sample_deterministic_and_partition_invariant(spark, docs):
    a = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.1).select("doc_id").collect()}
    b = {
        r["doc_id"]
        for r in sampling.hash_sample(
            docs.repartition(17).sortWithinPartitions(F.col("doc_id").desc()),
            "doc_id", 0.1,
        ).select("doc_id").collect()
    }
    assert a == b and 0 < len(a) < 500
    # rate monotonicity: a smaller rate's sample is a subset (same hash order)
    c = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.05).select("doc_id").collect()}
    assert c <= a
    # df.sample() by contrast is NOT partition-invariant — that's why it
    # isn't used; no assertion on it (behavior is version-dependent)


def test_stratified_rates_roughly_honored(spark, docs):
    out = sampling.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.2}, default_rate=0.9
    ).groupBy("lang").count().toPandas().set_index("lang")
    full = docs.groupBy("lang").count().toPandas().set_index("lang")
    en_rate = out.loc["en", "count"] / full.loc["en", "count"]
    assert en_rate < 0.45  # ~0.2 with small-sample noise
    others = [l for l in full.index if l != "en" and full.loc[l, "count"] >= 20]
    for l in others:
        assert out.loc[l, "count"] / full.loc[l, "count"] > 0.6  # ~0.9


def test_temperature_mixture_sample_properties(spark, docs):
    full = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    rates = sampling.temperature_mixture_rates(docs, "lang", 0.5).toPandas()
    rates = rates.set_index("lang")
    # the smallest stratum keeps everything (threshold == 2^32)
    smallest = full.idxmin()
    assert rates.loc[smallest, "keep_threshold"] == 1 << 32
    # thresholds decrease as stratum size increases
    ordered = rates.join(full.rename("n")).sort_values("n")
    assert (ordered["keep_threshold"].diff().dropna() <= 0).all()
    kept = (
        sampling.temperature_mixture_sample(docs, "doc_id", "lang", 0.5)
        .groupBy("lang").count().toPandas().set_index("lang")["count"]
    )
    # kept counts track n**0.5 (rescaled): ratio of kept fractions between
    # the largest and smallest stratum ~ sqrt(n_min/n_max)
    big = full.idxmax()
    got = (kept[big] / full[big]) / (kept[smallest] / full[smallest])
    want = (full[smallest] / full[big]) ** 0.5
    assert abs(got - want) < 0.25
    # partition-invariant row fate
    a = {r["doc_id"] for r in
         sampling.temperature_mixture_sample(docs, "doc_id", "lang").collect()}
    b = {r["doc_id"] for r in
         sampling.temperature_mixture_sample(
             docs.repartition(13), "doc_id", "lang").collect()}
    assert a == b
    # general-tau pow path: tau=1 keeps the natural mix (threshold 2^32)
    r1 = sampling.temperature_mixture_rates(docs, "lang", 1.0).toPandas()
    assert (r1["keep_threshold"] == 1 << 32).all()


def test_top_terms_and_doc_frequency(spark, docs):
    top = textagg.top_terms(docs, "text", 20).toPandas()
    assert len(top) == 20
    assert (top["n"].values == sorted(top["n"].values)[::-1]).all()
    dfq = textagg.doc_frequency(docs, "text", "doc_id").toPandas()
    # df can never exceed the corpus size, and every top term has df >= 1
    assert dfq["df"].max() <= 500
    merged = top.merge(dfq, on="term", how="left")
    assert merged["df"].notna().all()
    # occurrence count >= document frequency, always
    assert (merged["n"] >= merged["df"]).all()


def test_tfidf_top_terms_shape_and_scoring(spark, docs):
    out = textagg.tfidf_top_terms(docs, "text", "doc_id", k=3, min_df=2).toPandas()
    per_doc = out.groupby("doc_id").size()
    assert per_doc.max() <= 3
    assert out["rank"].between(1, 3).all()
    # a term present in every document has idf = ln(1) = 0 -> never a top
    # term unless nothing else qualifies; spot-check scores are finite
    assert out["tfidf"].notna().all() and (out["tfidf"] >= 0).all()


def test_sequence_packing_invariants(spark, docs):
    """Packing must conserve rows, respect the capacity for multi-doc
    bins (only an oversize single doc may exceed it), produce contiguous
    bin indices per shard, and be invariant under input partitioning."""
    from quality_filter.operators import packing

    cap = 256
    n_tokens = F.size(F.split(F.trim("text"), "[ ]+"))
    packed = packing.pack_sequences(docs, "doc_id", n_tokens, cap, 4).toPandas()
    assert len(packed) == 500 and packed["doc_id"].is_unique

    stats = (
        packed.groupby(["shard", "bin_idx"])
        .agg(n_docs=("doc_id", "size"), fill=("n_tokens", "sum"))
        .reset_index()
    )
    multi = stats[stats["n_docs"] > 1]
    assert (multi["fill"] <= cap).all()
    over = stats[stats["fill"] > cap]
    assert (over["n_docs"] == 1).all()  # only oversize singletons exceed
    for _, grp in stats.groupby("shard"):
        bins = sorted(grp["bin_idx"])
        assert bins == list(range(len(bins)))  # contiguous from 0

    repacked = packing.pack_sequences(
        docs.repartition(13), "doc_id", n_tokens, cap, 4
    ).toPandas()
    a = packed.sort_values("doc_id").reset_index(drop=True)
    b = repacked.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    util = packing.bin_stats(
        packing.pack_sequences(docs, "doc_id", n_tokens, cap, 4), cap
    ).toPandas()
    assert (util["utilization"] > 0).all()
    # greedy packing on this corpus should fill bins reasonably well
    assert util[util["n_docs"] > 1]["utilization"].mean() > 0.5


def test_sequence_packing_derived_shards_and_64_shard_invariants(spark, docs):
    """Scale-safe sharding: with n_shards omitted, the count derives
    from sum(n_tokens)/target so per-task memory is bounded regardless
    of corpus size; at 64 shards every global invariant (row
    conservation, capacity, contiguity, determinism) still holds."""
    from quality_filter.operators import packing

    cap = 256
    n_tokens = F.size(F.split(F.trim("text"), "[ ]+"))

    # derived shard count: sf0.01 docs total ~tens of thousands of
    # tokens; a 4k-token target must derive multiple bounded shards
    target = 4096
    total = docs.select(F.sum(n_tokens.cast("long"))).head()[0]
    expect = max(1, -(-int(total) // target))
    packed = packing.pack_sequences(
        docs, "doc_id", n_tokens, cap, target_tokens_per_shard=target
    )
    st = packing.shard_stats(packed).toPandas()
    assert len(st) == expect > 1
    # hash sharding is statistically even: no shard more than 3x target
    assert (st["shard_tokens"] <= 3 * target).all()
    assert st["n_docs"].sum() == 500

    # 64 explicit shards: identical global invariants
    p64 = packing.pack_sequences(docs, "doc_id", n_tokens, cap, 64).toPandas()
    assert len(p64) == 500 and p64["doc_id"].is_unique
    stats = (
        p64.groupby(["shard", "bin_idx"])
        .agg(n_docs=("doc_id", "size"), fill=("n_tokens", "sum"))
        .reset_index()
    )
    assert (stats[stats["n_docs"] > 1]["fill"] <= cap).all()
    assert (stats[stats["fill"] > cap]["n_docs"] == 1).all()
    for _, grp in stats.groupby("shard"):
        bins = sorted(grp["bin_idx"])
        assert bins == list(range(len(bins)))
    rep = packing.pack_sequences(docs.repartition(7), "doc_id", n_tokens, cap, 64).toPandas()
    pd.testing.assert_frame_equal(
        p64.sort_values("doc_id").reset_index(drop=True),
        rep.sort_values("doc_id").reset_index(drop=True),
    )


def test_stream_dedup_matches_batch_first_seen(spark, tmp_path):
    """Streaming dropDuplicatesWithinWatermark on the text fingerprint
    keeps exactly one row per distinct normalized text (all data within
    the watermark horizon here), matching batch dedup's group count."""
    from quality_filter.corpus import generate_pages, pages_spark_schema
    from quality_filter.operators.dedup import fingerprint_col
    from quality_filter.streaming.stream import stream_dedup_exact

    pages = generate_pages(120, seed=9).drop(columns=["cls"])
    dup = pages.copy()
    dup["url"] = dup["url"] + "#dup"
    both = pd.concat([pages, dup], ignore_index=True)  # every text twice
    src = str(tmp_path / "dd_src")
    spark.createDataFrame(both, schema=pages_spark_schema()).write.parquet(src)

    sdf = (
        spark.readStream.schema(pages_spark_schema())
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    deduped = stream_dedup_exact(sdf, "text", "warc_ts", delay="365 days")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "dd_out"))
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "dd_out"))
    batch = spark.createDataFrame(both, schema=pages_spark_schema())
    n_distinct = batch.select(fingerprint_col(F.col("text")).alias("fp")).distinct().count()
    assert got.count() == n_distinct
    # stream output carries no duplicate fingerprints
    assert got.select(fingerprint_col(F.col("text"))).distinct().count() == got.count()


def test_sketch_summary_accuracy(spark, docs):
    """The deliberate approximate surface: HLL distinct within its rsd
    envelope of the exact distinct count; approx quantiles within one
    rank-step of the exact percentile."""
    from quality_filter.metrics import sketch_summary

    got = sketch_summary(docs).head()
    exact_vocab = (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), "[ ]+")).alias("t"))
        .agg(F.countDistinct("t")).head()[0]
    )
    assert abs(got["vocab_approx"] - exact_vocab) / exact_vocab < 0.05
    exact = docs.agg(
        F.percentile("n_chars", 0.5).alias("p50"),
        F.percentile("n_chars", 0.99).alias("p99"),
    ).head()
    assert abs(got["len_p50"] - exact["p50"]) <= max(2, 0.02 * exact["p50"])
    assert abs(got["len_p99"] - exact["p99"]) <= max(2, 0.02 * exact["p99"])


def test_epoch_upsample_exact_structure(spark, docs):
    """Exact structural invariants of the epoch-replication multiset:
    integer strata replicate exactly; fractional strata replicate
    floor(e) times plus EXACTLY the hash_sample(frac(e)) member set;
    sub-1 strata degrade to a plain hash sample; everything else is
    untouched (copy_idx == 1).  Repartitioning must not change the
    multiset (content-addressed fate)."""
    epochs = {"src0": 2.5, "src2": 3.0, "src5": 0.4}
    base = docs.select("doc_id", "source")
    out = sampling.epoch_upsample(base, "doc_id", "source", epochs).toPandas()
    src = base.toPandas()

    per_doc = out.groupby(["source", "doc_id"]).size()
    n_src = src.groupby("source").size()

    # src2: exactly 3 copies of every doc, copy_idx = 1..3
    assert (per_doc.loc["src2"] == 3).all()
    assert len(per_doc.loc["src2"]) == n_src.loc["src2"]
    # src0: every doc has 2 or 3 copies; the 3-copy set IS hash_sample(0.5)
    assert per_doc.loc["src0"].isin([2, 3]).all()
    half = {
        r["doc_id"]
        for r in sampling.hash_sample(
            base.filter(F.col("source") == "src0"), "doc_id", 0.5
        ).collect()
    }
    assert set(per_doc.loc["src0"][per_doc.loc["src0"] == 3].index) == half
    # src5: 0-or-1 copies, members == hash_sample(0.4)
    assert per_doc.loc["src5"].isin([1]).all()
    forty = {
        r["doc_id"]
        for r in sampling.hash_sample(
            base.filter(F.col("source") == "src5"), "doc_id", 0.4
        ).collect()
    }
    assert set(per_doc.loc["src5"].index) == forty
    # default strata: exactly one copy each, copy_idx == 1
    others = out[~out["source"].isin(epochs)]
    assert (others["copy_idx"] == 1).all()
    assert len(others) == int(n_src.drop(list(epochs)).sum())

    # partition invariance: same multiset after a hostile repartition
    out2 = sampling.epoch_upsample(
        base.repartition(13).sortWithinPartitions(F.col("doc_id").desc()),
        "doc_id", "source", epochs,
    ).toPandas()
    key = lambda d: sorted(map(tuple, d[["doc_id", "source", "copy_idx"]].values.tolist()))
    assert key(out) == key(out2)


def test_stream_url_dedup_matches_batch_canonical_groups(spark, tmp_path):
    """Streaming canonical-URL dedup keeps exactly one row per canonical
    URL (all within the watermark horizon), matching the batch
    url_dedup group count — and never emits two rows with the same
    canonical key."""
    from quality_filter.corpus import generate_pages, pages_spark_schema
    from quality_filter.io.pages import canonical_url_col
    from quality_filter.streaming.stream import stream_url_dedup

    pages = generate_pages(100, seed=17).drop(columns=["cls"])
    v1 = pages.copy()
    v1["url"] = "https://www." + v1["url"].str.removeprefix("https://") + "?utm_source=x"
    v2 = pages.copy()
    v2["url"] = v2["url"] + "#frag"
    both = pd.concat([pages, v1, v2], ignore_index=True)  # 3 variants per page
    src = str(tmp_path / "ud_src")
    spark.createDataFrame(both, schema=pages_spark_schema()).write.parquet(src)

    sdf = (
        spark.readStream.schema(pages_spark_schema())
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    out = stream_url_dedup(sdf, "url", "warc_ts", delay="365 days")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "ud_out"))
        .option("checkpointLocation", str(tmp_path / "ud_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "ud_out"))
    batch = spark.createDataFrame(both, schema=pages_spark_schema())
    n_canon = batch.select(canonical_url_col().alias("c")).distinct().count()
    assert got.count() == n_canon == 100  # 3 variants collapse per page
    assert got.select(canonical_url_col().alias("c")).distinct().count() == got.count()


def test_weighted_hash_sample_bias_determinism_and_plan(spark):
    """Weight-4 rows win ~4x the slots of weight-1 rows; the sample is
    invariant under repartition; the plan is a top-k heap
    (TakeOrderedAndProject), not a global sort."""
    from quality_filter.operators.sampling import weighted_hash_sample

    n = 2000
    rows = [(i, 4 if i % 2 == 0 else 1) for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "weight"])
    out = weighted_hash_sample(df, "doc_id", "weight", 200)
    got = [(r["doc_id"], r["weight"]) for r in out.collect()]
    n4 = sum(1 for _, w in got if w == 4)
    # E[share of w=4] ~ 4/5; allow slack
    assert 0.65 <= n4 / 200 <= 0.95
    re = weighted_hash_sample(df.repartition(17), "doc_id", "weight", 200)
    assert sorted(got) == sorted((r["doc_id"], r["weight"]) for r in re.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cms_never_underestimates_and_merges(spark, docs):
    """Point queries >= true counts for every term; the top term's
    estimate is within the CMS error envelope; sketches of two corpus
    halves merge cell-wise into the full sketch."""
    from quality_filter.operators.textagg import (
        CMS_DEPTH, CMS_WIDTH, cms_estimate, term_cms_sketch,
    )

    full = term_cms_sketch(docs, "text").collect()
    true = {
        r["term"]: r["n"]
        for r in docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), "[ ]+")).alias("term")
        ).groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(true.values())
    for term, n in true.items():
        est = cms_estimate(full, term)
        assert est >= n
        assert est <= n + 2 * (2.0 * total / CMS_WIDTH)  # ~e/width envelope, slack x2

    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    def cells(rows):
        return {(r["sketch_row"], r["bucket"]): r["cnt"] for r in rows}
    ca, cb, cf = cells(term_cms_sketch(a, "text").collect()), cells(
        term_cms_sketch(b, "text").collect()), cells(full)
    merged = {}
    for k, v in list(ca.items()) + list(cb.items()):
        merged[k] = merged.get(k, 0) + v
    assert merged == cf


def test_encoding_noise_signals_hand_case(spark):
    """Mojibake signals on hand-built damaged text: FFFD and control
    counts exact, non-ASCII ratio counts codepoints (astral chars = 1),
    clean ASCII scores all-zero, empty text safe."""
    from quality_filter.functions import textstats as TS

    rows = [
        (1, "clean ascii text only"),
        (2, "bad � decode � here"),
        (3, "ctrl\x01chars\x02embedded"),
        (4, "café déjà vu"),          # 3 non-ASCII of 12 chars
        (5, "emoji \U0001F600 end"),  # astral char counts once
        (6, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_replacement"], r["n_ctrl"], r["nonascii_ratio"], r["encoding_suspect"]
        )
        for r in df.select("doc_id", *TS.encoding_noise_cols(F.col("text"))).collect()
    }
    assert got[1] == (0, 0, 0.0, False)
    assert got[2][0] == 2 and got[2][3] is True
    assert got[3][1] == 2 and got[3][3] is True
    assert got[4] == (0, 0, round(3 / 12, 6), False)
    assert got[5] == (0, 0, round(1 / 11, 6), False)
    assert got[6] == (0, 0, 0.0, False)


def test_oov_rate_hand_case_and_bounds(spark):
    """Vocabulary = top-2 by (count desc, term asc); OOV counted per
    occurrence; 0 ≤ n_oov ≤ n_tokens with the rate an exact division."""
    from quality_filter.operators import textagg

    rows = [
        (1, "a a b b c"),   # c is OOV at v=2
        (2, "a b"),
        (3, "z z z"),       # all OOV (z ties with c at count 3... see below)
    ]
    # counts: a=3, b=3, z=3, c=1 → top-2 by (n desc, term asc) = a, b
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in textagg.oov_rate(df, "text", "doc_id", v=2).collect()
    }
    assert got[1] == (5, 1, 0.2)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (3, 3, 1.0)
    # boundary tie determinism: v=3 must admit 'z'? no — ties break
    # term-asc among equal counts: a, b, c? counts c=1 < z=3 → z wins
    got3 = {
        r["doc_id"]: r["n_oov"]
        for r in textagg.oov_rate(df, "text", "doc_id", v=3).collect()
    }
    assert got3 == {1: 1, 2: 0, 3: 0}


def test_oov_rate_registry_conservation(spark):
    """Registry shape at sf0.01: every doc accounted, n_oov ≤ n_tokens,
    and with the small test vocabulary some OOV genuinely occurs."""
    import __spark_entry__ as E

    out = E.q_oov_rate_docs(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert len(out) == docs.count()
    assert all(0 <= r["n_oov"] <= r["n_tokens"] for r in out)
    assert any(r["n_oov"] > 0 for r in out)


def test_mojibake_repair_restores_genuine_double_encodes(spark):
    """For every mapped character, corrupting real text through the
    actual utf8→cp1252 mis-decode and repairing restores the original
    byte-for-byte; clean text passes through untouched; the repair
    chain and its pure-Python twin agree with Spark exactly."""
    from quality_filter.functions.textstats import (
        MOJIBAKE_MAP, mojibake_repair_col, mojibake_repair_py,
    )

    originals = [
        "café touché",                    # é
        "niño señor",                     # ñ
        "it’s “quoted” no wait — dash …",  # ’ “ — …
        "plain ascii stays plain ascii",
        "".join(good for _, good in MOJIBAKE_MAP),  # every mapped char
    ]
    rows = []
    for i, orig in enumerate(originals):
        corrupted = orig.encode("utf-8").decode("cp1252", errors="replace")
        rows.append((i, corrupted, orig))
    df = spark.createDataFrame([(i, c) for i, c, _ in rows], "i long, t string")
    got = {
        r["i"]: r["fixed"]
        for r in df.select("i", mojibake_repair_col(F.col("t")).alias("fixed")).collect()
    }
    for i, corrupted, orig in rows:
        # the mapped subset must be restored; unmapped artifacts (") stay
        want = mojibake_repair_py(corrupted)
        assert got[i] == want, (i, got[i], want)
        for bad, _ in MOJIBAKE_MAP:
            assert bad not in got[i]
    # full restoration holds whenever the original uses only mapped chars + ascii
    assert got[0] == originals[0]
    assert got[1] == originals[1]
    assert got[3] == originals[3]
    assert got[4] == originals[4]


def test_mojibake_repair_chain_order_is_stable(spark):
    """A repair may expose text that LOOKS like a later pattern; the
    ordered chain makes the outcome deterministic — pin one such case
    against the Python twin so reordering the table breaks loudly."""
    from quality_filter.functions.textstats import (
        mojibake_repair_col, mojibake_repair_py,
    )

    tricky = "Ãâ€™© weird Ã Ã©Ã© â€¦Ã¼"
    df = spark.createDataFrame([(1, tricky)], "i long, t string")
    got = df.select(mojibake_repair_col(F.col("t")).alias("f")).first()["f"]
    assert got == mojibake_repair_py(tricky)


def test_moore_lewis_identity_when_domain_is_whole_corpus(spark, docs):
    """Degenerate-domain pin: training the in-domain model on the WHOLE
    corpus makes both models the same exact-integer KN model, so
    bits_in == bits_gen BITWISE (same ints through the same expression
    tree), ml_score == 0, coverage == 1, and every scored doc is
    selected (0 <= 0 with full coverage)."""
    out = textagg.moore_lewis_scores(docs, "text", "doc_id", F.lit(True)).collect()
    assert out
    for r in out:
        assert r["n_in_model"] == r["n_bigrams"]
        assert r["coverage"] == 1.0
        assert r["bits_in"] == r["bits_gen"]
        assert r["ml_score"] == 0.0
        assert r["selected"] is True


def test_moore_lewis_selects_the_target_domain(spark, docs):
    """Moore-Lewis with lang='fr' as the in-domain corpus: support is
    exactly the kn_doc_surprisal support; the selection predicate holds
    row-by-row (2*n_in >= n AND raw diff <= 0); and the score separates
    the domain — most fr docs selected, few others."""
    out = textagg.moore_lewis_scores(
        docs, "text", "doc_id", F.col("lang") == "fr"
    ).collect()
    knd = textagg.kn_doc_surprisal(docs, "text", "doc_id").collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in knd}
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    for r in out:
        assert 0 <= r["n_in_model"] <= r["n_bigrams"]
        if r["selected"]:
            assert 2 * r["n_in_model"] >= r["n_bigrams"]
            assert r["ml_score"] <= 0.0
    fr = [r for r in out if langs[r["doc_id"]] == "fr"]
    other = [r for r in out if langs[r["doc_id"]] != "fr"]
    assert fr and other
    fr_rate = sum(r["selected"] for r in fr) / len(fr)
    other_rate = sum(r["selected"] for r in other) / len(other)
    assert fr_rate > 0.8 and other_rate < 0.2
    # in-domain docs are fully covered by their own model
    assert all(r["coverage"] == 1.0 for r in fr)


def test_ccnet_ppl_buckets_tercile_invariants(spark):
    """CCNet head/middle/tail cuts: per language (a) every scored doc
    gets exactly one bucket; (b) buckets are ORDERED — max head bin <
    min middle bin < min tail bin; (c) the head prefix is the SMALLEST
    bin prefix holding >= 1/3 of the language (cum(cut1) >= n/3 but
    cum(cut1 - 1) < n/3), same for head+middle at 2/3; (d) the scored
    set is exactly the kn_doc_surprisal support (>= 1 bigram)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = textagg.ccnet_ppl_buckets(docs, "text", "doc_id", "lang").collect()
    knd = textagg.kn_doc_surprisal(docs, "text", "doc_id").collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in knd}
    assert {r["ppl_bucket"] for r in out} <= {"head", "middle", "tail"}

    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in out:
        by_lang[r["lang"]].append(r)
    assert len(by_lang) > 1
    for lang, rows in by_lang.items():
        n = len(rows)
        bins = {b: [r["ppl_bin"] for r in rows if r["ppl_bucket"] == b]
                for b in ("head", "middle", "tail")}
        assert bins["head"], lang  # head is never empty
        if bins["middle"]:
            assert max(bins["head"]) < min(bins["middle"])
        if bins["tail"]:
            lo = min(bins["tail"])
            assert max(bins["head"]) < lo
            if bins["middle"]:
                assert max(bins["middle"]) < lo
        # minimality of the cuts, at bin granularity
        n_head = len(bins["head"])
        cut1_mass = sum(1 for r in rows if r["ppl_bin"] == max(bins["head"]))
        assert 3 * n_head >= n and 3 * (n_head - cut1_mass) < n
        n_hm = n_head + len(bins["middle"])
        if bins["middle"]:
            cut2_mass = sum(1 for r in rows if r["ppl_bin"] == max(bins["middle"]))
            assert 3 * n_hm >= 2 * n and 3 * (n_hm - cut2_mass) < 2 * n


def _hll_py(texts):
    """Engine-free HLL twin: same tokenizer, same md5 registers, same
    exact-integer harmonic sum, same literal alpha arithmetic."""
    import hashlib
    import math
    import re

    terms = set()
    regs = [0] * 256
    for t in texts:
        for term in re.split("[ ]+", t.lower().strip(" ")):
            terms.add(term)
            h = hashlib.md5(term.encode("utf-8")).hexdigest()
            b = int(h[:2], 16)
            v = int(h[2:17], 16)
            rho = 61 - v.bit_length() if v else 61
            regs[b] = max(regs[b], rho)
    s = sum(1 << (61 - m) for m in regs)
    v_empty = sum(1 for m in regs if m == 0)
    raw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 2305843009213693952.0 / float(s)
    if v_empty > 0 and raw <= 640.0:
        e = 256.0 * math.log(256.0 / float(v_empty))
    else:
        e = raw
    return len(terms), v_empty, e


def test_hll_vocab_estimate_matches_python_twin(spark, docs):
    """The engine's HLL row equals the engine-free twin on the real
    corpus (round-4 string compare on the estimate — both sides are the
    same IEEE expression over the same exact integers)."""
    r = textagg.hll_vocab_estimate(docs, "text").collect()[0]
    texts = [x["text"] for x in docs.select("text").collect()]
    n_exact, v_empty, e = _hll_py(texts)
    assert r["m"] == 256
    assert r["n_exact"] == n_exact and r["v_empty"] == v_empty
    assert f"{r['hll_estimate']:.4f}" == f"{round(e, 4):.4f}"


def test_hll_raw_branch_accuracy_on_wide_vocab(spark):
    """A 3000-term vocabulary forces the harmonic (raw) branch: the
    twin still matches and the estimate lands within the ~3.3/sqrt(256)
    error envelope (|rel| < 0.25 is loose but catches register bugs,
    which produce multiples-off estimates)."""
    texts = [" ".join(f"tok{j}" for j in range(i * 100, (i + 1) * 100)) for i in range(30)]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    r = textagg.hll_vocab_estimate(df, "text").collect()[0]
    n_exact, v_empty, e = _hll_py(texts)
    assert r["n_exact"] == n_exact == 3000
    assert f"{r['hll_estimate']:.4f}" == f"{round(e, 4):.4f}"
    assert e > 640.0  # raw branch, not linear counting
    assert abs(r["rel_error"]) < 0.25


def test_packed_docs_bpe_uses_trained_tokenizer_counts(spark):
    """The tokenizer-priced packing's n_tokens column must be exactly
    the trained-BPE per-doc counts (not the whitespace approximation),
    and every packing invariant holds under the BPE capacity."""
    import __spark_entry__ as E
    from quality_filter.operators import textagg

    SF = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = E.q_packed_docs_bpe(spark, SF).toPandas()
    want = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in textagg.bpe_token_counts(
            docs, "text", "doc_id", n_merges=E.BPE_TRAIN_MERGES
        ).collect()
    }
    assert len(packed) == docs.count() and packed["doc_id"].is_unique
    got = dict(zip(packed["doc_id"], packed["n_tokens"]))
    assert got == want
    stats = (
        packed.groupby(["shard", "bin_idx"])
        .agg(n_docs=("doc_id", "size"), fill=("n_tokens", "sum"))
        .reset_index()
    )
    multi = stats[stats["n_docs"] > 1]
    assert (multi["fill"] <= E.BPE_PACK_CAPACITY).all()
    assert (multi["n_docs"] > 0).any()  # capacity actually packs >1 doc


def test_zipf_fit_matches_python_least_squares(spark):
    """The integerized closed form equals an engine-free least-squares
    on the same floor(ln*1e9) grid (approx to dodge the Python-vs-JVM
    libm ulp; the cross-ENGINE contract is the DuckDB hash check), and
    a Zipf-ish corpus fits with negative slope and high r2."""
    import math

    from quality_filter.operators import textagg

    # frequencies ~ 1/rank: term t1 x 60, t2 x 30, t3 x 20, ... t6 x 10
    toks = []
    for i, n in enumerate([60, 30, 20, 15, 12, 10], start=1):
        toks += [f"t{i}"] * n
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    row = textagg.zipf_fit(df, "text").collect()[0]

    xs = [math.floor(math.log(r) * 10**9) for r in range(1, 7)]
    ys = [math.floor(math.log(n) * 10**9) for n in [60, 30, 20, 15, 12, 10]]
    k = 6
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert row["n_terms"] == 6
    assert abs(row["slope"] - round(slope, 6)) <= 1e-6
    assert row["slope"] < -0.8 and row["r2"] > 0.95
    assert abs(row["intercept"] - round(math.log(60), 4)) < 0.3


def test_zipf_fit_degenerate_single_term(spark):
    """One distinct term: zero x-variance -> slope/intercept/r2 NULL,
    never a divide-by-zero seam."""
    from quality_filter.operators import textagg

    df = spark.createDataFrame([(1, "a a a a")], "doc_id long, text string")
    row = textagg.zipf_fit(df, "text").collect()[0]
    assert row["n_terms"] == 1
    assert row["slope"] is None and row["intercept"] is None and row["r2"] is None


def test_heaps_fit_growth_and_invariants(spark):
    """A corpus whose vocabulary keeps growing fits with 0 < beta <= 1
    and high r2; a one-doc corpus has a single checkpoint pair ->
    zero x-variance -> NULL fit."""
    import random

    from quality_filter.operators import textagg

    rnd = random.Random(7)
    rows = []
    for d in range(64):
        # each doc introduces fresh terms plus repeats of old ones
        toks = [f"w{rnd.randrange(0, 10 + 4 * d)}" for _ in range(30)]
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = textagg.heaps_fit(df, "text", "doc_id").collect()[0]
    assert row["n_points"] >= 5
    assert 0.0 < row["slope"] <= 1.0 and row["r2"] > 0.8

    one = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    r1 = textagg.heaps_fit(one, "text", "doc_id").collect()[0]
    # max_id = 0 -> checkpoints {1}: one point -> zero variance
    assert r1["n_points"] == 1 and r1["slope"] is None

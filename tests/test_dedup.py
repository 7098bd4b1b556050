"""Dedup operator tests: hot-band-key skew mitigation (star edges),
connected components vs a union-find ground truth, survivors, and the
engine-portable simhash twin.  The value-level contracts are ALSO pinned
by the DuckDB registry oracles; what lives here is the scale-shape and
adversarial-input behavior the oracles can't see."""

import hashlib

import pytest
from pyspark.sql import functions as F

from quality_filter.operators import dedup

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

SF = "/root/testdata/sf0.01"


def _bands(df):
    sig = dedup.minhash_signature(df, "text", "doc_id", dedup.DEFAULT_NUM_HASHES)
    return dedup.lsh_bands(sig, "doc_id", dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_BAND_SIZE)


def test_star_edges_linear_under_hot_band_key(spark):
    """The skew demo the LSH join needs at 100 TB: N identical docs
    collide into ONE bucket per band.  Pair enumeration is O(N^2)
    (~4.5M pairs here); star edges stay linear (N-1) and the whole
    cluster resolves through one partial-agg min + an equi-join."""
    n_dup, n_uniq = 3000, 50
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup_text) for i in range(n_dup)] + [
        (n_dup + i, f"unique document number {i} with its own distinct words {i * 7} {i * 13}")
        for i in range(n_uniq)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    bands = _bands(docs)
    edges = dedup.star_edges(bands, "doc_id")
    # all 4 bands map the duplicates to the same (band, key) bucket with
    # the same min -> exactly n_dup - 1 distinct edges for the hot cluster
    edge_rows = edges.collect()
    hot = [r for r in edge_rows if r["dst"] == 0]
    assert len(hot) == n_dup - 1
    assert len(edge_rows) < n_dup + 4 * n_uniq  # linear, nowhere near N^2

    comp = dedup.near_dup_components(bands, "doc_id")
    hot_comp = comp.filter(F.col("comp") == 0).count()
    assert hot_comp == n_dup
    survivors = dedup.near_dup_survivors(docs, "doc_id", comp)
    surv = {r["doc_id"] for r in survivors.collect()}
    assert 0 in surv and len(surv & set(range(n_dup))) == 1


def test_altstar_components_on_path_star_mix(spark):
    """Alternating large/small-star must resolve a 100k-node adversarial
    graph — one 50k-node path (worst case for label propagation), one
    30k-leaf star (worst case for per-bucket skew), and 2-node pairs —
    within ~log2(n) rounds (16 for the 50k path), with every component
    labeled by its min node."""
    path_n, star_n, pairs = 50_000, 30_000, 5_000
    edges = (
        [(i, i + 1) for i in range(path_n - 1)]
        + [(100_000, 100_001 + i) for i in range(star_n)]
        + [(200_000 + 2 * i, 200_001 + 2 * i) for i in range(pairs)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(16)
    comp = dedup.connected_components_altstar(df, max_iters=17).toPandas()
    assert len(comp) == path_n + star_n + 1 + 2 * pairs
    got = dict(zip(comp["x"], comp["comp"]))
    assert all(got[i] == 0 for i in range(path_n))
    assert all(got[100_000 + i] == 100_000 for i in range(star_n + 1))
    assert all(
        got[200_000 + 2 * i] == got[200_001 + 2 * i] == 200_000 + 2 * i
        for i in range(pairs)
    )


def test_components_match_union_find(spark):
    """Star-edge min-label components == union-find over the full pair
    list (clique edges) on the real sf0.01 corpus."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bands = _bands(docs)
    pairs = [
        (r["id_a"], r["id_b"])
        for r in dedup.near_dup_pairs(bands, "doc_id").collect()
    ]
    parent: dict = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["comp"]
        for r in dedup.near_dup_components(bands, "doc_id").collect()
    }
    assert got == want and len(got) > 0


def test_simhash_near_dup_recall_is_exact(spark):
    """Pigeonhole guarantee: with 4 bands of 16 bits, every pair within
    hamming <= 3 shares at least one exact band — the banded equi-join
    must find EXACTLY the brute-force pair set (unlike MinHash LSH,
    whose recall is probabilistic)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sim = dedup.simhash_md5(docs, "text", "doc_id")
    rows = sim.collect()
    vals = {r["doc_id"]: int(r["simhash"], 16) for r in rows}
    ids = sorted(vals)
    want = {
        (a, b): bin(vals[a] ^ vals[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup(sim, "doc_id", max_hamming=3).collect()
    }
    assert got == want and len(got) > 0


def test_minhash_per_row_expr_matches_aggregated_signature(spark):
    """The stream-compatible per-row signature (array_min over transform)
    must equal the batch explode+groupBy signature column-for-column,
    including NULLs for shingle-less docs — same md5 universe, same MIN."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    k = dedup.DEFAULT_NUM_HASHES
    agg = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(k))
        for r in dedup.minhash_signature(docs, "text", "doc_id", k).collect()
    }
    sh = dedup.shingles(F.col("text"), 3)
    per_row = {
        r["doc_id"]: tuple(r["mh"])
        for r in docs.select(
            "doc_id", dedup.minhash_from_shingles(sh, k).alias("mh")
        ).collect()
    }
    assert per_row == agg and len(agg) == 500

    # band keys: per-row entries == lsh_bands rows
    sig = dedup.minhash_signature(docs, "text", "doc_id", k)
    want = {
        (r["doc_id"], r["band_idx"], r["band_key"])
        for r in dedup.lsh_bands(sig, "doc_id", k).collect()
    }
    got = {
        (r["doc_id"], r["b"]["band_idx"], r["b"]["band_key"])
        for r in docs.select(
            "doc_id",
            F.explode(
                dedup.band_entries_from_signature(dedup.minhash_from_shingles(sh, k), k)
            ).alias("b"),
        ).collect()
    }
    assert got == want


def test_simhash_near_dup_rejects_unsound_parameters(spark):
    """The pigeonhole exactness precondition (max_hamming < n_bands) is
    validated at entry — a silent partial-recall configuration would
    contradict the docstring's exactness promise."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    sim = dedup.simhash_md5(docs, "text", "doc_id")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_dup(sim, "doc_id", max_hamming=4)  # 4 bands default
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_near_dup(sim, "doc_id", max_hamming=1, band_chars=3)
    # boundary: max_hamming = n_bands - 1 stays legal
    dedup.simhash_near_dup(sim, "doc_id", max_hamming=7, band_chars=2)


def _py_simhash(text: str) -> str:
    toks = {t for t in text.strip(" ").split()} or {""}
    votes = [0] * 64
    for tok in toks:
        hx = hashlib.md5(tok.encode()).hexdigest()
        w0, w1 = int(hx[:8], 16), int(hx[8:16], 16)
        for i in range(64):
            w = w0 if i < 32 else w1
            votes[i] += 1 if (w >> (i % 32)) & 1 else -1
    return "".join(
        "0123456789abcdef"[
            sum(1 << (3 - k) for k in range(4) if votes[4 * n + k] > 0)
        ]
        for n in range(16)
    )


def test_simhash_md5_matches_python_twin(spark):
    texts = [
        "the quick brown fox", "the quick brown fox", "the quick brown fo x",
        "completely different content here", "a", "a b c d e f g",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_md5(df, "text", "doc_id").collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_simhash(t), (i, t)
    assert got[0] == got[1]  # identical text -> identical fingerprint

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    # one-character edit stays close; different content is far
    assert ham(got[0], got[2]) < ham(got[0], got[3])


def test_reliable_checkpoint_mode_identical_labels(spark):
    """Cluster-mode checkpoint seam (round-3 verdict item 7): with a
    spark.checkpoint dir configured, the component loop switches from
    executor-local to RELIABLE checkpointing (state written to the
    fault-tolerant dir, surviving executor loss) and must emit labels
    identical to local mode; auto-detect (reliable=None) must pick
    reliable iff the dir is set; reliable=True without a dir raises."""
    import glob
    import tempfile

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = dedup.minhash_signature(docs, "text", "doc_id")
    edges = dedup.star_edges(dedup.lsh_bands(sig, "doc_id"), "doc_id")

    local = sorted(map(tuple, dedup.connected_components_altstar(
        edges, reliable_checkpoint=False).collect()))

    assert sc.getCheckpointDir() is None
    with pytest.raises(ValueError, match="setCheckpointDir"):
        dedup.connected_components_altstar(edges, reliable_checkpoint=True)

    with tempfile.TemporaryDirectory(prefix="qf_ckpt_") as d:
        sc.setCheckpointDir(d)
        try:
            # auto-detect: dir set -> reliable; labels identical to local
            auto = sorted(map(tuple, dedup.connected_components_altstar(edges).collect()))
            rel = sorted(map(tuple, dedup.connected_components_altstar(
                edges, reliable_checkpoint=True).collect()))
            assert auto == local and rel == local and local
            # reliable mode really wrote checkpoint state to the dir
            assert glob.glob(f"{d}/*/rdd-*"), "no reliable checkpoint written"
        finally:
            # leave the shared session in executor-local mode for the rest
            # of the suite (checkpointDir is private[spark]: reset via JVM)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )
            assert sc.getCheckpointDir() is None


def test_segment_dedup_first_occurrence_and_reassembly(spark):
    """Hand-built corpus with known duplicate 10-word segments: the
    surviving copy is always the min (doc_id, seg_idx) occurrence, docs
    reassemble in segment order, and a fully-duplicated doc empties."""
    seg_a = "a b c d e f g h i j"          # one exact 10-word segment
    seg_b = "k l m n o p q r s t"
    tail = "unique tail words"
    rows = [
        (1, f"{seg_a} {seg_b}"),           # both segments first seen here
        (2, f"{seg_b} {seg_a}"),           # both already seen -> empty
        (3, f"{seg_a} {tail}"),            # seg_a dup, short tail survives
        (4, tail),                          # dup of doc 3's tail segment
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.segment_dedup(docs, "text", "doc_id").collect()}
    assert out[1]["text_dedup"] == f"{seg_a} {seg_b}"
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (2, 2)
    assert out[2]["text_dedup"] == "" and out[2]["n_kept"] == 0
    assert out[3]["text_dedup"] == tail  # seg_a removed, tail kept
    assert out[4]["text_dedup"] == "" and out[4]["n_segs"] == 1


def test_segment_dedup_within_doc_repeats(spark):
    """A segment repeated INSIDE one doc keeps only its first position."""
    seg = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame([(7, f"{seg} {seg} {seg}")], ["doc_id", "text"])
    r = dedup.segment_dedup(docs, "text", "doc_id").collect()[0]
    assert r["text_dedup"] == seg
    assert (r["n_segs"], r["n_kept"]) == (3, 1)


def test_segment_dedup_plan_has_no_join_or_window_on_occurrences(spark):
    """Scale-shape pin: the first-occurrence selection is a partial-agg
    min(struct), NOT a window sort or an occurrence self-join — the plan
    between the scan and the reassembly agg must contain no Window node,
    and its only join is the final doc-level left join against `base`
    (broadcast/shuffle of one row per doc, not per segment)."""
    docs = spark.createDataFrame([(1, "a b c"), (2, "d e f")], ["doc_id", "text"])
    plan = dedup.segment_dedup(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Join") <= 1


def test_incremental_near_dup_flags_match_full_recompute(spark):
    """Persisted-index path == in-memory path: write the accepted
    corpus's bands with write_band_index, read them back, and flag the
    new batch — identical rows either way, and the index parquet scan
    with a band_idx predicate shows PartitionFilters (per-band pruning)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bands = _bands(docs)
    new_b = bands.filter(F.col("doc_id") % 5 == 0)
    idx_b = bands.filter(F.col("doc_id") % 5 != 0)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/band_index"
        dedup.write_band_index(idx_b, path)
        persisted = dedup.read_band_index(spark, path)
        mem = sorted(map(tuple, dedup.incremental_near_dup_flags(new_b, idx_b, "doc_id").collect()))
        dsk = sorted(map(tuple, dedup.incremental_near_dup_flags(new_b, persisted, "doc_id").collect()))
        assert mem == dsk and len(mem) > 0
        pruned = persisted.filter(F.col("band_idx") == 0)
        explained = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in explained and "band_idx" in explained


def test_incremental_near_dup_greedy_semantics(spark):
    """The documented conservative contract: b hits the index; c collides
    only with b (batch hit).  Greedy flags BOTH b and c — c is dropped
    even though sequential insertion (which never indexes the dropped b)
    would keep it."""
    t_idx = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    t_c = "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    rows = [
        (10, t_idx),           # accepted corpus
        (20, t_idx),           # new: index hit
        (21, t_c),             # new: first of the c-pair
        (25, t_c),             # new: batch hit vs 21 only
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bands = _bands(docs)
    flags = {
        r["doc_id"]: (r["hit_index"], r["hit_batch"])
        for r in dedup.incremental_near_dup_flags(
            bands.filter(F.col("doc_id") >= 20),
            bands.filter(F.col("doc_id") < 20),
            "doc_id",
        ).collect()
    }
    assert flags[20] == (True, False)
    assert flags[25] == (False, True)
    assert 21 not in flags  # first occurrence in batch, no index hit


def test_keep_first_units_col_order_and_idempotence(spark):
    """First occurrence survives in original order; empty units dedup
    too; a second application is a no-op (idempotent)."""
    rows = [
        (1, "b a b c a a d"),
        (2, "x x x"),
        (3, "solo"),
        (4, "a  a b"),  # double space -> empty unit, deduped like any unit
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    once = F.array_join(dedup.keep_first_units_col(F.col("text")), " ")
    out = {r["doc_id"]: r["t"] for r in df.select("doc_id", once.alias("t")).collect()}
    assert out[1] == "b a c d"
    assert out[2] == "x"
    assert out[3] == "solo"
    assert out[4] == "a  b"  # kept units: ['a', '', 'b']
    twice = F.array_join(
        dedup.keep_first_units_col(F.array_join(dedup.keep_first_units_col(F.col("text")), " ")),
        " ",
    )
    out2 = {r["doc_id"]: r["t"] for r in df.select("doc_id", twice.alias("t")).collect()}
    assert out2 == out


def test_keep_first_units_plan_is_narrow(spark):
    """Zero-shuffle pin: no Exchange and no Python crossing in the plan."""
    df = spark.createDataFrame([(1, "a b a")], ["doc_id", "text"])
    plan = (
        df.select(dedup.keep_first_units_col(F.col("text")).alias("k"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_segment_containment_hand_built(spark):
    """Quote subsets are caught and oriented; equal distinctive sets emit
    only larger->smaller; docs sharing only PART of their segments do
    not contain each other."""
    s1 = "alpha beta gamma delta"
    s2 = "epsilon zeta eta theta"
    s3 = "iota kappa lambda mu"
    rows = [
        (1, f"{s1} {s2} {s3}"),   # container
        (2, f"{s2}"),             # contained in 1 (and in 4)
        (3, f"{s1} {s3}"),        # contained in 1
        (4, f"{s2}"),             # exact dup of 2 -> mutual; only 4->2
        (5, f"{s1} own unique words here"),  # partial overlap only
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["contained_id"], r["container_id"])
        for r in dedup.segment_containment_pairs(docs, "text", "doc_id", k=4).collect()
    }
    assert (2, 1) in out and (3, 1) in out and (4, 1) in out
    # 2 and 4 have EQUAL distinctive sets: mutual containment emits only
    # the larger-id -> smaller-id direction
    assert (4, 2) in out and (2, 4) not in out
    assert (5, 1) not in out and (1, 5) not in out


def test_segment_containment_hot_segment_cap(spark):
    """A segment hotter than max_df is excluded from candidates AND
    coverage: a doc made ONLY of boilerplate has no distinctive
    segments and appears in no pair."""
    boiler = "same four boring words"
    rows = [(i, boiler) for i in range(10)] + [
        (100, f"{boiler} fresh unique closing segment"),
        (101, f"{boiler} fresh unique closing segment and much more content here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["contained_id"], r["container_id"])
        for r in dedup.segment_containment_pairs(
            docs, "text", "doc_id", k=4, max_df=5
        ).collect()
    }
    # boilerplate-only docs (0..9) never appear on either side
    assert all(a >= 100 and b >= 100 for a, b in out)


def test_lsh_param_planner_monotone_and_consistent_with_default():
    """Higher target thresholds demand longer bands (selectivity), and
    the repo's frozen 8-hash/2-per-band configuration is exactly what
    the planner picks for a mid-range (0.5) threshold."""
    rs = [dedup.plan_lsh_params(t, 128)[1] for t in (0.2, 0.5, 0.8, 0.9)]
    assert rs == sorted(rs)
    assert dedup.plan_lsh_params(0.5, 8) == (4, 2) == (
        dedup.DEFAULT_NUM_HASHES // dedup.DEFAULT_BAND_SIZE, dedup.DEFAULT_BAND_SIZE
    )
    # S-curve sanity: collision prob is monotone in s and hits both ends
    ps = [dedup.lsh_collision_prob(s / 10, 4, 2) for s in range(11)]
    assert ps == sorted(ps) and ps[0] == 0.0 and abs(ps[-1] - 1.0) < 1e-12

# ---------------------------------------------------------------------------
# ExactSubstr span excision
# ---------------------------------------------------------------------------

def _spans(spark, rows, L=4):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["dedup_fp"])
        for r in dedup.excise_duplicate_spans(df, "text", "doc_id", span_len=L).collect()
    }


def test_span_excision_keeps_first_occurrence(spark):
    """Doc 2 copies a 5-token passage from doc 1 at a different offset:
    the passage (and only it) is excised from doc 2; doc 1 untouched."""
    passage = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"{passage} tail1 tail2 tail3"),
        (2, f"head1 head2 head3 {passage} end1 end2"),
    ]
    got = _spans(spark, rows, L=5)
    assert got[1][1] == 0                      # first occurrence intact
    n2, rem2, _ = got[2]
    assert (n2, rem2) == (10, 5)               # exactly the copied span gone
    # surviving text of doc 2 = everything but the passage
    import hashlib
    want = "head1 head2 head3 end1 end2"
    assert got[2][2] == hashlib.md5(want.encode()).hexdigest()


def test_span_excision_self_repetition_within_doc(spark):
    """A doc repeating its own 4-token phrase keeps only the first copy
    (self-repetition counts, per ExactSubstr)."""
    rows = [(1, "a b c d x a b c d")]
    got = _spans(spark, rows, L=4)
    n, rem, fp = got[1]
    assert (n, rem) == (9, 4)
    import hashlib
    assert fp == hashlib.md5(b"a b c d x").hexdigest()


def test_span_excision_short_docs_untouched(spark):
    rows = [(1, "a b c"), (2, "a b c")]  # 3 tokens < span_len=4
    got = _spans(spark, rows, L=4)
    assert got[1][1] == 0 and got[2][1] == 0


def test_span_excision_exact_duplicate_fully_removed(spark):
    rows = [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6")]
    got = _spans(spark, rows, L=4)
    import hashlib
    assert got[2][1] == 6 and got[2][2] == hashlib.md5(b"").hexdigest()
    assert got[1][1] == 0


def test_span_excision_partition_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, dedup.excise_duplicate_spans(docs, "text", "doc_id").collect()))
    b = sorted(
        map(
            tuple,
            dedup.excise_duplicate_spans(
                docs.repartition(17), "text", "doc_id"
            ).collect(),
        )
    )
    assert a == b and len(a) == 500


def test_tfidf_cosine_pairs_hand_built(spark):
    """Weighted cosine on a hand corpus: identical docs hit 1.0; docs
    sharing distinctive vocabulary pair above threshold even with word
    order broken (the paraphrase case shingles miss); docs sharing only
    capped-hot terms never pair; cosine matches a numpy recomputation
    of the exact-integer spec."""
    import math

    rows = [
        (1, "quantum flux capacitor drives temporal resonance"),
        (2, "temporal resonance drives quantum flux capacitor"),  # reorder of 1
        (3, "quantum flux capacitor drives temporal resonance"),  # exact dup of 1
        (4, "gardening tips for spring tomato seedlings today"),
        (5, "gardening tips for winter rose pruning today"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dedup.tfidf_cosine_pairs(
            docs, "text", "doc_id", max_df=50, min_cos=0.2
        ).collect()
    }
    # reordered and exact-dup docs share ALL weighted terms -> cos 1.0
    assert got[(1, 2)] == 1.0 and got[(1, 3)] == 1.0 and got[(2, 3)] == 1.0
    # 4/5 share common terms but each holds 3 distinctive singletons
    # that count toward its norm -> well below 1.0
    assert (4, 5) in got and 0.2 <= got[(4, 5)] < 0.5
    # cross-topic docs never pair
    assert not any({a, b} & {1, 2, 3} and {a, b} & {4, 5} for a, b in got)
    # numpy recomputation of the exact-integer spec for the (4, 5) pair
    toks4, toks5 = rows[3][1].split(), rows[4][1].split()
    n = 5
    vocab = sorted(set(toks4) | set(toks5))
    dfreq = {
        t: sum(t in r[1].split() for r in rows) for t in vocab
    }
    kept = [t for t in vocab if dfreq[t] <= 50]
    w4 = {t: toks4.count(t) * ((n * 1_000_000) // dfreq[t]) for t in kept}
    w5 = {t: toks5.count(t) * ((n * 1_000_000) // dfreq[t]) for t in kept}
    dot = sum(w4.get(t, 0) * w5.get(t, 0) for t in kept)
    exp = dot / (
        math.sqrt(sum(v * v for v in w4.values()))
        * math.sqrt(sum(v * v for v in w5.values()))
    )
    assert got[(4, 5)] == round(exp, 6)


def test_tfidf_cosine_hot_term_cap_excludes_stopword_only_overlap(spark):
    """Docs whose only common vocabulary is hotter than max_df share no
    weighted terms and must not pair."""
    hot = "the " * 3
    rows = [(i, hot + f"unique{i} filler{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.tfidf_cosine_pairs(
        docs, "text", "doc_id", max_df=5, min_cos=0.01
    ).collect()
    assert out == []


def test_cross_source_dup_matrix_conserves_pairs(spark):
    """Matrix cells sum to exactly the number of near-dup pairs; keys
    are canonicalized (source_a <= source_b) so the matrix is upper
    triangular; off-diagonal mass = cross-source leakage."""
    import __spark_entry__ as E

    n_pairs = E.q_near_dup_pairs(spark, SF).count()
    rows = E.q_cross_source_dup_matrix(spark, SF).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    assert all(r["source_a"] <= r["source_b"] for r in rows)
    assert n_pairs > 0


def test_exact_jaccard_pairs_global_matches_bruteforce_twin(spark):
    """exact_jaccard_pairs_global (inverted-index enumeration over the
    df-capped shingle universe) must equal the brute-force all-pairs
    Jaccard over the same universe — including a boilerplate shingle
    that the cap removes from sizes AND intersections alike."""
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),          # high overlap with 1
        (3, "p q r s t u v w"),
        (4, "p q r s t u v w"),           # exact dup of 3
        (5, "totally different words here now"),
    ]
    # boilerplate: one shared shingle across EVERY doc, capped out at max_df=4
    rows = [(i, t + " zz zz2 zz3") for i, t in rows]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.exact_jaccard_pairs_global(
            docs, "text", "doc_id", shingle_n=3, threshold=0.05, max_df=4
        ).collect()
    }

    def sh_set(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh_set(t) for i, t in rows}
    from collections import Counter

    df_counts = Counter(s for v in sets.values() for s in v)
    capped = {i: {s for s in v if df_counts[s] <= 4} for i, v in sets.items()}
    want = {}
    ids = sorted(capped)
    for i in ids:
        for j in ids:
            if i < j and capped[i] and capped[j]:
                inter = len(capped[i] & capped[j])
                if inter:
                    jac = inter / len(capped[i] | capped[j])
                    if jac >= 0.05:
                        want[(i, j)] = jac
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)
    # the capped boilerplate shingle created no pair on its own: doc 5
    # shares only 'zz zz2 zz3'-window shingles with the others
    assert not any(5 in k for k in got)


def test_best_survivors_keep_longest_with_min_id_tiebreak(spark):
    """Quality-aware survivor selection: the cluster representative is
    the argmax(rank) member with ties broken by MIN id — different from
    the min-id form whenever a longer copy has a larger id, identical
    survivor COUNT always (one per cluster + all unclustered)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),                       # cluster A, short
        (1, base + " extra tail words"),  # cluster A, longest -> winner
        (2, base),                       # cluster A, short
        (10, "zz aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq"),
        (11, "zz aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq"),
        # cluster B: exact ties on length -> min id 10 wins
        (20, "a lone unique document with completely distinct vocabulary"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bands = _bands(docs)
    comp = dedup.near_dup_components(bands, "doc_id")
    comp_ids = {r["doc_id"] for r in comp.collect()}
    assert {0, 1, 2, 10, 11} <= comp_ids and 20 not in comp_ids

    best = dedup.near_dup_best_survivors(
        docs, "doc_id", comp, F.length("text").cast("long")
    )
    got = {r["doc_id"] for r in best.collect()}
    assert got == {1, 10, 20}

    # min-id form differs on cluster A (picks 0), agrees on count
    first = dedup.near_dup_survivors(docs, "doc_id", comp)
    got_first = {r["doc_id"] for r in first.collect()}
    assert got_first == {0, 10, 20}
    assert len(got_first) == len(got)


def test_boilerplate_scrub_removes_every_hot_occurrence(spark):
    """Boilerplate scrub vs segment dedup: the hot segment vanishes from
    ALL docs (keep-first keeps one copy); cold docs pass through
    byte-identically; a threshold above the max df is a no-op."""
    banner = "accept all cookies to continue reading this site now ok"
    assert len(banner.split()) == 10  # one exact segment at k=10
    body = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (0, banner + " " + body),
        (1, banner + " kilo lima mike november oscar papa quebec romeo sierra tango"),
        (2, body),  # cold doc, no hot segment
        (3, banner),  # doc that is ONLY boilerplate
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in dedup.boilerplate_segment_scrub(
            docs, "text", "doc_id", k=10, min_df=3
        ).collect()
    }
    assert out[0] == (body, 1)
    assert out[1][1] == 1 and banner not in out[1][0]
    assert out[2] == (body, 0)
    assert out[3] == ("", 1)

    # keep-first sibling keeps exactly one banner copy corpus-wide
    sd = dedup.segment_dedup(docs, "text", "doc_id", k=10)
    kept_banners = sum(
        r["text_dedup"].count(banner) for r in sd.collect()
    )
    assert kept_banners == 1

    # threshold above max df -> nothing removed, texts round-trip
    noop = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in dedup.boilerplate_segment_scrub(
            docs, "text", "doc_id", k=10, min_df=99
        ).collect()
    }
    assert all(n == 0 for _, n in noop.values())
    assert noop[0][0] == rows[0][1] and noop[3][0] == banner


def test_bbit_minhash_matches_python_twin_on_engine_signatures(spark):
    """b-bit estimate pins: (a) the low-2-bit extraction + collision
    correction equals a Python twin computed from the ENGINE's own
    signatures (bitwise, via round-6 string compare); (b) an identical
    pair estimates 1.0 under both full and b-bit; (c) est_b2 is a
    deterministic function of (k_eq_b2) with k_eq_b2 >= k_eq_full
    (equal hashes always share low bits)."""
    import __spark_entry__ as E

    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in E.queries()["bbit_minhash_estimate"](spark, SF).collect()
    }
    assert out
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    k = dedup.DEFAULT_NUM_HASHES
    sig = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(k)]
        for r in dedup.minhash_signature(docs, "text", "doc_id").collect()
    }

    def b2(h):
        return int(h[31], 16) % 4

    for (a, b), r in out.items():
        sa, sb = sig[a], sig[b]
        k_full = sum(x == y for x, y in zip(sa, sb))
        k_b2 = sum(b2(x) == b2(y) for x, y in zip(sa, sb))
        assert r["k_eq_full"] == k_full and r["k_eq_b2"] == k_b2
        assert k_b2 >= k_full
        want = round((k_b2 / k - 0.25) / 0.75, 6)
        assert f"{r['jaccard_est_b2']:.6f}" == f"{want:.6f}"
    # identical docs -> both estimators saturate at 1.0
    two = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    s2 = dedup.minhash_signature(two, "text", "doc_id").collect()
    r1, r2 = sorted(s2, key=lambda r: r["doc_id"])
    assert all(r1[f"mh{i}"] == r2[f"mh{i}"] for i in range(k))

"""PageRank exactness, BM25 retrieval, BPE pair counts, ORC fidelity."""

from collections import Counter, defaultdict

import math

import pytest
from pyspark.sql import functions as F

from quality_filter.operators import graph, textagg

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _pr_twin(edges, iters, r0=graph.PAGERANK_R0, dn=graph.DAMP_NUM, dd=graph.DAMP_DEN):
    """Pure-Python twin of the integer PageRank recurrence."""
    outw = defaultdict(int)
    for s, _, w in edges:
        outw[s] += w
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    rank = {n: r0 for n in nodes}
    base = (dd - dn) * r0 // dd
    for _ in range(iters):
        nxt = {n: base for n in nodes}
        for s, d, w in edges:
            nxt[d] += (dn * rank[s] * w) // (dd * outw[s])
        rank = nxt
    return rank


EDGES = [
    (1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 1), (4, 3, 5), (4, 2, 1), (2, 4, 1),
]


def test_pagerank_matches_python_twin_exactly(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long, w long")
    for iters in (1, 3):
        got = {
            r["node"]: r["rank_micro"]
            for r in graph.pagerank(e, iters=iters).collect()
        }
        assert got == _pr_twin(EDGES, iters)


def test_pagerank_partition_invariant_and_bounded(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long, w long")
    a = sorted(map(tuple, graph.pagerank(e, iters=3).collect()))
    b = sorted(map(tuple, graph.pagerank(e.repartition(7), iters=3).collect()))
    assert a == b
    base = (graph.DAMP_DEN - graph.DAMP_NUM) * graph.PAGERANK_R0 // graph.DAMP_DEN
    ranks = dict(a)
    # every node keeps at least the teleport mass; total mass never grows
    assert all(v >= base for v in ranks.values())
    assert sum(ranks.values()) <= len(ranks) * graph.PAGERANK_R0
    # node 3 receives the most in-weight (1+2+5) and must out-rank the
    # pure-source node 4 (in-weight 1)
    assert ranks[3] > ranks[4]


def test_edge_weights_collapses_multiplicity(spark):
    inst = spark.createDataFrame(
        [(1, 2)] * 5 + [(1, 3)] * 2 + [(2, 3)], "src long, dst long"
    )
    got = {(r["src"], r["dst"]): r["w"] for r in graph.edge_weights(inst).collect()}
    assert got == {(1, 2): 5, (1, 3): 2, (2, 3): 1}


def _bm25_twin(rows, terms, k1=textagg.BM25_K1, b=textagg.BM25_B):
    toks = {i: t.lower().strip().split() for i, t in rows}
    nd = float(len(rows))
    avgdl = sum(len(v) for v in toks.values()) / len(rows)
    dfc = Counter(t for v in toks.values() for t in set(v) if t in terms)
    out = {}
    for i, v in toks.items():
        tfs = Counter(t for t in v if t in terms)
        if not tfs:
            continue
        s = 0.0
        for t in sorted(terms):
            if t not in tfs:
                continue
            tf, df, dl = float(tfs[t]), float(dfc[t]), float(len(v))
            s += math.log((nd - df + 0.5) / (df + 0.5) + 1.0) * (
                (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
            )
        out[i] = (s, len(tfs))
    return out


def test_bm25_matches_python_twin(spark):
    rows = [
        (1, "spark table hash spark"),
        (2, "table join sort"),
        (3, "hash hash hash hash hash merge"),
        (4, "no query words here at all"),
        (5, "spark"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "table", "hash"]
    got = {
        r["doc_id"]: (r["bm25"], r["matched"])
        for r in textagg.bm25_topk(df, "text", "doc_id", terms, k=10).collect()
    }
    twin = _bm25_twin(rows, set(terms))
    assert set(got) == set(twin)  # doc 4 matches nothing → absent
    for i, (s, m) in twin.items():
        assert got[i][1] == m
        assert got[i][0] == pytest.approx(round(s, 6), abs=1e-6)
    # more matched terms with equal length pressure → doc 1 beats doc 5
    assert got[1][0] > got[5][0]


def test_bm25_top_docs_query_green_shapes(spark, docs):
    import __spark_entry__ as E

    out = E.q_bm25_top_docs(spark, SF).collect()
    assert 0 < len(out) <= E.BM25_K
    scores = [r["bm25"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["matched"] <= len(E.BM25_QUERY_TERMS) for r in out)


def test_langid_confusion_conserves_docs(spark, docs):
    import __spark_entry__ as E

    out = E.q_langid_confusion(spark, SF).collect()
    assert sum(r["n"] for r in out) == docs.count()
    diag = {r["lang"]: r["n"] for r in out if r["lang"] == r["lang_guess"]}
    # the heuristic should get the bulk of each labelled language right
    assert diag and all(n > 0 for n in diag.values())


def test_bpe_pair_counts_hand_case(spark):
    df = spark.createDataFrame(
        [(1, "abab cd"), (2, "ab x")], "doc_id long, text string"
    )
    got = {r["pair"]: r["n"] for r in textagg.bpe_pair_counts(df, "text", k=10).collect()}
    # 'abab' → ab, ba, ab; 'cd' → cd; 'ab' → ab; 'x' dropped (len 1)
    assert got == {"ab": 3, "ba": 1, "cd": 1}


def test_bpe_merge_round_hand_case_nonoverlap(spark):
    """Winner 'ab' (3 hits) is merged greedily left-to-right; recount
    sees the merged symbol adjacent to its neighbors."""
    df = spark.createDataFrame(
        [(1, "abab cd"), (2, "ab x")], "doc_id long, text string"
    )
    rows = textagg.bpe_merge_round(df, "text", k=10).collect()
    assert all(r["merged"] == "ab" for r in rows)
    got = {(r["s1"], r["s2"]): r["n"] for r in rows}
    # 'abab' → [ab, ab] → (ab,ab); 'cd' → [c,d] → (c,d); 'ab' → [ab] dropped
    assert got == {("ab", "ab"): 1, ("c", "d"): 1}


def test_bpe_merge_round_overlap_is_greedy(spark):
    """'aaaa' with winner 'aa' must become [aa, aa] (non-overlapping
    restart after each hit), never [aa, aa, aa] from overlap."""
    df = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    rows = textagg.bpe_merge_round(df, "text", k=10).collect()
    got = {(r["s1"], r["s2"]): r["n"] for r in rows}
    # aaaa → [aa, aa]; aaa → [aa, a]
    assert got == {("aa", "aa"): 1, ("aa", "a"): 1}


def test_bpe_merge_round_pairless_corpus_is_identity(spark):
    """A corpus with no length≥2 token yields no winner — the merge
    degrades to identity and the recount is simply empty, not an
    error."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert textagg.bpe_merge_round(df, "text", k=10).collect() == []


def _bpe_twin(texts, k):
    """Engine-free BPE trainer: same tokenizer, same (n DESC, a, b)
    winner rule, true symbol-list greedy left-to-right non-overlapping
    merge — the ground truth the literal-replace formulation must hit."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        for tok in re.split("[ ]+", t.lower().strip(" ")):
            tok = tok.replace("\x01", "")
            if not tok:
                continue
            wf[tok] += 1
    words = {w: list(w) for w in wf}
    out = []
    for step in range(1, k + 1):
        counts = Counter()
        for w, n in wf.items():
            s = words[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += n
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        for w, s in words.items():
            new, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(s[i])
                    i += 1
            words[w] = new
        out.append((step, a, b, a + b, n))
    return out


def test_bpe_train_merges_matches_python_twin(spark):
    """Multi-round training equals the symbol-list twin on a corpus
    engineered to exercise BOTH literal-replace hazards: overlap
    ('aaaa' must become [aa, aa]) and the multi-char boundary (once
    'yx' is a symbol, a later (x, ab) merge must NOT fire inside
    'yx ab' — only the sentinel-prefixed form prevents that suffix
    match)."""
    text = " ".join(
        ["ab"] * 10 + ["yx"] * 20 + ["yxab"] * 5 + ["xab"] * 9 + ["aaaa"] * 3
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [tuple(r) for r in textagg.bpe_train_merges(df, "text", n_merges=6).collect()]
    want = _bpe_twin([text], 6)
    assert got == want
    # the boundary-hazard pair must survive as a real later merge:
    # [yx, ab] stayed intact until (yx, ab) itself won a round
    assert ("yx", "ab") in {(a, b) for _, a, b, _, _ in want}


def test_bpe_train_merges_sentinel_chars_stripped(spark):
    """Data \\x01 bytes are stripped char-level from the word fact (the
    SAME seam the apply path uses, so mass conserves): '\\x01ab' counts
    as 'ab', a lone sentinel token vanishes."""
    df = spark.createDataFrame(
        [(1, "\x01ab \x01ab ab \x01 cd")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in textagg.bpe_train_merges(df, "text", n_merges=2).collect()]
    assert rows == [(1, "a", "b", "ab", 3), (2, "c", "d", "cd", 1)]


def test_bpe_train_merges_pairless_corpus_is_empty(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = textagg.bpe_train_merges(df, "text", n_merges=3)
    assert out.collect() == []
    assert out.columns == ["step", "s1", "s2", "merged", "n"]


def _bpe_twin_apply(texts, merges):
    """Apply a learned merge list to each text with true symbol lists,
    returning per-text BPE token counts (data \\x01 chars stripped, the
    application-side seam)."""
    import re

    out = []
    for t in texts:
        total = 0
        clean = t.replace("\x01", "").lower().strip(" ")
        for tok in re.split("[ ]+", clean):
            s = list(tok)
            for _, a, b, _, _ in merges:
                new, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        new.append(a + b)
                        i += 2
                    else:
                        new.append(s[i])
                        i += 1
                s = new
            total += len(s)
        out.append(total)
    return out


def test_bpe_token_counts_match_symbol_list_twin(spark):
    """The sentinel-count arithmetic equals true per-token symbol-list
    application, including multi-space docs (space symbols are counted
    out exactly) and a doc carrying a raw \\x01 byte."""
    texts = [
        "ab ab yx yxab xab aaaa",
        "  abab   cd ",
        "\x01ab zz\x01yx ab",
        "",
        "aaaa aaa aa a",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = textagg._bpe_merge_list(df, "text", 5)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in textagg.bpe_token_counts(df, "text", "doc_id", n_merges=5).collect()
    }
    want = _bpe_twin_apply(texts, merges)
    assert got == {i: n for i, n in enumerate(want)}
    # and the plan is a pure narrow map: no exchange anywhere
    plan = textagg.bpe_token_counts(df, "text", "doc_id", n_merges=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bpe_compression_by_lang_conserves_doc_counts(spark):
    """Per-lang token/char totals equal the per-doc counts summed —
    the two apply-path consumers can never drift."""
    df = spark.createDataFrame(
        [(1, "abab abab cd", "en"), (2, "yx yxab", "de"), (3, "", "de")],
        "doc_id long, text string, lang string",
    )
    per_doc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in textagg.bpe_token_counts(df, "text", "doc_id", n_merges=3).collect()
    }
    rows = textagg.bpe_compression_by_lang(df, "text", "lang", n_merges=3).collect()
    assert {r["lang"]: r["n_bpe_tokens"] for r in rows} == {
        "en": per_doc[1],
        "de": per_doc[2] + per_doc[3],
    }
    for r in rows:
        if r["n_bpe_tokens"] > 0:
            assert r["chars_per_token"] == round(r["n_chars"] / r["n_bpe_tokens"], 6)


def test_kn_counts_hand_case_and_invariants(spark, docs):
    df = spark.createDataFrame([(1, "a b a b c"), (2, "x")], "doc_id long, text string")
    bg = {(r["w1"], r["w2"]): r["n"] for r in textagg.kn_bigram_counts(df, "text").collect()}
    assert bg == {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}
    ks = {
        r["word"]: (r["n_unigram"], r["n_left_ctx"], r["n_right_ctx"])
        for r in textagg.kn_continuation_stats(df, "text").collect()
    }
    assert ks == {
        "a": (2, 1, 1), "b": (2, 1, 2), "c": (1, 1, 0), "x": (1, 0, 0),
    }
    # corpus invariant: distinct contexts never exceed occurrences
    big = textagg.kn_continuation_stats(docs.limit(500), "text")
    bad = big.filter(
        (F.col("n_left_ctx") > F.col("n_unigram"))
        | (F.col("n_right_ctx") > F.col("n_unigram"))
    ).count()
    assert bad == 0


def test_winnowing_shared_substring_guarantee(spark):
    from quality_filter.operators import dedup

    # docs 1 and 2 share a run of w+k-1 = 6 words -> MUST share >= 1 fp
    common = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "one two three " + common + " four five"),
        (2, common + " completely different tail words here"),
        (3, "unrelated content with no overlap at all whatsoever okay"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnowing_fingerprints(df, "text", "doc_id").collect()
    by_doc = defaultdict(set)
    for r in fps:
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-word run must yield a shared fp"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # per-doc distinctness + density: never more fps than windows
    for i, text in rows:
        n_shingles = max(0, len(text.split()) - (dedup.WINNOW_K - 1))
        n_windows = max(0, n_shingles - (dedup.WINNOW_W - 1))
        assert len(by_doc[i]) <= n_windows
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in dedup.winnowing_pairs(df, "text", "doc_id").collect()
    }
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] == len(by_doc[1] & by_doc[2])


def test_winnowing_pairs_hot_fp_cap(spark):
    from quality_filter.operators import dedup

    # identical boilerplate in many docs: df cap excludes it entirely
    rows = [(i, "the same boiler plate text repeated everywhere again") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.winnowing_pairs(df, "text", "doc_id", max_df=5).count() == 0
    # under the cap the clique appears
    assert dedup.winnowing_pairs(df, "text", "doc_id", max_df=10).count() == 45


def test_snapshot_diff_conserves_fingerprints(spark, docs):
    import __spark_entry__ as E
    from quality_filter.operators import dedup

    out = {r["status"]: r["n_fps"] for r in E.q_corpus_snapshot_diff(spark, SF).collect()}
    fp = dedup.fingerprint_col(F.col("text"))
    old = docs.filter(F.col("doc_id") % E.SNAP_MOD != E.SNAP_MOD - 1).select(fp.alias("fp"))
    new = docs.filter(F.col("doc_id") % E.SNAP_MOD != 0).select(fp.alias("fp"))
    union_fps = old.union(new).distinct().count()
    assert sum(out.values()) == union_fps
    assert set(out) == {"added", "removed", "common"}


def test_score_drift_psi_shape_and_conservation(spark, docs):
    import math as _math

    import __spark_entry__ as E

    rows = E.q_score_drift_psi(spark, SF).collect()
    assert rows
    n_old_total = sum(r["n_old"] for r in rows)
    n_new_total = sum(r["n_new"] for r in rows)
    assert n_old_total == docs.filter(F.col("doc_id") % E.SNAP_MOD != E.SNAP_MOD - 1).count()
    assert n_new_total == docs.filter(F.col("doc_id") % E.SNAP_MOD != 0).count()
    for r in rows:
        assert 0.0 < r["p_old"] < 1.0 and 0.0 < r["p_new"] < 1.0
        assert _math.isfinite(r["psi_term"])
        # (p_new - p_old) and ln(p_new/p_old) share sign -> psi_term >= 0
        assert r["psi_term"] >= 0.0


def test_orc_roundtrip_fidelity_matches_source(spark, docs, tmp_path):
    from quality_filter.io import formats

    rt = formats.roundtrip_orc(
        docs, spark, str(tmp_path / "orc"), formats.DOCUMENTS_SCHEMA
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    a = sorted(map(tuple, formats.fidelity_summary(rt, "lang", cols).collect()))
    b = sorted(map(tuple, formats.fidelity_summary(docs, "lang", cols).collect()))
    assert a == b


def test_winnowing_doubling_bitwise_matches_per_window_spec(spark):
    """BITWISE differential (the exact-fold kernel discipline): the
    sparse-table zip_with doubling must reproduce the per-window
    array_min(slice(h, i, w)) spec fingerprint-for-fingerprint on
    adversarial token counts (0, 1, w-1, w, w+1, long, ties,
    repetitions) — min over bigints is associative, so any mismatch is
    a windowing bug, not float noise."""
    from quality_filter.operators.dedup import (
        WINNOW_K, WINNOW_W, shingles, winnowing_fp_array_col,
    )

    texts = [
        "",                       # no tokens
        "a b",                    # < k tokens: no shingles
        "a b c",                  # 1 shingle < w
        "a b c d e f",            # exactly w shingles
        "a b c d e f g",          # w+1
        " ".join(f"t{i}" for i in range(60)),
        ("dup " * 40).strip(),    # maximal ties
        "x y z x y z x y z w",    # periodic
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def spec(text_col, k=WINNOW_K, w=WINNOW_W):
        h = F.transform(
            shingles(text_col, k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
        )
        m = F.size(h)
        idx = F.when(m >= w, F.sequence(F.lit(1), m - (w - 1))).otherwise(
            F.expr("array()").cast("array<int>")
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_min(F.slice(h, i, w)))
        )

    rows = df.select(
        spec(F.col("text")).alias("want"),
        winnowing_fp_array_col(F.col("text")).alias("got"),
    ).collect()
    for r in rows:
        assert r["got"] == r["want"]

    # non-power-of-two windows exercise the residue zip
    for w in (3, 5, 6, 7):
        rows = df.select(
            spec(F.col("text"), w=w).alias("want"),
            winnowing_fp_array_col(F.col("text"), w=w).alias("got"),
        ).collect()
        for r in rows:
            assert r["got"] == r["want"], (w, r)


def test_collocation_pmi_hand_case(spark):
    """'new york' co-occurs exclusively → highest PMI; a pair of
    independent frequent words scores near zero."""
    rows = [(i, "new york " + ("the cat " * 5).strip()) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["w1"], r["w2"]): (r["n"], r["pmi"])
        for r in textagg.collocation_pmi_topk(df, "text", k=10, min_count=5).collect()
    }
    import math

    n_tok = 12 * 5  # 12 tokens per doc, 5 docs
    # new->york: pair 5, c(new)=c(york)=5
    want = round(math.log(5 * n_tok / (5 * 5)), 6)
    assert got[("new", "york")] == (5, want)
    # exclusive pair must out-score the frequent generic pair
    assert got[("new", "york")][1] > got[("the", "cat")][1]


def test_doc_novelty_first_vs_mirror(spark):
    """The source doc owns all its shingles; an exact mirror with a
    higher id scores novelty 0; a short doc reports NULL novelty."""
    from quality_filter.operators import dedup as D

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),       # mirror
        (3, "x y"),               # < 3 tokens: no shingles
        (4, "a b c totally new tail"),  # copies a prefix shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in D.doc_novelty(df, "text", "doc_id").collect()
    }
    assert got[1] == (4, 4, 1.0)
    assert got[2] == (4, 0, 0.0)
    assert got[3] == (0, 0, None)
    n, novel, frac = got[4]
    assert n == 4 and novel == 3 and frac == 0.75


def test_personalized_pagerank_exact_hand_case(spark):
    """One unrolled round of the TrustRank spec by hand: teleport mass
    splits per-mille across trusted nodes (floor), untrusted nodes get
    base 0 and only link-borne rank; values exact to the integer."""
    edges = spark.createDataFrame(
        [("A", "B", 1), ("C", "B", 1)], ["src", "dst", "w"]
    )
    teleport = spark.createDataFrame([("A", 3), ("B", 1)], ["node", "tw"])
    got = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_personalized(edges, teleport, iters=1).collect()
    }
    r0 = graph.PAGERANK_R0
    base_k = ((graph.DAMP_DEN - graph.DAMP_NUM) * r0 // graph.DAMP_DEN) // 1000
    contrib = (graph.DAMP_NUM * r0 * 1) // (graph.DAMP_DEN * 1)
    assert got["A"] == 750 * base_k                     # 3/4 of teleport
    assert got["B"] == 250 * base_k + 2 * contrib       # 1/4 + two in-links
    assert got["C"] == 0                                # absent from teleport


def test_personalized_pagerank_demotes_linkfarm_vs_uniform(spark):
    """A link farm (many zero-quality hosts pointing at one target)
    outranks a trusted content host under UNIFORM PageRank but not
    under quality-teleport TrustRank — the spam-demotion property the
    operator exists for."""
    farm = [(f"f{i}", "spam", 1) for i in range(8)]
    edges = spark.createDataFrame(
        farm + [("good", "partner", 1), ("partner", "good", 1)],
        ["src", "dst", "w"],
    )
    teleport = spark.createDataFrame(
        [("good", 100), ("partner", 50)], ["node", "tw"]
    )
    uni = {r["node"]: r["rank_micro"] for r in graph.pagerank(edges, iters=3).collect()}
    per = {
        r["node"]: r["rank_micro"]
        for r in graph.pagerank_personalized(edges, teleport, iters=3).collect()
    }
    assert uni["spam"] > uni["good"]   # uniform PR rewards the farm
    assert per["good"] > per["spam"]   # TrustRank does not


def _kn_model(texts):
    """Pure-Python exact-rational KN bigram model from a token corpus:
    returns (p, vocab2) where p(w1, w2) is a fractions.Fraction."""
    from fractions import Fraction

    pairs = []
    for t in texts:
        toks = t.strip().lower().split()
        pairs += list(zip(toks, toks[1:]))
    c12 = Counter(pairs)
    B = len(c12)
    c1 = Counter()
    for (w1, _), c in c12.items():
        c1[w1] += c
    nlc = Counter(w2 for (_, w2) in c12)
    nrc = Counter(w1 for (w1, _) in c12)
    D = Fraction(3, 4)

    def p(w1, w2):
        disc = max(c12.get((w1, w2), 0) - D, Fraction(0))
        return disc / c1[w1] + D * nrc[w1] / c1[w1] * Fraction(nlc[w2], B)

    return p, set(nlc)


def test_kn_rows_sum_to_one_exact():
    """Interpolated KN is a proper conditional distribution: for every
    context w1, Σ_w2 p(w2|w1) over the continuation vocabulary == 1
    EXACTLY in rational arithmetic — the invariant the integerized
    num/den spelling in kn_doc_surprisal encodes."""
    from fractions import Fraction

    texts = ["a b a b c a", "b c c a x a b", "x a"]
    p, vocab2 = _kn_model(texts)
    for w1 in {"a", "b", "c", "x"}:
        total = sum(p(w1, w2) for w2 in vocab2)
        assert total == Fraction(1), (w1, total)


def test_kn_doc_surprisal_matches_rational_twin(spark):
    """Spark's per-doc bits match the pure-Python exact-rational model
    scored doc-by-doc (float at the very edge only): same tokenizer,
    same D=3/4, same per-bigram log2 — agreement to 1e-9 confirms the
    integer num/den spelling implements exactly this model."""
    rows = [
        (1, "a b a b c a"),
        (2, "b c c a x a b"),
        (3, "x a"),
        (4, "solo"),  # < 2 tokens: no bigram, excluded from output
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p, _ = _kn_model([t for _, t in rows])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_bits"], r["ppl"])
        for r in textagg.kn_doc_surprisal(df, "text", "doc_id").collect()
    }
    assert set(got) == {1, 2, 3}
    for doc_id, text in rows[:3]:
        toks = text.split()
        bigrams = list(zip(toks, toks[1:]))
        bits = -sum(math.log2(p(w1, w2)) for w1, w2 in bigrams) / len(bigrams)
        n, got_bits, got_ppl = got[doc_id]
        assert n == len(bigrams)
        assert abs(got_bits - round(bits, 6)) < 1e-9, (doc_id, got_bits, bits)
        assert abs(got_ppl - 2.0 ** got_bits) < 1e-4
    # a doc that is pure high-frequency pattern scores fewer bits than
    # the doc containing the corpus's rare continuations
    assert got[1][1] < got[2][1]


def test_kn_doc_surprisal_partition_invariant(spark):
    """Same bits at 1 and 7 partitions: the sorted-fold makes the doc
    sum independent of shuffle order / partitioning."""
    df = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    a = {
        r["doc_id"]: (r["surprisal_bits"], r["ppl"])
        for r in textagg.kn_doc_surprisal(df.coalesce(1), "text", "doc_id").collect()
    }
    b = {
        r["doc_id"]: (r["surprisal_bits"], r["ppl"])
        for r in textagg.kn_doc_surprisal(df.repartition(7), "text", "doc_id").collect()
    }
    assert a == b and len(a) > 0


def test_doremi_weights_match_rational_twin_and_normalize(spark):
    """doremi_mixture_weights against a pure-Python twin built from the
    exact-rational KN model: per-source token-weighted bits, clipped
    excess vs the corpus mean, the SAME degree-7 polynomial exp, and
    source-ordered normalization.  Agreement to the round-6 edge, the
    weights sum to 1, and the hard source lands above the easy one —
    the direction the EG step exists to produce."""
    from collections import defaultdict

    rows = [
        ("easy", "a b a b a b a b"),
        ("easy", "a b a b c a"),
        ("hard", "x a b c c a x"),
        ("hard", "b c c a x a b"),
        ("tiny", "x a"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    p, _ = _kn_model([t for _, t in rows])
    agg = defaultdict(lambda: [0.0, 0])
    for src, text in rows:
        toks = text.strip().lower().split()
        for w1, w2 in zip(toks, toks[1:]):
            agg[src][0] += math.log2(p(w1, w2))
            agg[src][1] += 1
    bits = {s: -(tot) / n for s, (tot, n) in agg.items()}
    ref = -(sum(t for t, _ in agg.values())) / sum(n for _, n in agg.values())

    def expq(x):
        e = 1.0 + x / 7.0
        for i in (6, 5, 4, 3, 2):
            e = 1.0 + x / float(i) * e
        return 1.0 + x * e

    w = {s: expq(0.1 * max(0.0, b - ref)) for s, b in bits.items()}
    sw = sum(w[s] for s in sorted(w))
    got = {
        r["source"]: r
        for r in textagg.doremi_mixture_weights(df, "text", "source").collect()
    }
    assert set(got) == set(bits)
    for s in bits:
        assert got[s]["n_bigrams"] == agg[s][1]
        assert abs(got[s]["bits"] - bits[s]) < 2e-6, (s, got[s]["bits"], bits[s])
        assert abs(got[s]["excess_bits"] - max(0.0, bits[s] - ref)) < 2e-6
        assert abs(got[s]["weight"] - w[s] / sw) < 2e-6
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-4
    assert got["hard"]["weight"] > got["easy"]["weight"]


def _hits_twin(edges, iters, r0=graph.HITS_R0):
    """Pure-Python twin of the exact-integer HITS recurrence."""
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}

    def norm(raw):
        tot = sum(raw.values())
        q = max(1, tot // r0)
        return {n: raw.get(n, 0) // q for n in nodes}

    hub = {n: r0 for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(iters):
        raw = defaultdict(int)
        for s, d, w in edges:
            raw[d] += hub[s] * w
        auth = norm(raw)
        raw = defaultdict(int)
        for s, d, w in edges:
            raw[s] += auth[d] * w
        hub = norm(raw)
    return auth, hub


def test_hits_matches_python_twin_exactly(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    got = {
        r["node"]: (r["auth"], r["hub"])
        for r in graph.hits(df, iters=3).collect()
    }
    auth, hub = _hits_twin(EDGES, 3)
    assert got == {n: (auth[n], hub[n]) for n in auth}


def test_hits_partition_invariant(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    a = sorted(tuple(r) for r in graph.hits(df.coalesce(1), iters=2).collect())
    b = sorted(tuple(r) for r in graph.hits(df.repartition(5), iters=2).collect())
    assert a == b


def test_hits_separates_hubs_from_authorities(spark):
    """A directory host that only links out must end hub-heavy and
    auth-zero; the content hosts it points at end auth-heavy; a
    stray page nobody links to and that links nowhere popular stays
    near zero on both axes — the separation PageRank alone cannot
    express."""
    edges = [(100, d, 1) for d in (1, 2, 3, 4)] + [
        (200, d, 1) for d in (1, 2, 3)
    ] + [(1, 2, 1), (300, 400, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: (r["auth"], r["hub"]) for r in graph.hits(df, iters=3).collect()}
    assert got[100][0] == 0          # pure directory: no in-links
    assert got[100][1] > got[1][1]   # ...but a stronger hub than content
    assert got[1][0] > got[100][0] and got[2][0] > got[400][0]
    # the isolated pair is dominated on both axes by the dense core
    assert got[300][1] < got[100][1] and got[400][0] < got[2][0]


def test_resolve_redirects_hand_chains(spark):
    """Chain at the cap resolves; one hop past it reports the crawler's
    too-many-redirects verdict; a 2-cycle and a self-loop never
    resolve; terminals resolve to themselves with 0 hops."""
    cap = 2 ** graph.REDIRECT_ROUNDS
    chain = [(i, i + 1) for i in range(cap)]            # 0→1→…→16 (len 16)
    long_chain = [(100 + i, 100 + i + 1) for i in range(cap + 1)]
    cyc = [(900, 901), (901, 900), (950, 950)]
    df = spark.createDataFrame(chain + long_chain + cyc, "src long, dst long")
    got = {
        r["node"]: (r["final"], r["hops"], r["resolved"])
        for r in graph.resolve_redirects(df).collect()
    }
    assert got[0] == (cap, cap, True)
    assert got[cap] == (cap, 0, True)          # terminal: itself, 0 hops
    assert got[100][2] is False and got[100][1] == cap  # over-cap: hops capped
    assert got[101][2] is True                 # one in: now within cap
    for n in (900, 901, 950):
        assert got[n][2] is False
    # resolved nodes: hops is the TRUE chain distance
    for i in range(cap + 1):
        assert got[i] == (cap, cap - i, True)


def test_resolve_redirects_log_depth_scaling(spark):
    """A 2^10-hop chain resolves with rounds=10 — 10 self-joins instead
    of 1024 sequential chases (the O(log L) doubling claim), every
    node's terminal and exact distance correct."""
    n = 1024
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    ).repartition(8)
    out = graph.resolve_redirects(df, rounds=10).collect()
    assert len(out) == n + 1
    for r in out:
        assert r["resolved"] is True and r["final"] == n
        assert r["hops"] == n - r["node"]


def test_resolve_redirects_partition_invariant_and_functional_guard(spark):
    """Partitioning never changes the answer, and a non-functional feed
    (two redirects from one src) deterministically collapses to
    min(dst) before resolution."""
    edges = [(1, 2), (2, 3), (1, 9)]  # 1 has two targets: min → 2
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["final"], r["hops"]) for r in graph.resolve_redirects(df).collect()}
    assert got[1] == (3, 2)
    assert 9 not in got  # the losing edge is discarded wholesale
    big = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(0, 50, 2)], "src long, dst long"
    )
    a = sorted(tuple(r) for r in graph.resolve_redirects(big.coalesce(1)).collect())
    b = sorted(tuple(r) for r in graph.resolve_redirects(big.repartition(7)).collect())
    assert a == b


def _hamilton_twin(ws, total):
    tw = sum(w for _, w in ws)
    if tw == 0:
        return {k: 0 for k, _ in ws}
    base = {k: (total * w) // tw for k, w in ws}
    rem = {k: (total * w) % tw for k, w in ws}
    leftover = total - sum(base.values())
    winners = sorted(ws, key=lambda kw: (-rem[kw[0]], kw[0]))[:leftover]
    out = dict(base)
    for k, _ in winners:
        out[k] += 1
    return out


def test_apportion_budget_conserves_and_matches_twin(spark):
    """Σ quota == total EXACTLY (the Hamilton theorem), quotas equal
    the pure-Python largest-remainder twin, on several weight shapes
    including zero weights and heavy skew."""
    from quality_filter.operators import relational

    cases = [
        [(1, 1), (2, 1), (3, 1)],                      # all-tie remainders
        [(1, 0), (2, 5), (3, 0), (4, 7)],              # zero weights
        [(i, (i * 37) % 11 + (1000000 if i == 5 else 0)) for i in range(1, 20)],
    ]
    for total in (10, 9999):
        for ws in cases:
            df = spark.createDataFrame(ws, "host long, w long")
            got = {
                r["host"]: r["quota"]
                for r in relational.apportion_budget(df, "host", "w", total).collect()
            }
            assert sum(got.values()) == total
            assert got == _hamilton_twin(ws, total), (total, ws)
    # all-tie case, total 10 over 3 keys: 3 each + 1 to the smallest key
    df = spark.createDataFrame(cases[0], "host long, w long")
    got = {
        r["host"]: r["quota"]
        for r in relational.apportion_budget(df, "host", "w", 10).collect()
    }
    assert got == {1: 4, 2: 3, 3: 3}


def test_apportion_budget_degenerate_specs(spark):
    """ΣW = 0 allocates nothing (by spec, not division error); a
    negative weight raises; partitioning never changes quotas."""
    from quality_filter.operators import relational

    zdf = spark.createDataFrame([(1, 0), (2, 0)], "host long, w long")
    assert {
        r["host"]: r["quota"]
        for r in relational.apportion_budget(zdf, "host", "w", 100).collect()
    } == {1: 0, 2: 0}
    ndf = spark.createDataFrame([(1, -3)], "host long, w long")
    with pytest.raises(Exception):
        relational.apportion_budget(ndf, "host", "w", 10).collect()
    big = spark.createDataFrame(
        [(i, (i * 13) % 7) for i in range(60)], "host long, w long"
    )
    a = sorted(map(tuple, relational.apportion_budget(big.coalesce(1), "host", "w", 500).collect()))
    b = sorted(map(tuple, relational.apportion_budget(big.repartition(9), "host", "w", 500).collect()))
    assert a == b


def test_apportion_budget_overflow_guard_aborts_with_named_remedy(spark):
    """total·w past BIGINT must abort with the pre-scale message, not
    wrap (non-ANSI) or die as an opaque ARITHMETIC_OVERFLOW mid-job —
    ADVICE r4: the bound was documented but unenforced."""
    from quality_filter.operators import relational

    df = spark.createDataFrame([(1, 4), (2, 1)], "host long, w long")
    with pytest.raises(Exception, match="pre-scale weights"):
        relational.apportion_budget(df, "host", "w", 1 << 62).collect()
    # at the exact limit it still computes (w=1 ≤ lim=1 for total=2^62... use
    # a safe large total instead): conservation holds right up to the guard
    got = relational.apportion_budget(df, "host", "w", (1 << 60)).collect()
    assert sum(r["quota"] for r in got) == 1 << 60


def test_hits_rejects_negative_edge_weights(spark):
    """Negative weights break the HITS semantics AND the non-ANSI wrap
    detector — abort at entry (the apportion_budget precedent)."""
    e = spark.createDataFrame([("a", "b", -1)], "src string, dst string, w long")
    with pytest.raises(Exception, match="negative edge weight"):
        graph.hits(e, iters=1).collect()


def test_bpe_vocab_conserves_symbol_mass(spark):
    """Total vocabulary occurrence mass equals the per-doc BPE token
    counts summed (segmentation and counting share ONE sentinel seam so
    they can never drift — including on \\x01-bearing docs), and the
    learned merge products appear as vocabulary symbols."""
    df = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "yx yxab ab"), (3, ""), (4, "a\x01b \x01 cd")],
        "doc_id long, text string",
    )
    merges = textagg._bpe_merge_list(df, "text", 4)
    vocab = textagg.bpe_vocab(df, "text", n_merges=4, k=10**6).collect()
    total_vocab = sum(r["n"] for r in vocab)
    total_docs = sum(
        r["n_bpe_tokens"]
        for r in textagg.bpe_token_counts(df, "text", "doc_id", n_merges=4).collect()
    )
    assert total_vocab == total_docs
    symbols = {r["symbol"] for r in vocab}
    assert {m[3] for m in merges} & symbols  # merged units surface


def test_bpe_merge_curve_monotone_and_consistent(spark):
    """The curve is nonincreasing, step 0 equals raw character mass,
    each applied merge round strictly saves its winner count, and the
    final step equals the per-doc BPE counts summed (one seam)."""
    df = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "yx yxab ab"), (3, "a\x01b")],
        "doc_id long, text string",
    )
    merges = textagg._bpe_merge_list(df, "text", 4)
    curve = {
        r["step"]: r["n_tokens"]
        for r in textagg.bpe_merge_curve(df, "text", n_merges=4).collect()
    }
    assert sorted(curve) == [0, 1, 2, 3, 4]
    vals = [curve[i] for i in range(5)]
    assert vals == sorted(vals, reverse=True)
    raw_chars = sum(len(t.replace("\x01", "").replace(" ", "")) for _, t in
                    [(1, "abab abab cd"), (2, "yx yxab ab"), (3, "a\x01b")])
    assert curve[0] == raw_chars
    # each applied round saves exactly its winner's occurrence count
    for step, _, _, _, n in merges:
        assert curve[step - 1] - curve[step] == n
    total_docs = sum(
        r["n_bpe_tokens"]
        for r in textagg.bpe_token_counts(df, "text", "doc_id", n_merges=4).collect()
    )
    assert curve[max(curve)] == total_docs

"""Corpus-level text aggregation: vocabulary statistics and TF-IDF.

The explode-then-aggregate family a training-data pipeline runs for
vocabulary pruning, boilerplate detection, and keyword extraction.
All native (split/explode/groupBy); the heavy explode is collapsed by
map-side partial aggregation before any shuffle, so shuffle volume is
O(distinct terms), not O(token occurrences).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens_lower(text):
    return F.split(F.lower(F.trim(text)), "[ ]+")


def top_terms(df: DataFrame, text_col: str, k: int = 100) -> DataFrame:
    """Corpus-wide top-k terms by occurrence count (ties by term).

    Plan: explode → partial count (map-side combine collapses each
    task's occurrences) → one shuffle of O(distinct terms) rows →
    TakeOrderedAndProject for the top-k (no global sort)."""
    toks = df.select(F.explode(_tokens_lower(F.col(text_col))).alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def doc_frequency(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(term, df): number of documents containing each term.  The
    per-doc distinct happens BEFORE the explode (array_distinct on the
    token array — no doc-level shuffle), so the aggregate counts each
    (doc, term) once."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_tokens_lower(F.col(text_col)))).alias("term"),
    )
    return toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-k terms by tf * idf, idf = ln(N / df).

    Two shuffles total: the doc-frequency aggregate (O(distinct terms))
    and the per-doc top-k window (hash-partitioned on the doc id).  The
    doc-frequency side is a dimension table at corpus scale (bounded by
    vocabulary size) → broadcast into the term join.  Deterministic
    tie-break (score desc, term asc) so results are engine-comparable."""
    from pyspark.sql import Window as W

    n_docs = df.count()  # driver scalar: one count job, reused as a literal
    tf = (
        df.select(
            F.col(id_col), F.explode(_tokens_lower(F.col(text_col))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = doc_frequency(df, text_col, id_col).filter(F.col("df") >= min_df)
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    rn = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame, text_col: str, id_col: str, query_terms: list[str],
    k: int = 10, k1: float = BM25_K1, b: float = BM25_B,
) -> DataFrame:
    """Top-k documents for a fixed term query under Okapi BM25 — the
    retrieval verb of a corpus engine (inspect/debug tooling: "show me
    the strongest docs for these terms").

    score(d) = Σ_t ln((N - df_t + 0.5)/(df_t + 0.5) + 1) ·
               tf · (k1+1) / (tf + k1 · (1 - b + b · dl/avgdl))

    Determinism discipline: the per-term partial scores are pivoted
    into FIXED columns (sorted term order) and added in that order —
    never a float SUM over shuffle-ordered rows — so the final double
    is the same expression tree in Spark and the DuckDB oracle.  N and
    avgdl are exact-integer corpus stats (one count/sum job) divided
    once.

    Plan shape: the explode is filtered to the |Q| query terms BEFORE
    any aggregation (predicate on the exploded term — Catalyst pushes
    it into the generator), so shuffle volume is O(matching
    occurrences), not O(tokens); the df side is a ≤|Q|-row broadcast
    dim; top-k is TakeOrderedAndProject, no global sort."""
    terms = sorted(query_terms)
    base = df.select(
        F.col(id_col), _tokens_lower(F.col(text_col)).alias("_t")
    ).select(F.col(id_col), F.col("_t"), F.size("_t").cast("long").alias("_dl"))
    n_docs, total_tokens = base.agg(
        F.count(F.lit(1)), F.sum("_dl")
    ).first()  # driver scalars: one job, reused as plan literals
    if not n_docs:
        n_docs, total_tokens = 1, 1  # degenerate empty corpus; output is empty anyway
    avgdl = total_tokens / n_docs  # exact ints, one IEEE division — engine-identical
    occ = base.select(
        F.col(id_col), F.col("_dl").cast("double").alias("dl"),
        F.explode("_t").alias("term"),
    ).filter(F.col("term").isin(terms))
    tf = occ.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = (
        occ.select(F.col(id_col), F.col("term")).distinct()
        .groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    tfc, dl, dfc = F.col("tf"), F.col("dl"), F.col("df")
    score = F.log((F.lit(float(n_docs)) - dfc + 0.5) / (dfc + 0.5) + 1.0) * (
        (tfc * (k1 + 1.0)) / (tfc + k1 * ((1.0 - b) + b * dl / F.lit(avgdl)))
    )
    scored = tf.join(F.broadcast(dfreq), "term").withColumn("_s", score)
    pivoted = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("matched"),
        *[
            F.max(F.when(F.col("term") == t, F.col("_s"))).alias(f"_s{i}")
            for i, t in enumerate(terms)
        ],
    )
    total = None
    for i in range(len(terms)):
        piece = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        total = piece if total is None else total + piece
    return (
        pivoted.withColumn("_score", total)
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("_score", 6).alias("bm25"), "matched")
    )


def bpe_pair_counts(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """Top-k adjacent character pairs weighted by occurrence — the
    counting step of one BPE merge round (tokenizer training over the
    corpus the engine curates).  Exact integer counts → hash-exact
    cross-engine.

    Plan: token explode → per-token pair array (one HOF over
    sequence(1, len-1) — bounded by token length) → second explode →
    map-side partial count → O(distinct pairs) shuffle →
    TakeOrderedAndProject.  The pair vocabulary is bounded by
    charset², so the shuffle is a dimension regardless of corpus
    size."""
    toks = df.select(
        F.explode(_tokens_lower(F.col(text_col))).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def bpe_top_pair(df: DataFrame, text_col: str) -> str:
    """The deterministic winning pair of one BPE count round: max count,
    ties by pair ASC — a bounded 1-row collect (the query-literal
    pattern: tokenizer training is a driver-side loop over corpus-wide
    aggregates by nature; each round moves ONE pair to the driver, never
    data).  Returns a 2-symbol sentinel that occurs in no token when the
    corpus has no pairs at all, so the merge step degrades to identity
    instead of erroring."""
    rows = bpe_pair_counts(df, text_col, k=1).collect()
    return rows[0]["pair"] if rows else "\x00\x00"


def bpe_merge_round(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """One full BPE training iteration — count pairs, pick the winner,
    APPLY the merge, re-count — returning the next round's top-k
    ``(merged, s1, s2, n)`` symbol-pair counts.  This is the iterative
    step ``bpe_pair_counts`` only measures: the engine training its own
    tokenizer over the corpus it curates.

    Merge application is greedy left-to-right non-overlapping (the BPE
    spec), expressed without any UDF: each token becomes its
    space-separated single-char symbol form (``regexp_replace`` with a
    capture ref), the winning pair ``a b `` is collapsed to ``ab `` by a
    LITERAL ``replace`` (both engines scan left-to-right and restart
    after each hit — exactly BPE's non-overlap rule, e.g. ``aaa`` with
    winner ``aa`` → ``[aa, a]``), and the re-count zips two pre-sliced
    views of the symbol array (the shingles O(len) form).  Single-char
    symbols make every ``a b`` occurrence a real adjacent pair, so the
    literal replace is exact for ONE round; chaining further rounds
    re-enters through the same function.

    Scale shape: two corpus passes (count + recount), each collapsing
    map-side to the O(symbol-vocab²) pair dimension; between them one
    driver round-trip of a single pair string.  The winning pair rides
    into the plan as a LITERAL, so the recount is one static plan —
    no join against the count relation."""
    pair = bpe_top_pair(df, text_col)
    a, b = pair[0], pair[1]
    toks = df.select(F.explode(_tokens_lower(F.col(text_col))).alias("tok")).filter(
        F.length("tok") >= 2
    )
    # ([\s\S]) not (.): Java's dot excludes \r/\u2028-class line
    # terminators while RE2's excludes only \n — the explicit class is the
    # one spelling both engines read identically on ANY token bytes
    spaced = F.regexp_replace(F.col("tok"), "([\\s\\S])", "$1 ")
    merged = F.replace(spaced, F.lit(f"{a} {b} "), F.lit(f"{pair} "))
    syms = toks.select(F.split(F.rtrim(merged), " ").alias("_s")).filter(
        F.size("_s") >= 2
    )
    pairs2 = syms.select(
        F.explode(
            F.expr(
                "zip_with(slice(_s, 1, size(_s) - 1), slice(_s, 2, size(_s) - 1),"
                " (a, b) -> struct(a AS s1, b AS s2))"
            )
        ).alias("p")
    )
    return (
        pairs2.select(F.lit(pair).alias("merged"), F.col("p.s1"), F.col("p.s2"))
        .groupBy("merged", "s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("s1").asc(), F.col("s2").asc())
        .limit(k)
    )


# Symbol-boundary sentinel for multi-round BPE: each symbol in the spaced
# form is PREFIXED with \x01, so the literal merge pattern
# "\x01a \x01b " can only match at a symbol boundary (a symbol whose
# spelling merely ENDS with "a" cannot produce a false "a b" hit, the bug
# the single-round form's char-level symbols never exposed).  Data \x01
# bytes (adversarial corpora) are STRIPPED char-level on BOTH engines —
# ONE seam shared by training, application, and vocabulary (a
# drop-the-token training seam next to a strip-the-char apply seam would
# let the two sides of the artifact drift; second review pass).
BPE_SENTINEL = "\x01"


def bpe_train_merges(df: DataFrame, text_col: str, n_merges: int = 6) -> DataFrame:
    """Multi-round BPE tokenizer training: the full greedy merge-table
    loop (Sennrich et al. 2016) run to ``n_merges`` rounds, returning
    one row per learned merge ``(step, s1, s2, merged, n)`` — the engine
    training its own tokenizer over the corpus it curates.
    ``bpe_pair_counts`` is one counting step and ``bpe_merge_round`` one
    iteration; this is the loop that produces the artifact a trainer
    ships.

    Scale shape (the HuggingFace-trainer formulation): ONE corpus pass
    collapses to the vocabulary-bounded word-frequency fact
    ``(tok, n)``; every merge round then runs over that persisted word
    DIMENSION — a narrow map (chained literal replaces) into a
    map-side-combined pair aggregate — never over the corpus again.
    Each round moves exactly one winning pair string across the driver;
    the result is a ``n_merges``-row literal.  At 100 TB the rounds'
    cost is governed by |vocab|, not corpus size.

    Exactness: integer pair counts weighted by word counts, winner by
    (n DESC, s1 ASC, s2 ASC) under binary collation — both engines pick
    the identical merge every round, so the whole table is
    value-hash-checkable.  Merge application is greedy left-to-right
    non-overlapping (the BPE spec): a literal ``replace`` over the
    sentinel-prefixed spaced form restarts scanning AFTER each hit —
    e.g. winner (a,a) on "aaaa" yields [aa, aa], never [aa, a, a] —
    because the pattern carries its own trailing delimiter and each
    symbol its own leading sentinel, no delimiter is shared between
    adjacent matches."""
    spark = df.sparkSession
    merges = _bpe_merge_list(df, text_col, n_merges)
    return spark.createDataFrame(
        merges, "step long, s1 string, s2 string, merged string, n long"
    )


def _bpe_merge_list(
    df: DataFrame, text_col: str, n_merges: int, wf: DataFrame | None = None
) -> list[tuple[int, str, str, str, int]]:
    """The BPE training loop itself (see bpe_train_merges): returns the
    learned merge table as driver-side literals so both the training
    report and corpus-wide application can consume it.  Pass an
    already-persisted word fact via ``wf`` to share the one corpus pass
    with another consumer (bpe_vocab); the caller then owns its
    lifecycle."""
    own_wf = wf is None
    wf = _bpe_word_fact(df, text_col).persist() if own_wf else wf
    try:
        # "abc" -> "\x01a \x01b \x01c " (every symbol sentinel-prefixed,
        # trailing space): see the ([\s\S]) note in bpe_merge_round.
        spaced = F.regexp_replace(
            F.col("tok"), "([\\s\\S])", BPE_SENTINEL + "$1 "
        )
        merges: list[tuple[int, str, str, str, int]] = []
        for step in range(1, n_merges + 1):
            syms = wf.select(
                F.split(F.rtrim(spaced), " ").alias("_s"), "n"
            ).filter(F.size("_s") >= 2)
            pairs = syms.select(
                F.explode(
                    F.expr(
                        "zip_with(slice(_s, 1, size(_s) - 1),"
                        " slice(_s, 2, size(_s) - 1),"
                        " (a, b) -> struct(a AS s1, b AS s2))"
                    )
                ).alias("p"),
                "n",
            )
            top = (
                pairs.select(
                    F.expr("substring(p.s1, 2)").alias("a"),
                    F.expr("substring(p.s2, 2)").alias("b"),
                    "n",
                )
                .groupBy("a", "b")
                .agg(F.sum("n").cast("long").alias("n"))
                .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break  # no adjacent pairs left; oracle degrades identically
            a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
            merges.append((step, a, b, a + b, n))
            spaced = F.replace(
                spaced,
                F.lit(f"{BPE_SENTINEL}{a} {BPE_SENTINEL}{b} "),
                F.lit(f"{BPE_SENTINEL}{a}{b} "),
            )
        return merges
    finally:
        if own_wf:
            wf.unpersist()


def _bpe_word_fact(df: DataFrame, text_col: str) -> DataFrame:
    """Vocabulary-bounded (tok, n) word-frequency fact — the one corpus
    pass every BPE consumer trains or applies against.  Data sentinels
    are stripped char-level and emptied tokens dropped: the SAME seam
    the apply path uses, so vocabulary mass and per-doc counts
    conserve on any corpus."""
    stripped = F.replace(F.col("_rawtok"), F.lit(BPE_SENTINEL), F.lit(""))
    return (
        df.select(F.explode(_tokens_lower(F.col(text_col))).alias("_rawtok"))
        .select(stripped.alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def bpe_vocab(
    df: DataFrame, text_col: str, n_merges: int = 6, k: int = 100
) -> DataFrame:
    """The learned vocabulary after ``n_merges`` BPE rounds: top-k
    (symbol, n) by corpus occurrence — the second half of the artifact
    a tokenizer ships (merge table + vocabulary).  A symbol's count is
    the number of times it appears in the SEGMENTED corpus (weighted by
    word frequency), so single chars that every merge consumed sink and
    merged units rise.

    Scale shape: ONE shared persisted word fact serves both the
    training loop and the final segmentation (the one corpus pass —
    second-review fix of a rebuilt-fact double scan); segmentation is
    a narrow map over the WORD dimension; symbol counts collapse
    map-side to the symbol vocabulary before the one dimension
    shuffle; the top-k result is collected and returned as a literal
    (the bpe_train_merges pattern) so the persisted fact can be
    released eagerly."""
    wf = _bpe_word_fact(df, text_col).persist()
    try:
        merges = _bpe_merge_list(df, text_col, n_merges, wf=wf)
        spaced = F.regexp_replace(F.col("tok"), "([\\s\\S])", BPE_SENTINEL + "$1 ")
        for _, a, b, _, _ in merges:
            spaced = F.replace(
                spaced,
                F.lit(f"{BPE_SENTINEL}{a} {BPE_SENTINEL}{b} "),
                F.lit(f"{BPE_SENTINEL}{a}{b} "),
            )
        syms = wf.select(
            F.explode(F.split(F.rtrim(spaced), " ")).alias("s"), "n"
        ).select(F.expr("substring(s, 2)").alias("symbol"), "n")
        rows = (
            syms.groupBy("symbol")
            .agg(F.sum("n").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("symbol").asc())
            .limit(k)
            .collect()
        )
        return df.sparkSession.createDataFrame(
            [(r["symbol"], r["n"]) for r in rows], "symbol string, n long"
        )
    finally:
        wf.unpersist()


def bpe_token_counts(
    df: DataFrame, text_col: str, id_col: str, n_merges: int = 6
) -> DataFrame:
    """Per-doc token count under the engine's OWN trained BPE tokenizer
    (``_bpe_merge_list``) — the train→apply loop closed: the number a
    token-budget plan should use instead of the whitespace/char
    approximations (``token_count_bpe``).

    Application is a ZERO-SHUFFLE narrow map with no HOF and no
    per-token explode: the whole doc is sentinel-spaced in one
    ``regexp_replace`` (space chars become their own ``\\x01␣`` symbols,
    which no learned pattern can match — merges provably never cross a
    token boundary), the K learned merges are K chained literal
    ``replace`` calls, and the symbol count falls out of arithmetic on
    sentinel counts: every symbol carries exactly one sentinel, so
    ``n_bpe = count('\\x01') - n_space_symbols``.  All string ops are
    codegen'd JVM built-ins; cost is O(doc bytes · K) per row with
    nothing crossing an exchange.

    Data ``\\x01`` bytes are STRIPPED from the text before spacing (the
    training-side seam, applied at the char level so the sentinel
    arithmetic stays exact); both engines share the spelling."""
    merges = _bpe_merge_list(df, text_col, n_merges)
    n_bpe, _ = _bpe_apply_cols(text_col, merges)
    return df.select(
        F.col(id_col), n_bpe.cast("long").alias("n_bpe_tokens")
    )


def _bpe_apply_cols(text_col: str, merges) -> tuple[Column, Column]:
    """(n_bpe_tokens, n_nonspace_chars) column pair for applying a
    learned merge list doc-wide — the sentinel-count arithmetic shared
    by bpe_token_counts and bpe_compression_by_lang."""
    t = F.replace(F.lower(F.trim(F.col(text_col))), F.lit(BPE_SENTINEL), F.lit(""))
    sp = F.regexp_replace(t, "([\\s\\S])", BPE_SENTINEL + "$1 ")
    for _, a, b, _, _ in merges:
        sp = F.replace(
            sp,
            F.lit(f"{BPE_SENTINEL}{a} {BPE_SENTINEL}{b} "),
            F.lit(f"{BPE_SENTINEL}{a}{b} "),
        )
    n_space = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_bpe = (
        F.length(sp) - F.length(F.replace(sp, F.lit(BPE_SENTINEL), F.lit("")))
    ) - n_space
    return n_bpe, F.length(t) - n_space


def bpe_compression_by_lang(
    df: DataFrame, text_col: str, lang_col: str, n_merges: int = 6
) -> DataFrame:
    """Per-language compression of the engine's own trained BPE: total
    non-space chars, total BPE tokens, and chars-per-token — the
    tokenizer-equity audit (a merge table trained on a skewed mix
    compresses the dominant language better; chars/token per language
    is the number that exposes it before a token budget silently
    under-buys the tail languages).

    Same zero-shuffle narrow map as bpe_token_counts, collapsing
    map-side to the O(#langs) dimension; sums are exact integers, the
    ratio ONE double division (engine-identical), NULL for a language
    with zero tokens."""
    merges = _bpe_merge_list(df, text_col, n_merges)
    n_bpe, n_chars = _bpe_apply_cols(text_col, merges)
    agg = (
        df.select(F.col(lang_col).alias("lang"), n_bpe.alias("_nb"), n_chars.alias("_nc"))
        .groupBy("lang")
        .agg(
            F.sum("_nc").cast("long").alias("n_chars"),
            F.sum("_nb").cast("long").alias("n_bpe_tokens"),
        )
    )
    return agg.select(
        "lang",
        "n_chars",
        "n_bpe_tokens",
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6),
        ).alias("chars_per_token"),
    )


def _bigram_pairs(
    df: DataFrame, text_col: str, id_col: str | None = None
) -> DataFrame:
    """(w1, w2) adjacent-token pairs per occurrence (plus the id column
    when ``id_col`` is given), lowered tokenizer.  Built by zipping two
    pre-sliced views of the token array (the shingles O(tokens) lesson)
    — no index-closure HOF lambdas.  ONE definition: the corpus model
    stats and the per-doc fact must never drift apart."""
    ids = [F.col(id_col)] if id_col else []
    base = df.select(
        *ids, _tokens_lower(F.col(text_col)).alias("_t")
    ).filter(F.size("_t") >= 2)
    out = base.select(
        *ids,
        F.explode(
            F.expr(
                "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    )
    return out.select(*([id_col] if id_col else []), "bg.w1", "bg.w2")


def kn_bigram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, n): raw bigram counts — the c(w1,w2) table a Kneser-Ney
    bigram LM trains from (the engine retraining its own perplexity
    scorer's statistics at corpus scale).  Explode collapses map-side;
    the one shuffle carries O(distinct bigrams) rows (vocabulary-
    bounded, not corpus-bounded)."""
    return (
        _bigram_pairs(df, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def kn_continuation_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Per word: unigram count, N1+(•,w) distinct left contexts, and
    N1+(w,•) distinct right continuations — the continuation/backoff
    counts of Kneser-Ney smoothing.  The distinct happens on the
    (w1, w2) pair relation BEFORE the per-word aggregates, so each
    context is counted once; all three aggregates are O(vocabulary)
    dimensions joined word-for-word (broadcast-sized at any corpus
    scale with a bounded vocabulary)."""
    uni = (
        df.select(F.explode(_tokens_lower(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unigram"))
    )
    dp = _bigram_pairs(df, text_col).distinct()
    lc = dp.groupBy(F.col("w2").alias("word")).agg(
        F.count(F.lit(1)).cast("long").alias("n_left_ctx")
    )
    rc = dp.groupBy(F.col("w1").alias("word")).agg(
        F.count(F.lit(1)).cast("long").alias("n_right_ctx")
    )
    return (
        uni.join(lc, "word", "left")
        .join(rc, "word", "left")
        .select(
            "word",
            "n_unigram",
            F.coalesce("n_left_ctx", F.lit(0).cast("long")).alias("n_left_ctx"),
            F.coalesce("n_right_ctx", F.lit(0).cast("long")).alias("n_right_ctx"),
        )
    )


def oov_rate(df: DataFrame, text_col: str, id_col: str, v: int = 1000) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``v`` vocabulary — the tokenizer/vocab coverage report run
    before committing to a vocabulary size (a doc full of OOV tokens
    will fragment into byte-fallback pieces and train poorly).

    Exactness: vocabulary membership is a deterministic top-v (count
    desc, term asc — boundary ties never flap), n_oov/n_tokens are
    exact BIGINTs, the rate is one final division (round-6).

    Plan: the vocabulary is ONE map-side-combined O(distinct terms)
    shuffle cut to v rows (TakeOrdered, no global sort) and BROADCAST
    into the token explode; the per-doc aggregate combines map-side —
    the corpus is never shuffled on a term key.  Returns
    (id, n_tokens, n_oov, oov_rate)."""
    vocab = top_terms(df, text_col, k=v).select("term", F.lit(True).alias("_in"))
    toks = df.select(
        F.col(id_col), F.explode(_tokens_lower(F.col(text_col))).alias("term")
    )
    j = toks.join(F.broadcast(vocab), "term", "left")
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


KN_DISCOUNT_NUM = 3  # D = 3/4 — the standard 0.75 absolute discount,
KN_DISCOUNT_DEN = 4  # kept rational so every probability is a ratio of ints


def _kn_model_dims(df: DataFrame, text_col: str):
    """Shared Kneser-Ney bigram-model dimensions: bg(w1,w2,c12),
    ctx(w1,c1 — overflow-guarded), lc(w2,nlc), rc(w1,nrc), and the
    bigram-type count B.  ONE definition: kn_doc_surprisal and
    doremi_mixture_weights must score against identical statistics.

    ONE corpus pass: every model dimension derives from the bigram-type
    relation (bg has exactly one row per distinct pair, so N1+ counts
    are row counts over bg — no second explode+distinct).  bg is a
    vocabulary-bounded dim: truncate its lineage so the driver-scalar
    count() and the final plan share ONE materialization instead of
    re-running the token explode 3-4x.

    Overflow guards: past these bounds the BIGINT num/den overflow —
    under ANSI mode that's an opaque ARITHMETIC_OVERFLOW deep in the
    job; with ansi.enabled=false it silently wraps and parity with the
    HUGEINT oracle breaks with no signal.  Abort up front with the
    remediation named instead.  num = (dd·c12-dn)·B + dn·nrc·nlc with
    c12 ≤ c1 and nrc,nlc ≤ B, den = dd·c1·B; keeping each term < 2^62
    keeps their sum < 2^63."""
    from quality_filter.operators.dedup import _truncate_lineage

    bg = _truncate_lineage(
        _bigram_pairs(df, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12")),
        eager=True,
        reliable=None,
    )
    n_bigram_types = bg.count()  # B: driver scalar → plan literal (tfidf precedent)
    dn, dd = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    if dn * n_bigram_types * n_bigram_types >= 1 << 62:
        raise ValueError(
            "kn_doc_surprisal: bigram-type count B exceeds the exact-int64 "
            "bound (dn*B^2 >= 2^62) — lift num/den to DECIMAL(38,0) "
            "(the gate_distill pattern) for this corpus"
        )
    _c1_lim = ((1 << 62) - 1) // max(1, dd * n_bigram_types)
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    ctx = ctx.withColumn(
        "c1",
        F.when(
            F.col("c1") > F.lit(_c1_lim),
            F.raise_error(
                "kn_doc_surprisal: context count exceeds the exact-int64 "
                "bound (dd*c1*B >= 2^62) — lift num/den to DECIMAL(38,0)"
            ),
        ).otherwise(F.col("c1")),
    )
    lc = bg.groupBy(F.col("w2")).agg(F.count(F.lit(1)).cast("long").alias("nlc"))
    rc = bg.groupBy(F.col("w1")).agg(F.count(F.lit(1)).cast("long").alias("nrc"))
    return bg, ctx, lc, rc, n_bigram_types


def _kn_log2_prob(n_bigram_types: int) -> Column:
    """log2 of the exact-rational interpolated-KN bigram probability,
    over joined (c12, c1, nlc, nrc) columns — num and den are EXACT
    BIGINTs fed to ONE fixed log2 expression tree, so each bigram
    type's bits are engine-identical (the PMI/bm25 precedent)."""
    dn, dd = KN_DISCOUNT_NUM, KN_DISCOUNT_DEN
    num = (
        (F.lit(dd) * F.col("c12") - F.lit(dn)) * F.lit(n_bigram_types)
        + F.lit(dn) * F.col("nrc") * F.col("nlc")
    ).cast("double")
    den = (F.lit(dd) * F.col("c1") * F.lit(n_bigram_types)).cast("double")
    return F.log2(num / den)


def kn_doc_surprisal(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document interpolated-Kneser-Ney bigram surprisal — the
    KenLM-style perplexity scorer retrained IN the engine from the
    corpus's own statistics (the reference pipeline consumes a
    pre-trained LM score; this is the corpus-relational verb that
    produces one).  For each document with ≥ 1 bigram:

        p(w2|w1) = (c(w1,w2) - D)/c(w1·) + D·N1+(w1,·)/c(w1·) · N1+(·,w2)/B

    with D = 3/4, c(w1·) = Σ_x c(w1,x) (context count, NOT the raw
    unigram count — doc-final tokens never open a bigram), and B =
    total distinct bigram types.  Every observed bigram has c ≥ 1 > D,
    so max(c-D, 0) never clips and p is the exact rational

        ((4·c12 - 3)·B + 3·N1+(w1,·)·N1+(·,w2)) / (4·c(w1·)·B).

    Σ_w2 p(w2|w1) = 1 exactly (see test_kn_rows_sum_to_one).

    Determinism: numerator and denominator are EXACT BIGINTs fed to ONE
    fixed log2 expression tree (the PMI/bm25 precedent), so each bigram
    type's bits are engine-identical; the per-doc sum folds the
    (w1,w2)-sorted contribution array left-to-right (collect → sort →
    aggregate; DuckDB twin: list_sum(list(... ORDER BY w1, w2))) —
    never a float SUM over shuffle-ordered rows.  At 10^12-doc scale
    the int products ((4·c12-3)·B ~ c·B) outgrow int64; the upgrade is
    the gate_distill DECIMAL(38,0) pattern upstream with the same
    one-expression edge — documented, not needed at test scale (bound
    checked: tokens·B < 2^62 here).

    Plan shape: bigram/context/continuation stats are O(vocabulary²)
    dimensions (three map-side-combined shuffles over the token
    explode), broadcast into the per-doc bigram-type fact; the fact
    itself is two shuffles keyed on (doc, w1, w2) then doc — each
    O(Σ per-doc distinct bigrams), partition-bounded by doc length.
    Returns (id, n_bigrams, surprisal_bits, ppl): mean bits/bigram and
    2^bits perplexity, round-6."""
    bg, ctx, lc, rc, n_bigram_types = _kn_model_dims(df, text_col)
    dt = (
        _bigram_pairs(df, text_col, id_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    )
    scored = (
        dt.join(F.broadcast(bg), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(lc), "w2")
        .join(F.broadcast(rc), "w1")
        .select(
            F.col(id_col),
            "w1",
            "w2",
            "n_t",
            (F.col("n_t").cast("double") * _kn_log2_prob(n_bigram_types)).alias(
                "_contrib"
            ),
        )
    )
    folded = scored.groupBy(id_col).agg(
        F.sum("n_t").cast("long").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("w1", "w2", "_contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_contrib"],
        ).alias("_total"),
    )
    bits = (-F.col("_total")) / F.col("n_bigrams").cast("double")
    return folded.select(
        F.col(id_col),
        "n_bigrams",
        F.round(bits, 6).alias("surprisal_bits"),
        F.round(F.pow(F.lit(2.0), bits), 6).alias("ppl"),
    )


CCNET_BIN_SCALE = 64  # power-of-two bin width (1/64 bit): IEEE-exact multiply


def ccnet_ppl_buckets(
    df: DataFrame, text_col: str, id_col: str, lang_col: str
) -> DataFrame:
    """CCNet-style per-language perplexity terciles (Wenzek et al.,
    arXiv:1911.00359 §4.3): score every document with the in-engine
    Kneser-Ney LM (kn_doc_surprisal — the KenLM analog CCNet trains on
    Wikipedia), then split EACH LANGUAGE into head / middle / tail
    thirds by perplexity.  The reference gates on one global threshold
    (opennsfw2 ``predict_*`` → 0.8 cut); CCNet's insight is that
    perplexity is only comparable within a language, so the cut points
    must be per-language distribution statistics, not constants.

    Scale shape — NO per-language global sort (a 100 TB corpus is 90%
    one language; a rank window over that partition is a single-task
    sort).  Instead the classic histogram-CDF plan:

      1. per-doc surprisal_bits (kn_doc_surprisal's exact plan),
         quantized to integer bins: floor(bits * 64) — 64 is a power
         of two so the multiply is IEEE-exact, and bins are bounded by
         the VALUE RANGE of bits/bigram (~0..40 → ≤ 2560 bins), never
         by corpus size;
      2. (lang, bin) histogram — map-side-combined, dimension-sized;
      3. CDF + tercile cut bins via windows over the HISTOGRAM (a
         dimension), all integer arithmetic: cut_k = min bin with
         3·cum ≥ k·total;
      4. cuts (one row per language) broadcast back into the per-doc
         fact — a narrow CASE, no shuffle.

    Tie semantics are spec'd at bin granularity: every doc in a bin
    gets one bucket, so `head` holds the smallest prefix of bins with
    ≥ 1/3 of the language's docs (can exceed 1/3 only by the cut bin's
    mass).  Docs with no bigram (< 2 tokens) carry no LM evidence and
    are excluded, exactly as kn_doc_surprisal excludes them."""
    from pyspark.sql import Window as W

    knd = kn_doc_surprisal(df, text_col, id_col).select(
        id_col, "n_bigrams", "surprisal_bits"
    )
    scored = (
        knd.join(df.select(id_col, lang_col), id_col)
        .withColumn(
            "ppl_bin",
            F.floor(F.col("surprisal_bits") * F.lit(float(CCNET_BIN_SCALE))).cast(
                "long"
            ),
        )
    )
    hist = scored.groupBy(lang_col, "ppl_bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    wcum = W.partitionBy(lang_col).orderBy(F.col("ppl_bin").asc())
    wtot = W.partitionBy(lang_col)
    cdf = hist.select(
        lang_col,
        "ppl_bin",
        F.sum("nb").over(wcum).alias("cum"),
        F.sum("nb").over(wtot).alias("tot"),
    )
    cuts = cdf.groupBy(lang_col).agg(
        F.min(
            F.when(F.lit(3) * F.col("cum") >= F.col("tot"), F.col("ppl_bin"))
        ).alias("cut1"),
        F.min(
            F.when(F.lit(3) * F.col("cum") >= F.lit(2) * F.col("tot"), F.col("ppl_bin"))
        ).alias("cut2"),
    )
    bucket = (
        F.when(F.col("ppl_bin") <= F.col("cut1"), F.lit("head"))
        .when(F.col("ppl_bin") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(cuts), lang_col).select(
        F.col(id_col),
        F.col(lang_col),
        "surprisal_bits",
        "ppl_bin",
        bucket.alias("ppl_bucket"),
    )


HLL_REGISTERS = 256  # p = 8 bucket bits (first 2 md5 hex chars)
HLL_RHO_HEX = 15  # rho read from the next 15 hex chars = 60 bits
_HLL_RHO_SQL = (
    "locate('1', lpad(bin(CAST(conv(substring(h, 3, 15), 16, 10) AS BIGINT)),"
    " 60, '0'))"
)


def hll_vocab_estimate(df: DataFrame, text_col: str) -> DataFrame:
    """HyperLogLog vocabulary-size estimate (Flajolet et al., AofA 2007)
    built ENGINE-EXACTLY on the md5 universe, audited against the exact
    distinct-term count — the sketch-audit verb for cardinality, next
    to term_cms_sketch (frequency) / ann_recall_report (recall) /
    minhash_band_scurve (banding).

    Why it matters at 100 TB: the exact vocabulary count is a full
    term-dimension shuffle; the HLL registers are a 256-row
    map-side-combined aggregate over raw token occurrences (duplicate
    terms land on the same (bucket, rho), so MAX needs no distinct).
    This query prices the sketch's error before a pipeline swaps the
    exact count out.

    Engine-exactness: bucket = first 2 md5 hex chars as an int; rho =
    1 + leading-zero count of the next 60 bits via STRING algebra
    (lpad(bin(v), 60) + locate — no float log2 near power-of-two
    boundaries); each register's harmonic term is the EXACT integer
    2^(61 - M_j) summed in DECIMAL(38,0) (order/retry/engine-free), so
    the one double division + the literal alpha arithmetic are
    IEEE-identical cross-engine; the standard small-range linear-
    counting branch (E <= 2.5m, V > 0) compares those identical
    doubles, so both engines take the same branch (ln parity: the
    tfidf/bm25 precedent)."""
    toks = df.select(F.explode(_tokens_lower(F.col(text_col))).alias("term"))
    hh = toks.select(F.md5("term").alias("h"))
    br = hh.select(
        F.expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT)").alias("bucket"),
        F.expr(
            f"CASE WHEN {_HLL_RHO_SQL} = 0 THEN 61 ELSE {_HLL_RHO_SQL} END"
        ).alias("rho"),
    )
    regs = br.groupBy("bucket").agg(F.max("rho").alias("m_j"))
    # registers + exact-count fold as ONE tagged union into ONE scalar
    # aggregate — no join of any kind (a crossJoin of the two 1-row aggs
    # would plan a BroadcastNestedLoopJoin, the registry-banned node);
    # absent registers contribute 2^61 each, folded in arithmetically.
    regrows = regs.select(
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), 61 - m_j) AS DECIMAL(38,0))"
        ).alias("t_int"),
        F.lit(1).cast("long").alias("is_reg"),
        F.lit(0).cast("long").alias("is_term"),
    )
    termrows = (
        toks.select("term")
        .distinct()
        .select(
            F.lit(0).cast("decimal(38,0)").alias("t_int"),
            F.lit(0).cast("long").alias("is_reg"),
            F.lit(1).cast("long").alias("is_term"),
        )
    )
    two_pow_61 = F.lit(2305843009213693952).cast("decimal(38,0)")
    joined = (
        regrows.unionByName(termrows)
        .agg(
            F.sum("t_int").alias("s_p"),
            F.sum("is_reg").cast("long").alias("v_p"),
            F.sum("is_term").cast("long").alias("n_exact"),
        )
        .select(
            (
                F.col("s_p")
                + (F.lit(HLL_REGISTERS) - F.col("v_p")).cast("decimal(38,0)")
                * two_pow_61
            ).alias("s_int"),
            (F.lit(HLL_REGISTERS) - F.col("v_p")).cast("long").alias("v_empty"),
            "n_exact",
        )
    )
    raw = (
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)))
        * F.lit(65536.0)
        * F.lit(2305843009213693952.0)  # 2^61, exact double literal
        / F.col("s_int").cast("double")
    )
    est = F.when(
        (F.col("v_empty") > 0) & (raw <= F.lit(640.0)),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("v_empty").cast("double")),
    ).otherwise(raw)
    return joined.select(
        F.lit(HLL_REGISTERS).alias("m"),
        "v_empty",
        "n_exact",
        F.round(est, 4).alias("hll_estimate"),
        F.round(
            (est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_error"),
    )


def moore_lewis_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    domain_filter: Column,
) -> DataFrame:
    """Moore-Lewis cross-entropy-difference data selection (Moore &
    Lewis, ACL 2010): score every document by H_in(d) - H_gen(d) — bits
    per bigram under an LM trained on the IN-DOMAIN subset minus bits
    under the LM trained on the WHOLE corpus — and keep documents the
    in-domain model finds easier than the general one.  The classic
    targeted-selection verb between DSIR (hashed-ngram importance
    ratios) and CCNet (per-language perplexity cuts): both LMs are the
    engine's own exact-integer Kneser-Ney bigram models
    (_kn_model_dims), so the whole score is corpus-relational — no
    external model artifact.

    Coverage semantics (the honest relational form): the in-domain
    model only defines probabilities for bigram types it has seen, so
    bits_in folds over the COVERED bigrams and the row reports
    coverage = n_in_model / n_bigrams.  A document is `selected` iff
    2·n_in_model >= n_bigrams (integer form of coverage >= 1/2 — no
    float threshold seam) AND the raw cross-entropy difference <= 0.
    Out-of-domain docs fail on either leg: thin coverage, or covered
    bigrams the in-domain model finds surprising.  Docs with < 2 tokens
    carry no LM evidence and are excluded (kn_doc_surprisal precedent).

    Determinism: both folds sort (w1, w2) structs before a left fold,
    and every probability is one fixed log2 over EXACT BIGINT num/den,
    so bits_in/bits_gen are engine-identical doubles BEFORE rounding —
    ml_score rounds the raw difference, and the selection predicate
    compares raw doubles + exact ints (never rounded values).

    Plan shape: ONE bigram explode builds the per-doc fact dt
    (lineage-truncated — two model joins consume it without re-running
    the explode); each model is a vocabulary-bounded dim set broadcast
    into dt; the in-domain model trains on a FILTERED scan (predicate
    pushdown, no shuffle added).  At 100 TB: two dim-builds + two
    broadcast-join folds over one shared fact — the same machine as
    kn_doc_surprisal run twice, sharing its dominant cost (the
    explode)."""
    from quality_filter.operators.dedup import _truncate_lineage

    dt = _truncate_lineage(
        _bigram_pairs(df, text_col, id_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t")),
        eager=True,
        reliable=None,
    )

    def _fold(model_df: DataFrame, n_col: str, tot_col: str) -> DataFrame:
        bg, ctx, lc, rc, n_types = _kn_model_dims(model_df, text_col)
        scored = (
            dt.join(F.broadcast(bg), ["w1", "w2"])
            .join(F.broadcast(ctx), "w1")
            .join(F.broadcast(lc), "w2")
            .join(F.broadcast(rc), "w1")
            .select(
                F.col(id_col),
                "w1",
                "w2",
                "n_t",
                (F.col("n_t").cast("double") * _kn_log2_prob(n_types)).alias(
                    "_contrib"
                ),
            )
        )
        return scored.groupBy(id_col).agg(
            F.sum("n_t").cast("long").alias(n_col),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("w1", "w2", "_contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_contrib"],
            ).alias(tot_col),
        )

    gen = _fold(df, "n_bigrams", "_tot_gen")  # general model covers every bigram
    ind = _fold(df.filter(domain_filter), "n_in_model", "_tot_in")
    joined = gen.join(ind, id_col, "left")
    bits_gen = (-F.col("_tot_gen")) / F.col("n_bigrams").cast("double")
    bits_in = (-F.col("_tot_in")) / F.col("n_in_model").cast("double")
    diff = bits_in - bits_gen
    selected = F.coalesce(
        (F.lit(2) * F.col("n_in_model") >= F.col("n_bigrams"))
        & (diff <= F.lit(0.0)),
        F.lit(False),
    )
    return joined.select(
        F.col(id_col),
        "n_bigrams",
        F.coalesce(F.col("n_in_model"), F.lit(0).cast("long")).alias("n_in_model"),
        F.round(
            F.coalesce(F.col("n_in_model"), F.lit(0).cast("long")).cast("double")
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("coverage"),
        F.round(bits_in, 6).alias("bits_in"),
        F.round(bits_gen, 6).alias("bits_gen"),
        F.round(diff, 6).alias("ml_score"),
        selected.alias("selected"),
    )


DOREMI_Q = 1 << 40  # power-of-two quantization scale: IEEE-exact multiply
DOREMI_ETA = 0.1


def _expq(x: Column) -> Column:
    """Degree-7 Horner polynomial for exp(x) on small non-negative x —
    an EXPLICIT arithmetic spec (+, *, / on literals only) so Spark and
    DuckDB emit bit-identical doubles; libm exp can differ across
    engines in the last ulp, a fixed polynomial cannot.  For the
    eta-scaled excesses this operator feeds it (x ≲ 0.5) the Taylor
    truncation error is < 1e-10 — and either way the polynomial IS the
    operator's spec, monotone increasing on x ≥ 0, which is all
    exponentiated-gradient needs."""
    e = F.lit(1.0) + x / F.lit(7.0)
    for i in (6, 5, 4, 3, 2):
        e = F.lit(1.0) + x / F.lit(float(i)) * e
    return F.lit(1.0) + x * e


def doremi_mixture_weights(
    df: DataFrame, text_col: str, source_col: str, eta: float = DOREMI_ETA
) -> DataFrame:
    """One exponentiated-gradient step of DoReMi-style domain
    reweighting (Xie et al., arXiv:2305.10429): each source's weight is
    multiplied by exp(eta · excess) where excess = max(0, its
    per-bigram KN surprisal − the corpus mean), then normalized over
    sources — domains the LM finds hardest get upweighted.  The
    corpus's own KN bigram LM (kn_doc_surprisal's statistics, shared
    via _kn_model_dims) stands in for DoReMi's proxy/reference pair, so
    a SINGLE step is the honest amount of work: without retraining the
    proxy between rounds the per-domain gradient is constant and T
    rounds collapse to one step at T·eta.

    Exactness & scale (the DSIR integerization pattern, operators/
    dsir.py): log2 p(w2|w1) is quantized ONCE at the vocabulary-bounded
    dimension — q12 = floor(log2(p)·2^40 + 0.5); num/den are the same
    exact BIGINTs as kn_doc_surprisal and the 2^40 scaling is
    IEEE-exact, so q12 is engine-identical.  Per-source totals are then
    DECIMAL(38,0) sums of n_t·q12 — order-free, map-side-combinable,
    retry-invariant; no float ever crosses a shuffle.  The EG step runs
    on the S-row source dimension folded in source order (sorted-array
    fold, the kn_doc_surprisal precedent), with _expq as the
    transcendental-free weight kernel.

    Plan: token explode → (source, w1, w2) partial agg (map-side
    combine: the fact that shuffles is O(S · distinct bigrams), never
    corpus row count) → broadcast join against the quantized model dim
    → per-source agg → ONE S-row dimension row, exploded back.  No
    collect, no cartesian, no per-row Python.

    Returns (source, n_bigrams, bits, excess_bits, weight)."""
    bg, ctx, lc, rc, n_bigram_types = _kn_model_dims(df, text_col)
    bgq = (
        bg.join(ctx, "w1")
        .join(lc, "w2")
        .join(rc, "w1")
        .select(
            "w1",
            "w2",
            F.floor(_kn_log2_prob(n_bigram_types) * F.lit(float(DOREMI_Q)) + F.lit(0.5))
            .cast("long")
            .alias("q12"),
        )
    )
    st = (
        _bigram_pairs(df, text_col, source_col)
        .groupBy(source_col, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    )
    per_src = (
        st.join(F.broadcast(bgq), ["w1", "w2"])
        .groupBy(source_col)
        .agg(
            # cast BEFORE the multiply: n_t·q12 can pass 2^63 on a hot
            # bigram type (q12 ≲ 2^45) long before the sum does — the
            # int64 product would wrap pre-cast (ADVICE r4 overflow class)
            F.sum(F.col("n_t").cast("decimal(38,0)") * F.col("q12")).alias("sq"),
            F.sum("n_t").cast("long").alias("n"),
        )
    )
    # ONE row holds the sorted source dimension + exact corpus totals;
    # exploding it back gives every per-source row the totals without a
    # join (and thus without a 1-row cartesian).
    one = per_src.agg(
        F.array_sort(F.collect_list(F.struct(source_col, "sq", "n"))).alias("arr"),
        F.sum("sq").alias("tsq"),
        F.sum("n").alias("tn"),
    )

    def bits_of(sq: Column, n: Column) -> Column:
        return (-(sq.cast("double"))) / F.lit(float(DOREMI_Q)) / n.cast("double")

    ref = bits_of(F.col("tsq"), F.col("tn"))

    def w_of(sq: Column, n: Column) -> Column:
        return _expq(F.lit(float(eta)) * F.greatest(F.lit(0.0), bits_of(sq, n) - ref))

    ex = one.select(F.explode("arr").alias("x"), "arr", "tsq", "tn")
    sum_w = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, s: acc + w_of(s["sq"], s["n"])
    )
    bits_s = bits_of(F.col("x.sq"), F.col("x.n"))
    return ex.select(
        F.col(f"x.{source_col}").alias(source_col),
        F.col("x.n").alias("n_bigrams"),
        F.round(bits_s, 6).alias("bits"),
        F.round(F.greatest(F.lit(0.0), bits_s - ref), 6).alias("excess_bits"),
        F.round(w_of(F.col("x.sq"), F.col("x.n")) / sum_w, 6).alias("weight"),
    )


def collocation_pmi_topk(
    df: DataFrame, text_col: str, k: int = 50, min_count: int = 5
) -> DataFrame:
    """Top-k adjacent-pair collocations by pointwise mutual information
    — the phrase-mining verb tokenizer/vocabulary builders run over a
    curated corpus: PMI(w1,w2) = ln(n_pair · N / (c(w1) · c(w2))) over
    occurrence counts.

    Determinism: all inputs to the ln are EXACT BIGINTs combined in one
    fixed expression tree (the bm25 ln precedent), so the double is
    engine-identical.  Plan: the bigram and unigram relations collapse
    map-side to O(distinct pairs) / O(vocabulary); two broadcast-sized
    dimension joins; TakeOrderedAndProject top-k.  ``min_count`` drops
    the low-support pairs whose PMI is pure noise (the standard
    collocation guard)."""
    pairs = kn_bigram_counts(df, text_col)
    uni = (
        df.select(F.explode(_tokens_lower(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tok = uni.agg(F.sum("c")).first()[0] or 1  # driver scalar → plan literal
    scored = (
        pairs.filter(F.col("n") >= min_count)
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .select(
            "w1", "w2", "n",
            F.round(
                F.log(
                    F.col("n").cast("double")
                    * F.lit(float(n_tok))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


CMS_DEPTH = 4
CMS_WIDTH = 64



def terms_exploded(text):
    """The sketch/top-terms tokenizer: lower/trim/single-space split,
    exploded — ONE definition shared by batch and streaming sketches."""
    return F.explode(F.split(F.lower(F.trim(text)), "[ ]+"))


def cms_bucket_array(term, depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
    """array<int> of the term's bucket per sketch row — md5('r|term') %
    width (engine-portable hash universe); shared by term_cms_sketch and
    streaming.stream_term_cms so the cell-for-cell merge parity cannot
    silently diverge."""
    from quality_filter.operators.sampling import hash_bucket

    return F.array(*[
        (hash_bucket(F.concat(F.lit(f"{r}|"), term)) % width).cast("int")
        for r in range(depth)
    ])


def term_cms_sketch(
    df: DataFrame, text_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch of corpus term frequencies: a fixed depth×width
    counter matrix — O(1) state regardless of vocabulary size, mergeable
    across shards/streams by cell-wise addition, point-queried as
    min over rows of cell(r, bucket_r(term)) which NEVER underestimates.
    The heavy-hitter/state-bounded twin of top_terms: top_terms shuffles
    O(distinct terms); the sketch shuffles O(depth×width) regardless.

    bucket_r(term) = md5-bucket of 'r|term' % width — the engine-portable
    md5 hash universe (same as minhash), so a DuckDB oracle computes the
    IDENTICAL sketch.  One explode + one posexplode + a partial-agg
    count: every (row, bucket) cell collapses map-side."""
    return (
        df.select(terms_exploded(F.col(text_col)).alias("term"))
        .select(F.posexplode(cms_bucket_array(F.col("term"), depth, width)).alias("sketch_row", "bucket"))
        .groupBy("sketch_row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(sketch_rows, term: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> int:
    """Driver-side point query against a collected sketch: min over
    rows of the term's cell (0 when a cell is absent/empty)."""
    import hashlib

    cells = {(r["sketch_row"], r["bucket"]): r["cnt"] for r in sketch_rows}
    est = None
    for r in range(depth):
        h = int(hashlib.md5(f"{r}|{term}".encode()).hexdigest()[:8], 16) % width
        v = cells.get((r, h), 0)
        est = v if est is None else min(est, v)
    return int(est or 0)


ZIPF_HEAD_K = 1000
ZIPF_SCALE = 10**9


def zipf_fit(df: DataFrame, text_col: str, k: int = ZIPF_HEAD_K) -> DataFrame:
    """Zipf rank-frequency fit over the vocabulary head — the corpus
    health number (natural text fits log n = intercept + slope * log
    rank with slope near -1; boilerplate-flooded or synthetic corpora
    drift): one row (n_terms, slope, intercept, r2).

    Scale shape: term counts collapse map-side to the vocabulary
    dimension; the fit uses only the TOP-K head (standard practice —
    the tail is where Zipf breaks anyway), so everything after the one
    O(distinct-terms) shuffle is a K-row literal-sized relation
    (TakeOrderedAndProject, no global sort; the rank window orders K
    rows).

    Exactness (the DSIR/doremi integerization craft): x = floor(ln
    rank * 1e9), y = floor(ln count * 1e9) as exact integers; all five
    least-squares sums are DECIMAL(38,0) (HUGEINT on the oracle) —
    order-free, shuffle/retry/engine-invariant; slope/intercept/r2 are
    closed forms evaluated as ONE exact-int -> double conversion per
    factor then a fixed IEEE expression tree.  Every intermediate is
    PROVABLY in range: rank <= K caps x at ln(K)*1e9 (< 7e9 at
    K=1000), int64 counts cap y < 4.4e10, so the largest product
    (sy*sxx < 2.1e36) sits below both DECIMAL(38,0) and HUGEINT — no
    silent-overflow guard needed, the bound is structural."""
    from pyspark.sql import Window

    head = top_terms(df, text_col, k)
    # unpartitioned on purpose: ranks the k-row top-terms head only
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    ranked = head.select(F.row_number().over(w).alias("r"), "n")
    return _loglog_ls_fit(ranked, F.col("r"), F.col("n"), "n_terms")


def _loglog_ls_fit(points: DataFrame, xv: Column, yv: Column, count_alias: str) -> DataFrame:
    """Shared exact-integer log-log least-squares core (zipf_fit /
    heaps_fit): x = floor(ln xv * 1e9), y = floor(ln yv * 1e9) micro
    ints, five DECIMAL(38,0) sums, closed forms via one exact-int ->
    double conversion per factor.  ``points`` must be a bounded
    dimension (zipf: the K-term head; heaps: <= 64 checkpoints) so the
    structural overflow bounds hold (see zipf_fit docstring)."""
    dec = "decimal(38,0)"
    # ASSUMPTION: Spark's ln (java.lang.Math.log) and DuckDB's (the C
    # libm log) agree to the last ulp.  Both are correctly rounded in
    # practice; a 1-ulp split would flip a floor only when ln(v)*1e9
    # sits within ~1e-7 of an integer.  Same bet as dsir.LR_SCALE's
    # floor(ln(...)*1e9) — see the dsir module docstring.
    x = F.floor(F.log(xv.cast("double")) * ZIPF_SCALE).cast(dec)
    y = F.floor(F.log(yv.cast("double")) * ZIPF_SCALE).cast(dec)
    agg = points.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    icnum = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
    nz = F.col("denx") != 0.0
    return agg.select(
        F.col("k").cast("long").alias(count_alias),
        num.alias("num"), denx.alias("denx"), deny.alias("deny"),
        icnum.alias("icnum"),
    ).select(
        count_alias,
        F.when(nz, F.round(F.col("num") / F.col("denx"), 6)).alias("slope"),
        F.when(nz, F.round(F.col("icnum") / F.col("denx") / ZIPF_SCALE, 6)).alias("intercept"),
        F.when(
            nz & (F.col("deny") != 0.0),
            F.round(
                (F.col("num") * F.col("num")) / (F.col("denx") * F.col("deny")), 6
            ),
        ).alias("r2"),
    )


def heaps_fit(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — Zipf's companion corpus-health
    audit: distinct vocabulary V over the first N docs grows ~ K·N^β
    (β ≈ 0.4-0.8 for natural text; near-duplicate floods push β down,
    random noise pushes it toward 1).  One row (n_points, slope=β,
    intercept=ln K, r2).

    Prefix spec (contiguity-free, id-space checkpoints): for each
    checkpoint c ∈ {2^j} ∪ {max_id+1}, N(c) = #docs with id < c and
    V(c) = #terms whose MINIMUM containing doc id < c; points with
    N=0 or V=0 drop (ln undefined; both engines).  The fit is ln V vs
    ln N — checkpoint positions cancel out, so non-contiguous ids are
    fine.

    Scale shape: one corpus explode collapses map-side to the
    vocabulary-bounded (term, first_doc) fact; checkpoints are a ≤64-
    row literal (query-literal pattern: max_id crosses the driver
    once); each row is assigned its SMALLEST COVERING checkpoint by a
    codegen'd ≤64-branch CASE (the sniff-CASE precedent — never a
    corpus×64 explode; second-review fix), the ≤64-bucket histograms
    combine map-side, and the prefix counts N(c)/V(c) fall out of one
    running sum over the checkpoint DIMENSION (the offsets pattern).
    Least squares = _loglog_ls_fit (structural DECIMAL(38,0)/HUGEINT
    bounds: ≤64 points, int64 counts)."""
    from pyspark.sql import Window

    max_id = df.agg(F.max(F.col(id_col))).head()[0]
    if max_id is None:
        return _loglog_ls_fit(
            df.select(F.lit(1).alias("a"), F.lit(1).alias("b")).limit(0),
            F.col("a"), F.col("b"), "n_points",
        )
    cs = sorted({1 << j for j in range(63) if (1 << j) <= max_id + 1} | {max_id + 1})

    def smallest_covering(col: Column) -> Column:
        # id < c for the first (smallest) checkpoint c — chained CASE,
        # fully codegen'd; every id is < max_id+1 so the chain is total
        out = None
        for c in cs:
            branch = F.when(col < F.lit(c), F.lit(c))
            out = branch if out is None else out.when(col < F.lit(c), F.lit(c))
        return out

    def prefix_counts(assigned: DataFrame, out_name: str) -> DataFrame:
        hist = assigned.groupBy("c").agg(
            F.count(F.lit(1)).cast("long").alias("_inc")
        )
        full = assigned.sparkSession.createDataFrame(
            [(c,) for c in cs], "c long"
        ).join(hist, "c", "left")
        # unpartitioned on purpose: one row per checkpoint (<= 64 rows)
        w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
        return full.select(
            "c",
            F.sum(F.coalesce("_inc", F.lit(0))).over(w).alias(out_name),
        )

    fd = (
        df.select(F.col(id_col).alias("_d"), F.explode(_tokens_lower(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.min("_d").alias("first_doc"))
    )
    vc = prefix_counts(fd.select(smallest_covering(F.col("first_doc")).alias("c")), "v")
    nc = prefix_counts(df.select(smallest_covering(F.col(id_col)).alias("c")), "nd")
    pts = nc.join(vc, "c").filter((F.col("nd") > 0) & (F.col("v") > 0))
    return _loglog_ls_fit(pts, F.col("nd"), F.col("v"), "n_points")


def bpe_merge_curve(df: DataFrame, text_col: str, n_merges: int = 6) -> DataFrame:
    """Compression curve of BPE training: corpus token count after each
    merge round 0..n_merges (step 0 = raw characters) — the
    diminishing-returns measurement that tells a trainer when more
    merges stop paying for their vocabulary slots.

    One shared persisted word fact serves training AND the curve; the
    curve itself is ONE narrow map producing all K+1 per-word symbol
    counts (the chain prefixes share subexpressions — Catalyst CSE
    collapses the nested replaces) into ONE scalar aggregate of exact
    integer sums; the result is a (K+1)-row literal.  Rounds past an
    early-exhausted corpus repeat the final count (identity replaces) —
    the oracle's coalesced chain degrades identically, so both engines
    always emit exactly K+1 rows."""
    wf = _bpe_word_fact(df, text_col).persist()
    try:
        merges = _bpe_merge_list(df, text_col, n_merges, wf=wf)
        spaced = F.regexp_replace(F.col("tok"), "([\\s\\S])", BPE_SENTINEL + "$1 ")
        sums = []
        for i in range(n_merges + 1):
            if 0 < i <= len(merges):
                _, a, b, _, _ = merges[i - 1]
                spaced = F.replace(
                    spaced,
                    F.lit(f"{BPE_SENTINEL}{a} {BPE_SENTINEL}{b} "),
                    F.lit(f"{BPE_SENTINEL}{a}{b} "),
                )
            nsym = F.length(spaced) - F.length(
                F.replace(spaced, F.lit(BPE_SENTINEL), F.lit(""))
            )
            sums.append(F.sum(F.col("n") * nsym).cast("long").alias(f"_s{i}"))
        row = wf.agg(*sums).head()
        data = [(i, int(row[f"_s{i}"] or 0)) for i in range(n_merges + 1)]
        return df.sparkSession.createDataFrame(data, "step long, n_tokens long")
    finally:
        wf.unpersist()

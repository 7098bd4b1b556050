"""Host-graph centrality: exact integerized PageRank over an edge list.

Common-Crawl-scale curation ranks hosts to prioritize crawl frontiers
and to gate low-reputation sources (CC publishes exactly this as its
host-level ranking releases).  The reference library has no graph
operator; this module is the web-graph tier of the engine: the graph is
a plain ``(src, dst, w)`` DataFrame and each power-iteration round is
one join + one map-side-combined aggregate — no GraphX, no RDDs.

Exactness discipline (the ``kmeans_step_stats`` / ``gate_distill_stats``
pattern): ranks live in integer micro-units (``r0`` per node), each
per-edge contribution is the integer floor division

    (damp_num * rank * w) div (damp_den * out_w)

and contributions are summed as BIGINT — order-free and retry/
partition-invariant, so a DuckDB oracle reproduces every round
bit-for-bit and the driver's value-hash check is exact, not
tolerance-based.  Mass lost to flooring and to dangling nodes
evaporates by definition (documented semantic; CC-style host graphs
are pre-pruned of danglers, and the floor loss is bounded by one
micro-unit per in-edge per round).

Scale shape: out-weights are one O(edges)->O(nodes) partial-aggregated
shuffle, attached to the edge list once before the loop.  Each round
shuffles O(edges) contributions, partial-aggregated down to O(nodes),
plus one join of the O(nodes) rank relation against the edge fact —
broadcast-hinted here (host dims are ~10^7-10^8 rows at web scale;
if that outgrows the broadcast budget Spark falls back to a shuffle
join and AQE splits any mega-host skew).  K rounds = K such stages;
the plan stays a DAG of joins/aggregates that Catalyst pipelines —
no driver-side state beyond the loop counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_R0 = 10**12
DAMP_NUM = 85
DAMP_DEN = 100


def edge_weights(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Collapse raw edge instances to weighted unique edges: one
    map-side-combined shuffle of O(unique edges) rows.  A host linked
    from 10^6 pages of one site collapses in the partial agg."""
    return pairs.groupBy(src, dst).agg(F.count(F.lit(1)).cast("long").alias("w"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    r0: int = PAGERANK_R0,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """``iters`` exact integerized PageRank rounds over weighted edges.

    Returns ``(node, rank_micro)`` with ``rank_micro`` in units of
    ``r0 / 10^12`` of a node's stationary share.  The node universe is
    ``distinct(src) ∪ distinct(dst)``; every node starts at ``r0`` and
    each round becomes ``base + Σ_in floor(damp_num·rank·w /
    (damp_den·out_w))`` with ``base = floor((damp_den-damp_num)·r0 /
    damp_den)`` — the (1-d)/N teleport term in the same micro-units.
    All arithmetic is BIGINT; intermediate ``damp_num·rank·w`` stays
    far below 2^63 for web-shaped graphs (rank ≤ nodes·r0 only under
    total collapse; see module docstring for the bound discussion).

    ``reliable_checkpoint`` selects the loop-invariant materialization
    mode exactly as in ``dedup.connected_components_altstar`` (None = reliable
    iff a checkpoint dir is configured).  The per-round plan then grows
    only by one join+agg over the truncated state — linear in
    ``iters``, with no repeated source scans.
    """
    from quality_filter.operators.dedup import _truncate_lineage

    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), F.col(w).cast("long").alias("_w")
    )
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    # Materialize the loop-invariant state ONCE (same checkpoint seam as
    # connected_components_altstar): without this every round's lineage re-derives
    # the edge list from the source scan — K full corpus re-reads at scale.
    fact = _truncate_lineage(e.join(outw, "_s"), eager=False, reliable=reliable_checkpoint)
    nodes = _truncate_lineage(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct(),
        eager=False,
        reliable=reliable_checkpoint,
    )
    base = (damp_den - damp_num) * r0 // damp_den
    ranks = nodes.select("node", F.lit(r0).cast("long").alias("rank_micro"))
    for _ in range(iters):
        contrib = (
            fact.join(F.broadcast(ranks), fact["_s"] == ranks["node"])
            .select(
                F.col("_d").alias("node"),
                F.expr(
                    f"({damp_num}L * rank_micro * _w) div ({damp_den}L * _ow)"
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base).cast("long") + F.coalesce(F.col("_in"), F.lit(0).cast("long")))
            .cast("long")
            .alias("rank_micro"),
        )
    return ranks


def pagerank_personalized(
    edges: DataFrame,
    teleport: DataFrame,
    iters: int = 3,
    r0: int = PAGERANK_R0,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    node: str = "node",
    tw: str = "tw",
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Personalized (TrustRank-style) PageRank: the (1-d) teleport mass
    lands proportionally to integer ``teleport`` weights ``(node, tw)``
    instead of uniformly — rank flows outward from trusted seeds
    (high-quality hosts), the crawl-prioritization / spam-demotion verb
    of Gyöngyi et al. (VLDB 2004).

    Exact-integer spec (identical expression in the DuckDB twin):
      share_ppk(v) = (tw(v) * 1000) div ΣTW     (per-mille, floor)
      nbase(v)     = share_ppk(v) * (BASE div 1000),
                     BASE = (damp_den-damp_num)·r0 div damp_den
      rank_0(v)    = r0;  rank_{i+1}(v) = nbase(v) + Σ_in floor(d·r·w / out_w)
    Nodes absent from ``teleport`` (or with tw 0) get nbase 0 — they
    are reachable through links only, never by teleport.  ΣTW = 0
    degrades to zero teleport everywhere (rank decays toward 0 — a
    well-defined spec both engines share, not an error).  ``tw`` must
    stay ≤ ~9.2e15 so tw*1000 fits BIGINT — pre-scale hot teleport
    masses at ingest if needed (the tfidf idf scale note pattern).

    Scale shape identical to ``pagerank``: loop-invariant edge fact +
    node universe + the O(nodes) base relation materialized ONCE
    through the checkpoint seam; each round is one broadcast join +
    map-side-combined agg over the truncated state."""
    from quality_filter.operators.dedup import _truncate_lineage

    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), F.col(w).cast("long").alias("_w")
    )
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    fact = _truncate_lineage(e.join(outw, "_s"), eager=False, reliable=reliable_checkpoint)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    from pyspark.sql import Window as W

    t = teleport.select(F.col(node).alias("node"), F.col(tw).cast("long").alias("_tw"))
    # ΣTW as a global window over the TELEPORT relation (its own total,
    # independent of the node universe) — a single-partition window on
    # an O(hosts) dimension, never a nested-loop join into the plan
    t = t.withColumn("_twt", F.sum("_tw").over(W.partitionBy()))
    base = (damp_den - damp_num) * r0 // damp_den
    nb = _truncate_lineage(
        nodes.join(t, "node", "left")
        .select(
            "node",
            (
                F.expr(
                    "CASE WHEN coalesce(_twt, 0) = 0 THEN 0"
                    " ELSE (coalesce(_tw, 0) * 1000) div _twt END"
                )
                * F.lit(base // 1000)
            ).cast("long").alias("_nb"),
        ),
        eager=False,
        reliable=reliable_checkpoint,
    )
    ranks = nb.select("node", F.lit(r0).cast("long").alias("rank_micro"))
    for _ in range(iters):
        contrib = (
            fact.join(F.broadcast(ranks), fact["_s"] == ranks["node"])
            .select(
                F.col("_d").alias("node"),
                F.expr(
                    f"({damp_num}L * rank_micro * _w) div ({damp_den}L * _ow)"
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nb.join(contrib, "node", "left").select(
            "node",
            (F.col("_nb") + F.coalesce(F.col("_in"), F.lit(0).cast("long")))
            .cast("long")
            .alias("rank_micro"),
        )
    return ranks


HITS_R0 = 10**9


def _hits_normalize(raw, nodes, r0: int, out: str) -> DataFrame:
    """L1-normalize a raw HITS score relation back to ~``r0`` total
    mass in exact integers: q = max(1, Σraw div r0), score = raw div q.
    The total is a single-partition window over the O(nodes) score
    relation (the pagerank_personalized ΣTW precedent — a host-sized
    dimension, never a nested-loop join); nodes missing from ``raw``
    (no in-/out-edges for this half-step) score 0 by definition."""
    from pyspark.sql import Window as W

    # Wrap detection: inputs are non-negative (enforced at hits() entry),
    # so a negative raw sum can only be int64 wrap — abort with a named
    # remediation rather than emit silently-corrupt scores.  Under ANSI
    # mode (this session's default) the sum itself already hard-aborts;
    # this guard covers ansi.enabled=false deployments where the wrap
    # would otherwise be silent.
    raw = raw.withColumn(
        "_raw",
        F.when(
            F.col("_raw") < 0,
            F.raise_error("hits: BIGINT overflow in raw score sum — pre-scale r0"),
        ).otherwise(F.col("_raw")),
    )
    t = raw.withColumn("_tot", F.sum("_raw").over(W.partitionBy()))
    scaled = t.select(
        "node",
        F.expr(
            f"CASE WHEN _tot < 0 THEN "
            f"raise_error('hits: BIGINT overflow in L1 total — pre-scale r0') "
            f"ELSE _raw div greatest(1L, _tot div {r0}L) END"
        ).cast("long").alias(out),
    )
    return nodes.join(scaled, "node", "left").select(
        "node", F.coalesce(F.col(out), F.lit(0).cast("long")).alias(out)
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    r0: int = HITS_R0,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """``iters`` exact integerized HITS rounds (Kleinberg hubs &
    authorities) over weighted edges — the link-analysis complement of
    ``pagerank``: a page is a good *hub* if it links to good
    *authorities* and a good authority if good hubs link to it.  Crawl
    curation uses the pair to separate directories/link farms (hub-
    heavy) from content hosts (authority-heavy) where a single
    PageRank score conflates them.

    Exact-integer spec (identical recurrence in the DuckDB twin):
      hub_0(v) = r0 for every node
      auth_i(v) = norm(Σ_{(u,v)} hub_{i-1}(u)·w),
      hub_i(u)  = norm(Σ_{(u,v)} auth_i(v)·w),
      norm(x) = x div max(1, Σx div r0)   (L1 back to ~r0 total mass)
    — all BIGINT sums and floor divisions: order-free, retry/partition-
    invariant, value-hash exact.  Post-normalization scores are < 2·r0,
    so the per-edge product stays ≤ 2·r0·w; at web scale a mega-hub's
    raw sum is bounded by 2·r0·out_weight — pre-scale r0 down (or lift
    the sums to DECIMAL(38,0), the gate_distill pattern) if out-weights
    approach 10^9.  Nodes with no in-edges have auth 0; no out-edges,
    hub 0 (the HITS boundary semantics).

    Scale shape: the edge fact is materialized once through the
    checkpoint seam; each half-step is one broadcast join of the
    O(nodes) score dim against the fact + a map-side-combined BIGINT
    sum, plus one single-partition window over the O(nodes) totals.
    Returns (node, auth, hub)."""
    from quality_filter.operators.dedup import _truncate_lineage

    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), F.col(w).cast("long").alias("_w")
    )
    # Guard the documented domain instead of silently corrupting scores:
    # negative weights break the wrap detector below (and the HITS
    # semantics); with w >= 0 every per-edge product is >= 0, so a
    # negative BIGINT sum proves int64 wrap — abort in-plan (the
    # apportion_budget negative-weight-raise precedent).
    e = e.withColumn(
        "_w",
        F.when(F.col("_w") < 0, F.raise_error("hits: negative edge weight"))
        .otherwise(F.col("_w")),
    )
    fact = _truncate_lineage(e, eager=False, reliable=reliable_checkpoint)
    nodes = _truncate_lineage(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct(),
        eager=False,
        reliable=reliable_checkpoint,
    )
    hubs = nodes.select("node", F.lit(r0).cast("long").alias("hub"))
    auths = nodes.select("node", F.lit(0).cast("long").alias("auth"))
    for _ in range(iters):
        araw = (
            fact.join(F.broadcast(hubs), fact["_s"] == hubs["node"])
            .select(F.col("_d").alias("node"), (F.col("hub") * F.col("_w")).alias("_x"))
            .groupBy("node")
            .agg(F.sum("_x").alias("_raw"))
        )
        auths = _hits_normalize(araw, nodes, r0, "auth")
        hraw = (
            fact.join(F.broadcast(auths), fact["_d"] == auths["node"])
            .select(F.col("_s").alias("node"), (F.col("auth") * F.col("_w")).alias("_x"))
            .groupBy("node")
            .agg(F.sum("_x").alias("_raw"))
        )
        hubs = _hits_normalize(hraw, nodes, r0, "hub")
    return auths.join(hubs, "node").select("node", "auth", "hub")


REDIRECT_ROUNDS = 4  # f^(2^4): resolves chains up to 16 hops — the
# browser/crawler redirect cap (curl -L defaults to ~20, most crawlers 5-16)


def resolve_redirects(
    redirects: DataFrame,
    rounds: int = REDIRECT_ROUNDS,
    src: str = "src",
    dst: str = "dst",
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Resolve every URL to its redirect-chain terminal by pointer
    doubling — the crawl canonicalization verb (an http frontier is
    full of 301/308 hops; fetch dedup and link-graph construction both
    want the TERMINAL url).  ``redirects`` is a functional edge set
    (≤ 1 outgoing redirect per src; enforced here by min(dst) — the
    deterministic winner if an upstream feed ever violates it).

    Pointer doubling, not iteration: state_0(x) = redirect(x) (or x
    itself, hops 0, at terminals); each round composes the state with
    ITSELF — state_{i+1}(x) = state_i(state_i(x).cur), hops added
    (losing duplicate edges are discarded BEFORE the node universe
    forms: a dst reachable only through a discarded edge is absent) — so
    round k holds f^(2^k) and a 16-hop chain resolves in 4 shuffles
    where sequential chasing needs 16.  That is the 100-TB shape: the
    state is one O(urls) relation, each round ONE self-join shuffle on
    the cur key, O(log cap) rounds total.

    Skew discipline: rows whose cur already IS a terminal carry a
    ``done`` flag and are FROZEN OUT of later composition joins —
    composing them is the identity, and they are exactly the rows that
    pile onto a popular terminal's cur key (10^6 urls → one mega-host
    would otherwise hash to one task every round).  done propagates
    through composition for free (new done = done(state[cur]), no
    membership join in the loop); a hot NON-terminal hub stays hot for
    at most the one round before its probes converge, where AQE's
    skew-join split applies.  Each round's active set only shrinks, so
    total join work is Σ_r |active_r|, not rounds × |urls|.

    Chains longer than 2^rounds and redirect CYCLES never reach a
    terminal: they report resolved = false with the doubling process's
    hop count (capped at 2^rounds) — exactly a crawler's "too many
    redirects" verdict.  All state is (node, cur, hops) BIGINT/key
    columns; no floats anywhere, hash-exact by construction.

    Returns (node, final, hops, resolved)."""
    from quality_filter.operators.dedup import _truncate_lineage

    e = (
        redirects.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .groupBy("_s")
        .agg(F.min("_d").alias("_d"))
    )
    e = _truncate_lineage(e, eager=False, reliable=reliable_checkpoint)
    nodes = e.select(F.col("_s").alias("node")).union(
        e.select(F.col("_d").alias("node"))
    ).distinct()
    # done_0(x): x's cur is already a terminal — either x itself has no
    # redirect, or its target has none (one init-time join, outside the
    # loop; done then propagates through composition for free)
    tgt_out = e.select(F.col("_s").alias("_d2"), F.lit(True).alias("_to"))
    e2 = e.join(tgt_out, e["_d"] == tgt_out["_d2"], "left").select(
        "_s", "_d", F.coalesce(F.col("_to"), F.lit(False)).alias("_dst_has_out")
    )
    state = nodes.join(e2, nodes["node"] == e2["_s"], "left").select(
        "node",
        F.coalesce(F.col("_d"), F.col("node")).alias("cur"),
        F.when(F.col("_d").isNull(), F.lit(0)).otherwise(F.lit(1))
        .cast("long")
        .alias("hops"),
        F.when(F.col("_d").isNull(), F.lit(True))
        .otherwise(~F.col("_dst_has_out"))
        .alias("done"),
    )
    for _ in range(rounds):
        nxt = state.select(
            F.col("node").alias("_mid"),
            F.col("cur").alias("_mcur"),
            F.col("hops").alias("_mhops"),
            F.col("done").alias("_mdone"),
        )
        active = state.filter(~F.col("done"))
        frozen = state.filter(F.col("done"))
        stepped = active.join(nxt, active["cur"] == nxt["_mid"]).select(
            "node",
            F.col("_mcur").alias("cur"),
            (F.col("hops") + F.col("_mhops")).cast("long").alias("hops"),
            F.col("_mdone").alias("done"),
        )
        state = _truncate_lineage(
            stepped.unionByName(frozen),
            eager=False,
            reliable=reliable_checkpoint,
        )
    return state.select(
        "node",
        F.col("cur").alias("final"),
        "hops",
        F.col("done").alias("resolved"),
    )

"""Differential ORACLE fuzz: regenerate the documents/events/embeddings
tables with adversarial content (unicode edges, ties, duplicates,
degenerate rows), then run every registry query against its DuckDB
oracle on the fresh corpus.

The fixed sf0.01 correctness check pins one dataset forever; this
harness re-aims the same Spark-vs-DuckDB comparison at the corners —
the extraction-fuzz lesson from round 1 (differential fuzzing found
real seams) applied to the whole query registry.

Membership is opt-out: every ``__spark_entry__.queries()`` entry is
fuzzed unless ``FUZZ_EXCLUDED`` names it with the reason, so a new
query is fuzzed by default.  Why a fuzzed query is engine-identical on
any corpus is stated in its own docstring.

Usage: python scripts/fuzz_oracle.py [seed ...]   (default seeds 1 2 3)
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_TPCH = "reads TPC-H tables, which the fuzz corpus does not generate"
_WARC = (
    "the strict writer rejects CR/LF in header-borne columns (lang/source) "
    "by design, so fuzzed header values turn the spec-correct abort into a "
    "false failure"
)
FUZZ_EXCLUDED: dict[str, str] = {
    **dict.fromkeys(
        [
            "pricing_summary", "revenue_by_nation", "top_suppliers_by_revenue",
            "rollup_orders", "customers_without_orders", "shipping_priority",
            "supplier_part_breadth", "customer_order_cume",
            "active_positive_custkeys", "orders_grouping_sets",
        ],
        _TPCH,
    ),
    "pii_scrub_docs": (
        "RE2's \\d/\\b are ASCII, Java's (?U)\\d/\\b are Unicode: fuzz text "
        "with Unicode digits diverges by design (the normative Python oracle "
        "sides with Java; tests/test_spark_pipeline.py pins the seam)"
    ),
    "pii_hit_counts_docs": "the same RE2-vs-Java Unicode \\d/\\b seam as pii_scrub_docs",
    "warc_roundtrip_stats": _WARC,
    "wet_roundtrip_stats": _WARC,
    "csv_roundtrip_stats": (
        "a value equal to the CSV read-side NULL sentinel (formats."
        "CSV_NULL_SENTINEL) reads back as NULL and changes the row-image "
        "checksum; tests/test_formats.py pins the collision"
    ),
}


def fuzzed_queries() -> list[str]:
    """The registry in ``queries()`` order, minus ``FUZZ_EXCLUDED``."""
    import __spark_entry__ as E

    return [name for name in E.queries() if name not in FUZZ_EXCLUDED]


WORD_POOLS = (
    # plain english-ish (stopword-bearing so the gates vary)
    "the and of to in is was for on with quick brown fox lazy dog data".split(),
    # accents / non-latin scripts / mixed digits
    "café naïve Zürich schön østre Москва データ 北京 словарь año1 42x x42".split(),
    # regex metachars, punctuation-dense, symbols
    "a+b (c) [d] {e} $f %g ^h .* \\\\ |pipe| #tag @at 1.2.3 -- ==".split(),
)
WS = [" ", "  ", "\t", "\n", " ", " 　 "]  # inter-token whitespace


def gen_text(rnd: random.Random) -> str:
    kind = rnd.random()
    if kind < 0.04:
        return rnd.choice(["", " ", "\t\n", " ", "x"])
    if kind < 0.08:  # pathological repetition (dup/near-dup fodder)
        tok = rnd.choice(WORD_POOLS[0])
        return (tok + " ") * rnd.randint(1, 60)
    pool = rnd.choice(WORD_POOLS) if kind < 0.8 else [
        w for p in WORD_POOLS for w in p
    ]
    n = rnd.randint(1, 80)
    return rnd.choice(WS).join(rnd.choice(pool) for _ in range(n))


def gen_corpus(outdir: str, seed: int, n_docs: int = 300, n_events: int = 2000,
               n_vecs: int = 250) -> None:
    rnd = random.Random(seed)
    texts = [gen_text(rnd) for _ in range(n_docs)]
    # inject exact + near duplicates (the dedup family must see real work)
    for _ in range(n_docs // 10):
        i, j = rnd.randrange(n_docs), rnd.randrange(n_docs)
        texts[i] = texts[j]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [rnd.choice(["en", "de", "fr", "es", "und"]) for _ in range(n_docs)],
            "source": [f"host{rnd.randrange(5)}" for _ in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    docs.to_parquet(f"{outdir}/documents.parquet", index=False)

    base = pd.Timestamp("2024-03-01 00:00:00")
    ts = [
        base + pd.Timedelta(seconds=rnd.randrange(0, 7 * 24 * 3600))
        for _ in range(n_events)
    ]
    for _ in range(n_events // 20):  # exact-tie timestamps (tiebreak paths)
        i, j = rnd.randrange(n_events), rnd.randrange(n_events)
        ts[i] = ts[j]
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": np.array([rnd.randrange(1, 30) for _ in range(n_events)], dtype=np.int64),
            "event_type": [
                rnd.choice(["click", "error", "purchase", "signup", "view"])
                for _ in range(n_events)
            ],
            "value": np.round(np.array([rnd.uniform(-50, 150) for _ in range(n_events)]), 2),
            "props": ["{}"] * n_events,
        }
    )
    # Spark cannot read TIMESTAMP(NANOS) parquet — match the testdata's us
    events["ts"] = events["ts"].astype("datetime64[us]")
    events.to_parquet(f"{outdir}/events.parquet", index=False)

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    # planted near-duplicate pairs (small perturbations)
    for _ in range(n_vecs // 12):
        i, j = rng.integers(0, n_vecs, 2)
        X[i] = X[j] + rng.standard_normal(64).astype(np.float32) * 0.05
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(X),
            "label": np.zeros(n_vecs, dtype=np.int32),
        }
    )
    emb.to_parquet(f"{outdir}/embeddings.parquet", index=False)


def run_seed(seed: int) -> int:
    n_docs = int(os.environ.get("QF_FUZZ_DOCS", "300"))
    n_events = int(os.environ.get("QF_FUZZ_EVENTS", "2000"))
    n_vecs = int(os.environ.get("QF_FUZZ_VECS", "250"))
    with tempfile.TemporaryDirectory(prefix=f"qf_fuzz_{seed}_") as d:
        gen_corpus(d, seed, n_docs=n_docs, n_events=n_events, n_vecs=n_vecs)
        env = dict(os.environ, QF_SF_DIR=d, PYTHONPATH=REPO)
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "check_correctness.py"), *fuzzed_queries()],
            env=env, capture_output=True, text=True, timeout=2700,
        )
        tail = "\n".join(out.stdout.strip().splitlines()[-3:])
        print(f"--- seed {seed}: {tail}")
        if out.returncode != 0:
            fails = [l for l in out.stdout.splitlines() if l.startswith("FAIL")]
            print("\n".join(fails[:10]))
        return out.returncode


def main() -> int:
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2, 3]
    rc = 0
    for s in seeds:
        rc |= run_seed(s)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

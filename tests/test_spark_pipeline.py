"""Spark pipeline vs oracle — the central parity suite.

Contract (BASELINE.md): keep/drop labels match the oracle (F1 ≥ 0.99 at
corpus scale; exact on these seeds), extracted/scrubbed text byte-identical,
float scores to 3 dp (pattern: assertAlmostEqual(places=3),
/root/reference/tests/unit/test_core.py:36).
"""

import json
import os

import numpy as np
import pandas as pd
import pytest

from quality_filter.corpus import generate_pages, pages_spark_schema
from quality_filter.oracle import run_oracle
from quality_filter.pipeline import filter_corpus, score_documents

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "expected.json")


@pytest.fixture(scope="session")
def spark():
    from quality_filter.session import get_spark

    s = get_spark(cpus=4, app_name="qf-tests", shuffle_partitions=8)
    assert s.conf.get("spark.ui.showConsoleProgress") == "false"
    assert s.conf.get("spark.python.daemon.module") == "quality_filter.worker_daemon"
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf() -> pd.DataFrame:
    return generate_pages(200, seed=321).drop(columns=["cls"])


@pytest.fixture(scope="session")
def spark_scored(spark, pages_pdf) -> pd.DataFrame:
    sdf = spark.createDataFrame(pages_pdf, schema=pages_spark_schema())
    return score_documents(sdf).toPandas().sort_values("url").reset_index(drop=True)


@pytest.fixture(scope="session")
def oracle_scored(pages_pdf) -> pd.DataFrame:
    return run_oracle(pages_pdf).sort_values("url").reset_index(drop=True)


def test_status_and_reasons_match_oracle(spark_scored, oracle_scored):
    assert (spark_scored["status"] == oracle_scored["status"]).all()
    assert (spark_scored["keep"] == oracle_scored["keep"]).all()
    for got, exp in zip(spark_scored["reasons"], oracle_scored["reasons"]):
        assert list(got) == list(exp)


def test_text_byte_identical(spark_scored, oracle_scored):
    for col in ("extracted_text", "scrubbed_text"):
        a = spark_scored[col].fillna("\x00")
        b = oracle_scored[col].fillna("\x00")
        assert (a == b).all(), col


def test_scores_3dp(spark_scored, oracle_scored):
    for col in ("lang_conf", "ppl", "quality_score", "tox_score"):
        a = spark_scored[col].astype(float).to_numpy()
        b = oracle_scored[col].astype(float).to_numpy()
        both = ~(np.isnan(a) | np.isnan(b))
        assert np.isnan(a).tolist() == np.isnan(b).tolist(), col
        assert np.abs(a[both] - b[both]).max() < 5e-4, col


def test_spark_matches_committed_goldens(spark):
    """The Spark path reproduces the frozen golden file directly."""
    with open(GOLDEN, encoding="utf-8") as f:
        golden = {g["url"]: g for g in json.load(f)}
    pages = generate_pages(40, seed=123).drop(columns=["cls"])
    sdf = spark.createDataFrame(pages, schema=pages_spark_schema())
    got = score_documents(sdf).toPandas().set_index("url")
    assert len(got) == len(golden)
    for url, g in golden.items():
        row = got.loc[url]
        assert row["status"] == g["status"], url
        assert row["extracted_text"] == g["extracted_text"] or (
            pd.isna(row["extracted_text"]) and g["extracted_text"] is None
        ), url
        assert row["scrubbed_text"] == g["scrubbed_text"] or (
            pd.isna(row["scrubbed_text"]) and g["scrubbed_text"] is None
        ), url
        for col in ("quality_score", "tox_score", "lang_conf", "ppl"):
            if g[col] is not None:
                assert row[col] == pytest.approx(g[col], abs=5e-4), (url, col)


def test_contribs_match_oracle(spark_scored, oracle_scored):
    """Spark per-term attribution == oracle attribution (5e-4, the score
    tolerance), with identical term sets and null-for-quarantine."""
    import math

    for got, exp, q in zip(
        spark_scored["contribs"], oracle_scored["contribs"],
        spark_scored["quality_score"],
    ):
        if exp is None:
            assert got is None
            continue
        assert set(got) == set(exp)
        for k in exp:
            assert got[k] == pytest.approx(exp[k], abs=5e-4), k
        z = sum(got.values())
        assert 1.0 / (1.0 + math.exp(-z)) == pytest.approx(float(q), abs=1e-9)


def test_filter_corpus_three_way_split(spark, pages_pdf, oracle_scored):
    sdf = spark.createDataFrame(pages_pdf, schema=pages_spark_schema())
    kept, dropped, quar = filter_corpus(sdf)
    k = kept.toPandas()
    d = dropped.toPandas()
    q = quar.toPandas()
    # row conservation: in = kept + dropped + quarantined (SURVEY §5.2)
    assert len(k) + len(d) + len(q) == len(pages_pdf)
    assert set(k["url"]) == set(oracle_scored[oracle_scored.keep]["url"])
    assert set(q["url"]) == set(
        oracle_scored[oracle_scored.status == "quarantine"]["url"]
    )
    # kept output is scrubbed (no email-shaped strings survive)
    assert not k["scrubbed_text"].str.contains(
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", regex=True
    ).any()


def test_determinism_across_partitioning(spark, pages_pdf):
    """Same result at 1 and 16 input partitions — the parallelism-level
    invariance the two-cluster-size rule demands (per-row pure functions,
    no order-dependent accumulation)."""
    sdf = spark.createDataFrame(pages_pdf, schema=pages_spark_schema())
    a = (
        score_documents(sdf.repartition(1))
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    b = (
        score_documents(sdf.repartition(16))
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_plan_has_exactly_two_python_crossings(spark, pages_pdf):
    """Physical-plan shape: extraction + scoring = 2 ArrowEvalPython nodes;
    everything else stays JVM-side (no accidental UDF duplication)."""
    sdf = spark.createDataFrame(pages_pdf, schema=pages_spark_schema())
    plan = score_documents(sdf)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 2, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_workers_hold_no_plain_zip_importers(spark):
    """Python workers run ``quality_filter.worker_daemon``: each zip
    importer a worker holds ignores the per-task ``invalidate_caches``,
    so no archive directory is re-read per task."""

    def importer_types(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"t": [
            type(f).__name__ for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]})

    df = spark.range(1, numPartitions=1).mapInPandas(importer_types, "t string")
    got = [r.t for r in df.collect()]
    assert got  # the worker imported pyspark from its zip
    assert "zipimporter" not in got, got


def test_worker_daemon_hook_reads_each_zip_once(tmp_path):
    """Spark-free: with the hook installed, ``invalidate_caches`` does not
    re-read a zip already imported from, and a zip put on ``sys.path``
    afterwards still imports (the ``addPyFile`` contract).  Without the
    hook CPython re-reads the first zip, which the counter must see."""
    import subprocess
    import sys
    import textwrap
    import zipfile

    for name in ("a", "b"):
        with zipfile.ZipFile(tmp_path / f"{name}.zip", "w") as z:
            z.writestr(f"qf_zipmod_{name}.py", f"NAME = {name!r}\n")
    code = textwrap.dedent(
        """
        import importlib, os, sys, zipimport
        from quality_filter import worker_daemon

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(os.path.basename(archive))
            return read_directory(archive)

        zipimport._read_directory = counting
        if sys.argv[2] == "hook":
            worker_daemon.install()
        sys.path.append(os.path.join(sys.argv[1], "a.zip"))
        import qf_zipmod_a
        sys.path.append(os.path.join(sys.argv[1], "b.zip"))
        importlib.invalidate_caches()
        import qf_zipmod_b
        print(qf_zipmod_a.NAME, qf_zipmod_b.NAME, reads.count("a.zip"), reads.count("b.zip"))
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for mode, expected in (("hook", "a b 1 1"), ("plain", "a b 2 1")):
        out = subprocess.run(
            [sys.executable, "-c", code, str(tmp_path), mode], cwd=repo,
            capture_output=True, text=True, env={**os.environ, "PYTHONPATH": repo},
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert out.stdout.split() == expected.split(), (mode, out.stdout)


def test_pii_guard_edge_cases(spark):
    """The guarded scrub must equal the oracle scrub on texts that probe
    the guards: '@' without an email, digits without a phone/IP, PII at
    string edges, and guard chars introduced only by position."""
    from quality_filter.config import load_config, DEFAULT_ARTIFACT_DIR
    from quality_filter.features import scrub_pii
    from quality_filter.functions.rules import scrub_pii_col
    from pyspark.sql import functions as F

    cfg = load_config(DEFAULT_ARTIFACT_DIR)
    texts = [
        "mail me at a@b.co thanks",          # minimal email
        "not-an-email @ just an at sign",    # '@' but no email match
        "call 555-123-4567 now",             # phone
        "version 1.2.3 of the lib",          # digits, no phone/IP
        "server at 10.0.0.1 port 80",        # IP
        "a@b.co and 555-123-4567 and 10.0.0.1",  # all three chained
        "no pii here at all",                # no guard chars
        "1", "@", "",                        # degenerate
        # unicode digits: (?U) makes Java \d match these like Python's
        "call ٥٥٥-١٢٣-٤٥٦٧ now",
        "nums ５５５-１２３-４５６７ wide",
        "ip١٠.٠.٠.١arabic",  # unicode \b edge
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [
        r["s"]
        for r in sdf.select(scrub_pii_col(F.col("t"), cfg).alias("s")).collect()
    ]
    want = [scrub_pii(t, cfg.pii_rules) for t in texts]
    assert got == want


def test_pii_pseudonymize_consistent_and_substring_safe(spark):
    """Pseudonymization invariants: (a) the SAME span maps to the SAME
    token across documents (join-preserving); (b) distinct spans map to
    distinct tokens; (c) a span that is a strict substring of another
    (10.1.1.1 inside 10.1.1.10) never clobbers the longer one — both
    get their own token, no orphan digits; (d) no raw PII survives."""
    import re

    from quality_filter.config import load_config, DEFAULT_ARTIFACT_DIR
    from quality_filter.functions.rules import pseudonymize_pii_col
    from pyspark.sql import functions as F

    cfg = load_config(DEFAULT_ARTIFACT_DIR)
    rows = [
        (1, "write a@b.com and visit 10.1.1.1 or 10.1.1.10 now"),
        (2, "again a@b.com from 10.1.1.10 tel 555-123-4567 end"),
        (3, "nothing sensitive here"),
    ]
    sdf = spark.createDataFrame(rows, ["i", "t"])
    got = {
        r["i"]: r["s"]
        for r in sdf.select(
            "i", pseudonymize_pii_col(F.col("t"), cfg).alias("s")
        ).collect()
    }
    # (d) nothing raw survives
    for s in got.values():
        assert "a@b.com" not in s and "10.1.1." not in s and "555-123" not in s
    # (a)+(b): same span -> same token, different spans -> different
    email_1 = re.findall(r"<EMAIL:[0-9a-f]{8}>", got[1])
    email_2 = re.findall(r"<EMAIL:[0-9a-f]{8}>", got[2])
    assert email_1 and email_1 == email_2
    ips_1 = re.findall(r"<IP:[0-9a-f]{8}>", got[1])
    assert len(ips_1) == 2 and len(set(ips_1)) == 2  # (c) both spans tokenized
    ip10_2 = re.findall(r"<IP:[0-9a-f]{8}>", got[2])
    assert len(ip10_2) == 1 and ip10_2[0] in ips_1  # shared span, shared token
    # (c) no leftover digit fragments around the tokens
    assert re.search(r">\d|\d<", got[1]) is None
    # untouched doc passes through byte-identical
    assert got[3] == rows[2][1]


def test_pii_guard_disabled_for_unsafe_custom_rules(spark):
    """Guard inference must fall back to the unconditional (always-correct)
    replace when a custom rules.json breaks the guard proof: a negated
    class containing the guard token, or a replacement that INTRODUCES a
    guard character (so a later rule's guard on the original text is no
    longer a necessary condition)."""
    import dataclasses

    from quality_filter.config import load_config, DEFAULT_ARTIFACT_DIR, PiiRule
    from quality_filter.features import scrub_pii
    from quality_filter.functions.rules import scrub_pii_col
    from pyspark.sql import functions as F

    base = load_config(DEFAULT_ARTIFACT_DIR)
    rules = (
        # replacement introduces '@': text without '@' can gain one
        PiiRule(name="at_inject", pattern="(?U)AT", replacement="@"),
        # the frozen email rule now runs on possibly-injected '@'
        base.pii_rules[0],
        # negated class: requires a digit-adjacent NON-digit — '\\d' in the
        # pattern text must NOT produce a digit guard
        PiiRule(name="negated", pattern="(?U)x[^\\d]y", replacement="<NX>"),
    )
    cfg = dataclasses.replace(base, pii_rules=rules)
    texts = [
        "mail me bobATexample.com",       # '@' appears only after rule 1
        "wire x.y marker",                # negated-class match, no digits
        "plain text, no guards at all",
        "a@b.co stays an email",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [
        r["s"]
        for r in sdf.select(scrub_pii_col(F.col("t"), cfg).alias("s")).collect()
    ]
    want = [scrub_pii(t, cfg.pii_rules) for t in texts]
    assert got == want


def test_feature_parity_on_edge_whitespace(spark):
    """JVM feature expressions must equal the Python twin on inputs that
    probe the trim/tokenize boundary: unicode whitespace at the edges
    (Python str.strip() semantics, NOT Spark trim()'s ASCII-space-only),
    case-mapping oddities, and separator chars inside tokens."""
    from quality_filter.config import load_config, DEFAULT_ARTIFACT_DIR
    from quality_filter.features import text_features
    from quality_filter.functions import rules as R
    from pyspark.sql import functions as F

    cfg = load_config(DEFAULT_ARTIFACT_DIR)
    cases = [
        "", " ", "\t\n", "\xa0", "\x0b\x0c odd \x0b",
        " \t mixed edge\xa0\n", "\x1c\x1dinfo seps\x1e\x1f",
        "inner\x1cseP toks", " line sep ",
        "　ideographic　", "İstanbul DİYARBAKIR",
        "STRASSE straße ß", "ΣΟΦΟΣ σοφος τέλοσ Σ", "ﬁle ﬂow",
        "ＦＵＬＬＷＩＤＴＨ ｔｅｘｔ", "the and of in to",
        "mixed  double  spaces", "#%&*+ @@@ $$$",
    ]
    sdf = spark.createDataFrame([(t,) for t in cases], ["t"])
    toks = R.tokens_lower_col(F.col("t"))
    feats = R.feature_columns(F.col("t"), cfg, toks_lower=toks)
    got = sdf.select(*[v.alias(k) for k, v in feats.items()]).collect()
    for t, row in zip(cases, got):
        want = text_features(t, cfg.stopwords)
        for k in want:
            assert abs(float(row[k]) - float(want[k])) < 1e-9, (t, k)

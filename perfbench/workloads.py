"""The workloads and the layer suite of the traced run.

Each workload builds its input from the seed (outside every timing),
computes or loads its expected output, and then gives the runner:

* ``warmup(spark)``: the operation every set-up sample ends with;
* ``timed_pass(spark)``: one steady-state pass, checked as it runs;
* ``wall()``: the median pass wall;
* ``pre_trace(spark)`` and ``layer_metrics(...)``: the traced run's
  per-layer numbers.

Layers are timed from outside by calling public functions of each module.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import checks, inputs
from perfbench.probe import merge_groups, timed

MB = 1e6
# per-doc kernel figures recorded in SURVEY §8, for the reconciliation ratios
SURVEY_LANGID_US = 29.0
SURVEY_LM_US = 23.0
KERNEL_SAMPLE = 1024
# noop passes per prefix of the ladder (and of its untraced reference)
LADDER_REPS = 3
# gate-heavy text pages for the checkpoint probe: base rows, replicas,
# day splits, files per day
GATE_PROBE = (1000, 2, 3, 4)
# documents in the traced registry pass's table
PROBE_DOCS = 500

REGISTRY_QUERIES = (
    "gate_distill_weights",
    "near_dup_pairs",
    "exact_substring_dedup",
    "bpe_train_merges",
    "curriculum_order",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class Failures:
    """Operations attempted and failed; a failed output check is a failed
    operation.  Messages are kept for the run's info line."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
        return ok


# ------------------------------------------------------------ pipeline plans

def status_observed(scored, name: str):
    """``scored`` with per-status counts and the (url, status) hash
    observed on the rows the sink consumes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    st = F.col("status")
    df = scored.observe(
        obs,
        *[F.sum((st == s).cast("long")).alias(s) for s in checks.STATUSES],
        F.sum(F.crc32(F.concat_ws("|", "url", "status").cast("binary"))).alias("hash"),
    )
    return df, obs


def observed_matches(obs, expected: dict) -> bool:
    m = obs.get
    return (all(int(m[s] or 0) == expected["counts"][s] for s in checks.STATUSES)
            and int(m["hash"] or 0) == expected["hash"])


def prefix_ladder(pages, cfg, artifact_dir: str) -> list[tuple[str, object]]:
    """Cumulative prefixes of the tiered plan, built from the public
    column functions the pipeline composes.  Each prefix keeps every
    column it adds in its output, so the noop sink forces all of them."""
    from pyspark.sql import functions as F

    from quality_filter.functions import rules as R
    from quality_filter.operators.extract import extracted_text_col
    from quality_filter.operators.score import make_score_udf
    from quality_filter.pipeline import tiered_scored

    ext = pages.withColumn("extracted_text", extracted_text_col(F.col("text"), F.col("html")))
    t = F.col("extracted_text")
    staged = ext.withColumn("_toks", R.tokens_lower_col(t))
    feats = R.feature_columns(t, cfg, toks_lower=F.col("_toks"))
    staged = staged.withColumns({f"_f_{k}": v for k, v in feats.items()})
    f = {k: F.col(f"_f_{k}") for k in feats}
    hard = R.hard_rule_reasons(f, cfg)
    quarantined = t.isNull() | (t == "")
    gate = staged.withColumns(
        {
            "_quarantined": quarantined,
            "_hard": F.array_compact(F.array(*[F.when(c, F.lit(n)) for n, c in hard])),
        }
    ).withColumn("_alive", ~F.col("_quarantined") & (F.size("_hard") == 0))
    score_udf = make_score_udf(artifact_dir, cfg.profile)
    scored = gate.withColumn("_score", score_udf(F.when(F.col("_alive"), t)))
    return [
        ("scan", pages),
        ("extract", ext),
        ("rules", gate),
        ("score", scored),
        ("tiered", tiered_scored(pages, cfg, artifact_dir)),
    ]


def ladder_metrics(spark, pages, cfg, artifact_dir: str, bench, untraced_full: float) -> dict:
    """Per-layer prefix deltas, row counts and the reconciliation against
    the untraced full-pass wall."""
    from pyspark.sql import functions as F

    ladder = prefix_ladder(pages, cfg, artifact_dir)
    noop(ladder[-1][1])  # a session's first UDF pass spawns its Python workers
    walls = {}
    for name, df in ladder:
        spark.sparkContext.setJobGroup(f"prefix.{name}", name)
        with bench.tracer.span(f"prefix.{name}"):
            walls[name] = statistics.median(timed(lambda: noop(df)) for _ in range(LADDER_REPS))
    counts = ladder[2][1].agg(
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("extract_rows"),
        F.sum(F.when(~F.col("_quarantined"), 1).otherwise(0)).alias("decoded"),
        F.sum(F.when(F.col("_alive"), 1).otherwise(0)).alias("alive"),
    ).collect()[0]
    deltas = {
        "extract": walls["extract"] - walls["scan"],
        "rules": walls["rules"] - walls["extract"],
        "score": walls["score"] - walls["rules"],
        "tail": walls["tiered"] - walls["score"],
    }
    k = kernel_metrics(artifact_dir)
    extract_rows = int(counts["extract_rows"] or 0)
    alive = int(counts["alive"] or 0)
    per_score_doc = (k["models.hashing.us_per_doc"] + k["models.langid.us_per_doc"]
                     + k["models.lm.us_per_doc"])

    def share(us_per_doc: float, rows: int, delta: float) -> float:
        return us_per_doc * 1e-6 * rows / bench.cpus / delta if delta > 0 else 0.0

    ladder_sum = walls["scan"] + sum(deltas.values())
    return {
        **k,
        "io.pages.scan_s": walls["scan"],
        "operators.extract.prefix_s": deltas["extract"],
        "operators.extract.rows": extract_rows,
        "operators.extract.kernel_share": share(k["text.extraction.us_per_doc"],
                                                extract_rows, deltas["extract"]),
        "functions.rules.prefix_s": deltas["rules"],
        "functions.rules.alive_share": alive / max(1, int(counts["decoded"] or 0)),
        "operators.score.prefix_s": deltas["score"],
        "operators.score.rows": alive,
        "operators.score.kernel_share": share(per_score_doc, alive, deltas["score"]),
        "pipeline.tail_s": deltas["tail"],
        "trace.ladder_sum_s": ladder_sum,
        "trace.reconcile_ratio": ladder_sum / untraced_full,
    }


def untraced_full_wall(pages) -> float:
    """Median of LADDER_REPS untraced noop passes of the tiered plan over
    ``pages``, timed like the ladder's prefixes (plan built beforehand)."""
    from quality_filter.pipeline import tiered_scored

    df = tiered_scored(pages)
    return statistics.median(timed(lambda: noop(df)) for _ in range(LADDER_REPS))


def kernel_metrics(artifact_dir: str) -> dict:
    """Driver-side µs/doc of the four kernels over a fixed page sample
    (best of five runs each)."""
    from quality_filter.corpus import generate_pages
    from quality_filter.models.hashing import char_codes
    from quality_filter.models.langid import LangIdModel
    from quality_filter.models.lm import CharLM
    from quality_filter.text.extraction import extract_text_from_bytes

    htmls = [h for h in generate_pages(KERNEL_SAMPLE, seed=0)["html"] if isinstance(h, bytes)]
    texts = [t for t in map(extract_text_from_bytes, htmls) if t]
    codes = [char_codes(t.lower()) for t in texts]
    lid = LangIdModel.load(os.path.join(artifact_dir, "langid.npz"))
    lm = CharLM.load(os.path.join(artifact_dir, "lm.npz"))

    def best_us(fn, n: int) -> float:
        return min(timed(fn) for _ in range(5)) / n * 1e6

    out = {
        "text.extraction.us_per_doc": best_us(
            lambda: [extract_text_from_bytes(h) for h in htmls], len(htmls)),
        "models.hashing.us_per_doc": best_us(
            lambda: [char_codes(t.lower()) for t in texts], len(texts)),
        "models.langid.us_per_doc": best_us(lambda: lid.predict_batch_codes(codes), len(texts)),
        "models.lm.us_per_doc": best_us(lambda: lm.perplexity_batch_codes(codes), len(texts)),
    }
    out["trace.langid_vs_survey"] = out["models.langid.us_per_doc"] / SURVEY_LANGID_US
    out["trace.lm_vs_survey"] = out["models.lm.us_per_doc"] / SURVEY_LM_US
    return out


# ------------------------------------------------------------ layer probes

def checkpoint_metrics(spark, bench, input_path: str, expected_by_day: dict) -> dict:
    """One ``run_with_resume`` from an empty manifest, a ``write_filtered``
    and a noop pass over the same input: split walls from the manifest,
    sink time and per-split overhead by difference."""
    from quality_filter.io.checkpoint import Manifest, list_splits, run_with_resume
    from quality_filter.io.pages import read_pages
    from quality_filter.pipeline import tiered_scored, write_filtered

    out = os.path.join(bench.work, "probe-checkpoint")
    shutil.rmtree(out, ignore_errors=True)
    spark.sparkContext.setJobGroup("checkpoint", "checkpoint")
    list_s = timed(lambda: list_splits(spark, input_path))
    with bench.tracer.span("checkpoint.run_with_resume"):
        resume_s = timed(lambda: run_with_resume(
            spark, input_path, os.path.join(out, "data"), os.path.join(out, "manifest.jsonl")))
    recs = Manifest(os.path.join(out, "manifest.jsonl")).records()
    bench.failures.check({r["split"]: r["by_status"] for r in recs} == expected_by_day,
                         "checkpoint probe: manifest status counts differ from the oracle")
    out_b, out_files = dir_bytes(os.path.join(out, "data"))
    pages = read_pages(spark, input_path)
    with bench.tracer.span("checkpoint.write_filtered"):
        write_s = timed(lambda: write_filtered(pages, os.path.join(out, "filtered")))
    with bench.tracer.span("checkpoint.noop"):
        noop_s = timed(lambda: noop(tiered_scored(pages)))
    split_walls = [r["wall_sec"] for r in recs]
    shutil.rmtree(out, ignore_errors=True)
    return {
        "io.checkpoint.list_splits_s": list_s,
        "io.checkpoint.splits": len(recs),
        "io.checkpoint.split_wall_p50_s": statistics.median(split_walls),
        "io.checkpoint.split_wall_max_s": max(split_walls),
        "io.checkpoint.per_split_overhead_s": (resume_s - write_s) / max(1, len(recs)),
        "io.checkpoint.out_files": out_files,
        "io.sink_s": write_s - noop_s,
        "io.out_mb": out_b / MB,
    }


def registry_pass(spark, bench, docs: inputs.Input, group: str) -> dict[str, float]:
    """Every registry query once over the ``documents`` table ``docs``,
    each under job group ``<group>.<query>``, collected and checked against
    its DuckDB twin; returns the walls (call plus collect, since
    driver-loop queries run jobs while building the frame)."""
    import __spark_entry__ as E

    expected = checks.registry_expected(docs, list(REGISTRY_QUERIES), bench.artifacts)
    qs = E.queries()
    walls = {}
    for q in REGISTRY_QUERIES:
        # queries may leave persisted frames behind; a later call of the
        # same plan would read them instead of computing
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(f"{group}.{q}", q)
        with bench.tracer.span(f"{group}.{q}") as sp:
            df = qs[q](spark, docs.path)
            rows = df.collect()
        got = checks.rows_digest(df.columns, rows)
        bench.failures.check(list(got) == expected[q],
                             f"registry pass: {q} rows/hash {got} differ from DuckDB {expected[q]}")
        walls[q] = sp["wall_s"]
    return walls


def entry_metrics(walls: dict[str, float], stats: dict) -> dict:
    out = {}
    for q in REGISTRY_QUERIES:
        s = stats.get(f"entry.{q}", {})
        out[f"entry.{q}.wall_s"] = walls[q]
        out[f"entry.{q}.jobs"] = s.get("jobs", 0)
        out[f"entry.{q}.shuffle_write_mb"] = s.get("shuffle_write_b", 0) / MB
        out[f"entry.{q}.spill_mb"] = s.get("spill_b", 0) / MB
        out[f"entry.{q}.task_skew"] = s.get("task_skew", 1.0)
    return out


def spark_metrics(stats: dict, groups) -> dict:
    tot = merge_groups(stats, groups)
    return {
        "spark.gc_share": tot["gc_ms"] / tot["run_ms"] if tot["run_ms"] else 0.0,
        "spark.task_skew": tot["task_skew"],
    }


def layer_suite(spark, bench, pages, untraced_full: float, seed: int) -> dict:
    """The layers every traced run measures on its own seed: the prefix
    ladder over ``pages``, the kernels, the checkpoint probe over
    gate-heavy text pages and one registry pass over a seeded
    ``documents`` table."""
    from quality_filter.config import load_config

    out = ladder_metrics(spark, pages, load_config(bench.artifact_dir), bench.artifact_dir,
                         bench, untraced_full)
    gate = inputs.gate_text_pages(seed, *GATE_PROBE)
    expected = checks.pipeline_expected(gate, bench.artifact_dir, bench.artifacts)
    out.update(checkpoint_metrics(spark, bench, os.path.join(gate.path, "pages"),
                                  expected["by_day"]))
    walls = registry_pass(spark, bench, inputs.documents(seed, PROBE_DOCS), "entry")
    out.update({f"entry.{q}.wall_s": w for q, w in walls.items()})
    return out


# ------------------------------------------------------------ workloads

class HtmlTiered:
    """Default-mix generated pages through ``pipeline.tiered_scored`` to
    the noop sink; status counts and the (url, status) hash are observed
    and checked in every timed pass."""

    name = "html_tiered"
    BASE, REPLICATE, FILES = 1000, 4, 8
    # read each input file as its own task
    conf = {"spark.sql.files.minPartitionNum": str(FILES)}

    def __init__(self, bench, seed: int) -> None:
        self.bench = bench
        self.seed = seed
        self.pass_walls: list[float] = []

    def prepare(self) -> None:
        self.inp = inputs.html_pages(self.seed, self.BASE, self.REPLICATE, self.FILES)
        self.expected = checks.pipeline_expected(self.inp, self.bench.artifact_dir,
                                                 self.bench.artifacts)
        self.pages_dir = os.path.join(self.inp.path, "pages")

    def read(self, spark):
        return spark.read.parquet(self.pages_dir)

    def rows_per_op(self) -> int:
        return self.inp.rows

    def wall(self) -> float:
        return statistics.median(self.pass_walls)

    def op_groups(self) -> list[str]:
        return ["op"]

    def warmup(self, spark) -> None:
        """A pass over half the files: at least one task per slot, so every
        worker slot spawns and loads the models."""
        from quality_filter.pipeline import tiered_scored

        files = sorted(os.listdir(self.pages_dir))[: self.FILES // 2]
        noop(tiered_scored(spark.read.parquet(*[os.path.join(self.pages_dir, f) for f in files])))

    def _checked_pass(self, spark) -> float:
        from quality_filter.pipeline import tiered_scored

        t0 = time.perf_counter()
        df, obs = status_observed(tiered_scored(self.read(spark)), self.name)
        noop(df)
        wall = time.perf_counter() - t0
        self.bench.failures.check(observed_matches(obs, self.expected),
                                  f"{self.name}: status counts or (url, status) hash differ")
        return wall

    def timed_pass(self, spark) -> None:
        self.pass_walls.append(self._checked_pass(spark))

    def ladder_pages(self, spark):
        """The input of the traced run's prefix ladder."""
        return self.read(spark)

    def pre_trace(self, spark) -> dict:
        return {"untraced_full": untraced_full_wall(self.ladder_pages(spark))}

    def layer_metrics(self, spark, untraced: float, untraced_full: float) -> dict:
        self._checked_pass(spark)  # re-warms the workers of the new session
        spark.sparkContext.setJobGroup("op", "op")
        with self.bench.tracer.span("op.tiered"):
            traced = self._checked_pass(spark)
        out = layer_suite(spark, self.bench, self.ladder_pages(spark), untraced_full, self.seed)
        out["trace.overhead_s"] = traced - untraced
        return out


class TextGate(HtmlTiered):
    """Gate-heavy pre-extracted text pages (mostly the classes the native
    rules drop), day-partitioned, through ``pipeline.tiered_scored`` to the
    noop sink, checked like ``html_tiered``.  Extraction is bypassed and
    the score UDF sees the clean minority, so the native rules and the scan
    carry the pass.  The warm-up is a whole checked pass."""

    name = "text_gate"
    BASE, REPLICATE, DAYS, FILES = 2000, 32, 2, 6
    conf = {"spark.sql.files.minPartitionNum": str(DAYS * FILES)}

    def prepare(self) -> None:
        self.inp = inputs.gate_text_pages(self.seed, self.BASE, self.REPLICATE, self.DAYS,
                                          self.FILES)
        self.expected = checks.pipeline_expected(self.inp, self.bench.artifact_dir,
                                                 self.bench.artifacts)
        self.pages_dir = os.path.join(self.inp.path, "pages")

    def read(self, spark):
        from quality_filter.io.pages import read_pages

        return read_pages(spark, self.pages_dir)

    def warmup(self, spark) -> None:
        self._checked_pass(spark)

    def ladder_pages(self, spark):
        """Half of one day split, a single wave of tasks: the ladder's 19
        passes over the whole input took a traced run to 160 s of its
        180 s limit."""
        day = os.path.join(self.pages_dir, sorted(os.listdir(self.pages_dir))[0])
        files = sorted(f for f in os.listdir(day) if f.endswith(".parquet"))
        return spark.read.parquet(*[os.path.join(day, f) for f in files[: self.FILES // 2]])


WORKLOADS = {w.name: w for w in (HtmlTiered, TextGate)}

"""One-session A/B: composed vs STAGED curation persist boundary.

r4 verdict item 4: the composed gate→segment-dedup shape recomputes the
Arrow scoring stage when its output feeds two differently-keyed
aggregations (measured in the 10M soak, BENCH/ROUND4.md).  The
production shape materializes the gated table once (write → parquet
scan — the write_filtered boundary) and pays one scoring pass plus one
scan.

Arrow-scored gate → segment_dedup over bench pages (1M rows, cached
parquet input), alternating composed/staged twice (best-of-2, the VM
drift discipline): composed (tiered_scored inline, scoring recomputed
per aggregation key) vs staged (gated table written once, dedup reads
the scan).  Asserts identical kept-segment totals AND that the staged
dedup job's executed plan contains ZERO ArrowEvalPython nodes (the one
scoring pass happened in the write job — plan-evidenced, not assumed),
while the composed job's plan contains >= 2 (the recompute being paid).

The registered corpus_curation_v2/_v3 queries are staged the same way
(__spark_entry__._v2_staged); their composed-plan numbers are in
BENCH/ROUND5.md.

Run exclusively (no concurrent Spark).
Usage: PYTHONPATH=/root/repo python scripts/ab_staged_curation.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STAGE_PATH = "/tmp/qf_ab_staged_gated"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    from pyspark.sql import functions as F

    from bench import ensure_pages

    from quality_filter.operators import dedup
    from quality_filter.pipeline import tiered_scored
    from quality_filter.session import get_spark

    spark = get_spark(app_name="qf-ab-staged")

    pages = spark.read.parquet(ensure_pages(spark, 10))  # 1M rows
    tiered_scored(pages).write.format("noop").mode("overwrite").save()  # warm

    def composed():
        gated = (
            tiered_scored(pages)
            .filter(F.col("status") == "keep")
            .select("url", "scrubbed_text")
        )
        job = dedup.segment_dedup(gated, "scrubbed_text", "url").agg(
            F.sum("n_kept").alias("kept")
        )
        kept = job.collect()[0][0]
        return kept, _executed_plan(job)

    def staged():
        gated = (
            tiered_scored(pages)
            .filter(F.col("status") == "keep")
            .select("url", "scrubbed_text")
        )
        gated.write.mode("overwrite").parquet(STAGE_PATH)  # ONE scoring pass
        job = dedup.segment_dedup(
            spark.read.parquet(STAGE_PATH), "scrubbed_text", "url"
        ).agg(F.sum("n_kept").alias("kept"))
        kept = job.collect()[0][0]
        return kept, _executed_plan(job)

    walls = {"composed": [], "staged": []}
    kept_vals = {}
    plans = {}
    for _ in range(2):
        for name, fn in (("composed", composed), ("staged", staged)):
            t0 = time.perf_counter()
            kept, plan = fn()
            walls[name].append(time.perf_counter() - t0)
            kept_vals.setdefault(name, kept)
            plans[name] = plan
            assert kept == kept_vals[name], "kept segments drifted across reps"
    assert kept_vals["composed"] == kept_vals["staged"], (
        "staged output != composed output"
    )
    n_arrow_staged = plans["staged"].count("ArrowEvalPython")
    n_arrow_composed = plans["composed"].count("ArrowEvalPython")
    assert n_arrow_staged == 0, (
        f"staged dedup job must read the scan, not rescore: "
        f"{n_arrow_staged} ArrowEvalPython nodes"
    )
    assert n_arrow_composed >= 2, (
        f"composed job expected to carry the scoring recompute, got "
        f"{n_arrow_composed} ArrowEvalPython nodes"
    )
    print(
        f"gate->segdedup 1M rows: composed best-of-2 "
        f"{min(walls['composed']):.1f}s ({n_arrow_composed} ArrowEvalPython) "
        f"vs staged {min(walls['staged']):.1f}s (0 ArrowEvalPython in the "
        f"dedup job; kept={kept_vals['staged']:,})",
        flush=True,
    )

    shutil.rmtree(STAGE_PATH, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

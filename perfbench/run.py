"""quality_filter benchmark: one workload per invocation.

    python3 perfbench/run.py --workload html_tiered --seed 1 --seconds 10 --trace 0

Run from the repository root.  Builds the workload's input from the seed
(cached under perfbench/.cache, verified by digest), computes its expected
output with the program's oracles, sets up Spark three times and reports
the median, then runs checked steady-state passes for ``--seconds``.
``--trace 1`` adds a traced layer suite (spans plus the Spark event log)
and reports the per-layer metrics instead of the end-to-end ones.

The last stdout line is the result object; the line before it describes
the run (cpus, artifact and input digests, failure messages, trace file).
Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUP_SAMPLES = 3
MAX_CPUS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """Run-wide state handed to the workload."""

    def __init__(self, work: str) -> None:
        from perfbench.checks import artifact_digests
        from perfbench.probe import Tracer
        from perfbench.workloads import Failures

        self.work = work
        self.cpus = min(MAX_CPUS, os.cpu_count() or 1)
        self.artifact_dir = os.path.join(ROOT, "artifacts")
        self.artifacts = artifact_digests(self.artifact_dir)
        self.tracer = Tracer()
        self.failures = Failures()
        self.sessions = 0

    def session(self, conf: dict):
        """A session on the shared JVM.

        ``operators.extract`` defines its pandas UDF at import time, and
        the UDF keeps the accumulator of the first SparkContext: after a
        restart every task fails to report to it.  Reloading the module
        binds a fresh UDF to the new context (``extracted_text_col``
        looks the UDF up in the module at call time)."""
        import importlib

        import quality_filter.operators.extract as extract
        from quality_filter.session import get_spark

        if self.sessions:
            importlib.reload(extract)
        self.sessions += 1

        base = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the whole heap committed and touched at start, so the JVM's
            # resident size does not wander with heap growth between runs
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        return get_spark(cpus=self.cpus, app_name="qf-perfbench", extra_conf={**base, **conf})


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(vals) -> float:
    return statistics.median(list(vals))


def run(args):
    from perfbench.probe import RssSampler, parse_event_log, reap_descendants
    from perfbench.workloads import REGISTRY_QUERIES, WORKLOADS, entry_metrics, spark_metrics

    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed, modest driver heap instead of the program's 8g default
    os.environ["QF_DRIVER_MEMORY"] = DRIVER_MEMORY

    bench = Bench(work)
    tr = bench.tracer
    wl = WORKLOADS[args.workload](bench, args.seed)
    spark = None
    try:
        with RssSampler() as rss:
            setups, sessions, warmups = [], [], []
            with tr.span("setup.0") as s0:
                with tr.span("setup.import") as imp:
                    import pyspark.sql  # noqa: F401

                    import __spark_entry__  # noqa: F401
                    import quality_filter.pipeline  # noqa: F401
                    import quality_filter.session  # noqa: F401
                # input generation and the oracle are not set-up cost
                s0["paused_s"] = -time.perf_counter()
                with tr.span("prepare"):
                    wl.prepare()
                s0["paused_s"] += time.perf_counter()
                with tr.span("setup.session") as ss:
                    spark = bench.session(wl.conf)
                with tr.span("setup.warmup") as sw:
                    wl.warmup(spark)
            setups.append(s0["end"] - s0["start"] - s0["paused_s"])
            sessions.append(ss["wall_s"])
            warmups.append(sw["wall_s"])
            for i in range(1, SETUP_SAMPLES):
                spark.stop()
                with tr.span(f"setup.{i}") as si:
                    with tr.span("setup.session") as ss:
                        spark = bench.session(wl.conf)
                    with tr.span("setup.warmup") as sw:
                        wl.warmup(spark)
                setups.append(si["wall_s"])
                sessions.append(ss["wall_s"])
                warmups.append(sw["wall_s"])

            with tr.span("timed"):
                deadline = time.perf_counter() + args.seconds
                while time.perf_counter() < deadline or not wl.pass_walls:
                    with tr.span("pass"):
                        wl.timed_pass(spark)
            wall = wl.wall()
            e2e = {
                "setup_s": median(setups),
                "wall_s": wall,
                "docs_per_s": wl.rows_per_op() / wall,
            }
            layers = {}
            if args.trace:
                pre = wl.pre_trace(spark)
                spark.stop()
                log_dir = os.path.join(work, "eventlog")
                spark = bench.session({
                    **wl.conf,
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                })
                with tr.span("layers"):
                    layers = wl.layer_metrics(spark, wall, **pre)
                stop_spark(spark)
                spark = None
                stats = parse_event_log(log_dir)
                layers.update(entry_metrics(
                    {q: layers[f"entry.{q}.wall_s"] for q in REGISTRY_QUERIES}, stats))
                layers.update(spark_metrics(stats, wl.op_groups()))
                layers.update({
                    "setup.import_s": imp["wall_s"],
                    "setup.cold_s": setups[0],
                    "session.get_spark_cold_s": sessions[0],
                    "session.get_spark_restart_s": median(sessions[1:]),
                    "setup.warmup_s": median(warmups),
                })
        e2e["peak_rss_mb"] = rss.peak / 1e6
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": bench.cpus,
        "artifacts_sha256": bench.artifacts,
        "input_digest": wl.inp.digest,
        "input_params": wl.inp.meta["params"],
        "rows_per_op": wl.rows_per_op(),
        "pass_walls": wl.pass_walls,
        "failures": bench.failures.messages[:20],
    }
    trace_path = os.path.join(BENCH_DIR, ".work",
                              f"trace-{args.workload}-{args.seed}-{args.trace}.json")
    tr.write(trace_path, info)
    info["trace"] = os.path.relpath(trace_path, ROOT)
    metrics = layers if args.trace else e2e
    return info, metrics, bench.failures


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "quality_filter"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from a quality_filter checkout (program not found)",
              file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    info, metrics, failures = run(args)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": failures.failed == 0,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

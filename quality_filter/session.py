"""SparkSession factory for local runs, tests and bench."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cpus: int | str | None = None,
    app_name: str = "quality_filter",
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """local[N] session tuned for the pipeline.

    On a real cluster the same settings ride in via spark-submit; nothing
    here is local-only semantics.  Arrow batch size bounds the rows per
    model call in the pandas-UDF stages — the ``batch_size`` knob analog
    (/root/reference/opennsfw2/_inference.py:89).
    """
    # one BLAS/OMP thread per python worker: Spark already parallelizes
    # across workers, nested numpy threadpools (default = all cores, PER
    # worker) oversubscribe the box catastrophically at local[32]
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_for_shuffle = os.cpu_count() if cpus in ("*",) else int(cpus)
    shuffle_partitions = shuffle_partitions or max(int(n_for_shuffle), 8)

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # explicit (it's the Spark default, but it's load-bearing here):
        # hot band-keys / hosts rely on AQE splitting skewed join reads
        # when the deterministic salting isn't in the path
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        .config("spark.driver.memory", os.environ.get("QF_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # the stage progress bar shares stderr with scripts' result lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # workers read each zip archive's directory once, not once per task
        .config("spark.python.daemon.module", "quality_filter.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

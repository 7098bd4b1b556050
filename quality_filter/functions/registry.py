"""SQL-surface registration: the pipeline's kernels as named functions.

The dual-surface lesson of the reference (`preprocess_image_tensor` is
usable both inside its own pipeline and in arbitrary tf.data pipelines,
/root/reference/opennsfw2/_image.py:71-100): every scoring stage is also
available to plain ``spark.sql`` users after one ``register_udfs`` call.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from quality_filter import features as FT
from quality_filter.config import DEFAULT_ARTIFACT_DIR, load_config
from quality_filter.operators.extract import make_extract_udf
from quality_filter.operators.score import make_score_udf


def register_udfs(spark: SparkSession, artifact_dir: str = DEFAULT_ARTIFACT_DIR) -> None:
    """Registers for SQL use:
      qf_extract_text(html BINARY)  → STRING
      qf_score(text STRING)         → STRUCT<lang_pred, lang_conf, ppl>
      qf_scrub_pii(text STRING)     → STRING
    All Arrow-vectorized; qf_scrub_pii shares the oracle's scrub code so
    its output is byte-identical to the native pipeline column."""
    cfg = load_config(artifact_dir)
    spark.udf.register("qf_extract_text", make_extract_udf())
    spark.udf.register("qf_score", make_score_udf(artifact_dir, cfg.profile))

    pii_rules = cfg.pii_rules

    @F.pandas_udf("string")
    def qf_scrub_pii(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: FT.scrub_pii(t, pii_rules) if isinstance(t, str) else None
        )

    spark.udf.register("qf_scrub_pii", qf_scrub_pii)

"""Arrow-vectorized HTML→text extraction stage.

One scalar pandas_udf over the binary ``html`` column, calling the SAME
extractor module as the oracle (quality_filter/text/extraction.py) —
byte-identical output per url by construction.  The decode step is the
row-level analog of the reference's image-decode stage
(/root/reference/opennsfw2/_inference.py:30-33).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quality_filter.text.extraction import extract_text_from_bytes


def make_extract_udf():
    """Factory: (html) -> text pandas UDF.  Built per plan, like
    ``make_score_udf``: a UDF object binds to the SparkContext that first
    evaluates it, so a module-level one would outlive a session restart
    and report its accumulator to a dead context."""

    @F.pandas_udf(T.StringType())
    def extract_text_udf(html: pd.Series) -> pd.Series:
        return html.map(extract_text_from_bytes)

    return extract_text_udf


def extracted_text_col(text: Column, html: Column) -> Column:
    """``coalesce(text, extract(html))`` — pre-populated text rows skip
    extraction (the in-memory-handle passthrough analog, opennsfw2
    ``_inference.py:31-32``).  ``ExtractPythonUDFs``
    hoists the UDF out of the ``CASE WHEN``, so it sees every row; a row
    that has text sends NULL instead of its html bytes and comes back
    NULL, the way ``_scored_plan`` masks the model input."""
    udf_input = F.when(text.isNull(), html)
    return F.when(text.isNotNull(), text).otherwise(make_extract_udf()(udf_input))

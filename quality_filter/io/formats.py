"""Interchange-format sources/sinks with oracle-checkable fidelity.

A corpus pipeline ingests more than parquet: crawl dumps and vendor
drops arrive as JSONL (the Common-Crawl/WET-adjacent idiom) and CSV.
These helpers write a DataFrame to the interchange format and read it
back WITH AN EXPLICIT SCHEMA (never inferSchema — a schema inferred per
file flips types between drops and silently corrupts a pipeline; at
scale inference is also an extra full read).  FAILFAST mode: a
malformed record aborts the job rather than nulling fields silently.

Fidelity is provable, not assumed: ``fidelity_summary`` reduces a table
to per-group counts plus an order-free integer checksum over every
column of each row (md5-bucket of the '|'-joined row image, summed as
bigints).  Running it on the ROUND-TRIPPED table and comparing with the
same summary over the original (the DuckDB oracle does exactly this)
proves the encode/decode preserved every byte of every row — unicode,
quoting, embedded separators and all.

Scale shape: the round trip is a narrow write + scan (no shuffle); the
checksum is a partial-aggregated groupBy of O(groups) rows.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quality_filter.operators.sampling import hash_bucket

# RFC-4180 quoting: quote with '"', escape an embedded quote by doubling
# it, and allow quoted newlines on read (multiLine).  The whitespace
# options matter: Spark's CSV WRITER trims leading/trailing field
# whitespace by default, which would silently break byte fidelity.
CSV_OPTIONS = {
    "header": "true", "quote": '"', "escape": '"', "multiLine": "true",
    "ignoreLeadingWhiteSpace": "false", "ignoreTrailingWhiteSpace": "false",
}
# Read-side NULL sentinel.  The writer emits NULL as an unquoted empty
# field and "" as a quoted one ('""'); the reader hands the unquoted
# empty field back as ``nullValue``, and Spark then maps that string to
# NULL.  The default nullValue is "", which turns '""' into NULL too;
# with emptyValue="" and a non-empty sentinel both survive.  The cost:
# a value exactly equal to the sentinel also reads back as NULL.
CSV_NULL_SENTINEL = "\\N"

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


_scratch_root: str | None = None


def scratch_path(tag: str, key: str) -> str:
    """Scratch dir per (tag, input key) — md5 of the key so fuzz corpora
    in different directories never collide.  The root is private to
    this process: made on first use, removed at interpreter exit."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="qf_formats_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return os.path.join(_scratch_root, f"{tag}_{hashlib.md5(key.encode()).hexdigest()[:10]}")


def roundtrip_jsonl(df: DataFrame, spark: SparkSession, path: str,
                    schema: T.StructType) -> DataFrame:
    """Write ``df`` as JSON Lines and read it back with the explicit
    schema in FAILFAST mode."""
    df.select(*[f.name for f in schema.fields]).write.mode("overwrite").json(path)
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def roundtrip_csv(df: DataFrame, spark: SparkSession, path: str,
                  schema: T.StructType) -> DataFrame:
    """Write ``df`` as RFC-4180 CSV and read it back with the explicit
    schema in FAILFAST mode (multiLine tolerates quoted newlines).  ""
    and NULL stay distinct; a value equal to ``CSV_NULL_SENTINEL``
    reads back as NULL."""
    (
        df.select(*[f.name for f in schema.fields])
        .write.mode("overwrite").options(**CSV_OPTIONS).csv(path)
    )
    return (
        spark.read.schema(schema)
        .options(**CSV_OPTIONS)
        .options(mode="FAILFAST", emptyValue="", nullValue=CSV_NULL_SENTINEL)
        .csv(path)
    )


def roundtrip_orc(df: DataFrame, spark: SparkSession, path: str,
                  schema: T.StructType) -> DataFrame:
    """Write ``df`` as ORC and read it back with the explicit schema.
    ORC is self-describing columnar (types travel with the file, no
    quoting/escaping layer), so unlike JSONL/CSV there is no textual
    encode to get wrong — the fidelity check proves the writer/reader
    pair preserves values anyway (the contract is the same regardless
    of how safe the format looks)."""
    df.select(*[f.name for f in schema.fields]).write.mode("overwrite").orc(path)
    return spark.read.schema(schema).orc(path)


def roundtrip_warc(df: DataFrame, spark: SparkSession, path: str,
                   schema: T.StructType) -> DataFrame:
    """Write the documents table as WARC resource records (payload =
    utf-8 text, scalar columns as X- headers) and read it back through
    the strict parser.  WARC's Content-Length framing makes arbitrary
    payload bytes safe with no quoting layer at all — the crawl-native
    member of the interchange family (io/warc.py)."""
    from quality_filter.io import warc as W

    pages = df.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2025-06-01T00:00:00Z").alias("warc_date"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars").cast("string").alias("n_chars"),
    )
    W.write_warc(
        pages, path, header_cols=("doc_id", "lang", "source", "n_chars")
    )
    rt = W.read_warc(spark, path)
    out = rt.select(
        F.col("headers")["x-doc-id"].cast("long").alias("doc_id"),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
        F.col("headers")["x-lang"].alias("lang"),
        F.col("headers")["x-source"].alias("source"),
        F.col("headers")["x-n-chars"].cast("long").alias("n_chars"),
    )
    return out.select(*[f.name for f in schema.fields])


def row_checksum(cols: list[Column]) -> Column:
    """Order-free row image checksum: md5-bucket of the '|'-joined
    stringified columns (bigint) — summing these over any subset of rows
    is exact and order/partition/engine-invariant."""
    parts: list[Column] = []
    for c in cols:
        parts.append(c.cast("string"))
        parts.append(F.lit("|"))
    return hash_bucket(F.concat(*parts[:-1]))


def fidelity_summary(df: DataFrame, group_col: str, cols: list[str],
                     chars_col: str = "n_chars") -> DataFrame:
    """(group, n_docs, sum_chars, fidelity_sum): the per-group fidelity
    reduction described in the module docstring."""
    return (
        df.groupBy(F.col(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(chars_col).cast("long").alias("sum_chars"),
            F.sum(row_checksum([F.col(c) for c in cols])).cast("long").alias("fidelity_sum"),
        )
    )


def roundtrip_wet(df: DataFrame, spark: SparkSession, path: str,
                  schema: T.StructType) -> DataFrame:
    """Write the documents table as WET conversion records (the
    Common-Crawl extracted-text product: text/plain payload +
    WARC-Refers-To) and read it back through the strict typed parser —
    the interchange twin proving the engine's extracted text can feed
    any WET consumer and come back intact (io/warc.py:write_wet)."""
    from quality_filter.io import warc as W

    pages = df.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2025-06-01T00:00:00Z").alias("warc_date"),
        F.col("text"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars").cast("string").alias("n_chars"),
    )
    W.write_wet(
        pages, path, header_cols=("doc_id", "lang", "source", "n_chars")
    )
    rt = W.read_wet(spark, path)
    out = rt.select(
        F.col("headers")["x-doc-id"].cast("long").alias("doc_id"),
        F.col("text"),
        F.col("headers")["x-lang"].alias("lang"),
        F.col("headers")["x-source"].alias("source"),
        F.col("headers")["x-n-chars"].cast("long").alias("n_chars"),
    )
    return out.select(*[f.name for f in schema.fields])

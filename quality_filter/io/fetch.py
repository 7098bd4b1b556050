"""URL ingest source: fetch payloads for a DataFrame of URLs.

The reference serves this via a per-request HTTP download with
content-type sniffing and quarantine-on-error
(/root/reference/app/services/file_service.py:42-74, 125-156).  The
engine analog is a SOURCE operator: an Arrow-batched ``mapInPandas``
stage that fetches each URL inside the task, emits the raw payload as
BINARY next to sniffed metadata, and converts every failure into a row
flag instead of a task failure.

Scale shape: fetching is embarrassingly parallel and I/O-bound — one
in-flight request per row within a partition, parallelism = partitions;
``repartition(n_tasks)`` upstream is the throttle.  No driver-side
loops, no collected URL lists.

The sandbox has no network; tests drive the path with ``file://`` URLs,
which urllib serves through the same interface.  A cluster allowlist /
robots policy belongs in front of this operator, not inside it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),  # null url -> quarantine row
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("fetch_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

# magic-byte sniff, checked BEFORE trusting any server-declared type —
# the content-type-vs-reality lesson (file_service.py:125-156)
_MAGIC = (
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"BM", "image/bmp"),
    (b"P6", "image/x-portable-pixmap"),
    (b"%PDF", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x1f\x8b", "application/gzip"),
)


def sniff_content_type(payload: bytes) -> str:
    for magic, ctype in _MAGIC:
        if payload[: len(magic)] == magic:
            return ctype
    head = payload[:256].lstrip()
    if head[:1] == b"<":
        return "text/html"
    try:
        payload[:4096].decode("utf-8")
        return "text/plain"
    except UnicodeDecodeError:
        return "application/octet-stream"


def fetch_urls(
    df: DataFrame,
    url_col: str = "url",
    timeout_s: float = 10.0,
    max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """(url, payload, content_type, fetch_ok, error): fetch each URL in
    the executor task.  Errors (unreachable, timeout, over-size) become
    fetch_ok=false rows; content_type is sniffed from the payload bytes,
    never trusted from headers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import urllib.request

        for pdf in batches:
            payloads, ctypes, oks, errs = [], [], [], []
            for url in pdf[url_col]:
                if url is None:
                    payloads.append(None); ctypes.append(None)
                    oks.append(False); errs.append("null_url")
                    continue
                try:
                    with urllib.request.urlopen(url, timeout=timeout_s) as resp:
                        body = resp.read(max_bytes + 1)
                    if len(body) > max_bytes:
                        raise ValueError(f"payload exceeds {max_bytes} bytes")
                    payloads.append(body)
                    ctypes.append(sniff_content_type(body))
                    oks.append(True); errs.append(None)
                except Exception as e:  # noqa: BLE001 — quarantine, don't fail the task
                    payloads.append(None); ctypes.append(None)
                    oks.append(False)
                    errs.append(f"{type(e).__name__}: {e}"[:200])
            yield pd.DataFrame(
                {
                    "url": pdf[url_col],
                    "payload": payloads,
                    "content_type": ctypes,
                    "fetch_ok": oks,
                    "error": errs,
                }
            )

    return df.select(url_col).mapInPandas(run, FETCH_SCHEMA)


def fetched_to_pages(fetched: DataFrame, default_ts: str = "1970-01-01 00:00:00") -> DataFrame:
    """Adapt fetch output to the pages-table shape (url, warc_ts, html,
    text, lang): HTML/plain payloads flow into the extraction column;
    everything else (and every failed fetch) arrives with NULL html and
    quarantines in the pipeline — no special-casing downstream."""
    from pyspark.sql import functions as F

    is_texty = F.col("content_type").isin("text/html", "text/plain")
    return fetched.select(
        "url",
        F.lit(default_ts).cast("timestamp").alias("warc_ts"),
        F.when(F.col("fetch_ok") & is_texty, F.col("payload")).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )

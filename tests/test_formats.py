"""Interchange round-trip fidelity: adversarial content, checksum power."""

import pytest
from pyspark.sql import functions as F

from quality_filter.io import formats

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

# the content classes that break naive CSV/JSON plumbing
ADVERSARIAL_TEXTS = [
    'plain words',
    'comma, separated, values',
    'quote "double" and \'single\'',
    'embedded\nnewline and\r\ncrlf',
    '  leading and trailing spaces  ',
    'unicode: 中文 café ü — \U0001f600',
    'tab\tand|pipe and \\ backslash',
    '""doubled quotes"" at edges""',
    '',  # empty string
    'trailing backslash \\',
]


@pytest.fixture(scope="module")
def adv_df(spark):
    rows = [
        (i, t, "en", "srcA", len(t)) for i, t in enumerate(ADVERSARIAL_TEXTS)
    ]
    return spark.createDataFrame(rows, schema=formats.DOCUMENTS_SCHEMA)


@pytest.mark.parametrize("fmt", ["jsonl", "csv"])
def test_adversarial_roundtrip_byte_identical(spark, adv_df, fmt, tmp_path):
    fn = formats.roundtrip_jsonl if fmt == "jsonl" else formats.roundtrip_csv
    rt = fn(adv_df, spark, str(tmp_path / fmt), formats.DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: r["text"] for r in rt.collect()}
    assert got == dict(enumerate(ADVERSARIAL_TEXTS))


def test_csv_roundtrip_keeps_empty_string_distinct_from_null(spark, tmp_path):
    """CSV writes NULL as an unquoted empty field and "" as '""'; the
    reader keeps them apart.  The one lossy value is the read-side NULL
    sentinel itself, which comes back as NULL."""
    texts = ["", None, " ", '""', formats.CSV_NULL_SENTINEL]
    df = spark.createDataFrame(
        [(i, t, "en", None, 0) for i, t in enumerate(texts)],
        schema=formats.DOCUMENTS_SCHEMA,
    )
    rt = formats.roundtrip_csv(df, spark, str(tmp_path / "csv"), formats.DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: (r["text"], r["source"]) for r in rt.collect()}
    assert got == {i: (t, None) for i, t in enumerate(texts[:-1])} | {4: (None, None)}


def test_fidelity_summary_catches_single_byte_mutation(spark, adv_df):
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    base = {
        r["lang"]: r["fidelity_sum"]
        for r in formats.fidelity_summary(adv_df, "lang", cols).collect()
    }
    mutated = adv_df.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.lit("plain wordz")).otherwise(F.col("text")),
    )
    mut = {
        r["lang"]: r["fidelity_sum"]
        for r in formats.fidelity_summary(mutated, "lang", cols).collect()
    }
    assert base != mut


def test_failfast_aborts_on_malformed_jsonl(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-00000.json").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        'this is not json\n'
    )
    bad = (
        spark.read.schema(formats.DOCUMENTS_SCHEMA)
        .option("mode", "FAILFAST")
        .json(str(p))
    )
    with pytest.raises(Exception):
        bad.collect()


def test_scratch_root_is_per_process_and_removed_at_exit():
    """scratch_path's root is made on first use and removed when the
    interpreter exits, so registry calls leave no dirs behind (the
    child imports formats only; no Spark starts)."""
    import os
    import subprocess
    import sys

    code = (
        "import os\n"
        "from quality_filter.io import formats\n"
        "p = formats.scratch_path('t', 'k')\n"
        "os.makedirs(p)\n"
        "open(os.path.join(p, 'part-0'), 'w').close()\n"
        "assert formats.scratch_path('u', 'k').startswith(os.path.dirname(p))\n"
        "print(os.path.dirname(p))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": repo}, check=True,
    )
    root = out.stdout.strip()
    assert os.path.basename(root).startswith("qf_formats_")
    assert not os.path.exists(root)


# ---------------------------------------------------------------------------
# WARC container (io/warc.py)
# ---------------------------------------------------------------------------

def test_warc_record_build_parse_roundtrip_adversarial():
    """Length framing must survive payloads that embed the framing
    bytes themselves (CRLFCRLF), multibyte text, and emptiness."""
    from quality_filter.io import warc as W

    payloads = [
        b"plain",
        b"",
        b"embedded\r\n\r\nterminator bytes",
        "unicode: 中文 café \U0001f600".encode("utf-8"),
        b"WARC/1.0\r\nlooks like a record start",
        bytes(range(256)),
    ]
    blob = b"".join(
        W.build_record(f"doc://{i}", "2025-06-01T00:00:00Z", p, {"X-I": str(i)})
        for i, p in enumerate(payloads)
    )
    got = list(W.iter_warc_records(blob))
    assert [p for _, p in got] == payloads
    assert [h["x-i"] for h, _ in got] == [str(i) for i in range(len(payloads))]
    assert all(h["warc-target-uri"] == f"doc://{i}" for i, (h, _) in enumerate(got))


def test_warc_gzip_transparent():
    import gzip

    from quality_filter.io import warc as W

    blob = W.build_record("doc://0", "2025-06-01T00:00:00Z", b"abc")
    assert [p for _, p in W.iter_warc_records(gzip.compress(blob))] == [b"abc"]


def test_warc_strict_parser_rejects_corruption():
    """Truncation, garbage between records, and a lying Content-Length
    must ABORT (FAILFAST discipline), never resync silently."""
    from quality_filter.io import warc as W

    ok = W.build_record("doc://0", "2025-06-01T00:00:00Z", b"abcdef")
    for bad in [
        ok[:-4],                      # truncated terminator
        ok + b"junk",                 # trailing garbage
        b"HTTP/1.1 200 OK\r\n\r\n",   # not a WARC version line
        ok.replace(b"Content-Length: 6", b"Content-Length: 5"),
    ]:
        with pytest.raises(ValueError):
            list(W.iter_warc_records(bad))


def test_warc_writer_rejects_crlf_header():
    from quality_filter.io import warc as W

    with pytest.raises(ValueError):
        W.build_record("doc://0\r\nWARC-Date: fake", "2025", b"")


def test_warc_spark_roundtrip_byte_identical(spark, adv_df, tmp_path):
    """Distributed write (one file per partition) -> strict parallel
    parse == source, including the empty string (WARC keeps it — framed
    payload, unlike CSV's lossy cell)."""
    rt = formats.roundtrip_warc(
        adv_df.repartition(3), spark, str(tmp_path / "warc"), formats.DOCUMENTS_SCHEMA
    )
    got = {r["doc_id"]: r["text"] for r in rt.collect()}
    assert got == {i: t for i, t in enumerate(ADVERSARIAL_TEXTS)}
    import glob

    assert len(glob.glob(str(tmp_path / "warc" / "*.warc"))) == 3


def test_warc_writer_rejects_unroundtrippable_headers():
    """Padded or NULL header values cannot round-trip byte-identically
    (the parser strips surrounding whitespace) — the writer must abort,
    never silently mutate."""
    from quality_filter.io import warc as W

    with pytest.raises(ValueError):
        W.build_record("doc://0", "2025", b"", {"X-Source": " web "})
    with pytest.raises(ValueError):
        W.build_record("doc://0", "2025", b"", {"X-Lang": None})


def test_warc_read_handles_gz_files_and_empty_dir(spark, tmp_path):
    import gzip

    from quality_filter.io import warc as W

    d = tmp_path / "wgz"
    d.mkdir()
    blob = W.build_record("doc://7", "2025-06-01T00:00:00Z", b"payload")
    (d / "part-00000.warc.gz").write_bytes(gzip.compress(blob))
    rows = W.read_warc(spark, str(d)).collect()
    assert len(rows) == 1 and bytes(rows[0]["payload"]) == b"payload"
    # empty dir: empty typed frame, not an AnalysisException
    e = tmp_path / "empty"
    e.mkdir()
    assert W.read_warc(spark, str(e)).collect() == []


def test_warc_crawl_ingest_feeds_pipeline_end_to_end(spark, tmp_path):
    """The crawl-native path composed: pages → WARC shards (binary html
    payload + url/ts headers) → strict parallel parse → the SAME
    quality pipeline outputs as scoring the original table directly —
    WARC ingest is a transparent source for the gate."""
    import pandas as pd

    from quality_filter.corpus import generate_pages, pages_spark_schema
    from quality_filter.io import warc as W
    from quality_filter.pipeline import score_documents
    from pyspark.sql import functions as F

    pages = generate_pages(120, seed=77).drop(columns=["cls"])
    sdf = spark.createDataFrame(pages, schema=pages_spark_schema())
    # ship html bytes as payload; text-passthrough rows ride an empty
    # payload + a presence flag (WARC headers carry strings only)
    shipped = sdf.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.coalesce(F.col("html"), F.encode(F.coalesce("text", F.lit("")), "UTF-8")).alias("payload"),
        F.when(F.col("html").isNotNull(), F.lit("html")).otherwise(F.lit("text")).alias("kind"),
        F.coalesce("lang", F.lit("und")).alias("lang"),
    )
    W.write_warc(shipped.repartition(3), str(tmp_path / "crawl"), header_cols=("kind", "lang"))
    rt = W.read_warc(spark, str(tmp_path / "crawl"))
    rebuilt = rt.select(
        F.col("url"),
        F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        F.when(F.col("headers")["x-kind"] == "html", F.col("payload"))
        .otherwise(F.lit(None).cast("binary")).alias("html"),
        F.when(F.col("headers")["x-kind"] == "text", F.decode(F.col("payload"), "UTF-8"))
        .otherwise(F.lit(None).cast("string")).alias("text"),
        F.col("headers")["x-lang"].alias("lang"),
    )
    a = score_documents(sdf).select("url", "status", "extracted_text").toPandas()
    b = score_documents(rebuilt).select("url", "status", "extracted_text").toPandas()
    a = a.sort_values("url").reset_index(drop=True)
    b = b.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_wet_spark_roundtrip_byte_identical(spark, adv_df, tmp_path):
    """documents → WET conversion records → strict typed parse: every
    text byte (unicode, CRLF, embedded framing-lookalikes) survives —
    Content-Length framing carries the payload, no quoting layer."""
    rt = formats.roundtrip_wet(
        adv_df, spark, str(tmp_path / "wet"), formats.DOCUMENTS_SCHEMA
    )
    got = {r["doc_id"]: tuple(r) for r in rt.collect()}
    want = {r["doc_id"]: tuple(r) for r in adv_df.collect()}
    assert got == want


def test_wet_records_carry_conversion_headers(spark, tmp_path):
    """WET semantics on the wire: WARC-Type conversion, text/plain
    Content-Type, a WARC-Refers-To back-pointer derived from the source
    URL, and the .warc.wet suffix."""
    from quality_filter.io import warc as W

    df = spark.createDataFrame(
        [("http://a/x", "2025-06-01T00:00:00Z", "hello wet"),
         ("http://b/y", "2025-06-01T00:00:00Z", "köln 中文")],
        "url string, warc_date string, text string",
    )
    W.write_wet(df.coalesce(1), str(tmp_path / "w"), text_col="text")
    rows = W.read_wet(spark, str(tmp_path / "w")).collect()
    assert {r["url"] for r in rows} == {"http://a/x", "http://b/y"}
    for r in rows:
        h = r["headers"]
        assert h["warc-type"] == "conversion"
        assert h["content-type"] == "text/plain"
        assert h["warc-refers-to"] == f"<urn:qf:source:{r['url']}>"
    got = {r["url"]: r["text"] for r in rows}
    assert got["http://b/y"] == "köln 中文"
    import glob
    assert glob.glob(str(tmp_path / "w" / "*.warc.wet"))


def test_read_wet_aborts_on_non_conversion_records(spark, tmp_path):
    """A 'WET' directory containing resource records is a mislabeled
    WARC: the parse task must abort, not silently pass them through."""
    from quality_filter.io import warc as W

    df = spark.createDataFrame(
        [("http://a/x", "2025-06-01T00:00:00Z", b"raw")],
        "url string, warc_date string, payload binary",
    )
    W.write_warc(df, str(tmp_path / "m"))  # resource records
    with pytest.raises(Exception, match="conversion"):
        W.read_wet(spark, str(tmp_path / "m")).collect()


def test_read_wet_empty_dir_is_typed_empty(spark, tmp_path):
    from quality_filter.io import warc as W

    d = tmp_path / "none"
    d.mkdir()
    out = W.read_wet(spark, str(d))
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["url", "warc_date", "text", "headers"]


def test_wet_export_of_pipeline_output_is_byte_identical(spark, tmp_path):
    """The product path: score_documents → keep docs' extracted text →
    WET conversion records → strict read-back: texts byte-identical to
    the pipeline's extracted_text (the engine's output IS a valid WET
    product)."""
    import pandas as pd

    from quality_filter.corpus import generate_pages
    from quality_filter.io import warc as W
    from quality_filter.pipeline import score_documents

    pages = generate_pages(80, seed=41).drop(columns=["cls"])
    scored = score_documents(spark.createDataFrame(pages))
    kept = scored.filter(F.col("status") == "keep").select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.col("extracted_text"),
    )
    want = {r["url"]: r["extracted_text"] for r in kept.collect()}
    assert want, "no keep docs in the generated corpus?"
    W.write_wet(kept, str(tmp_path / "export"), text_col="extracted_text")
    rt = W.read_wet(spark, str(tmp_path / "export"))
    got = {r["url"]: r["text"] for r in rt.collect()}
    assert got == want


def test_warc_writers_reject_nulls_failfast(spark, tmp_path):
    """NULL text/header/url values must ABORT the write (the CRLF
    FAILFAST discipline), not coerce — str(None) would stamp the literal
    'None' into headers and a NULL payload would silently round-trip to
    b''/'' (ADVICE r4)."""
    from quality_filter.io import warc as W

    null_text = spark.createDataFrame(
        [("http://a/x", "2024-01-01T00:00:00Z", None)],
        "url string, warc_date string, text string",
    )
    with pytest.raises(Exception, match="NULL 'payload'"):
        W.write_wet(null_text, str(tmp_path / "w1")).collect()
    null_hdr = spark.createDataFrame(
        [("http://a/x", "2024-01-01T00:00:00Z", bytearray(b"ok"), None)],
        "url string, warc_date string, payload binary, lang string",
    )
    with pytest.raises(Exception, match="NULL 'lang'"):
        W.write_warc(
            null_hdr, str(tmp_path / "w2"), header_cols=("lang",)
        ).collect()

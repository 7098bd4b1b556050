"""Extractor goldens — exact strings, the byte-identical contract."""

from quality_filter.text.extraction import extract_text, extract_text_from_bytes


def test_strips_boilerplate_tags():
    html = (
        "<html><head><title>T</title><script>var x=1;</script>"
        "<style>p{}</style></head><body><nav><a href='/'>home</a></nav>"
        "<p>Hello   world</p><footer>foot</footer></body></html>"
    )
    assert extract_text(html) == "Hello world"


def test_whitespace_collapse_and_join():
    html = "<p>  a\n b </p><p>c\t\td</p>"
    assert extract_text(html) == "a b c d"


def test_charrefs_and_nfc():
    # &eacute; decodes to é; NBSP (&nbsp;) is whitespace-collapsed
    html = "<p>caf&eacute;&nbsp;&nbsp;ole</p>"
    assert extract_text(html) == "café ole"


def test_nested_skip_tags():
    html = "<nav><div>menu <span>deep</span></div></nav><p>body</p>"
    assert extract_text(html) == "body"


def test_undecodable_bytes_return_none():
    assert extract_text_from_bytes(b"<p>ok</p>\xff\xfe\x80 more") is None


def test_none_input():
    assert extract_text_from_bytes(None) is None


def test_valid_bytes_roundtrip():
    assert extract_text_from_bytes("<p>héllo wörld</p>".encode("utf-8")) == "héllo wörld"


def test_deterministic():
    html = "<html><body><p>same input same output</p></body></html>"
    assert extract_text(html) == extract_text(html)


def test_stray_angle_brackets():
    # html.parser's non-markup '<' rule, mimicked exactly
    assert extract_text("a <<>> b") == "a < < >> b"
    assert extract_text("x < y > z") == "x < y > z"
    assert extract_text("<p>5 &lt; 6 &amp; 7 &gt; 3</p>") == "5 < 6 & 7 > 3"


def test_fast_matches_reference_on_corpus():
    """Differential: the regex spec == the html.parser twin on every
    well-formed corpus document (two seeds, ~3.4k docs)."""
    from quality_filter.corpus import generate_pages
    from quality_filter.text.extraction import extract_text_reference

    for seed in (123, 4242):
        pages = generate_pages(2000, seed=seed)
        for h in pages["html"]:
            if h is None:
                continue
            try:
                txt = h.decode("utf-8")
            except UnicodeDecodeError:
                continue
            assert extract_text(txt) == extract_text_reference(txt)


def test_gzip_payloads_transparently_decompressed():
    """WARC-style gzip-wrapped payloads (1F 8B magic) extract to the
    SAME text as their uncompressed twin; corrupt gzip quarantines
    (None) instead of raising.  Lives in the shared module, so oracle
    and Spark inherit it identically by construction."""
    import gzip

    html = "<html><body><p>Fælles tekst &amp; more</p></body></html>".encode()
    want = extract_text_from_bytes(html)
    assert want and "Fælles" in want
    assert extract_text_from_bytes(gzip.compress(html)) == want

    gz = gzip.compress(html)
    assert extract_text_from_bytes(gz[: len(gz) // 2]) is None  # truncated
    corrupt = gz[:10] + bytes([gz[10] ^ 0xFF]) + gz[11:]
    assert extract_text_from_bytes(corrupt) is None  # corrupt deflate/crc
    # a NON-gzip payload starting with neither magic is unaffected
    assert extract_text_from_bytes(html) == want


def test_extraction_udf_survives_session_restart():
    """The extraction UDF is built per plan, so a second session in the
    same process gets a UDF bound to its own SparkContext: no task may
    fail to report its accumulator to the stopped first context."""
    import os
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        from pyspark.sql import functions as F
        from quality_filter.operators.extract import extracted_text_col
        from quality_filter.session import get_spark
        from quality_filter.text.extraction import extract_text_from_bytes

        html = b"<html><body><p>hello restart world</p></body></html>"
        for _ in range(2):
            spark = get_spark(cpus=1, app_name="qf-restart")
            df = spark.createDataFrame([(None, html)], "text string, html binary")
            got = df.select(extracted_text_col(F.col("text"), F.col("html"))).first()[0]
            assert got == extract_text_from_bytes(html), got
            spark.stop()
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, PYTHONPATH=repo),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Failed to update accumulator" not in out.stderr

"""Property-based differential fuzz of the frozen extraction spec.

The regex pipeline (extract_text) is the defined behavior; the
html.parser twin (extract_text_reference) must agree on all well-formed
markup (they deliberately diverge only on pathological unterminated
tags — see text/extraction.py docstring).  The generator below builds
well-formed documents from the same building blocks as real corpus
pages plus adversarial-but-well-formed noise.
"""

from __future__ import annotations

import unicodedata

from hypothesis import given, settings, strategies as st

from quality_filter.text.extraction import (
    _SKIP_TAGS,
    extract_text,
    extract_text_from_bytes,
    extract_text_reference,
)

# text content: printable unicode without '<' '>' '&' (refs added separately)
content = st.text(
    st.characters(
        codec="utf-8",
        exclude_characters="<>&",
        exclude_categories=("Cs", "Cc"),
    ),
    max_size=40,
)
charref = st.sampled_from(["&amp;", "&lt;", "&gt;", "&#233;", "&nbsp;", "&quot;"])
plain_tag = st.sampled_from(["p", "div", "span", "b", "i", "li", "h1", "td"])
void_tag = st.sampled_from(["br", "hr", "img", "meta"])
skip_tag = st.sampled_from(sorted(_SKIP_TAGS - {"head"}))


@st.composite
def well_formed(draw, depth=0):
    parts = []
    n = draw(st.integers(0, 4 if depth < 2 else 2))
    for _ in range(n):
        kind = draw(st.integers(0, 5))
        if kind == 0:
            parts.append(draw(content))
        elif kind == 1:
            parts.append(draw(charref))
        elif kind == 2:
            t = draw(plain_tag)
            inner = draw(well_formed(depth=depth + 1))
            parts.append(f"<{t}>{inner}</{t}>")
        elif kind == 3:
            parts.append(f"<{draw(void_tag)}>")
        elif kind == 4:
            t = draw(skip_tag)
            inner = draw(content)
            if draw(st.booleans()):  # nested same-tag skip block
                inner = f"{inner}<{t}>{draw(content)}</{t}>{draw(content)}"
            parts.append(f"<{t}>{inner}</{t}>")
        else:
            parts.append(f"<!-- {draw(content)} -->")
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(well_formed())
def test_fast_equals_reference_on_well_formed(html):
    assert extract_text(html) == extract_text_reference(html)


@settings(max_examples=300, deadline=None)
@given(well_formed())
def test_extraction_invariants(html):
    out = extract_text(html)
    # no markup survives: every '<' in the output must come from a
    # decoded &lt; charref ('&lt;p' extracting to literal '<p' is correct
    # entity decoding, not surviving markup)
    assert out.count("<") <= html.count("&lt;")
    # whitespace fully collapsed (single spaces, no edge spaces)
    assert out == " ".join(out.split())
    # NFC-normalized
    assert unicodedata.normalize("NFC", out) == out
    # deterministic
    assert extract_text(html) == out


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_bytes_path_never_raises(raw):
    # undecodable/garbage bytes -> None (quarantine), never an exception
    r = extract_text_from_bytes(raw)
    assert r is None or isinstance(r, str)

"""HTML → text extractor: v2 (the real-HTML tag stripper the stage
runs) against v1 (the corpus contract), and the per-url byte-identity
invariant."""

from __future__ import annotations

import hashlib

import pytest

from skosconverter_spark.kg.extract import (
    EXTRACTOR_VERSION,
    extract_text,
    extract_text_bytes,
    extract_text_bytes_v1,
    extract_text_bytes_v2,
)
from skosconverter_spark.sources.pages import page_record, synthesize_pages

REAL_HTML = (
    b"<!DOCTYPE html><html><head><title>T</title><style>p{color:red}</style>"
    b"<script>var x = '<p>not text</p>';</script></head>"
    b'<BODY class="main"><!-- note --><h1>Header &amp; more</h1>'
    b"<p>Para one.</p><p>Para <b>two</b> &lt;tag&gt;</p>"
    b"<ul><li>a</li><li>b</li></ul><noscript>no js</noscript>end</BODY></html>"
)


def test_v2_equals_v1_on_corpus_contract():
    for i in range(200):
        html = page_record(i)["html"]
        assert extract_text_bytes_v2(html) == extract_text_bytes_v1(html)
    assert extract_text_bytes_v2(None) is None
    assert extract_text_bytes_v1(None) is None


def test_v2_strips_real_html():
    text = extract_text_bytes_v2(REAL_HTML)
    assert "Header & more" in text
    assert "Para two <tag>" in text  # entities unescaped, inline tags gone
    assert "not text" not in text  # script subtree (with embedded tags) dropped
    assert "color:red" not in text and "no js" not in text
    assert "class=" not in text and "<h1>" not in text
    # body scoping: head title never leaks
    assert "T\n" not in text.split("Header")[0]


def test_v2_handles_fragments_and_unclosed_body():
    assert extract_text_bytes_v2(b"<div>frag &amp; tail</div>") == "\nfrag & tail\n"
    assert (
        extract_text_bytes_v2(b"<html><body><p>open ended")
        == "\nopen ended"
    )


def test_v1_raises_beyond_contract():
    with pytest.raises(NotImplementedError):
        extract_text_bytes_v1(b"<div>no body tag</div>")
    # the stage's extractor is v2
    assert EXTRACTOR_VERSION == "2"
    assert extract_text_bytes(REAL_HTML) == extract_text_bytes_v2(REAL_HTML)


def test_extract_text_stage_byte_identity(spark):
    """The per-url sha256 manifest invariant: extraction is a pure
    function of html bytes, identical across partitionings and equal to
    the corpus's expected text."""
    pages = synthesize_pages(spark, 60, partitions=3)
    a = {
        r.url: hashlib.sha256(r.text.encode()).hexdigest()
        for r in extract_text(pages).collect()
    }
    b = {
        r.url: hashlib.sha256(r.text.encode()).hexdigest()
        for r in extract_text(synthesize_pages(spark, 60, partitions=7)).collect()
    }
    assert a == b
    expected = {
        page_record(i)["url"]: hashlib.sha256(
            page_record(i)["_expected_text"].encode()
        ).hexdigest()
        for i in range(60)
    }
    assert a == expected

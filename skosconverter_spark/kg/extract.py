"""HTML → text extraction stage (SURVEY.md §2.9 C17, §2.11).

Arrow-batched ``mapInPandas``; deterministic and versioned. The
extractor is a pure function of the html bytes, so the per-url
byte-identical invariant (BASELINE.json input_hint) holds across runs,
partitionings and cluster sizes — enforced by a sha256-manifest pytest.

The stage runs extractor v2, a dependency-free real-HTML tag stripper
(public knowledge, no parser library): comments/script/style/noscript
dropped with their content, <body> scoped when present, block-level
tags become newlines, inline tags vanish, entities unescaped.
``EXTRACTOR_VERSION`` names it in the pages fingerprint, so changing the
extractor reruns every stage downstream (re-extraction must be
reproducible per url).

v1 is exactly the corpus contract (sources.pages) — a single literal
``<body>`` whose content is HTML-escaped text; anything else raises
NotImplementedError rather than guessing. It is kept only as the
reference v2 is pinned byte-identical to on that contract (by test).
"""

from __future__ import annotations

import html as html_mod
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACTOR_VERSION = "2"

_BODY_RE = re.compile(rb"<body>(.*)</body>", re.DOTALL)


def extract_text_bytes_v1(html: bytes | None) -> str | None:
    """v1 kernel: the synthesized-corpus contract only (None-safe)."""
    if html is None:
        return None
    m = _BODY_RE.search(html)
    if m is None:
        raise NotImplementedError(
            "extractor v1 only supports the synthesized corpus contract "
            "(single <body> of escaped text); use EXTRACTOR_VERSION '2' "
            "for real HTML"
        )
    return html_mod.unescape(m.group(1).decode("utf-8"))


# v2: dependency-free tag stripping. Element names that imply a line
# break when opened or closed (HTML block-level elements + <br>).
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|tr|td|th|table|thead|tbody|section|article|aside|"
    "header|footer|nav|main|form|fieldset|blockquote|pre|hr|h[1-6]|dl|dt|dd"
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_DROP_ELEMENT_RE = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_BODY_V2_RE = re.compile(r"<body\b[^>]*>(.*?)(?:</body\s*>|\Z)", re.DOTALL | re.IGNORECASE)
_BLOCK_TAG_RE = re.compile(rf"</?(?:{_BLOCK_TAGS})\b[^>]*/?>", re.IGNORECASE)
_ANY_TAG_RE = re.compile(r"</?[a-zA-Z][^>]*>|<!DOCTYPE[^>]*>", re.IGNORECASE)


def extract_text_bytes_v2(html: bytes | None) -> str | None:
    """v2 kernel: general tag-stripping extraction (None-safe).

    Deterministic pure function of the bytes: decode (utf-8, replace),
    drop comments and script/style/noscript subtrees, scope to <body>
    when present, block tags → newline, remaining tags → '', unescape
    entities. No whitespace collapsing beyond tag replacement, so the
    corpus contract (escaped text inside <body>) round-trips
    byte-identically with v1."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    s = _COMMENT_RE.sub("", s)
    s = _DROP_ELEMENT_RE.sub("", s)
    m = _BODY_V2_RE.search(s)
    if m is not None:
        s = m.group(1)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _ANY_TAG_RE.sub("", s)
    return html_mod.unescape(s)


# the extractor the stage runs; EXTRACTOR_VERSION names it
extract_text_bytes = extract_text_bytes_v2


def extract_text(pages: DataFrame) -> DataFrame:
    """pages → pages with ``text`` filled where null.

    Rows that already carry text keep it byte-identically (the
    invariant is per url) and NEVER cross the Python boundary: the
    stream is split on text-nullness so only rows that actually need
    the extractor pay the Arrow round-trip (on a crawl refresh most
    rows arrive pre-extracted — shipping them through pandas was pure
    serialization cost). Row order is not part of the contract (the
    caller repartitions); the per-url invariant is.
    """
    cols = pages.columns
    have = pages.filter(F.col("text").isNotNull())
    need_rows = pages.filter(F.col("text").isNull())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = [extract_text_bytes(h) for h in pdf["html"]]
            yield pdf

    schema = ", ".join(
        {
            "url": "url string",
            "warc_ts": "warc_ts timestamp",
            "html": "html binary",
            "text": "text string",
            "lang": "lang string",
        }[c]
        for c in cols
    )
    return have.unionByName(need_rows.mapInPandas(run, schema))


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """url-hash salted repartitioning (north_rule): domains are Zipf-skewed,
    so never partition by domain — hash the full url, which is uniform
    regardless of domain skew. Downstream per-domain aggregations should
    pre-aggregate on (domain, salt) first (two-phase agg)."""
    return df.repartition(num_partitions, F.xxhash64(F.col("url")))


def normalize_url(u) -> "F.Column":
    """Canonical URL form for crawl dedup — pure JVM-side expressions
    (regexp extracts + an array sort), no Python:

    - scheme and host lowercased
    - default ports stripped (:80 for http, :443 for https)
    - fragment dropped, trailing path slashes trimmed
    - query params sorted, with tracking params (utm_*, fbclid) removed

    Two crawls of the same resource with shuffled params / casing /
    fragments then collide on one key, so URL-level dedup is a plain
    hash groupBy. Inputs without a scheme pass through lowercased-
    trimmed (no guessing)."""
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host0 = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(host0, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host0, ":443$", ""))
        .otherwise(host0)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1),
        "/+$",
        "",
    )
    # the query is matched ONLY in the pre-fragment substring: an
    # unanchored \? would resurrect params out of SPA fragments like
    # http://a/p#/view?tab=1, wrongly merging/splitting URLs ([^#]*?
    # cannot cross the first '#', so the '?' must precede it)
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(u, r"^[^#]*?\?([^#]*)", 1), "&"),
            lambda p: (p != "")
            & ~p.startswith("utm_")
            & ~p.startswith("fbclid="),
        )
    )
    query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.when(scheme == "", F.lower(F.trim(u))).otherwise(
        F.concat(scheme, F.lit("://"), host, path, query)
    )


def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """df + ``norm_url`` column (see normalize_url)."""
    return df.withColumn("norm_url", normalize_url(F.col(url_col)))


_LINK_RE = r'<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def extract_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(src_url, pos, href, anchor): outbound links per page — the crawl
    link-graph construction pass (feeds ``operators.graph.pagerank`` /
    ``triangle_counts`` and anchor-text mention mining).

    Pure JVM regexp work: two regexp_extract_all passes over the same
    compiled pattern (href group, anchor group — the engines cache the
    pattern per expression), zipped positionally; the page html never
    leaves the scan's codegen stage and nothing shuffles until the
    caller aggregates. Same double-quoted-href subset the reference's
    markdown link syntax round-trips through; single-quoted/unquoted
    attrs are a documented non-goal of the synthetic-page contract."""
    pat = F.lit(_LINK_RE)
    pairs = F.arrays_zip(
        F.regexp_extract_all(F.col(html_col), pat, 1).alias("href"),
        F.regexp_extract_all(F.col(html_col), pat, 2).alias("anchor"),
    )
    return df.select(
        F.col(url_col).alias("src_url"), F.posexplode(pairs).alias("pos", "l")
    ).select(
        "src_url",
        "pos",
        F.col("l.href").alias("href"),
        F.col("l.anchor").alias("anchor"),
    )

"""Concept-mention detection over extracted page text (SURVEY.md J11).

Map-side broadcast dictionary scan: the vocabulary's prefLabel/altLabel
surface forms (normalized) are broadcast to every executor as a
token-trie; an Arrow-batched ``mapInPandas`` slides word windows over
each page's text and emits mention rows. One Python call per batch; the
only shuffle in this stage is the caller's salted repartition.

One normalizer: ``label_table`` collects the labels once and normalizes
them on the driver with ``normalize_surface``, whose ``_WORD_RE`` tokens
are the scanner's, so every emitted norm_surface is
``normalize_surface(surface)``. (A Spark twin with Java's Unicode ``\\w``,
which counts combining marks as word characters, lost every label with one.)

Candidates are the concepts whose label has the mention's normalized
surface: ``mention_candidates`` states that as an equi-join against the
label rows, and kg.linking scores them with a lookup in its per-page
kernel.
"""

from __future__ import annotations

import re
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.config import SKOS_ALT_LABEL, SKOS_PREF_LABEL
from skosconverter_spark.plans.local_dfs import arrow_rows, guard_driver_sized

_WORD_RE = re.compile(r"\w+(?:'\w+)?", re.UNICODE)

MENTION_SCHEMA = (
    "url string, surface string, norm_surface string, begin int, end int"
)


def normalize_surface(s: str) -> str:
    return " ".join(_WORD_RE.findall(s.lower()))


class Label(NamedTuple):
    uri: str | None
    label: str | None
    norm_surface: str | None
    kind: str


_KIND = {SKOS_PREF_LABEL: "pref", SKOS_ALT_LABEL: "alt"}


def label_table(triples: DataFrame) -> list[Label]:
    """The vocabulary's distinct ``Label`` rows, from one guarded collect
    of the pref/alt label triples, each label normalized on the driver by
    the scanner's own ``normalize_surface``. A null label keeps a null
    norm_surface; a label that is both pref and alt gives two rows."""
    labels = triples.filter(F.col("pred").isin(*_KIND)).select("subj", "pred", "obj")
    return list(dict.fromkeys(
        Label(uri, obj, obj and normalize_surface(obj), _KIND[pred])
        for uri, pred, obj in arrow_rows(guard_driver_sized(labels, "label_table"))
    ))


class _Trie:
    """Token-level dictionary: norm token tuple → True; tracks max length.

    ``first_tokens`` is the hot-path filter: the scanner touches the
    window machinery only for tokens that can START some surface, so the
    per-token cost on non-vocabulary text is one string-set lookup."""

    def __init__(self, surfaces: list[str]):
        self.surfaces = set()
        self.max_len = 1
        for s in surfaces:
            toks = tuple(s.split(" "))
            if toks:
                self.surfaces.add(toks)
                self.max_len = max(self.max_len, len(toks))
        # prefix set for early window cut-off
        self.prefixes = set()
        self.first_tokens = set()
        for toks in self.surfaces:
            self.first_tokens.add(toks[0])
            for i in range(1, len(toks) + 1):
                self.prefixes.add(toks[:i])


def _hit_regex(trie: "_Trie", ignorecase: bool = True) -> "re.Pattern | None":
    """One compiled alternation over every token that can START a surface,
    wrapped in the lookarounds that replicate _WORD_RE token boundaries
    exactly: a match begins where a token begins ((?<!\\w) — and not in
    the middle of an apostrophe token, (?<!\\w')) and ends where that
    token ends. The trailing boundary depends on the vocab token itself:
    a plain token must not be followed by '?\\w (an apostrophe
    continuation would extend the _WORD_RE token, as in "owner" inside
    "owner's"), but a token that ALREADY contains its one apostrophe
    group only needs (?!\\w) — _WORD_RE's optional (?:'\\w+)? is spent,
    so a following '\\w starts a NEW token ("d'or" in "d'or's" IS a
    token boundary; a single (?!'?\\w) wrongly rejected it). The C regex
    engine then finds vocabulary hits directly — no per-token Python
    work on non-vocabulary text, which is ~98% of a web corpus."""
    starts = sorted({t[0] for t in trie.surfaces}, key=len, reverse=True)
    if not starts:
        return None
    plain = [w for w in starts if "'" not in w]
    apos = [w for w in starts if "'" in w]
    branches = []
    if plain:
        branches.append(
            r"(?:%s)(?!'?\w)" % "|".join(re.escape(w) for w in plain)
        )
    if apos:
        branches.append(r"(?:%s)(?!\w)" % "|".join(re.escape(w) for w in apos))
    flags = re.UNICODE | (re.IGNORECASE if ignorecase else 0)
    return re.compile(
        r"(?<!\w)(?<!\w')(?:%s)" % "|".join(branches), flags
    )


def _kernel(trie: "_Trie"):
    """scan_text(text) -> position-sorted [(begin, end, surface, norm)].

    Fast path: one ``.lower()`` of the whole text (C-level) plus a
    CASE-SENSITIVE alternation scan over it — substantially faster than
    an IGNORECASE+Unicode scan because the regex engine skips case
    folding at every position. Offsets in the lowered text map 1:1 to
    the original whenever lowering preserves LENGTH (Unicode lowercasing
    never shrinks a string; expansions like 'İ' → 'i̇' change length) —
    texts failing that guard take the IGNORECASE path over the original
    text. Final semantics are identical either way: the IGNORECASE scan
    finds a superset (exotic folds like 'ſ'→'s') that the exact
    lowercase set probe rejects, while the lowered scan finds exactly
    the probe-passing hits directly. Differential-tested against the
    reference trie walk in tests/test_mention_kernel.py (which drives
    THIS function)."""
    from itertools import islice

    prefixes = trie.prefixes
    surfs = trie.surfaces
    max_len = trie.max_len
    singles = {t[0] for t in surfs if len(t) == 1}
    multi_first = {t[0] for t in surfs if len(t) > 1}
    hit_cs = _hit_regex(trie, ignorecase=False)
    hit_ci = _hit_regex(trie, ignorecase=True)

    def scan_text(text):
        rows: list[tuple[int, int, str, str]] = []
        if not text or hit_cs is None:
            return rows
        low = text.lower()
        if len(low) == len(text):
            scan_on, rx, lowered = low, hit_cs, True
        else:  # rare exotic-case page: exact IGNORECASE path
            scan_on, rx, lowered = text, hit_ci, False
        for m in rx.finditer(scan_on):
            w = m.group(0) if lowered else m.group(0).lower()
            b, e = m.start(), m.end()
            if w in singles:
                rows.append((b, e, text[b:e], w))
            if w in multi_first:
                toks = [
                    (
                        t.group(0) if lowered else t.group(0).lower(),
                        t.start(),
                        t.end(),
                    )
                    for t in islice(_WORD_RE.finditer(scan_on, b), max_len)
                ]
                win = (w,)
                for l in range(2, len(toks) + 1):
                    win = win + (toks[l - 1][0],)
                    if win not in prefixes:
                        break
                    if win in surfs:
                        ge = toks[l - 1][2]
                        rows.append((b, ge, text[b:ge], " ".join(win)))
        rows.sort(key=lambda r: (r[0], r[1]))
        return rows

    return scan_text


def scan_mentions(
    pages_text: DataFrame, triples: DataFrame, labels: list[Label] | None = None
) -> DataFrame:
    """pages(url, text) × broadcast vocabulary → mention rows.

    ``labels`` — ``label_table(triples)``, when the caller already holds
    it: the pipeline reads the vocabulary once and shares the rows
    between the scanner and the links stage. The trie is built from
    their distinct non-empty norm_surfaces, with no Spark job.

    begin/end are character offsets of the surface in the original text.

    Kernel: the hot path is ONE C-level alternation-regex scan per text
    (see _hit_regex) that jumps straight to candidate positions; each
    hit is verified with an exact ``.lower()`` set probe (IGNORECASE and
    str.lower can disagree on exotic Unicode — the probe keeps semantics
    identical to the reference trie walk, differential-tested in
    tests/test_mention_kernel.py). Multi-token surfaces tokenize lazily
    FROM the hit (itertools.islice over finditer — at most max_len
    matches consumed, any inter-token gap allowed, exactly like the full
    walk). Per-text results are sorted by position so output order is
    deterministic and independent of the single/multi pass split.

    Two earlier kernels, measured at 12.5k pages/batch on the bench
    corpus: per-token trie walk 1.9 s, pandas str-ops "vectorization"
    5.0 s (object-dtype .str.* are Python-level maps — a trap), this
    alternation scan 1.3 s with byte-identical output."""
    spark = pages_text.sparkSession
    rows = labels if labels is not None else label_table(triples)
    surfaces = sorted({ns for _, _, ns, _ in rows if ns})
    trie_bc = spark.sparkContext.broadcast(_Trie(surfaces))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scan_text = _kernel(trie_bc.value)
        for pdf in batches:
            out = {k: [] for k in ("url", "surface", "norm_surface", "begin", "end")}
            for url, text in zip(pdf["url"], pdf["text"]):
                for b, e, sf, ns in scan_text(text):
                    out["url"].append(url)
                    out["surface"].append(sf)
                    out["norm_surface"].append(ns)
                    out["begin"].append(b)
                    out["end"].append(e)
            yield pd.DataFrame(out, columns=list(out))

    return (
        pages_text.select("url", "text")
        .mapInPandas(scan, MENTION_SCHEMA)
    )


def mention_candidates(mentions: DataFrame, labels: list[Label]) -> DataFrame:
    """Equi-join mentions to candidate concepts on the normalized surface:
    ``labels`` (``label_table`` rows) become a small ``createDataFrame``,
    joined broadcast."""
    lt = mentions.sparkSession.createDataFrame(
        list({(ns, uri, kind) for uri, _, ns, kind in labels}),
        "norm_surface string, uri string, kind string",
    )
    return mentions.join(F.broadcast(lt), "norm_surface").select(
        "url", "surface", "norm_surface", "begin", "end",
        F.col("uri").alias("concept_uri"), "kind",
    )

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

# Combining marks (Unicode categories Mn, Mc, Me; Unicode 14.0, this
# interpreter's unicodedata): Python's \w excludes them, so a word would
# end at the accent of an NFD "Café" or at a Devanagari vowel sign.
# Committed as a literal: deriving it from unicodedata costs every Python
# worker a scan of all code points at import. tests/test_mention_kernel.py
# regenerates it and compares.
_MARKS = (
    "\u0300-\u036f\u0483-\u0489\u0591-\u05bd\u05bf\u05c1-\u05c2\u05c4-\u05c5\u05c7"
    "\u0610-\u061a\u064b-\u065f\u0670\u06d6-\u06dc\u06df-\u06e4\u06e7-\u06e8"
    "\u06ea-\u06ed\u0711\u0730-\u074a\u07a6-\u07b0\u07eb-\u07f3\u07fd\u0816-\u0819"
    "\u081b-\u0823\u0825-\u0827\u0829-\u082d\u0859-\u085b\u0898-\u089f\u08ca-\u08e1"
    "\u08e3-\u0903\u093a-\u093c\u093e-\u094f\u0951-\u0957\u0962-\u0963\u0981-\u0983"
    "\u09bc\u09be-\u09c4\u09c7-\u09c8\u09cb-\u09cd\u09d7\u09e2-\u09e3\u09fe"
    "\u0a01-\u0a03\u0a3c\u0a3e-\u0a42\u0a47-\u0a48\u0a4b-\u0a4d\u0a51\u0a70-\u0a71"
    "\u0a75\u0a81-\u0a83\u0abc\u0abe-\u0ac5\u0ac7-\u0ac9\u0acb-\u0acd\u0ae2-\u0ae3"
    "\u0afa-\u0aff\u0b01-\u0b03\u0b3c\u0b3e-\u0b44\u0b47-\u0b48\u0b4b-\u0b4d"
    "\u0b55-\u0b57\u0b62-\u0b63\u0b82\u0bbe-\u0bc2\u0bc6-\u0bc8\u0bca-\u0bcd\u0bd7"
    "\u0c00-\u0c04\u0c3c\u0c3e-\u0c44\u0c46-\u0c48\u0c4a-\u0c4d\u0c55-\u0c56"
    "\u0c62-\u0c63\u0c81-\u0c83\u0cbc\u0cbe-\u0cc4\u0cc6-\u0cc8\u0cca-\u0ccd"
    "\u0cd5-\u0cd6\u0ce2-\u0ce3\u0d00-\u0d03\u0d3b-\u0d3c\u0d3e-\u0d44\u0d46-\u0d48"
    "\u0d4a-\u0d4d\u0d57\u0d62-\u0d63\u0d81-\u0d83\u0dca\u0dcf-\u0dd4\u0dd6"
    "\u0dd8-\u0ddf\u0df2-\u0df3\u0e31\u0e34-\u0e3a\u0e47-\u0e4e\u0eb1\u0eb4-\u0ebc"
    "\u0ec8-\u0ecd\u0f18-\u0f19\u0f35\u0f37\u0f39\u0f3e-\u0f3f\u0f71-\u0f84"
    "\u0f86-\u0f87\u0f8d-\u0f97\u0f99-\u0fbc\u0fc6\u102b-\u103e\u1056-\u1059"
    "\u105e-\u1060\u1062-\u1064\u1067-\u106d\u1071-\u1074\u1082-\u108d\u108f"
    "\u109a-\u109d\u135d-\u135f\u1712-\u1715\u1732-\u1734\u1752-\u1753\u1772-\u1773"
    "\u17b4-\u17d3\u17dd\u180b-\u180d\u180f\u1885-\u1886\u18a9\u1920-\u192b"
    "\u1930-\u193b\u1a17-\u1a1b\u1a55-\u1a5e\u1a60-\u1a7c\u1a7f\u1ab0-\u1ace"
    "\u1b00-\u1b04\u1b34-\u1b44\u1b6b-\u1b73\u1b80-\u1b82\u1ba1-\u1bad\u1be6-\u1bf3"
    "\u1c24-\u1c37\u1cd0-\u1cd2\u1cd4-\u1ce8\u1ced\u1cf4\u1cf7-\u1cf9\u1dc0-\u1dff"
    "\u20d0-\u20f0\u2cef-\u2cf1\u2d7f\u2de0-\u2dff\u302a-\u302f\u3099-\u309a"
    "\ua66f-\ua672\ua674-\ua67d\ua69e-\ua69f\ua6f0-\ua6f1\ua802\ua806\ua80b"
    "\ua823-\ua827\ua82c\ua880-\ua881\ua8b4-\ua8c5\ua8e0-\ua8f1\ua8ff\ua926-\ua92d"
    "\ua947-\ua953\ua980-\ua983\ua9b3-\ua9c0\ua9e5\uaa29-\uaa36\uaa43\uaa4c-\uaa4d"
    "\uaa7b-\uaa7d\uaab0\uaab2-\uaab4\uaab7-\uaab8\uaabe-\uaabf\uaac1\uaaeb-\uaaef"
    "\uaaf5-\uaaf6\uabe3-\uabea\uabec-\uabed\ufb1e\ufe00-\ufe0f\ufe20-\ufe2f"
    "\U000101fd\U000102e0\U00010376-\U0001037a\U00010a01-\U00010a03"
    "\U00010a05-\U00010a06\U00010a0c-\U00010a0f\U00010a38-\U00010a3a\U00010a3f"
    "\U00010ae5-\U00010ae6\U00010d24-\U00010d27\U00010eab-\U00010eac"
    "\U00010f46-\U00010f50\U00010f82-\U00010f85\U00011000-\U00011002"
    "\U00011038-\U00011046\U00011070\U00011073-\U00011074\U0001107f-\U00011082"
    "\U000110b0-\U000110ba\U000110c2\U00011100-\U00011102\U00011127-\U00011134"
    "\U00011145-\U00011146\U00011173\U00011180-\U00011182\U000111b3-\U000111c0"
    "\U000111c9-\U000111cc\U000111ce-\U000111cf\U0001122c-\U00011237\U0001123e"
    "\U000112df-\U000112ea\U00011300-\U00011303\U0001133b-\U0001133c"
    "\U0001133e-\U00011344\U00011347-\U00011348\U0001134b-\U0001134d\U00011357"
    "\U00011362-\U00011363\U00011366-\U0001136c\U00011370-\U00011374"
    "\U00011435-\U00011446\U0001145e\U000114b0-\U000114c3\U000115af-\U000115b5"
    "\U000115b8-\U000115c0\U000115dc-\U000115dd\U00011630-\U00011640"
    "\U000116ab-\U000116b7\U0001171d-\U0001172b\U0001182c-\U0001183a"
    "\U00011930-\U00011935\U00011937-\U00011938\U0001193b-\U0001193e\U00011940"
    "\U00011942-\U00011943\U000119d1-\U000119d7\U000119da-\U000119e0\U000119e4"
    "\U00011a01-\U00011a0a\U00011a33-\U00011a39\U00011a3b-\U00011a3e\U00011a47"
    "\U00011a51-\U00011a5b\U00011a8a-\U00011a99\U00011c2f-\U00011c36"
    "\U00011c38-\U00011c3f\U00011c92-\U00011ca7\U00011ca9-\U00011cb6"
    "\U00011d31-\U00011d36\U00011d3a\U00011d3c-\U00011d3d\U00011d3f-\U00011d45"
    "\U00011d47\U00011d8a-\U00011d8e\U00011d90-\U00011d91\U00011d93-\U00011d97"
    "\U00011ef3-\U00011ef6\U00016af0-\U00016af4\U00016b30-\U00016b36\U00016f4f"
    "\U00016f51-\U00016f87\U00016f8f-\U00016f92\U00016fe4\U00016ff0-\U00016ff1"
    "\U0001bc9d-\U0001bc9e\U0001cf00-\U0001cf2d\U0001cf30-\U0001cf46"
    "\U0001d165-\U0001d169\U0001d16d-\U0001d172\U0001d17b-\U0001d182"
    "\U0001d185-\U0001d18b\U0001d1aa-\U0001d1ad\U0001d242-\U0001d244"
    "\U0001da00-\U0001da36\U0001da3b-\U0001da6c\U0001da75\U0001da84"
    "\U0001da9b-\U0001da9f\U0001daa1-\U0001daaf\U0001e000-\U0001e006"
    "\U0001e008-\U0001e018\U0001e01b-\U0001e021\U0001e023-\U0001e024"
    "\U0001e026-\U0001e02a\U0001e130-\U0001e136\U0001e2ae\U0001e2ec-\U0001e2ef"
    "\U0001e8d0-\U0001e8d6\U0001e944-\U0001e94a\U000e0100-\U000e01ef"
)
_W = "[\\w" + _MARKS + "]"
_WORD_RE = re.compile(f"{_W}+(?:'{_W}+)?")
# matches (empty) at a position inside a _WORD_RE token
_AFTER_WORD = re.compile(f"(?<={_W})|(?<={_W}')")

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
    followed by the lookahead that replicates where that _WORD_RE token
    ends. The trailing boundary depends on the vocab token itself: a
    plain token must not be followed by '?W (W: a word character or a
    combining mark; an apostrophe continuation would extend the _WORD_RE
    token, as in "owner" inside "owner's"), but a token that ALREADY
    contains its one apostrophe group only needs (?!W) — _WORD_RE's
    optional (?:'W+)? is spent, so a following 'W starts a NEW token
    ("d'or" in "d'or's" IS a token boundary; a single (?!'?W) wrongly
    rejected it). The C regex engine then finds vocabulary hits directly
    — no per-token Python work on non-vocabulary text, which is ~98% of
    a web corpus.

    Where a token begins (not after W, and not after W' inside an
    apostrophe token) is ``_AFTER_WORD``, checked per hit by the kernel,
    not a lookbehind here: a pattern that opens with a lookbehind is
    tried at every position, and with the mark class in it the scan of
    3,000 synthetic pages took 0.35 s against 0.14 s (one core); opening
    with the alternation lets the engine skip to candidate first
    characters. Dropping a hit that starts mid-token loses nothing: every
    position inside it also follows W or W', so it covers no token start."""
    starts = sorted({t[0] for t in trie.surfaces}, key=len, reverse=True)
    if not starts:
        return None
    plain = [w for w in starts if "'" not in w]
    apos = [w for w in starts if "'" in w]
    branches = []
    if plain:
        branches.append(
            "(?:%s)(?!'?%s)" % ("|".join(re.escape(w) for w in plain), _W)
        )
    if apos:
        branches.append("(?:%s)(?!%s)" % ("|".join(re.escape(w) for w in apos), _W))
    return re.compile("|".join(branches), re.IGNORECASE if ignorecase else 0)


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
            b, e = m.start(), m.end()
            if _AFTER_WORD.match(scan_on, b):
                continue
            w = m.group(0) if lowered else m.group(0).lower()
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


def scan_mentions(pages_text: DataFrame, labels: list[Label]) -> DataFrame:
    """pages(url, text) × broadcast vocabulary → mention rows.

    ``labels`` are ``label_table`` rows: the vocabulary is read once and
    its rows are shared between the scanner and the links stage. The
    trie is built from their distinct non-empty norm_surfaces, with no
    Spark job.

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
    surfaces = sorted({ns for _, _, ns, _ in labels if ns})
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

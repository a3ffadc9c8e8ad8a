"""Differential test for the mention-scan kernel.

scan_mentions' hot path is an alternation-regex scan (kg/mentions.py::
_hit_regex). This test pins it against the straightforward per-token
trie walk (the round-2 kernel, reimplemented here as the oracle) on
texts built to hit every boundary subtlety:

- apostrophe tokens: "dog's" is ONE token (no "dog" mention inside),
  "'dog'" contains the token "dog";
- case folding: regex IGNORECASE hits are re-verified with .lower();
- multi-token surfaces spanning arbitrary gaps (punctuation, newlines,
  long runs of non-word chars) between consecutive tokens;
- overlapping surfaces ("new" and "new york" both emitted), and prefix
  cut-off windows;
- combining marks (Unicode Mn/Mc/Me) as word characters: an NFD accent
  or a Devanagari vowel sign stays inside its word.
"""

from __future__ import annotations

import sys
import unicodedata

from skosconverter_spark.kg.mentions import _MARKS, _WORD_RE, _Trie, normalize_surface


def reference_walk(urls, texts, trie):
    """The round-2 per-token kernel, verbatim semantics."""
    out = []
    for url, text in zip(urls, texts):
        if not text:
            continue
        words = [(m.group(0), m.start(), m.end()) for m in _WORD_RE.finditer(text)]
        lowered = [w[0].lower() for w in words]
        n = len(words)
        for i in range(n):
            if lowered[i] not in trie.first_tokens:
                continue
            for l in range(1, trie.max_len + 1):
                if i + l > n:
                    break
                window = tuple(lowered[i : i + l])
                if window not in trie.prefixes:
                    break
                if window in trie.surfaces:
                    b, e = words[i][1], words[i + l - 1][2]
                    out.append((url, text[b:e], " ".join(window), b, e))
    return sorted(out)


def fast_scan(urls, texts, trie):
    """Drive the SHIPPED kernel (kg.mentions._kernel) exactly as
    mapInPandas would — the differential covers the real code path,
    including the lowered-text fast path and its IGNORECASE fallback."""
    from skosconverter_spark.kg.mentions import _kernel

    scan_text = _kernel(trie)
    out = []
    for url, text in zip(urls, texts):
        for b, e, sf, ns in scan_text(text):
            out.append((url, sf, ns, b, e))
    return sorted(out)


TRIE = _Trie(
    ["dog", "cat", "new", "new york", "new york city", "big apple", "d'or", "sit"]
)

TRICKY_TEXTS = [
    "the dog barked at the Dog and the DOG.",
    "dog's bone is not a dog mention; but 'dog' is, and so is dog's's",  # possessives
    "x'dog is one token (no hit); a'dog too; but ('dog) hits",
    "New   York!  new\n\nyork city; New-York; newyork; New Yorkshire",
    "big\t\t...\napple and a big apple pie and big apples",
    "the coeur d'or and d'or alone; d'ors should not hit",
    # apostrophe vocab token followed by '+word: _WORD_RE tokenizes
    # "d'or's" as "d'or"+"s", so d'or IS a mention (round-3 kernel
    # regression: a single (?!'?\w) lookahead rejected these).
    "d'or's owner kept the coeur d'or'x and D'OR'S twin",
    "d'orx is one token (no hit); so is xd'or",
    "NEW YORK CITY limits: overlapping new, new york, new york city",
    "cat" * 3 + " catcat cat",  # concatenations are single tokens
    "",
    "no vocabulary words at all here",
    "edge at end: new york",
    "edge start dog",
    # exotic Unicode case folds: 'İ'.lower() is 2 chars -> the kernel's
    # lowered-text fast path must fall back to the IGNORECASE scan and
    # still find the mention
    "İstanbul saw a DOG there; new york via İzmir",
    # 'ſ' (long s) matches 's' under IGNORECASE but survives .lower()
    # unchanged -> no 'sit' mention either way (probe-reject superset)
    "ſit is not sit? but sit is; ſ alone",
    "Kelvin Kog is not a dog hit; DOG is",
]


def test_fast_kernel_matches_reference_walk():
    urls = [f"u{i}" for i in range(len(TRICKY_TEXTS))]
    assert fast_scan(urls, TRICKY_TEXTS, TRIE) == reference_walk(
        urls, TRICKY_TEXTS, TRIE
    )


def test_fast_kernel_matches_on_bench_corpus():
    from skosconverter_spark.sources.pages import page_record

    rows = [page_record(i) for i in range(400)]
    urls = [r["url"] for r in rows]
    texts = [r["_expected_text"] for r in rows]
    got = fast_scan(urls, texts, TRIE)
    ref = reference_walk(urls, texts, TRIE)
    assert got == ref


NOIR_CAFE = unicodedata.normalize("NFD", "Noir Café")  # "e" + U+0301
HINDI = "हिन्दी भाषा"  # vowel signs (Mc/Mn) and a virama (Mn)


def test_combining_marks_stay_in_their_word():
    """A combining mark belongs to the word it follows, in
    normalize_surface and in the scanned surface alike; a word that a
    stray mark precedes is not a token start."""
    assert normalize_surface(NOIR_CAFE) == NOIR_CAFE.lower()
    assert normalize_surface(HINDI) == HINDI
    trie = _Trie([normalize_surface(NOIR_CAFE), normalize_surface(HINDI)])
    texts = [f"at the {NOIR_CAFE}!", f"{HINDI} और", f"\u0301{NOIR_CAFE}", "Noir Cafe"]
    urls = [f"u{i}" for i in range(len(texts))]
    want = [
        ("u0", NOIR_CAFE, NOIR_CAFE.lower(), 7, 7 + len(NOIR_CAFE)),
        ("u1", HINDI, HINDI, 0, len(HINDI)),
    ]
    assert fast_scan(urls, texts, trie) == want
    assert reference_walk(urls, texts, trie) == want


def test_mark_class_is_unicodedata_mn_mc_me():
    """The committed mark class is every Mn/Mc/Me code point of this
    interpreter's unicodedata, as ascending ranges."""
    ranges: list[list[int]] = []
    for cp in range(sys.maxunicode + 1):
        if unicodedata.category(chr(cp)) in ("Mn", "Mc", "Me"):
            if ranges and ranges[-1][1] == cp - 1:
                ranges[-1][1] = cp
            else:
                ranges.append([cp, cp])
    want = "".join(chr(a) if a == b else f"{chr(a)}-{chr(b)}" for a, b in ranges)
    assert _MARKS == want, f"regenerate _MARKS for Unicode {unicodedata.unidata_version}"


def test_scan_mentions_end_to_end(spark):
    """The full Spark operator on a tiny vocab + pages frame."""
    from skosconverter_spark.kg.mentions import label_table, scan_mentions
    from skosconverter_spark.config import SKOS_PREF_LABEL, SKOS_ALT_LABEL

    triples = spark.createDataFrame(
        [
            ("urn:c:ny", SKOS_PREF_LABEL, "New York", None),
            ("urn:c:ny", SKOS_ALT_LABEL, "Big Apple", None),
            ("urn:c:dog", SKOS_PREF_LABEL, "Dog", None),
        ],
        "subj string, pred string, obj string, obj_lang string",
    )
    pages = spark.createDataFrame(
        [
            ("u1", "The dog visited New York (the Big\nApple) with a dog's toy."),
            ("u2", None),
        ],
        "url string, text string",
    )
    got = sorted(
        (r.url, r.surface, r.norm_surface, r.begin, r.end)
        for r in scan_mentions(pages, label_table(triples)).collect()
    )
    assert got == [
        ("u1", "Big\nApple", "big apple", 30, 39),
        ("u1", "New York", "new york", 16, 24),
        ("u1", "dog", "dog", 4, 7),
    ]

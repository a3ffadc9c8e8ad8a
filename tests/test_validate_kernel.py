"""Edge semantics of the 11 validator checks, pinned on small hand-built
triple sets: cycle dedup and rotation, lassos, self-loops, the
``max_iterations`` bound on cycle length and on depth, path-visited depth
counting through a diamond, store-order arrays, column types, and the
report strings (pref → alt → rdfs concept labels, language-ranked scheme
names)."""

from __future__ import annotations

import pytest

from skosconverter_spark.config import (
    RDF_TYPE,
    RDFS_LABEL,
    SKOS_ALT_LABEL,
    SKOS_BROADER,
    SKOS_CONCEPT,
    SKOS_CONCEPT_SCHEME,
    SKOS_HAS_TOP_CONCEPT,
    SKOS_IN_SCHEME,
    SKOS_NARROWER,
    SKOS_PREF_LABEL,
    SKOS_TOP_CONCEPT_OF,
    EngineConfig,
)
from skosconverter_spark.operators import validate as V

X = "http://x/"
PREF, ALT, BROADER, NARROWER = SKOS_PREF_LABEL, SKOS_ALT_LABEL, SKOS_BROADER, SKOS_NARROWER
HAS_TOP, TOP_OF = SKOS_HAS_TOP_CONCEPT, SKOS_TOP_CONCEPT_OF


def _triples(spark, rows):
    """rows: (subj, pred, obj[, lang]) with local names; seq = position.
    Label objects stay literal; every other name gets the http://x/ prefix."""
    out = []
    for seq, (subj, pred, obj, *lang) in enumerate(rows):
        lit = pred in (PREF, ALT, RDFS_LABEL)
        if not lit and not obj.startswith("http"):
            obj = X + obj
        out.append((X + subj, pred, obj, lit, (lang or [None])[0], "t", seq))
    return spark.createDataFrame(
        out,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )


def _c(*names):
    return [(n, RDF_TYPE, SKOS_CONCEPT) for n in names]


def _strip(v):
    if isinstance(v, list):
        return [_strip(e) for e in v]
    return v[len(X):] if isinstance(v, str) and v.startswith(X) else v


def _rows(df):
    """Every row as a tuple of local names, ordered by (seq, rest)."""
    got = [tuple(_strip(v) for v in r) for r in df.collect()]
    seq_at = df.columns.index("seq")
    return sorted(got, key=lambda t: (t[seq_at], repr(t)))


def _missing(*names):
    return [f"Concept {X}{n} has no prefLabel or rdfs:label" for n in names]


def _bullets(*names):
    return [f"  - {n}" for n in names]


# x → a → b → a is a lasso entered from x; {p,q,r} carries three 2-cycles
# and two distinct 3-cycles over one member set; s is a broader self-loop;
# l1 → l2 → l3 → l4 → l1 is a 4-cycle; d points at an untyped uri.
CYCLES = [
    *_c("x", "a", "b", "r", "q", "p", "s", "l1", "l2", "l3", "l4", "d"),
    ("a", PREF, "Apple", "en"),
    ("b", ALT, "Banana-alt", "en"),
    ("b", RDFS_LABEL, "Banana-rdfs", "en"),
    ("x", BROADER, "a"), ("a", BROADER, "b"), ("b", BROADER, "a"),
    ("p", BROADER, "r"), ("p", BROADER, "q"), ("q", BROADER, "r"),
    ("r", BROADER, "p"), ("r", BROADER, "q"), ("q", BROADER, "p"),
    ("s", BROADER, "s"),
    ("l1", BROADER, "l2"), ("l2", BROADER, "l3"),
    ("l3", BROADER, "l4"), ("l4", BROADER, "l1"),
    ("d", BROADER, "http://elsewhere/none"),
]
# one report per member set, rotated to its min-seq member (r is typed
# before q and p); the lasso is reported from its members only
EXPECTED_CYCLES = [
    (["a", "b", "a"], 1),
    (["r", "p", "q", "r"], 3),
    (["r", "p", "r"], 3),
    (["r", "q", "r"], 3),
    (["q", "p", "q"], 4),
    (["l1", "l2", "l3", "l4", "l1"], 7),
]


def test_cycles_default_bound(spark):
    got = _rows(V.circular_references(_triples(spark, CYCLES), EngineConfig()))
    assert got == EXPECTED_CYCLES


def test_cycles_longer_than_max_iterations_are_not_reported(spark):
    cfg = EngineConfig(max_iterations=3)
    got = _rows(V.circular_references(_triples(spark, CYCLES), cfg))
    assert got == [c for c in EXPECTED_CYCLES if len(c[0]) <= 4]


def test_cycles_self_loop_is_a_self_reference(spark):
    got = _rows(V.self_references(_triples(spark, CYCLES)))
    assert got == [("s", "broader", 24)]


def test_cycles_report(spark):
    issues, warnings = V.validation_report(_triples(spark, CYCLES), EngineConfig())
    prefix = "Circular reference detected: "
    cycle_lines = [l for l in issues if l.startswith(prefix)]
    assert [l for l in issues if l not in cycle_lines] == [
        *_missing("x", "r", "q", "p", "s"),
        "... and 5 more concepts without labels",
        "Concept 's' has itself as broader concept",
    ]
    # lines are in seq order; cycles sharing a head tie on seq, so their
    # relative order is compared as a multiset
    assert sorted(cycle_lines) == sorted(
        prefix + p
        for p in [
            "Apple -> Banana-alt -> Apple", "r -> p -> q -> r", "r -> p -> r",
            "r -> q -> r", "q -> p -> q", "l1 -> l2 -> l3 -> l4 -> l1",
        ]
    )
    heads = [l[len(prefix):].split(" -> ")[0] for l in cycle_lines]
    assert heads == ["Apple", "r", "r", "r", "q", "l1"]
    assert warnings == [
        "Concepts not associated with any concept scheme:",
        *_bullets("x", "Apple", "Banana-alt", "r", "q", "p", "s", "l1", "l2", "l3"),
        "  ... and 2 more",
        "Concepts with multiple broader concepts (polyhierarchy):",
        "  - 'p' has broader concepts: r, q",
        "  - 'q' has broader concepts: r, p",
        "  - 'r' has broader concepts: p, q",
    ]


# t1: diamond t1 → {a, b} → d → e with a back edge e → t1 and a narrower
# self-loop on d; t2: a 9-node chain; ghost: an untyped top concept.
_CHAIN = [f"k{i}" for i in range(1, 9)]
DEPTHS = [
    ("S", RDF_TYPE, SKOS_CONCEPT_SCHEME),
    ("S", PREF, "Schema", "de"),
    ("S", PREF, "Scheme", "en"),
    *_c("t1", "a", "b", "d", "e", "t2", *_CHAIN),
    ("t2", TOP_OF, "S"), ("S", HAS_TOP, "t1"),
    ("t1", TOP_OF, "S"), ("S", HAS_TOP, "ghost"),
    ("t1", NARROWER, "a"), ("t1", NARROWER, "b"),
    ("a", NARROWER, "d"), ("b", NARROWER, "d"),
    ("d", NARROWER, "d"), ("d", NARROWER, "e"), ("e", NARROWER, "t1"),
    ("t2", NARROWER, _CHAIN[0]),
    *[(u, NARROWER, v) for u, v in zip(_CHAIN, _CHAIN[1:])],
    ("t2", PREF, "Top Two", "en"),
]


def test_depths_default_cap(spark):
    got = _rows(V.hierarchy_depths(_triples(spark, DEPTHS), EngineConfig()))
    # the diamond counts t1, a|b, d, e: the back edge e → t1 and the
    # self-loop on d never revisit a node on the same path
    assert got == [("t2", 9, 17), ("t1", 4, 18), ("ghost", 1, 20)]


def test_depths_capped_by_max_iterations(spark):
    cfg = EngineConfig(max_iterations=4)
    got = _rows(V.hierarchy_depths(_triples(spark, DEPTHS), cfg))
    assert got == [("t2", 4, 17), ("t1", 4, 18), ("ghost", 1, 20)]


def test_depths_report(spark):
    issues, warnings = V.validation_report(_triples(spark, DEPTHS), EngineConfig())
    assert issues == [
        *_missing("t1", "a", "b", "d", "e"),
        "... and 8 more concepts without labels",
        "Concept 'd' has itself as narrower concept",
    ]
    # the scheme name is language-ranked ("en" beats the earlier "de")
    assert warnings == [
        "Scheme 'Scheme' has concepts claiming topConceptOf but missing "
        "hasTopConcept: Top Two",
        "Scheme 'Scheme' has top concepts via hasTopConcept but missing "
        "inverse topConceptOf: ghost",
        "Concepts not associated with any concept scheme:",
        *_bullets("t1", "a", "b", "d", "e", "Top Two", "k1", "k2", "k3", "k4"),
        "  ... and 4 more",
        "Orphan concepts (no broader concept and not top concepts):",
        *_bullets("a", "b", "d", "e", "k1", "k2", "k3", "k4", "k5", "k6"),
        "  ... and 2 more",
        "Very deep hierarchies detected (>7 levels):",
        "  - Top Two: 9 levels",
    ]


LABELS = [
    ("S1", RDF_TYPE, SKOS_CONCEPT_SCHEME),
    *_c("k3", "k1", "k2", "k5", "k6"),
    ("k1", RDF_TYPE, SKOS_CONCEPT_SCHEME),
    *_c("k1"),
    ("k1", PREF, "Zeta", "en"), ("k3", PREF, "Zeta", "de"),
    ("k1", PREF, "Alpha", "en"), ("k1", PREF, "Gamma"), ("k1", PREF, "Beta"),
    ("k2", PREF, "Zeta", "fr"), ("k2", PREF, "Same", "en"), ("k2", PREF, "Same", "fr"),
    ("k5", ALT, "Only Alt"),
    ("free", PREF, "One"), ("free", PREF, "Two"), ("free", PREF, "Zeta"),
    ("k6", RDFS_LABEL, "Six"),
    ("k1", BROADER, "k3"), ("k1", BROADER, "k2"), ("k1", BROADER, "k2x"),
    ("k3", SKOS_IN_SCHEME, "S1"), ("k1", SKOS_IN_SCHEME, "S1"),
    ("S1", HAS_TOP, "k5"), ("S1", HAS_TOP, "k2"), ("S1", HAS_TOP, "k3"),
    ("k3", TOP_OF, "S1"), ("k6", TOP_OF, "S1"),
    ("k2", TOP_OF, "S2"), ("k6", TOP_OF, "S2"),
]


@pytest.fixture(scope="module")
def labels_triples(spark):
    t = _triples(spark, LABELS).cache()
    yield t
    t.unpersist()


def test_store_order_arrays(labels_triples):
    t = labels_triples
    # typed Concept twice and ConceptScheme once: counted per type set
    assert _rows(V.duplicate_uris(t)) == [("k1", 2, 2)]
    assert _rows(V.multiple_pref_labels(t)) == [
        ("k1", "en", ["Zeta", "Alpha"], 8),
        ("k1", "no-lang", ["Gamma", "Beta"], 11),
        ("k2", "fr", ["Zeta", "Same"], 13),
        ("free", "no-lang", ["One", "Two", "Zeta"], 17),
    ]
    # concepts only ("free" is untyped); one concept may repeat when it
    # carries the label in two languages
    assert _rows(V.duplicate_labels(t)) == [
        ("Zeta", ["k1", "k3", "k2"], 8), ("Same", ["k2", "k2"], 14),
    ]
    assert _rows(V.polyhierarchy(t)) == [("k1", ["k3", "k2", "k2x"], 21)]
    assert _rows(V.top_concept_inconsistencies(t)) == [
        ("S1", "missing_top_of", ["k5", "k2"], 26),
        ("S1", "missing_has_top", ["k6"], 30),
        ("S2", "missing_has_top", ["k2", "k6"], 31),
    ]


def test_concept_set_checks(labels_triples):
    t = labels_triples
    assert _rows(V.missing_labels(t)) == [("k5", 4)]
    assert _rows(V.concepts_without_schemes(t)) == [("k2", 3), ("k5", 4), ("k6", 5)]
    assert _rows(V.validator_orphans(t)) == []


def test_labels_report(labels_triples):
    issues, warnings = V.validation_report(labels_triples, EngineConfig())
    # concept labels are pref → alt → rdfs in store order, no language
    # ranking: k1, k2 and k3 all print as their first prefLabel "Zeta"
    assert issues == [
        "Duplicate URI found 2 times: http://x/k1",
        *_missing("k5"),
        "Concept 'Zeta' has 2 preferred labels (language: en): Zeta, Alpha",
        "Concept 'Zeta' has 2 preferred labels: Gamma, Beta",
        "Concept 'Zeta' has 2 preferred labels (language: fr): Zeta, Same",
        "Concept 'One' has 3 preferred labels: One, Two, Zeta",
    ]
    assert warnings == [
        "Scheme 'S1' has top concepts via hasTopConcept but missing inverse "
        "topConceptOf: Only Alt, Zeta",
        "Scheme 'S1' has concepts claiming topConceptOf but missing "
        "hasTopConcept: Six",
        "Scheme 'S2' has concepts claiming topConceptOf but missing "
        "hasTopConcept: Zeta, Six",
        "Concepts not associated with any concept scheme:",
        *_bullets("Zeta", "Only Alt", "Six"),
        "Duplicate preferred labels found:",
        "  - 'Zeta' used by: Zeta, Zeta, Zeta",
        "  - 'Same' used by: Zeta, Zeta",
        "Concepts with multiple broader concepts (polyhierarchy):",
        "  - 'Zeta' has broader concepts: Zeta, Zeta, k2x",
    ]


def test_check_column_types(labels_triples):
    t, cfg = labels_triples, EngineConfig()
    got = {
        name: getattr(V, name)(t, cfg).dtypes
        if name in ("circular_references", "hierarchy_depths")
        else getattr(V, name)(t).dtypes
        for name in (
            "duplicate_uris", "missing_labels", "multiple_pref_labels",
            "self_references", "concepts_without_schemes", "duplicate_labels",
            "polyhierarchy", "validator_orphans", "top_concept_inconsistencies",
            "circular_references", "hierarchy_depths",
        )
    }
    uri, seq, arr = ("uri", "string"), ("seq", "bigint"), "array<string>"
    assert got == {
        "duplicate_uris": [uri, ("count", "bigint"), seq],
        "missing_labels": [uri, seq],
        "multiple_pref_labels": [uri, ("lang", "string"), ("labels", arr), seq],
        "self_references": [uri, ("kind", "string"), seq],
        "concepts_without_schemes": [uri, seq],
        "duplicate_labels": [("label", "string"), ("uris", arr), seq],
        "polyhierarchy": [uri, ("parents", arr), seq],
        "validator_orphans": [uri, seq],
        "top_concept_inconsistencies": [
            ("scheme", "string"), ("direction", "string"), ("concepts", arr), seq,
        ],
        "circular_references": [("cycle", arr), seq],
        "hierarchy_depths": [("root", "string"), ("depth", "int"), seq],
    }

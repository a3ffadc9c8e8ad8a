"""Edge semantics of the equivalence closure, pinned on small hand-built
edge and triple sets: component ids are the component's minimum under
Spark's binary string order, self-loop-only nodes are components,
``long`` ids keep their type (empty result included), the
``max_iterations`` bound sits at D + 1 where D is the farthest node's
hop distance from its component minimum, and ``canonicalize_triples``
moves labels onto the minimum URI, drops every in-component
equivalence edge and keeps the min-seq row of duplicate rewrites."""

from __future__ import annotations

import pytest

from skosconverter_spark.config import OWL_SAME_AS, SKOS_EXACT_MATCH, SKOS_PREF_LABEL
from skosconverter_spark.kg.canonicalize import (
    canonical_map,
    canonicalize_triples,
    connected_components,
)

X = "http://x/"
P = "http://example.org/p#knows"
TRIPLES = (
    "subj string, pred string, obj string, obj_is_literal boolean, "
    "obj_lang string, src_url string, seq long"
)


def _edges(spark, pairs, ddl="src string, dst string"):
    """Both directions of every pair, as the engine's callers pass them."""
    both = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    return spark.createDataFrame(both, ddl)


def _comp(df):
    return {r.uri: r.component for r in df.collect()}


def test_two_components_and_a_self_loop(spark):
    pairs = [("b", "c"), ("c", "a"), ("y", "x"), ("s", "s")]
    got = _comp(connected_components(_edges(spark, pairs)))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "s": "s"}


def test_min_is_spark_binary_order_on_non_ascii(spark):
    # U+FF5E sorts before U+1F600 in UTF-8 bytes (and code points) but
    # after it in UTF-16 units; "z" sorts before "é" in both
    wave, smile = X + "～", X + "\U0001f600"
    acute, zed = X + "é", X + "z"
    pairs = [(smile, wave), (acute, zed)]
    got = _comp(connected_components(_edges(spark, pairs)))
    assert got == {smile: wave, wave: wave, acute: zed, zed: zed}


def test_long_ids_stay_long(spark):
    pairs = [(7, 3), (3, 9), (20, 11)]
    ddl = "src long, dst long"
    comp = connected_components(_edges(spark, pairs, ddl))
    assert comp.dtypes == [("uri", "bigint"), ("component", "bigint")]
    assert _comp(comp) == {3: 3, 7: 3, 9: 3, 11: 11, 20: 11}
    empty = connected_components(spark.createDataFrame([], ddl))
    assert empty.dtypes == [("uri", "bigint"), ("component", "bigint")]
    assert empty.collect() == []


def test_convergence_boundary_is_distance_to_min_plus_one(spark):
    # the minimum "a" sits third on the path, so the farthest node "g"
    # is D = 4 hops from it while the path's diameter is 6
    path = ["d", "c", "a", "b", "e", "f", "g"]
    edges = _edges(spark, list(zip(path, path[1:])))
    assert _comp(connected_components(edges, max_iterations=5)) == {n: "a" for n in path}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=4)


def test_canonicalize_two_alias_chains_with_labels(spark):
    L = True
    rows = [
        # chain 1: u3 ~ u1 ~ u2 (min u1), mixed predicates
        (X + "u3", SKOS_EXACT_MATCH, X + "u1", not L, None, "s", 0),
        (X + "u2", OWL_SAME_AS, X + "u1", not L, None, "s", 1),
        (X + "u2", SKOS_PREF_LABEL, "Two", L, "en", "s", 2),
        (X + "u3", SKOS_PREF_LABEL, "Three", L, "en", "s", 3),
        # chain 2: v3 ~ v2 ~ v1 (min v1)
        (X + "v3", SKOS_EXACT_MATCH, X + "v2", not L, None, "s", 4),
        (X + "v2", SKOS_EXACT_MATCH, X + "v1", not L, None, "s", 5),
        (X + "v3", SKOS_PREF_LABEL, "Vee", L, None, "s", 6),
        # two aliases of one edge: the rewrite keeps the min-seq row
        (X + "u3", P, X + "v2", not L, None, "late", 9),
        (X + "u2", P, X + "v3", not L, None, "early", 7),
        # a literal spelled like an alias is not rewritten
        (X + "w", P, X + "u2", L, None, "s", 8),
    ]
    out = canonicalize_triples(spark.createDataFrame(rows, TRIPLES))
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(
        [
            (X + "u1", SKOS_PREF_LABEL, "Two", L, "en", "s", 2),
            (X + "u1", SKOS_PREF_LABEL, "Three", L, "en", "s", 3),
            (X + "v1", SKOS_PREF_LABEL, "Vee", L, None, "s", 6),
            (X + "u1", P, X + "v1", not L, None, "early", 7),
            (X + "w", P, X + "u2", L, None, "s", 8),
        ]
    )
    cmap = canonical_map(spark.createDataFrame(rows, TRIPLES))
    assert cmap.dtypes == [("uri", "string"), ("canonical", "string")]
    assert {r.uri: r.canonical for r in cmap.collect()} == {
        X + "u1": X + "u1", X + "u2": X + "u1", X + "u3": X + "u1",
        X + "v1": X + "v1", X + "v2": X + "v1", X + "v3": X + "v1",
    }

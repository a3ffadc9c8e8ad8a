"""The hierarchy queries, pinned on small hand-built inputs and the ttl
fixtures: ``closure_local`` equals a brute-force closure (never a
``(x, x)`` pair, cycles included) and raises exactly when the largest
shortest-path hop distance D exceeds 2^(max_iterations - 1);
``q_skos_best_label`` picks the preferred language, then store order,
then the uri's local part; ``q_skos_orphans`` returns the orphan anchors
the DFS renders, each under the scheme the render shows it in."""

from __future__ import annotations

from collections import defaultdict

import pytest

import __spark_entry__ as entry
from skosconverter_spark.config import EngineConfig
from skosconverter_spark.kg.canonicalize import closure_local
from skosconverter_spark.plans.local_dfs import collect_triples, dfs_rows_local
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

from .conftest import load_fixture_text, ttl_fixture_names

V = "http://example.org/vocab#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
SKOS = "http://www.w3.org/2004/02/skos/core#"

# B is inScheme the typed S1 and a top concept of S2, which is never
# typed a ConceptScheme: the render lists B among S1's other concepts
UNTYPED_TOP_SCHEME = "\n".join(
    f"<{s}> <{p}> {o} ."
    for s, p, o in [
        (V + "S1", RDF + "type", f"<{SKOS}ConceptScheme>"),
        (V + "S1", SKOS + "prefLabel", '"One"@en'),
        (V + "A", RDF + "type", f"<{SKOS}Concept>"),
        (V + "A", SKOS + "prefLabel", '"A"@en'),
        (V + "A", SKOS + "topConceptOf", f"<{V}S1>"),
        (V + "B", RDF + "type", f"<{SKOS}Concept>"),
        (V + "B", SKOS + "prefLabel", '"B"@en'),
        (V + "B", SKOS + "inScheme", f"<{V}S1>"),
        (V + "S2", SKOS + "hasTopConcept", f"<{V}B>"),
        (V + "C", RDF + "type", f"<{SKOS}Concept>"),
        (V + "C", SKOS + "prefLabel", '"C"@en'),
    ]
) + "\n"


def _triples(spark, name, text=None):
    docs = spark.createDataFrame(
        [(name, name, "ttl", text or load_fixture_text(name))], schema=DOCS
    )
    return ok_triples(extract_triples(docs, EngineConfig()))


def _query(monkeypatch, spark, fn, triples):
    """Rows of a bridge query run over ``triples`` instead of the bridge."""
    monkeypatch.setattr(entry, "triples_from_tpch", lambda spark, sf_dir: triples)
    return fn(spark, None).collect()


def _closure(pairs):
    adj = defaultdict(set)
    for child, parent in pairs:
        adj[child].add(parent)
    out = set()
    for start in list(adj):
        seen, stack = set(), [start]
        while stack:
            for v in adj[stack.pop()]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        out |= {(start, v) for v in seen if v != start}
    return out


def _chain(n):
    return [(f"c{i}", f"c{i + 1}") for i in range(n)]


@pytest.mark.parametrize(
    "pairs",
    [
        [("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")],  # diamond
        [("a", "b"), ("b", "c"), ("c", "a"), ("t", "a")],  # 3-cycle with a tail
        _chain(9),
        [("s", "s"), ("s", "p")],  # self-loop next to a real edge
        [],
    ],
    ids=["diamond", "cycle_tail", "chain9", "self_loop", "empty"],
)
def test_transitive_closure_matches_brute_force(pairs):
    rows = closure_local(pairs)
    assert len(rows) == len(set(rows))
    assert set(rows) == _closure(pairs)


@pytest.mark.parametrize("depth,budget", [(1, 1), (2, 1), (2, 2), (3, 2), (4, 3), (5, 3)])
def test_transitive_closure_raises_iff_depth_exceeds_budget(depth, budget):
    if depth > 2 ** (budget - 1):
        with pytest.raises(RuntimeError, match="did not converge"):
            closure_local(_chain(depth), max_iterations=budget)
    else:
        assert set(closure_local(_chain(depth), budget)) == _closure(_chain(depth))


def test_transitive_closure_keeps_the_id_type():
    assert set(closure_local([(3, 2), (2, 1)])) == {(3, 2), (2, 1), (3, 1)}


BEST_LABELS_FR = {
    "vocab_multilang": {
        V + "colors": "Colors",
        V + "red": "Rouge",
    },
    "vocab_altfallback": {
        V + "alts": "Alts",
        V + "altonly": "Alias Only",
        V + "rdfsonly": "Rdfs Label Only",
    },
    "vocab_nolabel": {
        V + "nolabels": "NoLabels",
        V + "mystery_concept": "mystery_concept",
    },
}


@pytest.mark.parametrize("name", sorted(BEST_LABELS_FR))
def test_skos_best_label_prefers_fr(spark, monkeypatch, name):
    rows = _query(monkeypatch, spark, entry.q_skos_best_label, _triples(spark, name))
    assert sorted((r.uri, r.label) for r in rows) == sorted(BEST_LABELS_FR[name].items())


def _dfs_orphans(triples):
    """(uri, scheme uri | None) of every orphan anchor the DFS emits."""
    out, scheme = [], None
    for r in dfs_rows_local(collect_triples(triples), EngineConfig()):
        if r["section"] == "scheme":
            scheme = r["uri"]
        elif r["origin"] == "anchor" and r["section"] in ("orphan", "unassigned"):
            out.append((r["uri"], scheme if r["section"] == "orphan" else None))
    return sorted(out, key=str)


@pytest.mark.parametrize("name", ttl_fixture_names() + ["untyped_top_scheme"])
def test_skos_orphans_are_the_dfs_orphan_anchors(spark, monkeypatch, name):
    text = UNTYPED_TOP_SCHEME if name == "untyped_top_scheme" else None
    t = _triples(spark, name, text).cache()
    rows = _query(monkeypatch, spark, entry.q_skos_orphans, t)
    assert sorted(((r.uri, r.scheme) for r in rows), key=str) == _dfs_orphans(t)
    t.unpersist()

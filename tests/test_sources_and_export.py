"""Coverage for the remaining SURVEY §2 inventory: JSON-LD source (S2),
directory batch scan (S4), Turtle export sink (S9) round-trip."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.metrics import canonicalize
from skosconverter_spark.operators.export import export_turtle_text, write_graph_table
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.docs import docs_from_directory
from skosconverter_spark.sources.jsonld import parse_jsonld
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples
from skosconverter_spark.sources.turtle import parse_turtle

from .conftest import DATA, load_fixture_text, load_golden_json

SKOS = "http://www.w3.org/2004/02/skos/core#"

JSONLD_DOC = """
{
  "@context": {
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "prefLabel": {"@id": "http://www.w3.org/2004/02/skos/core#prefLabel"}
  },
  "@graph": [
    {"@id": "http://x.org/v#s", "@type": "skos:ConceptScheme",
     "prefLabel": {"@value": "Scheme", "@language": "en"},
     "skos:hasTopConcept": {"@id": "http://x.org/v#a"}},
    {"@id": "http://x.org/v#a", "@type": ["skos:Concept"],
     "prefLabel": [{"@value": "Alpha", "@language": "en"},
                    {"@value": "Alfa", "@language": "nl"}],
     "skos:altLabel": "A",
     "skos:broader": {"@id": "http://x.org/v#b"}}
  ]
}
"""


def test_jsonld_kernel():
    ts = parse_jsonld(JSONLD_DOC)
    got = {(t.subj, t.pred, t.obj, t.obj_is_literal, t.obj_lang) for t in ts}
    assert (
        "http://x.org/v#s",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        SKOS + "ConceptScheme",
        False,
        None,
    ) in got
    assert ("http://x.org/v#a", SKOS + "prefLabel", "Alfa", True, "nl") in got
    assert ("http://x.org/v#a", SKOS + "altLabel", "A", True, None) in got
    assert ("http://x.org/v#a", SKOS + "broader", "http://x.org/v#b", False, None) in got
    assert ("http://x.org/v#s", SKOS + "hasTopConcept", "http://x.org/v#a", False, None) in got


def test_jsonld_through_spark(spark):
    docs = spark.createDataFrame([("j", "j", "jsonld", JSONLD_DOC)], schema=DOCS)
    ok = ok_triples(extract_triples(docs, EngineConfig()))
    assert ok.count() == 8


def test_directory_source_dispatch(spark):
    docs = docs_from_directory(spark, str(DATA), "*.ttl")
    rows = docs.select("fmt").distinct().collect()
    assert {r.fmt for r in rows} == {"ttl"}
    assert docs.count() == len(list(Path(DATA).glob("*.ttl")))
    ok = ok_triples(extract_triples(docs, EngineConfig()))
    basic = canonicalize(
        [
            (r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_lang)
            for r in ok.filter(F.col("src_url").endswith("vocab_basic.ttl")).collect()
        ]
    )
    assert basic == canonicalize(load_golden_json("vocab_basic", "triples.json"))


def test_turtle_export_roundtrip(spark):
    docs = spark.createDataFrame(
        [("v", "v", "ttl", load_fixture_text("vocab_basic"))], schema=DOCS
    )
    triples = ok_triples(extract_triples(docs, EngineConfig()))
    text, summary = export_turtle_text(triples)
    assert summary["concepts"] == 4 and summary["schemes"] == 1
    reparsed = {
        (t.subj, t.pred, t.obj, t.obj_is_literal, t.obj_lang)
        for t in parse_turtle(text)
    }
    original = {
        (r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_lang)
        for r in triples.collect()
    }
    assert reparsed == original
    # deterministic bytes
    text2, _ = export_turtle_text(triples.repartition(7))
    assert text == text2


def test_graph_table_pred_pruning(spark, tmp_path):
    docs = spark.createDataFrame(
        [("v", "v", "ttl", load_fixture_text("vocab_basic"))], schema=DOCS
    )
    triples = ok_triples(extract_triples(docs, EngineConfig()))
    path = str(tmp_path / "graph")
    write_graph_table(triples, path)
    scan = spark.read.parquet(path).filter(
        F.col("pred") == SKOS + "prefLabel"
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert scan.count() == 6  # animals, mammal(en+nl), dog, cat, fungus
    # pred-partitioned layout: the filter becomes a partition filter
    assert "PartitionFilters" in plan and "prefLabel" in plan


JSONLD_EXPANDED_DOC = """
{
  "@context": {
    "@base": "http://x.org/v#",
    "@vocab": "http://www.w3.org/2004/02/skos/core#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "label": {"@id": "skos:prefLabel", "@container": "@language"},
    "broaderId": {"@id": "skos:broader", "@type": "@id"},
    "narrowerOf": {"@reverse": "skos:broader"},
    "ordered": {"@id": "http://x.org/p#ordered", "@container": "@list"}
  },
  "@graph": [
    {"@id": "a", "@type": "Concept",
     "label": {"en": "Alpha", "nl": ["Alfa", "Alef"]},
     "broaderId": "b",
     "narrowerOf": {"@id": "c"},
     "@reverse": {"skos:related": {"@id": "d"}},
     "definition": {"@value": "2024-01-01", "@type": "http://www.w3.org/2001/XMLSchema#date"},
     "ordered": ["one", "two"]},
    {"altLabel": "anon node gets a deterministic blank id"}
  ]
}
"""


def test_jsonld_expansion_features():
    """Round-2 expansion: @base/@vocab, language maps, @type:@id
    coercion, @reverse (term + keyword), @list, anonymous bnodes —
    the public W3C expansion semantics rdflib gives the reference."""
    from skosconverter_spark.sources.jsonld import RDF_FIRST, RDF_NIL, RDF_REST

    ts = parse_jsonld(JSONLD_EXPANDED_DOC)
    got = {(t.subj, t.pred, t.obj, t.obj_is_literal, t.obj_lang) for t in ts}
    A = "http://x.org/v#a"
    # language map -> one literal per language value
    assert (A, SKOS + "prefLabel", "Alpha", True, "en") in got
    assert (A, SKOS + "prefLabel", "Alfa", True, "nl") in got
    assert (A, SKOS + "prefLabel", "Alef", True, "nl") in got
    # @type:@id coercion: plain string becomes a base-resolved IRI object
    assert (A, SKOS + "broader", "http://x.org/v#b", False, None) in got
    # @reverse term and keyword invert the triple
    assert ("http://x.org/v#c", SKOS + "broader", A, False, None) in got
    assert ("http://x.org/v#d", SKOS + "related", A, False, None) in got
    # @vocab expands bare property terms; datatype accepted, not stored
    assert (A, SKOS + "definition", "2024-01-01", True, None) in got
    # @list -> rdf:first/rest/nil chain from a deterministic head bnode
    heads = [t.obj for t in ts if t.pred == "http://x.org/p#ordered"]
    assert len(heads) == 1 and heads[0].startswith("_:")
    chain = {t.subj: (t.pred, t.obj) for t in ts if t.pred == RDF_FIRST}
    rests = {t.subj: t.obj for t in ts if t.pred == RDF_REST}
    assert chain[heads[0]][1] == "one"
    assert chain[rests[heads[0]]][1] == "two"
    assert rests[rests[heads[0]]] == RDF_NIL
    # anonymous node minted a blank id and kept its property
    anon = [t for t in ts if t.pred == SKOS + "altLabel"]
    assert len(anon) == 1 and anon[0].subj.startswith("_:")
    # determinism: identical parse twice
    ts2 = parse_jsonld(JSONLD_EXPANDED_DOC)
    assert [tuple(t) for t in ts] == [tuple(t) for t in ts2]

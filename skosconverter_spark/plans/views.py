"""Relational views over the ``triples`` table (SURVEY.md §1.2).

Every helper here replaces a per-node ``graph.objects(...)`` lookup in
the reference (skos_converter.py:376-464) with one
set-oriented DataFrame op: a filter+project, a broadcast join, or a
min(seq) window. Nothing in this module calls Python per row.

Determinism contract: ``seq`` is the per-document insertion ordinal
(sources.parse_udf). The reference's rdflib store iterates in insertion
order, so every ``labels[0]`` / "first value" pick maps to the row with
the smallest seq.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.config import (
    EngineConfig,
    RDF_TYPE,
    RDFS_LABEL,
    SKOS_ALT_LABEL,
    SKOS_CONCEPT,
    SKOS_CONCEPT_SCHEME,
    SKOS_PREF_LABEL,
)


def uri_local_part(col):
    """str(uri).split('/')[-1].split('#')[-1] (skos_converter.py:393-394)."""
    return F.element_at(F.split(F.element_at(F.split(col, "/"), -1), "#"), -1)


def concepts(triples: DataFrame) -> DataFrame:
    """subjects(rdf:type, skos:Concept) → (uri, type_seq) (F1)."""
    return (
        triples.filter((F.col("pred") == RDF_TYPE) & (F.col("obj") == SKOS_CONCEPT))
        .groupBy(F.col("subj").alias("uri"))
        .agg(F.min("seq").alias("type_seq"))
    )


def schemes(triples: DataFrame) -> DataFrame:
    """subjects(rdf:type, skos:ConceptScheme) → (uri, type_seq) (F2).

    type_seq is the store-insertion rank of the scheme's type triple —
    the reference's scheme iteration order (skos_converter.py:690).
    """
    return (
        triples.filter(
            (F.col("pred") == RDF_TYPE) & (F.col("obj") == SKOS_CONCEPT_SCHEME)
        )
        .groupBy(F.col("subj").alias("uri"))
        .agg(F.min("seq").alias("type_seq"))
    )


def labels(triples: DataFrame) -> DataFrame:
    """All label triples → (uri, kind, label, lang, seq) (F3).

    kind_rank encodes the reference's property fallback order
    prefLabel → altLabel → rdfs:label (skos_converter.py:426-428).
    """
    kind = (
        F.when(F.col("pred") == SKOS_PREF_LABEL, F.lit("pref"))
        .when(F.col("pred") == SKOS_ALT_LABEL, F.lit("alt"))
        .otherwise(F.lit("rdfs"))
    )
    kind_rank = (
        F.when(F.col("pred") == SKOS_PREF_LABEL, F.lit(0))
        .when(F.col("pred") == SKOS_ALT_LABEL, F.lit(1))
        .otherwise(F.lit(2))
    )
    # lang stays NULL for untagged literals: rdflib Literal.language is
    # None, never '' — so the reference's '' fallback entry can never
    # match a parsed label, and neither must ours (verified by the
    # vocab_nolang golden: labels[0] wins over the untagged label).
    return triples.filter(
        F.col("pred").isin(SKOS_PREF_LABEL, SKOS_ALT_LABEL, RDFS_LABEL)
    ).select(
        F.col("subj").alias("uri"),
        kind.alias("kind"),
        kind_rank.alias("kind_rank"),
        F.col("obj").alias("label"),
        F.col("obj_lang").alias("lang"),
        "seq",
    )


def _lang_rank(config: EngineConfig):
    """CASE chain encoding LanguageHelper.get_best_label's language
    preference (skos_converter.py:437-448): preferred language first,
    then fallback list order, else everything ties at 99 and seq picks
    labels[0]."""
    expr = None
    rank = 0
    if config.preferred_language:
        expr = F.when(F.col("lang") == config.preferred_language, F.lit(0))
        rank = 1
    for i, fb in enumerate(config.fallback_languages):
        cond = F.col("lang") == fb
        expr = F.when(cond, F.lit(rank + i)) if expr is None else expr.when(cond, F.lit(rank + i))
    return (expr.otherwise(F.lit(99))) if expr is not None else F.lit(99)


def best_label(triples: DataFrame, config: EngineConfig, uris: DataFrame | None = None) -> DataFrame:
    """get_best_label for every node at once (W1) → (uri, label).

    One hash-aggregated min(struct) pick — partial-aggregated map-side,
    no sort, no window — instead of a per-node lru_cached lookup
    (skos_converter.py:376, :420-451). If ``uris`` is given (a DataFrame
    with column ``uri``), URIs with no label rows fall back to the URI
    local part (:433-434).
    """
    lab = labels(triples).withColumn("lang_rank", _lang_rank(config))
    picked = lab.groupBy("uri").agg(
        F.min(F.struct("kind_rank", "lang_rank", "seq", "label"))["label"].alias("label")
    )
    if uris is None:
        return picked
    return uris.select("uri").join(picked, "uri", "left").select(
        "uri", F.coalesce(F.col("label"), uri_local_part(F.col("uri"))).alias("label")
    )


def labels_by_language(triples: DataFrame, pred: str = SKOS_PREF_LABEL) -> DataFrame:
    """get_all_labels_by_language (skos_converter.py:453-464, A6):
    (uri, labels MAP<lang, ARRAY<label>>), 'no-lang' for untagged,
    per-language lists in store order."""
    src = triples.filter(F.col("pred") == pred).select(
        F.col("subj").alias("uri"),
        F.coalesce(F.col("obj_lang"), F.lit("no-lang")).alias("lang"),
        F.col("obj").alias("label"),
        "seq",
    )
    per_lang = src.groupBy("uri", "lang").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seq", F.col("label").alias("v")))),
            lambda s: s["v"],
        ).alias("labels"),
    )
    return per_lang.groupBy("uri").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "labels"))).alias("labels")
    )


def uri_fragment_from_label(col):
    """create_uri_fragment (skos_converter.py:72-77, C1): strip
    non-word/space/hyphen, whitespace → '_', lowercase. (Dead code in
    the reference — minting always takes the uuid4 branch — kept for
    API parity as a pure column expression.)"""
    return F.lower(
        F.regexp_replace(F.regexp_replace(col, r"[^\w\s-]", ""), r"\s+", "_")
    )

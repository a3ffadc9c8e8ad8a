"""Relational views over the ``triples`` table that no hierarchy
assembly needs (SURVEY.md §1.2): per-language label maps (A6) and the
uri-fragment expression (C1), each one set-oriented DataFrame op with no
Python per row.

Concepts, schemes, labels and the best-label pick live in the driver-local
kernel (``plans.local_dfs``: ``index_triples``, ``best_label_fn``,
``assemble``), the one place the DFS, the validator and the skos_*
queries read them from.

Determinism contract: ``seq`` is the per-document insertion ordinal
(sources.parse_udf). The reference's rdflib store iterates in insertion
order, so a per-language list is in seq order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.config import SKOS_PREF_LABEL


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

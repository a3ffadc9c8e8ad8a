"""The end-to-end pretraining corpus-preparation pipeline.

This is what the extension operators exist FOR: the standard cleaning
cascade every large-scale training corpus goes through (the publicly
documented C4/Gopher/RefinedWeb shape), composed from this engine's
verified pieces — each stage cheaper-per-row than the one before it, so
the expensive stages see the fewest documents:

1. quality filter  (operators.filter.quality_flags — pure expressions)
2. exact dedup     (content fingerprint groupBy; keep min doc_id)
3. near-dup dedup  (operators.dedup.minhash_lsh_pairs over the exact
                    survivors → undirected duplicate graph →
                    kg.canonicalize.connected_components → keep each
                    component's min doc_id). One driver-local CC kernel
                    for KG canonicalization and dedup clustering (over
                    5M duplicate edges fails its driver-size guard).
4. optional deterministic downsample (operators.filter.hash_sample)

``prepare_corpus_ids`` returns the surviving doc_ids; a caller keeps its
documents with a semi-join on them. Everything is a DataFrame
composition — one definition serves batch at any scale; the whole
cascade is value-checked against a single DuckDB oracle (quality CTEs
+ fingerprint dedup + the full minhash pipeline + a recursive-CTE
connected components) in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.functions.text import fingerprint
from skosconverter_spark.kg.canonicalize import connected_components
from skosconverter_spark.operators.dedup import minhash_lsh_pairs
from skosconverter_spark.operators.filter import hash_sample, quality_flags


def prepare_corpus_ids(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    neardup_threshold: float = 0.8,
    sample_fraction: float | None = None,
    salt: str = "",
    cc_max_iterations: int = 25,
) -> DataFrame:
    """(doc_id): the ids that survive the cascade. Deterministic keep
    policy at every stage: min doc_id represents an exact-duplicate group
    and a near-duplicate component.

    ``cc_max_iterations`` bounds the near-dup clustering: connected_components
    raises when a document sits ``cc_max_iterations`` or more hops from
    its component's min doc_id (rather than silently split a chain)."""
    passed = (
        quality_flags(docs, text_col, min_words=min_words)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    qdocs = docs.join(passed, "doc_id", "semi")

    fps = qdocs.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))
    rep = fps.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    exact = (
        fps.join(rep, "fp")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id")
    )
    exdocs = docs.join(exact, "doc_id", "semi")

    pairs = minhash_lsh_pairs(exdocs, neardup_threshold, text_col)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
    )
    comp = connected_components(edges, cc_max_iterations)
    drops = comp.filter(F.col("component") < F.col("uri")).select(
        F.col("uri").alias("doc_id")
    )
    survivors = exact.join(drops, "doc_id", "left_anti")

    if sample_fraction is not None:
        survivors = hash_sample(survivors, sample_fraction, "doc_id", salt)
    return survivors

"""Turtle export sink (SURVEY.md S9) + graph-table writer.

The reference's ``export_turtle`` (skos_converter.py:1551-1583) calls
rdflib's serializer and logs summary counts. This engine's contract is
triple-SET equality with a deterministic byte layout of our own
(SURVEY O5): subjects/predicates/objects sorted, prefixes compacted —
identical output for identical graphs regardless of partitioning or
cluster size.

Two sinks:
- ``export_turtle_text``: one canonical Turtle document (driver-sized —
  one output file, like the reference).
- ``write_graph_table``: the at-scale sink — pred-partitioned parquet
  (stand-in for the Iceberg graph table of the north rule), so
  triple-pattern scans prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.config import RDF_TYPE, SKOS_CONCEPT, SKOS_CONCEPT_SCHEME
from skosconverter_spark.plans.local_dfs import MAX_DRIVER_ROWS, arrow_rows, guard_driver_sized
from skosconverter_spark.sources.markdown_parse import Triple
from skosconverter_spark.sources.turtle import serialize_turtle


def export_turtle_text(
    triples: DataFrame, max_rows: int | None = None
) -> tuple[str, dict]:
    """(turtle_text, summary) — summary mirrors the reference's logged
    counts (:1567-1573): triples, concepts, schemes. Guarded: one Turtle
    document is driver-sized by contract; a corpus-sized graph must go
    through write_graph_table instead."""
    tbl = guard_driver_sized(
        triples.select("subj", "pred", "obj", "obj_is_literal", "obj_lang"),
        "export_turtle_text",
        MAX_DRIVER_ROWS if max_rows is None else max_rows,
    )
    ts = [Triple(*r) for r in arrow_rows(tbl)]
    concepts = {t.subj for t in ts if t.pred == RDF_TYPE and t.obj == SKOS_CONCEPT}
    schemes = {t.subj for t in ts if t.pred == RDF_TYPE and t.obj == SKOS_CONCEPT_SCHEME}
    text = serialize_turtle(ts)
    return text, {
        "triples": len(ts),
        "concepts": len(concepts),
        "schemes": len(schemes),
    }


def write_graph_table(triples: DataFrame, path: str) -> None:
    """Pred-partitioned graph table (scan pruning on triple patterns);
    bucket-by-subj belongs here too once a real catalog (Iceberg) is
    attached — plain parquet has no bucketing without a metastore."""
    triples.write.mode("overwrite").partitionBy("pred").parquet(path)


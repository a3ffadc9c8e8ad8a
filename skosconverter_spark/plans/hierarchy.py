"""Hierarchy assembly as DataFrame ops, plus the DFS row table (SURVEY.md §2.3, §2.8).

Re-expresses the reference's ``build_hierarchy`` (skos_converter.py:664-762)
as set-oriented relational pieces, which the driver queries consume
directly (the validator runs driver-local, operators/validate.py):

- scheme/top-concept/inScheme assignment → rank-window picks (J2, J3)
- parent-child union-of-inverses with one-parent-per-child dedup (J4)
- orphan detection → anti-join logic (J7)

The DFS itself (``add_concept_row``, :772-802) has exactly one
implementation: the driver-local kernel in plans.local_dfs. ``dfs_rows``
is its DataFrame face — one guarded collect, the kernel, then
``createDataFrame``. A vocabulary is driver-sized by construction (the
reference holds it in RAM too); vocabularies above
``local_dfs.MAX_DRIVER_ROWS`` (5M) triples are an explicit non-goal and
fail loudly in the guard instead of degrading.

Determinism register (SURVEY §2.10 D6): the reference resolves
multi-parent/multi-scheme ties by Python set iteration order; this
engine resolves them by store-insertion order (min seq), which matches
the pinned golden runs on the fixture corpus (verified by the golden
byte tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skosconverter_spark.config import (
    EngineConfig,
    SKOS_BROADER,
    SKOS_HAS_TOP_CONCEPT,
    SKOS_IN_SCHEME,
    SKOS_NARROWER,
    SKOS_TOP_CONCEPT_OF,
)
from skosconverter_spark.plans import views
from skosconverter_spark.plans.local_dfs import (
    _DOC_ROWS_SCHEMA,
    collect_triples,
    dfs_rows_local,
)


def scheme_table(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """(scheme, scheme_label, scheme_order, scheme_sort_idx).

    scheme_order = store-insertion rank (the reference's iteration order
    over ``subjects(rdf:type, ConceptScheme)``); scheme_sort_idx = rank by
    (label, insertion) — ``sorted(schemes, key=label)`` is stable
    (skos_converter.py:820)."""
    sch = views.schemes(triples).select(F.col("uri").alias("scheme"), "type_seq")
    lab = views.best_label(triples, config, sch.select(F.col("scheme").alias("uri")))
    sch = sch.join(
        lab.select(F.col("uri").alias("scheme"), F.col("label").alias("scheme_label")),
        "scheme",
    )
    w_order = Window.orderBy("type_seq")
    w_sort = Window.orderBy("scheme_label", "type_seq")
    return (
        sch.withColumn("scheme_order", F.row_number().over(w_order) - 1)
        .withColumn("scheme_sort_idx", F.row_number().over(w_sort) - 1)
        .select("scheme", "scheme_label", "scheme_order", "scheme_sort_idx")
    )


def top_concept_slots(triples: DataFrame) -> DataFrame:
    """(scheme, concept, seq): hasTopConcept objects ∪ topConceptOf
    subjects per scheme (skos_converter.py:697-707, J2/U2)."""
    has_top = triples.filter(F.col("pred") == SKOS_HAS_TOP_CONCEPT).select(
        F.col("subj").alias("scheme"), F.col("obj").alias("concept"), "seq"
    )
    top_of = triples.filter(F.col("pred") == SKOS_TOP_CONCEPT_OF).select(
        F.col("obj").alias("scheme"), F.col("subj").alias("concept"), "seq"
    )
    return (
        has_top.unionByName(top_of)
        .groupBy("scheme", "concept")
        .agg(F.min("seq").alias("seq"))
    )


def concept_scheme_assignment(
    triples: DataFrame, schemes_df: DataFrame
) -> DataFrame:
    """concept → scheme, replicating the reference's assignment scan
    (skos_converter.py:697-712): top-concept slots assign UNCONDITIONALLY
    per scheme in iteration order (so the LAST scheme listing a concept
    as top wins), while inScheme assigns only when unassigned (FIRST
    scheme wins) and any top slot beats any inScheme slot."""
    tops = top_concept_slots(triples).join(schemes_df, "scheme")
    tops = tops.select(
        "concept",
        "scheme",
        F.lit(0).alias("phase"),
        # last-wins across schemes → invert scheme_order for a min() pick
        (-F.col("scheme_order")).alias("order_key"),
    )
    in_scheme = (
        triples.filter(F.col("pred") == SKOS_IN_SCHEME)
        .select(F.col("subj").alias("concept"), F.col("obj").alias("scheme"))
        .join(schemes_df, "scheme")
        .select(
            "concept",
            "scheme",
            F.lit(1).alias("phase"),
            F.col("scheme_order").alias("order_key"),
        )
    )
    return (
        tops.unionByName(in_scheme)
        .groupBy("concept")
        .agg(F.min(F.struct("phase", "order_key", "scheme"))["scheme"].alias("scheme"))
    )


def parent_edges(triples: DataFrame) -> DataFrame:
    """(child, parent): narrower ∪ inverted broader, one parent per child
    (skos_converter.py:716-733, J4/U1). Parent must be a typed Concept
    (the reference iterates all_concepts); self-edges excluded; winner =
    smallest store-insertion seq (D6 policy)."""
    concepts = views.concepts(triples).select(F.col("uri").alias("parent"))
    narrower = triples.filter(F.col("pred") == SKOS_NARROWER).select(
        F.col("subj").alias("parent"), F.col("obj").alias("child"), "seq"
    )
    broader = triples.filter(F.col("pred") == SKOS_BROADER).select(
        F.col("obj").alias("parent"), F.col("subj").alias("child"), "seq"
    )
    cand = (
        narrower.unionByName(broader)
        .filter(F.col("child") != F.col("parent"))
        .join(concepts, "parent")
    )
    return (
        cand.groupBy("child")
        .agg(F.min(F.struct("seq", "parent"))["parent"].alias("parent"))
        .select("child", "parent")
    )


def orphan_concepts(
    triples: DataFrame, schemes_df: DataFrame, edges: DataFrame | None = None
) -> DataFrame:
    """(concept, scheme|null): no broader triple, not a top concept, not
    child-assigned (skos_converter.py:735-762, J7 double anti-join),
    grouped by the reference's concept→scheme assignment. scheme is null
    for the no-scheme group. Pass precomputed parent ``edges`` to avoid
    recomputing the dedup."""
    concepts = views.concepts(triples).select("uri")
    has_broader = (
        triples.filter(F.col("pred") == SKOS_BROADER)
        .select(F.col("subj").alias("uri"))
        .distinct()
    )
    tops = top_concept_slots(triples).select(F.col("concept").alias("uri")).distinct()
    if edges is None:
        edges = parent_edges(triples)
    children = edges.select(F.col("child").alias("uri")).distinct()
    orphans = (
        concepts.join(has_broader, "uri", "left_anti")
        .join(tops, "uri", "left_anti")
        .join(children, "uri", "left_anti")
    )
    assign = concept_scheme_assignment(triples, schemes_df)
    return orphans.join(
        assign.select(F.col("concept").alias("uri"), "scheme"), "uri", "left"
    ).select(F.col("uri").alias("concept"), "scheme")


def dfs_rows(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """The global DFS pre-order row table every sink renders from, with
    full concept metadata (``local_dfs._DOC_ROWS_SCHEMA``).

    One row per emitted entry. section ∈ scheme | top | orph_hdr |
    orphan | unass_hdr | unassigned — header/scheme rows are synthetic
    (uri null for headers); ``origin`` is 'anchor' for rows emitted at
    their section slot, 'child' for rows emitted under a tree parent, and
    'ghost' for a top slot whose concept was already emitted elsewhere
    (the reference still appends its '' separator at that slot when
    i > 0 — to_notion_markdown :1017-1019 — so the renderer needs the
    slot even though no block is emitted); ``level`` is the CSV level
    (markdown/xml/json levels derive from it per section).
    ``has_children`` mirrors ``concept in hierarchy`` in the reference
    (:911-915). ``sort_path`` is the zero-padded emission ordinal:
    ordering by it IS the reference's depth-first emission order.

    Collects the triples through the driver-size guard (fails above
    MAX_DRIVER_ROWS) and runs the kernel; concepts unreachable from any
    anchor (pure cycles) are never emitted, like the reference.
    """
    rows = dfs_rows_local(collect_triples(triples), config)
    return triples.sparkSession.createDataFrame(rows, _DOC_ROWS_SCHEMA)

"""The DFS row table as a DataFrame (SURVEY.md §2.3, §2.8).

The reference's ``build_hierarchy`` (skos_converter.py:664-762) and its
DFS (``add_concept_row``, :772-802) each have exactly one
implementation, the driver-local kernel in plans.local_dfs (``assemble``
and ``dfs_rows_local``). ``dfs_rows`` is its DataFrame face: one guarded
collect, the kernel, then ``createDataFrame``. A vocabulary is
driver-sized by construction (the reference holds it in RAM too);
vocabularies above ``local_dfs.MAX_DRIVER_ROWS`` (5M) triples are an
explicit non-goal and fail loudly in the guard instead of degrading.

Determinism register (SURVEY §2.10 D6): the reference resolves
multi-parent/multi-scheme ties by Python set iteration order; this
engine resolves them by store-insertion order (min seq), which matches
the pinned golden runs on the fixture corpus (verified by the golden
byte tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.plans.local_dfs import (
    _DOC_ROWS_SCHEMA,
    collect_triples,
    dfs_rows_local,
)


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

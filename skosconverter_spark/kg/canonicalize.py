"""Canonicalization closure (north_star; SURVEY.md §2.8 R4).

- ``connected_components``: equivalence closure over undirected edges
  (skos:exactMatch ∪ owl:sameAs, or near-duplicate doc pairs). One
  guarded Arrow collect of the edge pairs (``guard_driver_sized``: one
  Spark job, no separate count), then ``components_local``, a
  driver-local BFS from each component's minimum, then
  ``createDataFrame`` (a LocalRelation, so joins against it broadcast).
  Component id = min node id in the component. The edge set is
  driver-sized like the vocabulary it comes from: more than
  ``local_dfs.MAX_DRIVER_ROWS`` (5M) edges is an explicit non-goal that
  fails loudly in ``guard_driver_sized``, which ships at most 5M + 1
  pairs before it raises.

- ``closure_local``: ancestor reachability over directed (child,
  parent) pairs, a driver-local BFS from each node. The closure can be
  quadratic in its input, so its output pairs pass the same
  ``MAX_DRIVER_ROWS`` gate. ``q_skos_closure`` runs it on the hierarchy
  assembly's parent map (``local_dfs.assemble``).

``canonicalize_triples`` rewrites subj/obj through the component map so
all aliases collapse onto the canonical node.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from skosconverter_spark.config import OWL_SAME_AS, SKOS_EXACT_MATCH
from skosconverter_spark.plans.local_dfs import (
    MAX_DRIVER_ROWS,
    arrow_rows,
    check_driver_sized,
    guard_driver_sized,
)
from skosconverter_spark.sources.parse_udf import dedup_triples


def _equivalence_pairs(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("pred").isin(SKOS_EXACT_MATCH, OWL_SAME_AS)).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def components_local(pairs, max_iterations: int = 25) -> dict:
    """node -> min node of its component, over (a, b) pairs taken as
    undirected. Nodes are visited in ascending order, so each unvisited
    one is its component's minimum and a BFS from it labels the rest.
    Python orders str by code point, which is Spark's UTF-8 binary order.

    Raises RuntimeError when D + 1 > max_iterations, D being the largest
    hop distance from a node to its component minimum (the rounds a
    single-hop min-label propagation needs to see no change)."""
    adj: dict = defaultdict(set)
    for a, b in pairs:
        if a is not None and b is not None:  # null ids never join anything
            adj[a].add(b)
            adj[b].add(a)
    comp: dict = {}
    depth = 0
    for root in sorted(adj):
        if root in comp:
            continue
        comp[root] = root
        frontier, d = [root], 0
        while frontier:
            depth = max(depth, d)
            nxt = []
            for u in frontier:
                for v in adj[u] - comp.keys():
                    comp[v] = root
                    nxt.append(v)
            frontier, d = nxt, d + 1
    if comp and depth + 1 > max_iterations:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter exceeds the budget); raise "
            "max_iterations"
        )
    return comp


def _frame(like: DataFrame, col: str, pairs, names: tuple[str, str]) -> DataFrame:
    """(a, b) pairs as rows typed like ``like[col]``, as a LocalRelation."""
    t = like.schema[col].dataType
    schema = StructType([StructField(n, t) for n in names])
    pairs = list(pairs)
    tbl = pa.table({names[0]: [a for a, _ in pairs], names[1]: [b for _, b in pairs]})
    return like.sparkSession.createDataFrame(tbl, schema)


def connected_components(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """(uri, component) for every node of ``edges`` (src, dst).

    Nodes not in ``edges`` are their own components by definition and
    need no rows here (callers coalesce on join). Raises RuntimeError
    past ``max_iterations`` (see ``components_local``) rather than
    silently split a component (e.g. keep near-duplicates in
    prepare_corpus_ids)."""
    pairs = arrow_rows(guard_driver_sized(edges.select("src", "dst"), "connected_components"))
    comp = components_local(pairs, max_iterations)
    return _frame(edges, "src", comp.items(), ("uri", "component"))


def closure_local(pairs) -> list[tuple]:
    """(node, reached) for every node reached from ``node`` over one or
    more directed (child, parent) pairs, never (x, x): a BFS from each
    node. Raises the driver guard's ValueError once the output pairs
    exceed ``MAX_DRIVER_ROWS``."""
    adj: dict = defaultdict(set)
    for a, b in pairs:
        if a is not None and b is not None:  # null ids reach nothing
            adj[a].add(b)
    out: list[tuple] = []
    for start in adj:
        seen, frontier = {start}, [start]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
                        out.append((start, v))
            frontier = nxt
        check_driver_sized(len(out), "transitive closure", MAX_DRIVER_ROWS)
    return out


def _canonical(triples: DataFrame, max_iterations: int) -> dict:
    pairs = arrow_rows(guard_driver_sized(_equivalence_pairs(triples), "canonical_map"))
    return components_local(pairs, max_iterations)


def canonical_map(triples: DataFrame, max_iterations: int = 25) -> DataFrame:
    """(uri, canonical): every aliased node → its component's min uri."""
    return _frame(triples, "subj", _canonical(triples, max_iterations).items(), ("uri", "canonical"))


def canonicalize_triples(triples: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Rewrite subj/obj through the canonical map (identity for nodes
    outside any equivalence class); drop equivalence self-loops; dedup."""
    canon = _canonical(triples, max_iterations)
    if not canon:
        # nothing to rewrite: the dedup aggregation is the whole job
        return dedup_triples(triples)
    cmap = _frame(triples, "subj", canon.items(), ("uri", "canonical"))
    t = (
        triples.join(
            cmap.select(F.col("uri").alias("subj"), F.col("canonical").alias("subj_c")),
            "subj",
            "left",
        )
        .join(
            cmap.select(F.col("uri").alias("obj"), F.col("canonical").alias("obj_c")),
            "obj",
            "left",
        )
        .select(
            F.coalesce(F.col("subj_c"), F.col("subj")).alias("subj"),
            "pred",
            F.when(F.col("obj_is_literal"), F.col("obj"))
            .otherwise(F.coalesce(F.col("obj_c"), F.col("obj")))
            .alias("obj"),
            "obj_is_literal",
            "obj_lang",
            "src_url",
            "seq",
        )
    )
    # a canonicalized exactMatch/sameAs within one component becomes a
    # self-loop — definitionally true, dropped
    t = t.filter(
        ~(
            F.col("pred").isin(SKOS_EXACT_MATCH, OWL_SAME_AS)
            & (F.col("subj") == F.col("obj"))
        )
    )
    return dedup_triples(t)

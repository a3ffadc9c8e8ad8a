"""The engine's one hierarchy assembly and one DFS pre-order walk, driver-local.

A SKOS vocabulary is driver-sized by construction (controlled thesauri
top out at millions of triples; the 100 TB axis of this engine is the
*pages* corpus, not the concept graph). So the row table every sink
renders from is computed in one pass of plain Python over the collected
triple list — semantically the reference's build_hierarchy +
add_concept_row recursion (skos_converter.py:664-802), which also runs
in one process over a vocabulary held in RAM, with seq-ordered
determinism.

Whole-table callers (plans.hierarchy.dfs_rows, the DataFrame face of
this kernel, and render.render_text_local) reach it through
``collect_triples``: one Spark job through ``guard_driver_sized``, which
ships the triples as Arrow and fails loudly above ``MAX_DRIVER_ROWS``
(5M) triples instead of OOMing the driver: vocabularies beyond that are
an explicit non-goal. Batch mode (render.render_documents) runs it
once per document inside a grouped-map call. The golden-byte tests pin
its renders on both paths against the reference's bytes.

``assemble`` is the reference's build_hierarchy (:664-762) over the
triple index: schemes, top slots, the concept→scheme assignment, one
parent per child and the orphans. The DFS renders from it, and the
skos_orphans / skos_closure queries read it (one guarded collect,
``index_triples``, ``assemble``, ``createDataFrame``), so a query and a
render cannot disagree about where a concept sits; skos_best_label
reads ``best_label_fn`` the same way.

``sort_path`` is a one-element array holding the row's zero-padded
emission ordinal; consumers only sort by it.
"""

from __future__ import annotations

from collections import defaultdict
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame

from skosconverter_spark.config import (
    EngineConfig,
    RDF_TYPE,
    RDFS_LABEL,
    SKOS_ALT_LABEL,
    SKOS_BROADER,
    SKOS_CONCEPT,
    SKOS_CONCEPT_SCHEME,
    SKOS_DEFINITION,
    SKOS_HAS_TOP_CONCEPT,
    SKOS_IN_SCHEME,
    SKOS_NARROWER,
    SKOS_NOTATION,
    SKOS_PREF_LABEL,
    SKOS_SCOPE_NOTE,
    SKOS_TOP_CONCEPT_OF,
)

_DOC_ROWS_SCHEMA = (
    "sort_path array<string>, section string, origin string, uri string, "
    "label string, level int, parent_label string, scheme_label string, "
    "top_idx int, has_children boolean, definition string, "
    "alt_labels array<string>, notation string, same_as array<string>, "
    "related array<string>"
)


# Driver-sized paths collect a whole table to one machine. A vocabulary
# is driver-sized by construction; a pages/triples CORPUS is not. The
# guard turns that contract into a loud failure instead of a driver OOM.
MAX_DRIVER_ROWS = 5_000_000


def guard_driver_sized(df: DataFrame, what: str, max_rows: int = MAX_DRIVER_ROWS) -> pa.Table:
    """The engine's one way to move a table to the driver: the rows it
    admits, as Arrow, in one Spark job. limit(max_rows+1) plans a
    CollectLimit (one single-partition exchange, not executeTake rounds),
    so at most max_rows+1 rows reach the driver; more than max_rows
    raises. Arrow, not Rows: the Row path pays a pickled Row and a
    __getattr__ per field (~2 s of a 3 s collect at 177k triples).
    Set max_rows=0 to disable (caller takes responsibility)."""
    tbl = (df.limit(max_rows + 1) if max_rows else df).toArrow()
    check_driver_sized(tbl.num_rows, what, max_rows)
    return tbl


def check_driver_sized(n_rows: int, what: str, max_rows: int) -> None:
    """The guard's gate on its own, for a table a driver-local kernel
    builds (a closure can be quadratic in the rows it was given)."""
    if max_rows and n_rows > max_rows:
        raise ValueError(
            f"{what} materializes rows on the driver and is gated at "
            f"{max_rows} rows; this input exceeds it. Use the distributed "
            "sink (render_documents / write_graph_table) for corpus-sized "
            "tables, or raise max_rows explicitly."
        )


def arrow_rows(tbl: pa.Table) -> list[tuple]:
    """The rows of an Arrow table as tuples, in column order."""
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def collect_triples(triples: DataFrame, max_rows: int = MAX_DRIVER_ROWS) -> list[tuple]:
    return arrow_rows(guard_driver_sized(
        triples.select("subj", "pred", "obj", "obj_is_literal", "obj_lang", "seq"),
        "collect_triples", max_rows,
    ))


def _local_part(uri: str) -> str:
    return str(uri).split("/")[-1].split("#")[-1]


def index_triples(triple_rows) -> tuple[dict, dict, dict]:
    """The engine's one triple index, shared by the DFS and the
    validator. triple_rows: iterable of (subj, pred, obj, obj_is_literal,
    obj_lang, seq). Every list is in store order (seq order), so a first
    element is the reference's ``labels[0]`` pick.

    Returns (by_sp, by_po, by_p): (subj, pred) -> [(obj, lang)],
    (pred, obj) -> [subj], pred -> [(subj, obj, lang, seq)]."""
    by_sp: dict[tuple, list] = defaultdict(list)
    by_po: dict[tuple, list] = defaultdict(list)
    by_p: dict[str, list] = defaultdict(list)
    for subj, pred, obj, _lit, lang, seq in sorted(triple_rows, key=lambda t: t[5]):
        by_sp[(subj, pred)].append((obj, lang))
        by_po[(pred, obj)].append(subj)
        by_p[pred].append((subj, obj, lang, seq))
    return by_sp, by_po, by_p


def best_label_fn(by_sp: dict, config: EngineConfig):
    """LanguageHelper.get_best_label over the index: prefLabel → altLabel
    → rdfs:label, the preferred language first, then the fallback list,
    then store order; the uri's local part when unlabeled. An untagged
    literal's lang is None, never '' (rdflib's Literal.language), so the
    default '' fallback entry never matches a parsed label, as in the
    reference (the vocab_nolang golden pins it)."""
    lang_ranks: dict[str | None, int] = {}
    r = 0
    if config.preferred_language:
        lang_ranks[config.preferred_language] = r
        r += 1
    for fb in config.fallback_languages:
        lang_ranks.setdefault(fb, r)
        r += 1

    # memoized: the DFS calls best_label inside every child-sort
    # comparator and for every parent-label emit — O(n log n) calls for
    # n concepts (66k calls at 22k concepts, measured) — while the value
    # per uri never changes within one run.
    _bl_cache: dict[str, str] = {}

    def best_label(uri: str) -> str:
        got = _bl_cache.get(uri)
        if got is not None:
            return got
        out = None
        for pred in (SKOS_PREF_LABEL, SKOS_ALT_LABEL, RDFS_LABEL):
            labels = by_sp.get((uri, pred))
            if labels:
                out = min(
                    enumerate(labels),
                    key=lambda e: (lang_ranks.get(e[1][1], 99), e[0]),
                )[1][0]
                break
        if out is None:
            out = _local_part(uri)
        _bl_cache[uri] = out
        return out

    return best_label


class Hierarchy(NamedTuple):
    """The reference's build_hierarchy result (skos_converter.py:664-762)."""

    concepts: list  # typed Concepts, store order
    schemes: list  # typed ConceptSchemes, store order
    top_slots: dict  # scheme -> [top concept], store order, distinct
    concept_to_scheme: dict  # concept -> scheme
    parent: dict  # child -> its one parent
    children_of: dict  # parent -> [child]
    orphans: list  # concepts with no broader, top slot or parent; store order


def assemble(index: tuple[dict, dict, dict]) -> Hierarchy:
    """The engine's one hierarchy assembly, over ``index_triples``'
    index: the DFS renders from it and the skos_* queries read it."""
    by_sp, by_po, by_p = index
    concepts = list(dict.fromkeys(by_po[(RDF_TYPE, SKOS_CONCEPT)]))
    schemes = list(dict.fromkeys(by_po[(RDF_TYPE, SKOS_CONCEPT_SCHEME)]))
    concept_set = set(concepts)

    # scheme assignment + top slots (skos_converter.py:685-714 semantics)
    top_slots: dict[str, list] = defaultdict(list)  # scheme -> [concept] (seq order)
    concept_to_scheme: dict[str, str] = {}
    top_set: set[str] = set()
    for scheme in schemes:
        seen = set()
        for c, *_ in [(o, None) for o, _ in by_sp.get((scheme, SKOS_HAS_TOP_CONCEPT), [])] + [
            (s, None) for s in by_po.get((SKOS_TOP_CONCEPT_OF, scheme), [])
        ]:
            if c not in seen:
                seen.add(c)
                top_slots[scheme].append(c)
            top_set.add(c)
            concept_to_scheme[c] = scheme  # unconditional (last scheme wins)
        for c in by_po.get((SKOS_IN_SCHEME, scheme), []):
            concept_to_scheme.setdefault(c, scheme)

    # one-parent-per-child dedup by min seq (J4, D6 policy)
    cand: dict[str, tuple] = {}
    for subj, obj, _, seq in by_p[SKOS_NARROWER]:
        if subj in concept_set and subj != obj and (obj not in cand or seq < cand[obj][0]):
            cand[obj] = (seq, subj)
    for subj, obj, _, seq in by_p[SKOS_BROADER]:
        if obj in concept_set and subj != obj and (subj not in cand or seq < cand[subj][0]):
            cand[subj] = (seq, obj)
    parent = {child: p for child, (_, p) in cand.items()}
    children_of: dict[str, list] = defaultdict(list)
    for child, p in parent.items():
        children_of[p].append(child)

    has_broader = {s for s, *_ in by_p[SKOS_BROADER]}
    orphans = [
        c for c in concepts
        if c not in has_broader and c not in top_set and c not in parent
    ]
    return Hierarchy(concepts, schemes, top_slots, concept_to_scheme, parent, children_of, orphans)


def dfs_rows_local(triple_rows, config: EngineConfig) -> list[dict]:
    """triple_rows: iterable of (subj, pred, obj, obj_is_literal,
    obj_lang, seq). Returns one dict per ``_DOC_ROWS_SCHEMA`` row, in
    emission order (ready for the render kernels)."""
    index = index_triples(triple_rows)
    by_sp = index[0]
    h = assemble(index)
    schemes, top_slots, children_of = h.schemes, h.top_slots, h.children_of
    best_label = best_label_fn(by_sp, config)

    def meta(uri: str) -> dict:
        defs = by_sp.get((uri, SKOS_DEFINITION)) or by_sp.get((uri, SKOS_SCOPE_NOTE))
        notations = by_sp.get((uri, SKOS_NOTATION))
        return {
            "definition": defs[0][0] if defs else "",
            "alt_labels": [o for o, _ in by_sp.get((uri, SKOS_ALT_LABEL), [])],
            "notation": notations[0][0] if notations else "",
            "same_as": [o for o, _ in by_sp.get((uri, "http://www.w3.org/2002/07/owl#sameAs"), [])],
            "related": [o for o, _ in by_sp.get((uri, "http://www.w3.org/2004/02/skos/core#related"), [])],
        }

    orphans_by_scheme: dict[str, list] = defaultdict(list)
    orphans_no_scheme = []
    for o in h.orphans:
        if o in h.concept_to_scheme:
            orphans_by_scheme[h.concept_to_scheme[o]].append(o)
        else:
            orphans_no_scheme.append(o)

    rows: list[dict] = []
    processed: set[str] = set()
    counter = [0]

    def path() -> list[str]:
        counter[0] += 1
        return [f"{counter[0]:012d}"]

    def emit(uri, section, origin, level, parent_label, scheme_label, top_idx):
        m = meta(uri)
        rows.append(
            {
                "sort_path": path(), "section": section, "origin": origin,
                "uri": uri, "label": best_label(uri), "level": level,
                "parent_label": parent_label, "scheme_label": scheme_label,
                "top_idx": top_idx,
                # `concept in hierarchy` (skos_converter.py:911): drives
                # the markdown pre-children separator even when every
                # child was already processed elsewhere
                "has_children": bool(children_of.get(uri)),
                **m,
            }
        )

    def emit_ghost(uri, s_label, top_idx):
        # a processed top slot at i>0: the reference appends '' and skips
        # the block (:1017-1019) — represent the slot as a ghost row
        rows.append(
            {
                "sort_path": path(), "section": "top", "origin": "ghost",
                "uri": uri, "label": best_label(uri), "level": 1,
                "parent_label": f"[SCHEME] {s_label}", "scheme_label": s_label,
                "top_idx": top_idx, "has_children": False,
                "definition": "", "alt_labels": [], "notation": "",
                "same_as": [], "related": [],
            }
        )

    def add_subtree(concept, parent_label, level, scheme_label, section):
        # child rows only — anchors are emitted inline by the caller
        if concept in processed:
            return
        processed.add(concept)
        emit(concept, section, "child", level, parent_label, scheme_label, -1)
        for child in sorted(children_of.get(concept, []), key=lambda c: (best_label(c), c)):
            add_subtree(child, best_label(concept), level + 1, scheme_label, section)

    def hdr(label, section, level, parent_label, scheme_label):
        rows.append(
            {
                "sort_path": path(), "section": section, "origin": "anchor",
                "uri": None, "label": label, "level": level,
                "parent_label": parent_label, "scheme_label": scheme_label,
                "top_idx": -1, "has_children": False, "definition": "",
                "alt_labels": [], "notation": "", "same_as": [], "related": [],
            }
        )

    scheme_order = {s: i for i, s in enumerate(schemes)}
    for scheme in sorted(schemes, key=lambda s: (best_label(s), scheme_order[s])):
        s_label = best_label(scheme)
        hdr(s_label, "scheme", 0, "", s_label)
        rows[-1]["uri"] = scheme
        sorted_tops = sorted(top_slots.get(scheme, []), key=lambda c: (best_label(c), c))
        for i, top in enumerate(sorted_tops):
            if top in processed:
                if i > 0:
                    emit_ghost(top, s_label, i)
                continue
            processed.add(top)
            emit(top, "top", "anchor", 1, f"[SCHEME] {s_label}", s_label, i)
            for child in sorted(children_of.get(top, []), key=lambda c: (best_label(c), c)):
                add_subtree(child, best_label(top), 2, s_label, "top")
        if orphans_by_scheme.get(scheme):
            hdr(f"[Other Concepts in {s_label}]", "orph_hdr", 1, f"[SCHEME] {s_label}", s_label)
            for o in sorted(orphans_by_scheme[scheme], key=lambda c: (best_label(c), c)):
                if o in processed:
                    continue
                processed.add(o)
                emit(o, "orphan", "anchor", 2, f"[Other Concepts in {s_label}]", s_label, -1)
                for child in sorted(children_of.get(o, []), key=lambda c: (best_label(c), c)):
                    add_subtree(child, best_label(o), 3, s_label, "orphan")
    if orphans_no_scheme:
        hdr("[UNASSIGNED CONCEPTS]", "unass_hdr", 0, "", "")
        for o in sorted(orphans_no_scheme, key=lambda c: (best_label(c), c)):
            if o in processed:
                continue
            processed.add(o)
            emit(o, "unassigned", "anchor", 1, "[UNASSIGNED CONCEPTS]", "", -1)
            for child in sorted(children_of.get(o, []), key=lambda c: (best_label(c), c)):
                add_subtree(child, best_label(o), 2, "", "unassigned")
    return rows

"""SKOS validation: the reference's 11 checks as one driver-local kernel.

Re-expresses SKOSValidator (skos_converter.py:96-411), which runs its
checks in one process over a vocabulary held in RAM; so does this
engine. ``validate_local`` runs the checks over the triple index the DFS
uses (plans.local_dfs.index_triples). ``validation_report`` and every
public check reach it through ``collect_triples``: one guarded Arrow
collect (one Spark job, no separate count), the kernel, then strings or
``createDataFrame``. A vocabulary is driver-sized by construction;
vocabularies above ``local_dfs.MAX_DRIVER_ROWS`` (5M) triples are an
explicit non-goal and fail loudly in the guard instead of degrading.

Output contract: ``validation_report`` returns (issues, warnings) —
the same strings the reference logs, in the same check order
(validate_all :104-127). Within a check, the reference enumerates
Python sets, whose order is interpreter-hash-dependent; this engine
orders by store-insertion seq instead (deterministic across runs and
cluster sizes). Line CONTENT is identical; only within-check line order
can differ from a pinned reference run (tests compare multisets).

Cycle reports: the reference emits each cycle once, as the DFS path
from the first concept (in set order) that reaches it — including any
non-cycle prefix tail. This engine reports each cycle rotated to start
at its minimal-seq member, tail-free: identical strings whenever the
DFS start lies on the cycle (all fixture cases), and a documented
deviation otherwise. A member set closed by several cycles is reported
once, as the first cycle a store-order walk from that member finds.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame

from skosconverter_spark.config import (
    EngineConfig,
    RDF_TYPE,
    RDFS_LABEL,
    SKOS_ALT_LABEL,
    SKOS_BROADER,
    SKOS_CONCEPT,
    SKOS_CONCEPT_SCHEME,
    SKOS_HAS_TOP_CONCEPT,
    SKOS_IN_SCHEME,
    SKOS_NARROWER,
    SKOS_PREF_LABEL,
    SKOS_TOP_CONCEPT_OF,
)
from skosconverter_spark.plans.local_dfs import (
    _local_part,
    best_label_fn,
    collect_triples,
    index_triples,
)

# check name -> the schema of its DataFrame face (column names and types
# are a contract: __spark_entry__ selects them and the oracle compares them)
SCHEMAS = {
    "duplicate_uris": "uri string, count bigint, seq bigint",
    "missing_labels": "uri string, seq bigint",
    "circular_references": "cycle array<string>, seq bigint",
    "multiple_pref_labels": "uri string, lang string, labels array<string>, seq bigint",
    "top_concept_inconsistencies": (
        "scheme string, direction string, concepts array<string>, seq bigint"
    ),
    "self_references": "uri string, kind string, seq bigint",
    "concepts_without_schemes": "uri string, seq bigint",
    "duplicate_labels": "label string, uris array<string>, seq bigint",
    "polyhierarchy": "uri string, parents array<string>, seq bigint",
    "validator_orphans": "uri string, seq bigint",
    "hierarchy_depths": "root string, depth int, seq bigint",
}


def _grouped(triples, key: str, values: str, min_size: int = 2) -> list[dict]:
    """(group, value, seq) in seq order → one row per group with at
    least ``min_size`` values: {key: group, values: [value...], seq:
    first seq}, in seq order."""
    groups: dict = {}
    for group, value, seq in triples:
        if group not in groups:
            groups[group] = {key: group, values: [], "seq": seq}
        groups[group][values].append(value)
    return [g for g in groups.values() if len(g[values]) >= min_size]


def _checks(index: tuple, config: EngineConfig, names) -> dict[str, list[dict]]:
    by_sp, _, by_p = index
    concept_seq: dict[str, int] = {}  # first (min) seq of the type triple
    scheme_seq: dict[str, int] = {}
    for subj, obj, _, seq in by_p[RDF_TYPE]:
        if obj == SKOS_CONCEPT:
            concept_seq.setdefault(subj, seq)
        elif obj == SKOS_CONCEPT_SCHEME:
            scheme_seq.setdefault(subj, seq)
    has_top = [(s, o, q) for s, o, _, q in by_p[SKOS_HAS_TOP_CONCEPT]]  # (scheme, concept, seq)
    top_of = [(o, s, q) for s, o, _, q in by_p[SKOS_TOP_CONCEPT_OF]]

    def concepts_without(*preds) -> list[dict]:
        return [
            {"uri": c, "seq": q}
            for c, q in concept_seq.items()
            if not any(by_sp.get((c, p)) for p in preds)
        ]

    def duplicate_uris():
        # concepts and schemes are sets: a duplicate is a uri typed both
        dup = [
            {"uri": u, "count": 2, "seq": min(q, scheme_seq[u])}
            for u, q in concept_seq.items()
            if u in scheme_seq
        ]
        return sorted(dup, key=lambda r: r["seq"])

    def multiple_pref_labels():
        rows = _grouped(
            (
                ((s, "no-lang" if lang is None else lang), o, q)
                for s, o, lang, q in by_p[SKOS_PREF_LABEL]
            ),
            "key", "labels",
        )
        return [
            {"uri": r["key"][0], "lang": r["key"][1], "labels": r["labels"], "seq": r["seq"]}
            for r in rows
        ]

    def self_references():
        first: dict[tuple, int] = {}
        for pred, kind in ((SKOS_BROADER, "broader"), (SKOS_NARROWER, "narrower")):
            for s, o, _, q in by_p[pred]:
                if s == o and s in concept_seq:
                    first.setdefault((s, kind), q)
        rows = [{"uri": u, "kind": k, "seq": q} for (u, k), q in first.items()]
        return sorted(rows, key=lambda r: (r["seq"], r["kind"]))

    def duplicate_labels():
        return _grouped(
            ((o, s, q) for s, o, _, q in by_p[SKOS_PREF_LABEL] if s in concept_seq),
            "label", "uris",
        )

    def polyhierarchy():
        return _grouped(
            ((s, o, q) for s, o, _, q in by_p[SKOS_BROADER] if s in concept_seq),
            "uri", "parents",
        )

    def validator_orphans():
        # unlike build_hierarchy's orphans (:735-762), being someone's narrower
        # child does NOT rescue a concept here (:311-338)
        tops = {c for _, c, _ in has_top} | {c for _, c, _ in top_of}
        return [
            r for r in concepts_without(SKOS_BROADER) if r["uri"] not in tops
        ]

    def top_concept_inconsistencies():
        rows = []
        for direction, slots, other in (
            ("missing_top_of", has_top, top_of),
            ("missing_has_top", top_of, has_top),
        ):
            pairs = {(s, c) for s, c, _ in other}
            missing = ((s, c, q) for s, c, q in slots if (s, c) not in pairs)
            rows += [
                {**g, "direction": direction}
                for g in _grouped(missing, "scheme", "concepts", min_size=1)
            ]
        return sorted(rows, key=lambda r: r["seq"])

    def circular_references():
        # one walk per head over simple paths of at most max_iterations
        # nodes, restricted to members after the head in type-seq order:
        # each cycle is then found only from its min-seq member, already
        # rotated. Self-loops are skipped (:169-170).
        order = {c: i for i, c in enumerate(concept_seq)}
        succ: dict[str, dict] = defaultdict(dict)  # src -> {dst: None}, store order
        for s, o, _, _ in by_p[SKOS_BROADER]:
            if s != o and s in concept_seq:
                succ[s][o] = None
        found: list[dict] = []
        seen: set[frozenset] = set()
        for head, rank in order.items():
            path, on_path = [head], {head}

            def walk(node: str) -> None:
                for nxt in succ.get(node, ()):
                    if nxt == head:
                        members = frozenset(path)
                        if members not in seen:
                            seen.add(members)
                            found.append({"cycle": path + [head], "seq": concept_seq[head]})
                    elif (
                        len(path) < config.max_iterations
                        and nxt not in on_path
                        and order.get(nxt, -1) > rank
                    ):
                        path.append(nxt)
                        on_path.add(nxt)
                        walk(nxt)
                        path.pop()
                        on_path.discard(nxt)

            walk(head)
        return found

    def hierarchy_depths():
        # node count of the longest narrower path below each top slot,
        # a node never revisited on one path, capped at 20 levels (:342)
        cap = min(20, config.max_iterations)
        children: dict[str, dict] = defaultdict(dict)  # {child: None}, store order
        for s, o, _, _ in by_p[SKOS_NARROWER]:
            children[s][o] = None

        def longest(node: str, on_path: set, depth: int) -> int:
            best = depth
            for nxt in children.get(node, ()):
                if best == cap:
                    break
                if nxt not in on_path:
                    on_path.add(nxt)
                    best = max(best, longest(nxt, on_path, depth + 1))
                    on_path.discard(nxt)
            return best

        root_seq: dict[str, int] = {}
        for _, c, q in sorted(has_top + top_of, key=lambda t: t[2]):
            root_seq.setdefault(c, q)
        return [
            {"root": c, "depth": longest(c, {c}, 1), "seq": q}
            for c, q in sorted(root_seq.items(), key=lambda e: e[1])
        ]

    checks = {
        "duplicate_uris": duplicate_uris,
        "missing_labels": lambda: concepts_without(SKOS_PREF_LABEL, RDFS_LABEL),
        "circular_references": circular_references,
        "multiple_pref_labels": multiple_pref_labels,
        "top_concept_inconsistencies": top_concept_inconsistencies,
        "self_references": self_references,
        "concepts_without_schemes": lambda: concepts_without(SKOS_IN_SCHEME),
        "duplicate_labels": duplicate_labels,
        "polyhierarchy": polyhierarchy,
        "validator_orphans": validator_orphans,
        "hierarchy_depths": hierarchy_depths,
    }
    return {n: checks[n]() for n in names}


def validate_local(
    triple_rows, config: EngineConfig, names=tuple(SCHEMAS)
) -> dict[str, list[dict]]:
    """The validator kernel. triple_rows: iterable of (subj, pred, obj,
    obj_is_literal, obj_lang, seq). Returns check name → rows (dicts
    keyed by the ``SCHEMAS`` columns) in seq order, for the checks in
    ``names``; arrays inside a row are in store order."""
    return _checks(index_triples(triple_rows), config, names)


def _check_df(triples: DataFrame, name: str, config: EngineConfig | None = None) -> DataFrame:
    rows = validate_local(collect_triples(triples), config or EngineConfig(), (name,))
    return triples.sparkSession.createDataFrame(rows[name], SCHEMAS[name])


def duplicate_uris(triples: DataFrame) -> DataFrame:
    """A1 (:129-139): uris typed both Concept and ConceptScheme."""
    return _check_df(triples, "duplicate_uris")


def missing_labels(triples: DataFrame) -> DataFrame:
    """J5 (:141-155): concepts with neither prefLabel nor rdfs:label."""
    return _check_df(triples, "missing_labels")


def multiple_pref_labels(triples: DataFrame) -> DataFrame:
    """A2 (:189-207): >1 prefLabel per (subject, language)."""
    return _check_df(triples, "multiple_pref_labels")


def self_references(triples: DataFrame) -> DataFrame:
    """F8 (:240-253): a concept that is its own broader/narrower."""
    return _check_df(triples, "self_references")


def concepts_without_schemes(triples: DataFrame) -> DataFrame:
    """J6 (:255-270): concepts with no inScheme triple."""
    return _check_df(triples, "concepts_without_schemes")


def duplicate_labels(triples: DataFrame) -> DataFrame:
    """A3 (:272-291): one prefLabel string used by several concepts."""
    return _check_df(triples, "duplicate_labels")


def polyhierarchy(triples: DataFrame) -> DataFrame:
    """A4 (:293-309): concepts with >1 broader."""
    return _check_df(triples, "polyhierarchy")


def validator_orphans(triples: DataFrame) -> DataFrame:
    """J7 (:311-338): no broader AND not a top concept."""
    return _check_df(triples, "validator_orphans")


def top_concept_inconsistencies(triples: DataFrame) -> DataFrame:
    """J8 (:209-238): hasTopConcept vs topConceptOf differences per scheme."""
    return _check_df(triples, "top_concept_inconsistencies")


def circular_references(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """R1 (:157-187): broader cycles of ≤ max_iterations concepts."""
    return _check_df(triples, "circular_references", config)


def hierarchy_depths(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """R2 (:340-374): narrower depth below each top concept."""
    return _check_df(triples, "hierarchy_depths", config)


# --------------------------------------------------------------------------
# report assembly (formats the reference's strings)
# --------------------------------------------------------------------------


def validation_report(
    triples: DataFrame, config: EngineConfig, hard_cap: int = 10_000
) -> tuple[list[str], list[str]]:
    """Issues/warnings in the reference's check order and string formats
    (validate_all :104-127): one guarded collect, the kernel, then the
    strings.

    The reference emits one line per issue unbounded for the
    never-truncated checks; ``hard_cap`` is this engine's defensive
    ceiling on those — a corpus with a million duplicate URIs produces
    ``hard_cap`` lines plus one explicit overflow line instead of an
    unreadable report. At the default 10k the cap is invisible on any
    corpus the reference itself could render."""
    index = index_triples(collect_triples(triples))
    res = _checks(index, config, tuple(SCHEMAS))
    by_sp, by_po, _ = index
    best_label = best_label_fn(by_sp, config)
    schemes = set(by_po[(RDF_TYPE, SKOS_CONCEPT_SCHEME)])
    issues: list[str] = []
    warnings: list[str] = []

    def lab(uri: str) -> str:
        """_get_simple_label (skos_converter.py:376-394): pref → alt →
        rdfs in store order, no language ranking."""
        for pred in (SKOS_PREF_LABEL, SKOS_ALT_LABEL, RDFS_LABEL):
            labels = by_sp.get((uri, pred))
            if labels:
                return labels[0][0]
        return _local_part(uri)

    def emit(lines, rows, line, header=None, limit=None, more=None, what=None):
        """One line per row after an optional header. A check the
        reference truncates shows ``limit`` rows and then ``more`` (with
        the hidden count); every other check stops at ``hard_cap`` rows
        and then says how many ``what`` it left out."""
        if not rows:
            return
        if header:
            lines.append(header)
        lines.extend(line(r) for r in rows[: limit or hard_cap])
        if limit and len(rows) > limit:
            lines.append(more.format(len(rows) - limit))
        elif not limit and len(rows) > hard_cap:
            lines.append(
                f"... and {len(rows) - hard_cap} more {what} (report capped at {hard_cap})"
            )

    def top_line(r) -> str:
        # scheme names are the language-ranked best label of a typed
        # scheme (as the DFS's scheme rows show it), else the simple label
        s = r["scheme"]
        name = best_label(s) if s in schemes else lab(s)
        shown = ", ".join(lab(c) for c in r["concepts"][:3])
        shown += "..." if len(r["concepts"]) > 3 else ""
        if r["direction"] == "missing_top_of":
            return (
                f"Scheme '{name}' has top concepts via hasTopConcept "
                f"but missing inverse topConceptOf: {shown}"
            )
        return (
            f"Scheme '{name}' has concepts claiming topConceptOf "
            f"but missing hasTopConcept: {shown}"
        )

    # in the reference's check order, validate_all :104-127
    emit(  # :129-139
        issues, res["duplicate_uris"],
        lambda r: f"Duplicate URI found {r['count']} times: {r['uri']}",
        what="duplicate URIs",
    )
    emit(  # :141-155
        issues, res["missing_labels"],
        lambda r: f"Concept {r['uri']} has no prefLabel or rdfs:label",
        limit=5, more="... and {} more concepts without labels",
    )
    emit(  # :157-187
        issues, res["circular_references"],
        lambda r: "Circular reference detected: " + " -> ".join(map(lab, r["cycle"])),
        what="circular references",
    )
    emit(  # :189-207
        issues, res["multiple_pref_labels"],
        lambda r: (
            f"Concept '{lab(r['uri'])}' has {len(r['labels'])} preferred labels"
            + (f" (language: {r['lang']})" if r["lang"] != "no-lang" else "")
            + f": {', '.join(r['labels'])}"
        ),
        what="concepts with multiple preferred labels",
    )
    emit(  # :209-238
        warnings, res["top_concept_inconsistencies"], top_line,
        what="top-concept inconsistencies",
    )
    emit(  # :240-253
        issues, res["self_references"],
        lambda r: f"Concept '{lab(r['uri'])}' has itself as {r['kind']} concept",
        what="self references",
    )
    emit(  # :255-270
        warnings, res["concepts_without_schemes"], lambda r: f"  - {lab(r['uri'])}",
        header="Concepts not associated with any concept scheme:",
        limit=10, more="  ... and {} more",
    )
    emit(  # :272-291
        warnings, res["duplicate_labels"],
        lambda r: f"  - '{r['label']}' used by: " + ", ".join(map(lab, r["uris"])),
        header="Duplicate preferred labels found:",
        limit=5, more="  ... and {} more duplicate labels",
    )
    emit(  # :293-309
        warnings, res["polyhierarchy"],
        lambda r: (
            f"  - '{lab(r['uri'])}' has broader concepts: "
            + ", ".join(map(lab, r["parents"]))
        ),
        header="Concepts with multiple broader concepts (polyhierarchy):",
        what="polyhierarchical concepts",
    )
    emit(  # :311-338
        warnings, res["validator_orphans"], lambda r: f"  - {lab(r['uri'])}",
        header="Orphan concepts (no broader concept and not top concepts):",
        limit=10, more="  ... and {} more",
    )
    emit(  # :340-374
        warnings, [r for r in res["hierarchy_depths"] if r["depth"] > 7],
        lambda r: f"  - {lab(r['root'])}: {r['depth']} levels",
        header="Very deep hierarchies detected (>7 levels):",
        what="deep hierarchies",
    )
    return issues, warnings


def gate(issues: list[str], force: bool = False, skip_validation: bool = False) -> bool:
    """--force/--skip-validation gating (D7, skos_converter.py:1789-1798):
    returns True when conversion may proceed."""
    if skip_validation:
        return True
    return force or not issues

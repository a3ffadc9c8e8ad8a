"""SKOS validation: the reference's 11 checks as DataFrame jobs.

Re-expresses SKOSValidator (skos_converter.py:96-411). Each check is a
set-oriented aggregation / anti-join; the two recursive checks (circular
references :157-187, hierarchy depth :340-374) are iterative frontier
joins (SURVEY.md §2.8 R1/R2).

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
deviation otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skosconverter_spark.config import (
    EngineConfig,
    RDFS_LABEL,
    SKOS_BROADER,
    SKOS_IN_SCHEME,
    SKOS_NARROWER,
    SKOS_PREF_LABEL,
)
from skosconverter_spark.plans import views
from skosconverter_spark.plans.hierarchy import scheme_table, top_concept_slots


def duplicate_uris(triples: DataFrame) -> DataFrame:
    """A1 (:129-139): URIs typed more than once across concepts+schemes.

    concepts and schemes are sets, so a duplicate only arises when a URI
    is typed BOTH Concept and ConceptScheme (count 2)."""
    c = views.concepts(triples).select("uri", F.col("type_seq").alias("seq"))
    s = views.schemes(triples).select("uri", F.col("type_seq").alias("seq"))
    return (
        c.unionByName(s)
        .groupBy("uri")
        .agg(F.count("*").alias("count"), F.min("seq").alias("seq"))
        .filter(F.col("count") > 1)
    )


def missing_labels(triples: DataFrame) -> DataFrame:
    """J5 (:141-155): concepts with neither prefLabel nor rdfs:label
    (altLabel does NOT count here) — a left-anti join."""
    concepts = views.concepts(triples)
    labeled = (
        triples.filter(F.col("pred").isin(SKOS_PREF_LABEL, RDFS_LABEL))
        .select(F.col("subj").alias("uri"))
        .distinct()
    )
    return concepts.join(labeled, "uri", "left_anti").select(
        "uri", F.col("type_seq").alias("seq")
    )


def multiple_pref_labels(triples: DataFrame) -> DataFrame:
    """A2 (:189-207): >1 prefLabel per (concept, language).
    Returns (uri, lang, labels ARRAY in store order, seq)."""
    pl = triples.filter(F.col("pred") == SKOS_PREF_LABEL).select(
        F.col("subj").alias("uri"),
        F.coalesce(F.col("obj_lang"), F.lit("no-lang")).alias("lang"),
        F.col("obj").alias("label"),
        "seq",
    )
    return (
        pl.groupBy("uri", "lang")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", F.col("label").alias("v")))),
                lambda s: s["v"],
            ).alias("labels"),
            F.min("seq").alias("seq"),
        )
        .filter(F.size("labels") > 1)
    )


def self_references(triples: DataFrame) -> DataFrame:
    """F8 (:240-253): concept is its own broader/narrower.
    Returns (uri, pred_kind ∈ broader|narrower, seq)."""
    concepts = views.concepts(triples).select("uri")
    self_edges = (
        triples.filter(
            F.col("pred").isin(SKOS_BROADER, SKOS_NARROWER)
            & (F.col("subj") == F.col("obj"))
        )
        .select(
            F.col("subj").alias("uri"),
            F.when(F.col("pred") == SKOS_BROADER, "broader")
            .otherwise("narrower")
            .alias("kind"),
            "seq",
        )
        .join(concepts, "uri")
    )
    return self_edges.groupBy("uri", "kind").agg(F.min("seq").alias("seq"))


def concepts_without_schemes(triples: DataFrame) -> DataFrame:
    """J6 (:255-270): concepts with no inScheme triple at all."""
    concepts = views.concepts(triples)
    in_scheme = (
        triples.filter(F.col("pred") == SKOS_IN_SCHEME)
        .select(F.col("subj").alias("uri"))
        .distinct()
    )
    return concepts.join(in_scheme, "uri", "left_anti").select(
        "uri", F.col("type_seq").alias("seq")
    )


def duplicate_labels(triples: DataFrame) -> DataFrame:
    """A3 (:272-291): one prefLabel string used by several concepts.
    Returns (label, uris ARRAY in store order, seq)."""
    concepts = views.concepts(triples).select("uri")
    pl = (
        triples.filter(F.col("pred") == SKOS_PREF_LABEL)
        .select(F.col("subj").alias("uri"), F.col("obj").alias("label"), "seq")
        .join(concepts, "uri")
    )
    return (
        pl.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", F.col("uri").alias("v")))),
                lambda s: s["v"],
            ).alias("uris"),
            F.min("seq").alias("seq"),
        )
        .filter(F.size("uris") > 1)
    )


def polyhierarchy(triples: DataFrame) -> DataFrame:
    """A4 (:293-309): concepts with >1 broader.
    Returns (uri, parents ARRAY in store order, seq)."""
    concepts = views.concepts(triples).select("uri")
    br = (
        triples.filter(F.col("pred") == SKOS_BROADER)
        .select(F.col("subj").alias("uri"), F.col("obj").alias("parent"), "seq")
        .join(concepts, "uri")
    )
    return (
        br.groupBy("uri")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", F.col("parent").alias("v")))),
                lambda s: s["v"],
            ).alias("parents"),
            F.min("seq").alias("seq"),
        )
        .filter(F.size("parents") > 1)
    )


def validator_orphans(triples: DataFrame) -> DataFrame:
    """J7 (:311-338): no broader AND not a top concept. (Unlike the
    hierarchy builder's orphan rule :735-762, being someone's narrower
    child does NOT rescue a concept here.)"""
    concepts = views.concepts(triples)
    has_broader = (
        triples.filter(F.col("pred") == SKOS_BROADER)
        .select(F.col("subj").alias("uri"))
        .distinct()
    )
    tops = top_concept_slots(triples).select(F.col("concept").alias("uri")).distinct()
    return (
        concepts.join(has_broader, "uri", "left_anti")
        .join(tops, "uri", "left_anti")
        .select("uri", F.col("type_seq").alias("seq"))
    )


def top_concept_inconsistencies(triples: DataFrame) -> DataFrame:
    """J8 (:209-238): hasTopConcept vs topConceptOf set differences,
    vectorized across all schemes on (scheme, concept) keys.
    Returns (scheme, direction ∈ missing_top_of|missing_has_top,
    concepts ARRAY in store order, seq)."""
    from skosconverter_spark.config import SKOS_HAS_TOP_CONCEPT, SKOS_TOP_CONCEPT_OF

    has_top = triples.filter(F.col("pred") == SKOS_HAS_TOP_CONCEPT).select(
        F.col("subj").alias("scheme"), F.col("obj").alias("concept"), "seq"
    )
    top_of = triples.filter(F.col("pred") == SKOS_TOP_CONCEPT_OF).select(
        F.col("obj").alias("scheme"), F.col("subj").alias("concept"), "seq"
    )
    missing_top_of = has_top.join(
        top_of.select("scheme", "concept"), ["scheme", "concept"], "left_anti"
    ).withColumn("direction", F.lit("missing_top_of"))
    missing_has_top = top_of.join(
        has_top.select("scheme", "concept"), ["scheme", "concept"], "left_anti"
    ).withColumn("direction", F.lit("missing_has_top"))
    both = missing_top_of.unionByName(missing_has_top)
    return both.groupBy("scheme", "direction").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seq", F.col("concept").alias("v")))),
            lambda s: s["v"],
        ).alias("concepts"),
        F.min("seq").alias("seq"),
    )


def circular_references(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """R1 (:157-187): directed cycles in the broader graph, found by an
    iterative path-extension frontier join; each cycle reported once,
    rotated to its minimal-seq member. Self-loops are skipped (:169-170).

    Returns (cycle ARRAY<STRING> — node URIs, first node repeated last).
    """
    concepts = views.concepts(triples).select("uri", "type_seq")
    edges = (
        triples.filter(
            (F.col("pred") == SKOS_BROADER) & (F.col("subj") != F.col("obj"))
        )
        .join(concepts.select(F.col("uri").alias("subj")), "subj")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    # seed: every concept starts a path at itself, keyed by its seq rank
    paths = concepts.select(
        F.col("uri").alias("head"),
        F.col("uri").alias("tail"),
        F.array(F.col("uri")).alias("path"),
        F.col("type_seq").alias("head_seq"),
    ).localCheckpoint(eager=True)
    found = None
    for _ in range(config.max_iterations):
        # extend: the new node is checked against the OLD path — equal to
        # head means a cycle closed; equal to an interior node means a
        # lasso (cycle not through head) already reported from its own
        # member start, so the path is pruned.
        ext = paths.join(edges, paths["tail"] == edges["src"]).select(
            "head", "path", F.col("dst").alias("new_tail"), "head_seq"
        )
        cycles = ext.filter(F.col("new_tail") == F.col("head")).select(
            F.concat("path", F.array("head")).alias("cycle"), "head_seq"
        )
        found = cycles if found is None else found.unionByName(cycles)
        paths = (
            ext.filter(
                (F.col("new_tail") != F.col("head"))
                & ~F.array_contains(F.col("path"), F.col("new_tail"))
            )
            .select(
                "head",
                F.col("new_tail").alias("tail"),
                F.concat("path", F.array("new_tail")).alias("path"),
                "head_seq",
            )
            .localCheckpoint(eager=True)
        )
        if paths.isEmpty():
            break
    if found is None:
        return triples.sparkSession.createDataFrame([], "cycle array<string>, seq long")
    # one report per cycle: the rotation starting at the min-seq member
    return (
        found.withColumn(
            "members", F.array_sort(F.slice("cycle", 1, F.size("cycle") - 1))
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("members").orderBy("head_seq")),
        )
        .filter(F.col("rn") == 1)
        .select("cycle", F.col("head_seq").alias("seq"))
    )


def hierarchy_depths(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """R2 (:340-374): max depth (node count) below each top concept over
    narrower edges, path-visited semantics, capped at 20 levels.
    Returns (root, depth, seq)."""
    tops = top_concept_slots(triples).groupBy("concept").agg(F.min("seq").alias("seq"))
    edges = (
        triples.filter(F.col("pred") == SKOS_NARROWER)
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    frontier = tops.select(
        F.col("concept").alias("root"),
        F.col("concept").alias("node"),
        F.array(F.col("concept")).alias("path"),
        "seq",
    ).localCheckpoint(eager=True)
    depths = frontier.select("root", "seq", F.lit(1).alias("depth"))
    cap = min(20, config.max_iterations)
    for k in range(2, cap + 1):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .filter(~F.array_contains("path", F.col("dst")))
            .select(
                "root",
                F.col("dst").alias("node"),
                F.concat("path", F.array("dst")).alias("path"),
                "seq",
            )
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        depths = depths.unionByName(
            frontier.select("root", "seq", F.lit(k).alias("depth")).distinct()
        )
    return depths.groupBy("root").agg(
        F.max("depth").alias("depth"), F.min("seq").alias("seq")
    )


# --------------------------------------------------------------------------
# report assembly (drives all checks, formats the reference's strings)
# --------------------------------------------------------------------------


def _bounded(df: DataFrame, k: int) -> tuple[list, int]:
    """First k rows of an ordered check + the TOTAL count, without ever
    collecting the full table: limit(k+1) probes whether truncation will
    happen, and only then a distributed count() computes the '... and N
    more' number. A pathological corpus (millions of unlabeled concepts)
    moves k+1 rows to the driver, not millions."""
    rows = df.limit(k + 1).collect()
    if len(rows) > k:
        return rows[:k], df.count()
    return rows, len(rows)


def _labels_for(triples: DataFrame, uris: set[str]) -> dict[str, str]:
    """_get_simple_label (skos_converter.py:376-394: pref → alt → rdfs
    in store order, no language ranking) restricted to the uris a report
    line will actually print — a broadcast semi-filter BEFORE the label
    aggregation, so the driver never holds a label for every concept in
    the vocabulary."""
    if not uris:
        return {}
    uris_df = triples.sparkSession.createDataFrame(
        [(u,) for u in sorted(uris)], "uri string"
    )
    lab = views.labels(triples).join(F.broadcast(uris_df), "uri")
    picked = lab.groupBy("uri").agg(
        F.min(F.struct("kind_rank", "seq", "label"))["label"].alias("label")
    )
    return {r.uri: r.label for r in picked.collect()}


def validation_report(
    triples: DataFrame, config: EngineConfig, hard_cap: int = 10_000
) -> tuple[list[str], list[str]]:
    """Issues/warnings in the reference's check order and string formats
    (validate_all :104-127). Every truncated check is bounded
    server-side (limit(k+1) + count — never a full collect) and the
    label lookup covers only the uris the report will print, so the
    report stays driver-sized even on pathological corpora; the
    underlying checks remain distributed DataFrames usable standalone.

    The reference emits one line per issue unbounded for the
    never-truncated checks; ``hard_cap`` is this engine's defensive
    ceiling on those — a corpus with a million duplicate URIs produces
    ``hard_cap`` lines plus one explicit overflow line instead of an
    OOM'd driver. At the default 10k the cap is invisible on any corpus
    the reference itself could render."""
    issues: list[str] = []
    warnings: list[str] = []

    def _capped(df: DataFrame) -> tuple[list, int]:
        return _bounded(df, hard_cap)

    def _overflow(lines: list[str], total: int, what: str) -> None:
        if total > hard_cap:
            lines.append(
                f"... and {total - hard_cap} more {what} "
                f"(report capped at {hard_cap})"
            )

    # ---- run all checks first (bounded collects), then resolve labels ----
    dup, dup_total = _capped(duplicate_uris(triples).orderBy("seq"))
    ml_rows, ml_total = _bounded(missing_labels(triples).orderBy("seq"), 5)
    cycles, cyc_total = _capped(circular_references(triples, config).orderBy("seq"))
    mpl, mpl_total = _capped(multiple_pref_labels(triples).orderBy("seq"))
    scheme_labels = {
        r.scheme: r.scheme_label for r in scheme_table(triples, config).collect()
    }
    tci, tci_total = _capped(top_concept_inconsistencies(triples).orderBy("seq"))
    selfr, selfr_total = _capped(self_references(triples).orderBy("seq", "kind"))
    cws_rows, cws_total = _bounded(
        concepts_without_schemes(triples).orderBy("seq"), 10
    )
    dl_rows, dl_total = _bounded(duplicate_labels(triples).orderBy("seq"), 5)
    poly, poly_total = _capped(polyhierarchy(triples).orderBy("seq"))
    orph_rows, orph_total = _bounded(validator_orphans(triples).orderBy("seq"), 10)
    deep, deep_total = _capped(
        hierarchy_depths(triples, config)
        .filter(F.col("depth") > 7)
        .orderBy("seq")
    )

    needed: set[str] = set()
    for r in cycles:
        needed.update(r.cycle)
    needed.update(r.uri for r in mpl)
    for r in tci:
        needed.update(r.concepts[:3])
        if r.scheme not in scheme_labels:
            needed.add(r.scheme)
    needed.update(r.uri for r in selfr)
    needed.update(r.uri for r in cws_rows)
    for r in dl_rows:
        needed.update(r.uris)
    for r in poly:
        needed.add(r.uri)
        needed.update(r.parents)
    needed.update(r.uri for r in orph_rows)
    needed.update(r.root for r in deep)
    slabel = _labels_for(triples, needed)

    def lab(uri: str) -> str:
        if uri in slabel:
            return slabel[uri]
        return str(uri).split("/")[-1].split("#")[-1]

    # 1. duplicate URIs (:129-139)
    for r in dup:
        issues.append(f"Duplicate URI found {r['count']} times: {r.uri}")
    _overflow(issues, dup_total, "duplicate URIs")

    # 2. missing labels (:141-155)
    for r in ml_rows:
        issues.append(f"Concept {r.uri} has no prefLabel or rdfs:label")
    if ml_total > 5:
        issues.append(f"... and {ml_total - 5} more concepts without labels")

    # 3. circular references (:157-187)
    for r in cycles:
        path_labels = [lab(u) for u in r.cycle]
        issues.append(f"Circular reference detected: {' -> '.join(path_labels)}")
    _overflow(issues, cyc_total, "circular references")

    # 4. multiple prefLabels per language (:189-207)
    for r in mpl:
        lang_desc = f" (language: {r.lang})" if r.lang != "no-lang" else ""
        issues.append(
            f"Concept '{lab(r.uri)}' has {len(r.labels)} preferred "
            f"labels{lang_desc}: {', '.join(r.labels)}"
        )
    _overflow(issues, mpl_total, "concepts with multiple preferred labels")

    # 5. top-concept consistency (:209-238)
    for r in tci:
        concept_labels = [lab(c) for c in r.concepts[:3]]
        shown = ", ".join(concept_labels) + ("..." if len(r.concepts) > 3 else "")
        sl = scheme_labels.get(r.scheme, lab(r.scheme))
        if r.direction == "missing_top_of":
            warnings.append(
                f"Scheme '{sl}' has top concepts via hasTopConcept "
                f"but missing inverse topConceptOf: {shown}"
            )
        else:
            warnings.append(
                f"Scheme '{sl}' has concepts claiming topConceptOf "
                f"but missing hasTopConcept: {shown}"
            )
    _overflow(warnings, tci_total, "top-concept inconsistencies")

    # 6. self references (:240-253)
    for r in selfr:
        issues.append(
            f"Concept '{lab(r.uri)}' has itself as {r.kind} concept"
        )
    _overflow(issues, selfr_total, "self references")

    # 7. concepts without schemes (:255-270)
    if cws_rows:
        warnings.append("Concepts not associated with any concept scheme:")
        for r in cws_rows:
            warnings.append(f"  - {lab(r.uri)}")
        if cws_total > 10:
            warnings.append(f"  ... and {cws_total - 10} more")

    # 8. duplicate labels (:272-291)
    if dl_rows:
        warnings.append("Duplicate preferred labels found:")
        for r in dl_rows:
            used_by = ", ".join(lab(u) for u in r.uris)
            warnings.append(f"  - '{r.label}' used by: {used_by}")
        if dl_total > 5:
            warnings.append(f"  ... and {dl_total - 5} more duplicate labels")

    # 9. polyhierarchy (:293-309)
    if poly:
        warnings.append("Concepts with multiple broader concepts (polyhierarchy):")
        for r in poly:
            warnings.append(
                f"  - '{lab(r.uri)}' has broader concepts: "
                f"{', '.join(lab(p) for p in r.parents)}"
            )
        _overflow(warnings, poly_total, "polyhierarchical concepts")

    # 10. orphan concepts (:311-338)
    if orph_rows:
        warnings.append("Orphan concepts (no broader concept and not top concepts):")
        for r in orph_rows:
            warnings.append(f"  - {lab(r.uri)}")
        if orph_total > 10:
            warnings.append(f"  ... and {orph_total - 10} more")

    # 11. hierarchy depth (:340-374)
    if deep:
        warnings.append("Very deep hierarchies detected (>7 levels):")
        for r in deep:
            warnings.append(f"  - {lab(r.root)}: {r.depth} levels")
        _overflow(warnings, deep_total, "deep hierarchies")

    return issues, warnings


def gate(issues: list[str], force: bool = False, skip_validation: bool = False) -> bool:
    """--force/--skip-validation gating (D7, skos_converter.py:1789-1798):
    returns True when conversion may proceed."""
    if skip_validation:
        return True
    return force or not issues

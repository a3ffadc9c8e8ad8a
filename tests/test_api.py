"""High-level API: batch directory conversion — every ttl fixture
converted in ONE job, each output byte-identical to its golden; the
validation gate (D7); reverse batch to a pred-partitioned triples table."""

from __future__ import annotations

import pytest

from skosconverter_spark.api import (
    ValidationError,
    convert_directory,
    notion_to_skos,
    skos_to_notion,
)
from skosconverter_spark.config import EngineConfig
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

from .conftest import (
    DATA,
    load_fixture_text,
    load_golden_bytes,
    md_fixture_names,
    ttl_fixture_names,
)

# reference's own sibling order for vocab_dup is a hash-seed artifact
AMBIGUOUS = {"vocab_dup"}


def test_batch_convert_matches_goldens(spark, tmp_path):
    """Batch mode's grouped-map render, every ttl fixture in all four
    formats, byte-equal to the reference's documents."""
    for fmt in ("csv", "md", "json", "xml"):
        out = tmp_path / fmt
        status = convert_directory(spark, str(DATA), str(out), fmt=fmt, operation="skos2notion")
        rows = {r.url: r.status for r in status.collect()}
        assert all(s == "ok" for s in rows.values())
        for name in ttl_fixture_names():
            got = (out / f"{name}.{fmt}").read_bytes()
            golden = load_golden_bytes(name, f"out.{fmt}")
            if name in AMBIGUOUS:
                assert sorted(got.splitlines()) == sorted(golden.splitlines()), (name, fmt)
            else:
                assert got == golden, (name, fmt)


def test_batch_convert_writes_no_file_for_an_empty_document(spark, tmp_path):
    """A document that parses but whose DFS emits no row (no scheme, no
    concept) gets an ok status and no output file, not a header-only
    one."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "vocab_basic.ttl").write_text(load_fixture_text("vocab_basic"), encoding="utf-8")
    (src / "no_concepts.ttl").write_text(
        "@prefix ex: <http://example.org/> .\nex:a ex:b ex:c .\n", encoding="utf-8"
    )
    out = tmp_path / "out"
    status = convert_directory(spark, str(src), str(out), fmt="csv")
    assert sorted((r.url.rsplit("/", 1)[-1], r.status) for r in status.collect()) == [
        ("no_concepts.ttl", "ok"), ("vocab_basic.ttl", "ok"),
    ]
    assert sorted(p.name for p in out.iterdir()) == ["vocab_basic.csv"]


def test_batch_status_reads_the_current_files(spark, tmp_path):
    """A second call after a broken file is fixed reports it ok: the
    status is computed from this call's parse, not a cached plan of the
    same directory path."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "v.ttl").write_text(load_fixture_text("vocab_basic") + "\nbroken", encoding="utf-8")
    first = convert_directory(spark, str(src), str(tmp_path / "out1"), fmt="csv")
    assert [r.status for r in first.collect()] == ["error"]
    (src / "v.ttl").write_text(load_fixture_text("vocab_basic"), encoding="utf-8")
    out = tmp_path / "out2"
    second = convert_directory(spark, str(src), str(out), fmt="csv")
    assert [(r.status, r.error) for r in second.collect()] == [("ok", None)]
    assert (out / "v.csv").read_bytes() == load_golden_bytes("vocab_basic", "out.csv")


def test_batch_reverse_writes_graph_table(spark, tmp_path):
    out = str(tmp_path / "rev")
    status = convert_directory(
        spark, str(DATA), out, operation="notion2skos",
        config=EngineConfig(bug_compat=False),
    )
    assert status.filter("status = 'error'").count() == 0
    triples = spark.read.parquet(f"{out}/triples")
    assert triples.count() > 0
    assert "pred" in triples.columns


def test_validation_gate_raises_and_forces(spark):
    docs = spark.createDataFrame(
        [("v", "v", "ttl", load_fixture_text("vocab_selfref"))], schema=DOCS
    )
    triples = ok_triples(extract_triples(docs, EngineConfig())).cache()
    with pytest.raises(ValidationError) as exc:
        skos_to_notion(triples, "csv")
    assert any("itself as broader" in i for i in exc.value.issues)
    text, issues, _ = skos_to_notion(triples, "csv", force=True)
    assert text.startswith("Title,") and issues
    text2, issues2, _ = skos_to_notion(triples, "csv", skip_validation=True)
    assert text2 == text and issues2 == []
    triples.unpersist()


def test_notion_to_skos_api(spark):
    docs = spark.createDataFrame(
        [(n, n, "md", load_fixture_text(n)) for n in md_fixture_names()], schema=DOCS
    )
    triples, errors = notion_to_skos(docs, EngineConfig(bug_compat=True))
    assert errors.count() == 0
    assert triples.count() > 0


def test_driver_size_guards_trip(spark):
    """render.py:guard_driver_sized — misusing a driver-sized path on a
    corpus-sized table fails loudly instead of OOMing the driver."""
    from skosconverter_spark.operators.export import export_turtle_text
    from skosconverter_spark.operators.render import (
        MAX_DRIVER_ROWS,
        collect_triples,
        document_rows,
        guard_driver_sized,
    )

    big = spark.range(50).selectExpr(
        "cast(id as string) subj", "'p' pred", "'o' obj",
        "true obj_is_literal", "cast(null as string) obj_lang",
        "'u' src_url", "id seq",
    )
    with pytest.raises(ValueError, match="gated at 10 rows"):
        guard_driver_sized(big, "test", 10)
    with pytest.raises(ValueError):
        collect_triples(big, max_rows=10)
    with pytest.raises(ValueError):
        export_turtle_text(big, max_rows=10)
    # under the gate: passes through
    assert len(collect_triples(big.limit(5), max_rows=10)) == 5
    # the DFS row table: a vocabulary over the driver limit is a
    # non-goal that fails in the guard, never a collect
    over = spark.range(MAX_DRIVER_ROWS + 1).selectExpr(
        "cast(id as string) subj", "'p' pred", "'o' obj",
        "true obj_is_literal", "cast(null as string) obj_lang", "id seq",
    )
    with pytest.raises(ValueError, match=f"gated at {MAX_DRIVER_ROWS} rows"):
        document_rows(over, EngineConfig())
    # the validator is driver-local too: the report and each public
    # check fail in the same guard
    from skosconverter_spark.operators.validate import (
        circular_references,
        validation_report,
    )

    with pytest.raises(ValueError, match=f"gated at {MAX_DRIVER_ROWS} rows"):
        validation_report(over, EngineConfig())
    with pytest.raises(ValueError, match=f"gated at {MAX_DRIVER_ROWS} rows"):
        circular_references(over, EngineConfig())
    # the equivalence closure collects its edges too
    from skosconverter_spark.kg.canonicalize import connected_components

    over_edges = spark.range(MAX_DRIVER_ROWS + 1).selectExpr(
        "cast(id as string) src", "cast(id + 1 as string) dst"
    )
    with pytest.raises(ValueError, match=f"gated at {MAX_DRIVER_ROWS} rows"):
        connected_components(over_edges)


def test_document_rows_job_count(spark):
    """The DFS row table is one guarded collect plus the driver-local
    kernel: a handful of Spark jobs, not one per hierarchy level."""
    from skosconverter_spark.operators.render import document_rows
    from skosconverter_spark.tpch_bridge import triples_from_tpch

    from .test_extensions import SF_DIR

    triples = triples_from_tpch(spark, SF_DIR).cache()
    triples.count()
    sc = spark.sparkContext
    sc.setJobGroup("document_rows_job_count", "document_rows job count")
    try:
        rows = document_rows(triples, EngineConfig()).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("document_rows_job_count")
    assert len(rows) == 34
    assert len(jobs) <= 4, f"document_rows issued {len(jobs)} Spark jobs"
    triples.unpersist()


def test_validation_report_job_count(spark):
    """The 11 checks are one guarded collect plus the driver-local
    kernel: a handful of Spark jobs, not one or more per check and per
    cycle/depth round."""
    from skosconverter_spark.operators.validate import validation_report

    docs = spark.createDataFrame(
        [("vocab_cycle", "vocab_cycle", "ttl", load_fixture_text("vocab_cycle"))],
        schema=DOCS,
    )
    triples = ok_triples(extract_triples(docs, EngineConfig())).cache()
    triples.count()
    sc = spark.sparkContext
    sc.setJobGroup("validation_report_job_count", "validation_report job count")
    try:
        issues, _ = validation_report(triples, EngineConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("validation_report_job_count")
    assert any(line.startswith("Circular reference detected") for line in issues)
    assert len(jobs) <= 4, f"validation_report issued {len(jobs)} Spark jobs"
    triples.unpersist()


def test_canonicalize_job_count(spark):
    """The equivalence closure is one guarded collect plus the
    driver-local kernel: a handful of Spark jobs, not several per hop of
    alias-chain length."""
    from skosconverter_spark.config import SKOS_EXACT_MATCH, SKOS_PREF_LABEL
    from skosconverter_spark.kg.canonicalize import canonicalize_triples

    rows = []
    for c in range(20):
        uris = [f"http://x/c{c}_{i}" for i in range(10)]
        rows += [(a, SKOS_EXACT_MATCH, b, False) for a, b in zip(uris, uris[1:])]
        rows += [(u, SKOS_PREF_LABEL, f"label {u}", True) for u in uris]
    triples = spark.createDataFrame(
        [(s, p, o, lit, None, "u", i) for i, (s, p, o, lit) in enumerate(rows)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    ).cache()
    triples.count()
    sc = spark.sparkContext
    sc.setJobGroup("canonicalize_job_count", "canonicalize job count")
    try:
        out = canonicalize_triples(triples).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("canonicalize_job_count")
    assert {r.subj for r in out} == {f"http://x/c{c}_0" for c in range(20)}
    assert len(out) == 200
    assert len(jobs) <= 6, f"canonicalize_triples issued {len(jobs)} Spark jobs"
    triples.unpersist()


def test_transitive_closure_output_is_gated(monkeypatch):
    """A closure can be quadratic in its input, so its output pairs are
    gated like a collect: 9 edges of a chain reach 45 pairs."""
    from skosconverter_spark.kg import canonicalize

    edges = [(f"c{i}", f"c{i + 1}") for i in range(9)]
    monkeypatch.setattr(canonicalize, "MAX_DRIVER_ROWS", 44)
    with pytest.raises(ValueError, match="gated at 44 rows"):
        canonicalize.closure_local(edges)
    monkeypatch.setattr(canonicalize, "MAX_DRIVER_ROWS", 45)
    assert len(canonicalize.closure_local(edges)) == 45


def test_run_pipeline_jobs_stay_in_caller_job_group(spark, tmp_path):
    """Every Spark job run_pipeline issues, including those from its
    pool threads, carries the caller's job group, so cancelJobGroup can
    stop a running pipeline."""
    from skosconverter_spark.kg.pipeline import run_pipeline
    from skosconverter_spark.sources.pages import synthesize_pages

    from .test_kg_pipeline import vocab_ttl

    pages = synthesize_pages(spark, 40, partitions=4).cache()
    docs = spark.createDataFrame([("v", "v", "ttl", vocab_ttl())], schema=DOCS)
    vocab = ok_triples(extract_triples(docs, EngineConfig())).cache()
    pages.count(), vocab.count()
    sc = spark.sparkContext

    def marker(group):
        sc.setJobGroup(group, group)
        spark.range(1).count()
        return sc.statusTracker().getJobIdsForGroup(group)

    try:
        first = max(marker("pipeline_marker_before"))
        sc.setJobGroup("pipeline_caller", "run_pipeline under a job group")
        run_pipeline(spark, pages, vocab, str(tmp_path / "kg"), partitions=4)
        last = min(marker("pipeline_marker_after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    between = set(range(first + 1, last))
    in_group = set(sc.statusTracker().getJobIdsForGroup("pipeline_caller"))
    assert between, "run_pipeline issued no Spark jobs"
    assert between <= in_group, f"{len(between - in_group)} of {len(between)} jobs left the group"
    pages.unpersist()
    vocab.unpersist()


def test_run_pipeline_job_count(spark, tmp_path):
    """Spark jobs of run_pipeline over 40 pages, each bound the measured
    count: a fresh build 22 (26 while the labels were normalized in Spark,
    checkpointed and collected twice more; 39 with the links stage as one
    DataFrame plan), a full rerun 4 (5 while it read the labels it never
    used; 12 while every catalog read inferred its schema), a rerun after
    deleting 30_links 13 (15; 28)."""
    import shutil

    from skosconverter_spark.kg.pipeline import run_pipeline
    from skosconverter_spark.sources.pages import synthesize_pages

    from .test_kg_pipeline import vocab_ttl

    pages = synthesize_pages(spark, 40, partitions=4).cache()
    docs = spark.createDataFrame([("v", "v", "ttl", vocab_ttl())], schema=DOCS)
    vocab = ok_triples(extract_triples(docs, EngineConfig())).cache()
    pages.count(), vocab.count()
    root = tmp_path / "kg"

    def run(group):
        return _jobs_of(
            spark, group, lambda: run_pipeline(spark, pages, vocab, str(root), partitions=4)
        )[1]

    fresh = run("run_pipeline_job_count")
    assert fresh <= 22, f"run_pipeline issued {fresh} Spark jobs"
    rerun = run("run_pipeline_rerun_job_count")
    assert rerun <= 4, f"a full rerun issued {rerun} Spark jobs"
    shutil.rmtree(root / "30_links")
    relink = run("run_pipeline_relink_job_count")
    assert relink <= 13, f"a rerun after deleting 30_links issued {relink} Spark jobs"
    pages.unpersist()
    vocab.unpersist()


def test_label_table_is_one_job(spark):
    """The links vocabulary is read once: label_table is one guarded
    collect, and the scanner and the links tables take its rows without
    a Spark job of their own."""
    from skosconverter_spark.kg.linking import vocab_score_tables
    from skosconverter_spark.kg.mentions import label_table, scan_mentions

    from .test_kg_pipeline import vocab_ttl

    docs = spark.createDataFrame([("v", "v", "ttl", vocab_ttl())], schema=DOCS)
    vocab = ok_triples(extract_triples(docs, EngineConfig())).cache()
    vocab.count()
    labels, jobs = _jobs_of(spark, "label_table_job_count", lambda: label_table(vocab))
    assert jobs == 1, f"label_table issued {jobs} Spark jobs"
    assert labels and all(r.kind in ("pref", "alt") for r in labels)
    pages = spark.createDataFrame([("u", "a dog")], "url string, text string")
    _, jobs = _jobs_of(
        spark, "label_consumers_job_count",
        lambda: (scan_mentions(pages, labels), vocab_score_tables(labels)),
    )
    assert jobs == 0, f"the label consumers issued {jobs} Spark jobs"
    vocab.unpersist()


def test_traced_benchmark_targets_exist():
    """perfbench's --trace 1 wraps engine functions by (module, attribute)
    from perfbench/layers.py WRAPPED, the ParquetCatalogAdapter methods
    named in CATALOG_METHODS and StageRunner.run_stage; deleting or
    renaming one makes the traced run fail with AttributeError. Every run
    also imports names from the engine in perfbench/workloads.py and
    run.py; deleting one of those makes it fail with ImportError."""
    import ast
    import importlib
    from pathlib import Path

    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
    from skosconverter_spark.kg.pipeline import StageRunner

    perfbench = Path(__file__).resolve().parents[1] / "perfbench"
    path = perfbench / "layers.py"
    tables = {
        t.id: ast.literal_eval(node.value)
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, ast.Assign)
        for t in node.targets
        if getattr(t, "id", None) in ("WRAPPED", "CATALOG_METHODS")
    }
    wrapped, catalog_methods = tables["WRAPPED"], tables["CATALOG_METHODS"]
    imported = [
        (node.module, alias.name)
        for name in ("workloads.py", "run.py")
        for node in ast.walk(ast.parse((perfbench / name).read_text(encoding="utf-8")))
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("skosconverter_spark")
        for alias in node.names
    ]
    missing = [
        (module, attr)
        for module, attr in [(m, a) for m, a, _ in wrapped] + imported
        if not hasattr(importlib.import_module(module), attr)
    ]
    missing += [
        ("ParquetCatalogAdapter", m)
        for m in catalog_methods
        if not hasattr(ParquetCatalogAdapter, m)
    ]
    if not hasattr(StageRunner, "run_stage"):
        missing.append(("StageRunner", "run_stage"))
    assert wrapped and catalog_methods and imported and not missing, (
        f"benchmark targets gone: {missing}"
    )


def _jobs_of(spark, group, fn):
    """(fn(), the number of Spark jobs fn issued)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_guard_returns_the_rows_it_admits(spark):
    """guard_driver_sized is the guarded collect itself: it returns the
    admitted rows as an Arrow table, or raises past the gate."""
    from skosconverter_spark.operators.render import guard_driver_sized

    df = spark.range(7).selectExpr("id", "cast(id as string) s")
    tbl = guard_driver_sized(df, "test", 7)
    assert tbl.num_rows == 7 and tbl.column_names == ["id", "s"]
    assert sorted(tbl.column("s").to_pylist()) == [str(i) for i in range(7)]
    assert guard_driver_sized(df, "test", 0).num_rows == 7  # gate disabled
    with pytest.raises(ValueError, match="gated at 6 rows"):
        guard_driver_sized(df, "test", 6)


def test_collect_triples_is_one_job(spark):
    """The guard and the collect are one Spark job, also over many
    partitions (a limit + count probe before the collect ran 3)."""
    from skosconverter_spark.operators.render import collect_triples

    triples = spark.range(2808).selectExpr(
        "cast(id as string) subj", "'p' pred", "'o' obj",
        "true obj_is_literal", "cast(null as string) obj_lang", "id seq",
    ).repartition(8).cache()
    triples.count()
    rows, jobs = _jobs_of(spark, "collect_triples_one_job", lambda: collect_triples(triples))
    assert len(rows) == 2808
    assert jobs == 1, f"collect_triples issued {jobs} Spark jobs"
    triples.unpersist()


def test_skos_to_notion_job_count(spark):
    """Validation and render each take the vocabulary in one guarded
    collect: two Spark jobs in all (six with a count before each)."""
    docs = spark.createDataFrame(
        [("v", "v", "ttl", load_fixture_text("vocab_cycle"))], schema=DOCS
    )
    triples = ok_triples(extract_triples(docs, EngineConfig())).cache()
    triples.count()
    (text, issues, _), jobs = _jobs_of(
        spark, "skos_to_notion_job_count",
        lambda: skos_to_notion(triples, "csv", force=True),
    )
    assert text.startswith("Title,") and issues
    assert jobs <= 2, f"skos_to_notion issued {jobs} Spark jobs"
    triples.unpersist()


def test_convert_directory_job_count(spark, tmp_path):
    """The per-file render runs once: the guard's collect is the only
    action over the parse → DFS + render grouped map, two Spark jobs in
    all (three when a second grouped map re-sorted a DFS row table, seven
    when a count ran it a second time)."""
    _, jobs = _jobs_of(
        spark, "convert_directory_job_count",
        lambda: convert_directory(spark, str(DATA), str(tmp_path / "out"), fmt="csv"),
    )
    for name in ttl_fixture_names():
        assert (tmp_path / "out" / f"{name}.csv").exists(), name
    assert jobs == 2, f"convert_directory issued {jobs} Spark jobs"


def test_near_dup_job_count(spark):
    """Near-dup over a cached 4-partition corpus of planted copies, output
    collected: minhash_lsh_pairs checkpoints the shingle kernel's sets once
    and verifies from them; ngram_jaccard_prefix reads the same sets."""
    from skosconverter_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_prefix

    words = "spark skos graph label concept scheme broader narrower note term".split()
    base = [(i, " ".join(words[(i * 7 + j * j) % len(words)] for j in range(12 + i % 9))) for i in range(40)]
    rows = base + [(i + 1000, t) for i, t in base] + [(i + 2000, t + " the end") for i, t in base]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4).cache()
    docs.count()
    try:
        lsh, lsh_jobs = _jobs_of(spark, "lsh_job_count", lambda: minhash_lsh_pairs(docs, 0.8).collect())
        pre, pre_jobs = _jobs_of(spark, "prefix_job_count", lambda: ngram_jaccard_prefix(docs, 0.8).collect())
    finally:
        docs.unpersist()
    assert {(i, i + 1000) for i, _ in base} <= {(r.doc_a, r.doc_b) for r in pre}
    assert {(r.doc_a, r.doc_b) for r in lsh} <= {(r.doc_a, r.doc_b) for r in pre}
    # before the shingle kernel: 13 and 15
    assert (lsh_jobs, pre_jobs) == (6, 8), f"lsh {lsh_jobs} jobs, prefix {pre_jobs} jobs"


def test_driver_bound_reads_go_through_the_guard():
    """Every driver-bound table moves through guard_driver_sized. The
    only other driver reads are bounded one-row lookups, named here."""
    import ast
    from pathlib import Path

    import skosconverter_spark

    actions = {"collect", "toPandas", "toArrow", "toLocalIterator", "first", "take", "head", "tail"}
    allowed = {
        ("plans/local_dfs.py", "guard_driver_sized"),
        ("kg/pipeline.py", "fingerprint_of"),  # one aggregate row
        ("operators/dedup.py", "ngram_jaccard_pairs"),  # the Σdf² cost row
        ("operators/temporal.py", "asof_join"),  # limit(1) duplicate probe
    }
    root = Path(skosconverter_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()

        def visit(node, func):
            for child in ast.iter_child_nodes(node):
                name = func
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                elif (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in actions
                ):
                    found.add((rel, func, child.func.attr, child.lineno))
                visit(child, name)

        visit(ast.parse(path.read_text(encoding="utf-8")), None)
    stray = sorted(f for f in found if f[:2] not in allowed)
    assert not stray, f"driver reads outside guard_driver_sized: {stray}"
    assert {f[:2] for f in found} == allowed, "allow-list names a read that is gone"


def test_every_public_function_has_a_caller():
    """Every public top-level function of the package is named somewhere
    outside tests/: in the package itself, __spark_entry__.py, bench.py,
    tools/, examples/ or perfbench/ (whose WRAPPED and MATERIALIZED
    tables name functions by string). A reference is an ast.Name, an
    ast.Attribute or an import alias; a function's own def and body and
    every docstring do not count. The allowlist holds the references
    tests compare against."""
    import ast
    from pathlib import Path

    import skosconverter_spark

    allowed = {
        "precision_recall": "the P/R scoring contract of the triple goldens",
        "extract_text_bytes_v1": "the reference of test_v2_equals_v1_on_corpus_contract",
    }
    pkg = Path(skosconverter_spark.__file__).parent
    repo = pkg.parent
    defs, refs = {}, set()
    sources = [*pkg.rglob("*.py"), repo / "__spark_entry__.py", repo / "bench.py"]
    for d in ("tools", "examples", "perfbench"):
        sources += (repo / d).rglob("*.py")
    for path in sorted(sources):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        if path.is_relative_to(pkg):
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                    defs[node.name] = path.relative_to(pkg).as_posix()

        def visit(node, func):
            for child in ast.iter_child_nodes(node):
                name = func
                if isinstance(child, ast.FunctionDef) and func is None:
                    name = child.name
                elif isinstance(child, ast.Name) and child.id != func:
                    refs.add(child.id)
                elif isinstance(child, ast.Attribute) and child.attr != func:
                    refs.add(child.attr)
                elif isinstance(child, ast.alias):
                    refs.add(child.name.rsplit(".", 1)[-1])
                visit(child, name)

        visit(tree, None)
        if path == repo / "perfbench" / "layers.py":
            tables = {
                t.id: ast.literal_eval(node.value)
                for node in tree.body
                if isinstance(node, ast.Assign)
                for t in node.targets
                if getattr(t, "id", None) in ("WRAPPED", "MATERIALIZED")
            }
            refs.update(attr for _, attr, _ in tables["WRAPPED"])
            refs.update(tables["MATERIALIZED"])
    uncalled = sorted(f"{defs[n]}::{n}" for n in defs.keys() - refs - allowed.keys())
    assert not uncalled, f"public functions only tests call: {uncalled}"
    assert allowed.keys() <= defs.keys() - refs, "allowlist names a function that is gone or called"

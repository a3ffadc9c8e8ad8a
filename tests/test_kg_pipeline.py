"""Web-scale KG pipeline stages on the synthesized pages corpus:
extraction invariant, mention detection known answers, linking,
canonicalization closure, checkpoint/resume, lineage metrics."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig, OWL_SAME_AS, SKOS_EXACT_MATCH
from skosconverter_spark.kg.canonicalize import (
    canonicalize_triples,
    closure_local,
    connected_components,
)
from skosconverter_spark.kg.extract import extract_text
from skosconverter_spark.kg.mentions import label_table, mention_candidates, scan_mentions
from skosconverter_spark.kg.pipeline import run_pipeline
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.pages import VOCAB_CONCEPTS, page_record, synthesize_pages
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

N_PAGES = 120


def vocab_ttl() -> str:
    lines = ["@prefix skos: <http://www.w3.org/2004/02/skos/core#> ."]
    ns = "http://example.org/kg#"
    lines.append(f"<{ns}scheme> a skos:ConceptScheme ; skos:prefLabel \"Things\"@en .")
    for key, label, alts in VOCAB_CONCEPTS:
        lines.append(f'<{ns}{key}> a skos:Concept ; skos:prefLabel "{label}"@en .')
        for a in alts:
            lines.append(f'<{ns}{key}> skos:altLabel "{a}" .')
    return "\n".join(lines)


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, N_PAGES, partitions=4).cache()


@pytest.fixture(scope="module")
def vocab(spark):
    docs = spark.createDataFrame([("v", "v", "ttl", vocab_ttl())], schema=DOCS)
    return ok_triples(extract_triples(docs, EngineConfig())).cache()


def test_pages_deterministic_and_skewed(pages, spark):
    again = synthesize_pages(spark, N_PAGES, partitions=7)  # different partitioning
    a = {r.url: (r.text, bytes(r.html)) for r in pages.collect()}
    b = {r.url: (r.text, bytes(r.html)) for r in again.collect()}
    assert a == b
    domains = (
        pages.withColumn("d", F.split_part(F.col("url"), F.lit("/"), F.lit(3)))
        .groupBy("d").count().collect()
    )
    counts = sorted((r["count"] for r in domains), reverse=True)
    assert counts[0] >= 4 * counts[-1]  # Zipf skew present


def test_extract_text_byte_identical_per_url(pages):
    extracted = {r.url: r.text for r in extract_text(pages).collect()}
    for i in range(N_PAGES):
        rec = page_record(i)
        assert extracted[rec["url"]] == rec["_expected_text"], rec["url"]
        # the invariant the harness checks: stable sha256 per url
        assert hashlib.sha256(extracted[rec["url"]].encode()).hexdigest()


def test_mentions_find_known_concepts(spark, pages, vocab):
    pt = extract_text(pages)
    cands = mention_candidates(scan_mentions(pt, vocab), label_table(vocab))
    got = {
        (r.url, r.concept_uri.rsplit("#", 1)[1])
        for r in cands.select("url", "concept_uri").distinct().collect()
    }
    for i in range(N_PAGES):
        rec = page_record(i)
        for key in rec["_concepts"]:
            assert (rec["url"], key) in got, f"missing mention {key} in {rec['url']}"


def test_multiword_and_altlabel_mentions(spark, vocab):
    pt = spark.createDataFrame(
        [("u1", "A canine and a feline met; Mammalia rejoiced.")], "url string, text string"
    )
    cands = mention_candidates(scan_mentions(pt, vocab), label_table(vocab))
    keys = {r.concept_uri.rsplit("#", 1)[1] for r in cands.collect()}
    assert {"dog", "cat", "mammal"} <= keys


def test_scanner_and_labels_share_one_normalizer(spark):
    """Labels with combining marks (an NFD "é", Devanagari matras and a
    virama) are normalized by the scanner's own normalize_surface: each
    is found in a page that contains it verbatim, every emitted
    norm_surface is normalize_surface of its surface, and the rows are
    the reference trie walk's over the normalized labels."""
    import unicodedata

    from skosconverter_spark.config import SKOS_ALT_LABEL, SKOS_PREF_LABEL
    from skosconverter_spark.kg.mentions import _Trie, normalize_surface

    from .test_mention_kernel import reference_walk

    noir_cafe = unicodedata.normalize("NFD", "Noir Café")
    cafe_noir = unicodedata.normalize("NFD", "Café Noir")
    hindi = "हिन्दी भाषा"  # U+094D virama in न्द, matras ि ी ा
    labels = [noir_cafe, cafe_noir, hindi]
    vocab = spark.createDataFrame(
        [
            ("urn:noir-cafe", SKOS_PREF_LABEL, noir_cafe),
            ("urn:cafe-noir", SKOS_ALT_LABEL, cafe_noir),
            ("urn:hindi", SKOS_PREF_LABEL, hindi),
        ],
        "subj string, pred string, obj string",
    )
    texts = [f"We met at the {noir_cafe} for a {cafe_noir}.", f"{hindi} और {hindi}"]
    urls = ["u1", "u2"]
    pages = spark.createDataFrame(list(zip(urls, texts)), "url string, text string")
    got = sorted(
        (r.url, r.surface, r.norm_surface, r.begin, r.end)
        for r in scan_mentions(pages, vocab).collect()
    )
    assert all(ns == normalize_surface(sf) for _, sf, ns, _, _ in got)
    want = reference_walk(urls, texts, _Trie([normalize_surface(x) for x in labels]))
    assert got == want
    assert {u for u, *_ in got} == {"u1", "u2"} and len(got) == 4


def test_connected_components_and_closure(spark):
    rows = [
        ("a", SKOS_EXACT_MATCH, "b"),
        ("b", OWL_SAME_AS, "c"),
        ("x", SKOS_EXACT_MATCH, "y"),
    ]
    t = spark.createDataFrame(
        [(s, p, o, False, None, "u", i) for i, (s, p, o) in enumerate(rows)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )
    edges = t.selectExpr("subj src", "obj dst")  # every row is exactMatch/sameAs
    comp = {r.uri: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"

    reach = set(closure_local([("c1", "p1"), ("p1", "g1"), ("g1", "r1")]))
    assert ("c1", "r1") in reach and ("c1", "g1") in reach and len(reach) == 6


def test_canonicalize_rewrites_aliases(spark):
    P = "http://example.org/p#knows"
    rows = [
        ("a", SKOS_EXACT_MATCH, "b", False),
        ("b", P, "z", False),
        ("a", P, "z", False),
    ]
    t = spark.createDataFrame(
        [(s, p, o, lit, None, "u", i) for i, (s, p, o, lit) in enumerate(rows)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )
    out = canonicalize_triples(t)
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # b collapses into a; duplicate edges dedup; self-loop equivalence dropped
    assert got == {("a", P, "z")}


def test_pipeline_end_to_end_and_resume(spark, pages, vocab, tmp_path):
    root = str(tmp_path / "kg")
    out = run_pipeline(spark, pages, vocab, root, partitions=4)
    assert out["links"].count() > 0
    assert out["triples"].count() > 0
    # per-partition lineage metrics exist for every stage
    stages = {r.stage for r in out["metrics"].select("stage").distinct().collect()}
    assert {"10_extract", "20_mentions", "30_links", "40_page_triples", "50_canonical"} <= stages

    # resume: second run must reuse checkpoints (same fingerprints)
    import time

    t0 = time.time()
    out2 = run_pipeline(spark, pages, vocab, root, partitions=4)
    resume_s = time.time() - t0
    assert out2["triples"].count() == out["triples"].count()
    assert resume_s < 30, f"resume took {resume_s:.1f}s — checkpoints not reused?"


def test_full_rerun_writes_no_file(spark, pages, vocab, tmp_path):
    """Every stage, the 60_graph sink included, is committed: a rerun
    over the same inputs is answered from the manifests and leaves every
    file under the root byte- and mtime-identical."""
    root = tmp_path / "kg"
    run_pipeline(spark, pages, vocab, str(root), partitions=4)
    assert (root / "60_graph" / "_MANIFEST.json").exists()

    def files():
        return {
            f.relative_to(root): (f.read_bytes(), f.stat().st_mtime_ns)
            for f in root.rglob("*")
            if f.is_file()
        }

    before = files()
    out = run_pipeline(spark, pages, vocab, str(root), partitions=4)
    assert out["graph"].count() == out["triples"].count()
    assert files() == before


def test_salted_repartition_bounds_skew(spark, pages):
    from skosconverter_spark.kg.extract import salted_repartition

    # the corpus is domain-skewed (test_pages_deterministic_and_skewed:
    # the hottest domain holds ≥4x the coldest's rows); after salted
    # url-hash repartitioning every partition must sit near the mean
    salted = salted_repartition(pages, 8)
    salt_sizes = [
        r["count"]
        for r in salted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    mean = sum(salt_sizes) / len(salt_sizes)
    assert max(salt_sizes) <= 1.6 * mean, f"salted partitions skewed: {salt_sizes}"
    assert min(salt_sizes) >= 0.4 * mean, f"salted partitions skewed: {salt_sizes}"


def test_catalog_adapter_seam(spark, pages, vocab, tmp_path):
    """StageRunner delegates storage/commit to the catalog adapter: a
    commit serves the next call, and lineage comes from its record."""
    from skosconverter_spark.kg.pipeline import StageRunner, fingerprint_of

    runner = StageRunner(spark, str(tmp_path / "kg"))
    fp = fingerprint_of(pages, ["url"])
    out = runner.run_stage("10_extract", fp, lambda: pages.select("url"))
    assert out.count() == pages.count()
    # commit recorded -> second call loads instead of rebuilding
    calls = []
    out2 = runner.run_stage(
        "10_extract", fp, lambda: calls.append(1) or pages.select("url")
    )
    assert out2.count() == pages.count() and not calls
    # lineage came from the adapter's commit metadata
    assert runner.stage_metrics().count() > 0


def test_pipeline_adversarial_pages(spark, vocab, tmp_path):
    """Nulls, empties, and a pathological page must not break the
    pipeline: null html -> empty text; empty text -> no mentions; a
    500 KB single page flows through the Arrow stages."""
    import datetime as dt

    from skosconverter_spark.schemas import PAGES

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("http://x.test/null-html", ts, None, None, "en"),
        ("http://x.test/empty-html", ts, b"", None, "en"),
        ("http://x.test/huge", ts,
         ("<html><body>" + "<p>the dog saw the dog. </p>" * 20000 + "</body></html>").encode(),
         None, "en"),
        ("http://x.test/no-vocab", ts, b"<html><body><p>zzz qqq</p></body></html>", None, None),
    ]
    pages = spark.createDataFrame(rows, PAGES)
    out = run_pipeline(spark, pages, vocab, str(tmp_path / "kg_adv"), partitions=2)
    texts = {r.url: r.text for r in out["pages_text"].collect()}
    assert set(texts) == {r[0] for r in rows}
    # contract: null html -> null text, empty html -> "" (both flow
    # through the scan/parse stages, which skip falsy text)
    assert texts["http://x.test/null-html"] is None
    assert texts["http://x.test/empty-html"] == ""
    assert len(texts["http://x.test/huge"]) > 100_000
    # mentions only on the page that contains vocabulary
    urls_with_mentions = {r.url for r in out["mentions"].select("url").distinct().collect()}
    assert urls_with_mentions == {"http://x.test/huge"}
    assert out["triples"].count() > 0  # vocabulary triples survive canonicalization


def test_run_graph_diamond_on_one_worker(spark):
    """Only the calling thread waits on futures, so one worker runs a
    diamond; each node receives its dependencies' values."""
    from skosconverter_spark.kg.pipeline import _run_graph

    nodes = {
        "a": ((), lambda i: 1),
        "b": (("a",), lambda i: i["a"] + 1),
        "c": (("a",), lambda i: i["a"] * 10),
        "d": (("b", "c"), lambda i: (i["b"], i["c"])),
    }
    assert _run_graph(nodes, max_workers=1) == {"a": 1, "b": 2, "c": 10, "d": (2, 10)}


def test_run_graph_failure_raises_and_skips_dependents(spark):
    from skosconverter_spark.kg.pipeline import _run_graph

    started = []

    def fail(i):
        raise RuntimeError("node b failed")

    nodes = {
        "a": ((), lambda i: started.append("a")),
        "b": (("a",), fail),
        "d": (("b",), lambda i: started.append("d")),
    }
    with pytest.raises(RuntimeError, match="node b failed"):
        _run_graph(nodes, max_workers=1)
    assert started == ["a"]


def test_stage_metrics_read_with_explicit_schema(spark, pages, tmp_path):
    """stage_metrics is built from the commit records on the driver: no
    Spark job, the writer's column types, and one row per file the
    records list, whose rows sum to each stage's row count."""
    from skosconverter_spark.kg.catalog import file_rows
    from skosconverter_spark.kg.pipeline import StageRunner

    from .test_api import _jobs_of

    root = tmp_path / "kg"
    runner = StageRunner(spark, str(root))
    runner.run_stage("10_extract", "fp", lambda: pages.select("url"))
    runner.run_stage("60_graph", "fp", lambda: pages.select("url", "lang"), ("lang",))
    metrics, jobs = _jobs_of(spark, "stage_metrics_job_count", runner.stage_metrics)
    assert jobs == 0
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in metrics.schema] == [
        ("stage", "string", True),
        ("partition_id", "int", True),
        ("rows_out", "bigint", True),
        ("wall_ms", "bigint", True),
        ("input_fingerprint", "string", True),
    ]
    expected = []
    for stage in ("10_extract", "60_graph"):
        record = json.loads((root / stage / "_MANIFEST.json").read_text())
        assert record["rows"] == pages.count()
        expected += [
            (stage, pid, n, record["wall_ms"], "fp") for pid, n in file_rows(record["files"])
        ]
    assert sorted(tuple(r) for r in metrics.collect()) == sorted(expected)
    assert not list(root.glob("*/metrics"))


def test_pipeline_resumes_after_failed_commit(spark, pages, vocab, tmp_path, monkeypatch):
    """A commit that fails in 50_canonical fails the run; the rerun
    recomputes that stage and leaves the committed stages untouched."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter

    root = tmp_path / "kg"
    commit = ParquetCatalogAdapter.commit

    def failing_commit(self, base, stage, *args):
        if stage == "50_canonical":
            raise RuntimeError("injected commit failure")
        return commit(self, base, stage, *args)

    monkeypatch.setattr(ParquetCatalogAdapter, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        run_pipeline(spark, pages, vocab, str(root), partitions=4)
    monkeypatch.undo()
    assert not (root / "50_canonical" / "_MANIFEST.json").exists()

    def committed():
        stages = ("10_extract", "20_mentions", "40_page_triples")
        files = [root / s / "_MANIFEST.json" for s in stages]
        return [(f.read_bytes(), f.stat().st_mtime_ns) for f in files]

    before = committed()
    out = run_pipeline(spark, pages, vocab, str(root), partitions=4)
    assert out["triples"].count() > 0
    assert committed() == before
    manifest = json.loads((root / "50_canonical" / "_MANIFEST.json").read_text())
    assert manifest["stage"] == "50_canonical"


def test_failed_commit_reports_no_lineage(spark, pages, vocab, tmp_path, monkeypatch):
    """Lineage is read from commit records only: after a 50_canonical
    commit fails on a fresh root, stage_metrics has no row for it but
    keeps the stages that did commit."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
    from skosconverter_spark.kg.pipeline import StageRunner

    root = tmp_path / "kg"
    commit = ParquetCatalogAdapter.commit

    def failing_commit(self, base, stage, *args):
        if stage == "50_canonical":
            raise RuntimeError("injected commit failure")
        return commit(self, base, stage, *args)

    monkeypatch.setattr(ParquetCatalogAdapter, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        run_pipeline(spark, pages, vocab, str(root), partitions=4)
    monkeypatch.undo()
    stages = {r.stage for r in StageRunner(spark, str(root)).stage_metrics().collect()}
    assert "50_canonical" not in stages
    assert {"10_extract", "20_mentions", "40_page_triples"} <= stages


def test_link_stage_scores_half_plus_half_context(spark):
    """Candidates are exact dictionary hits, so every link scores
    0.5 + 0.5·context_tfidf. p3's only surface occurs on every page, so
    its context vector is zero and its link scores exactly 0.5."""
    import math

    from skosconverter_spark.config import SKOS_ALT_LABEL, SKOS_PREF_LABEL
    from skosconverter_spark.kg.linking import link_stage
    from skosconverter_spark.kg.mentions import MENTION_SCHEMA, label_table

    vocab = spark.createDataFrame(
        [
            ("urn:c1", SKOS_PREF_LABEL, "Alpha Beta"),
            ("urn:c1", SKOS_ALT_LABEL, "Alpha"),
            ("urn:c2", SKOS_PREF_LABEL, "Gamma"),
            ("urn:c3", SKOS_PREF_LABEL, "Delta"),
            ("urn:c4", SKOS_PREF_LABEL, "Epsilon"),
            ("urn:c4", SKOS_ALT_LABEL, "Delta"),  # ambiguous with c3
        ],
        "subj string, pred string, obj string",
    )
    mentions = spark.createDataFrame(
        [
            ("p1", "Alpha Beta", "alpha beta", 0, 10),
            ("p1", "Gamma", "gamma", 11, 16),
            ("p2", "gamma", "gamma", 0, 5),
            ("p2", "Delta", "delta", 6, 11),
            ("p3", "GAMMA", "gamma", 0, 5),
        ],
        MENTION_SCHEMA,
    )
    lt = label_table(vocab)
    links = {
        (r.url, r.begin): (r.concept_uri, r.score)
        for r in link_stage(mentions, lt, 2).collect()
    }
    # 3 pages; "gamma" is on all of them (idf ln(4/4) = 0), every other
    # surface on one (idf ln(4/2)). c1's profile has 2 surfaces, c4's 2.
    half_sqrt2 = 0.5 + 0.5 / math.sqrt(2.0)
    want = {
        ("p1", 0): ("urn:c1", half_sqrt2),
        ("p1", 11): ("urn:c2", 0.5),
        ("p2", 0): ("urn:c2", 0.5),
        ("p2", 6): ("urn:c3", 1.0),  # c3's cosine 1 beats c4's 1/√2
        ("p3", 0): ("urn:c2", 0.5),
    }
    assert {k: c for k, (c, _) in links.items()} == {k: c for k, (c, _) in want.items()}
    for k, (_, score) in want.items():
        assert links[k][1] == pytest.approx(score, rel=1e-12), k
    assert links[("p3", 0)][1] == 0.5
    brute = _brute_force_links(
        [tuple(r) for r in mentions.collect()],
        [(r.uri, r.norm_surface) for r in lt],
    )
    for (url, begin), (uri, score) in links.items():
        (want_uri, want_score), = [v[:2] for k, v in brute.items() if k[:2] == (url, begin)]
        assert uri == want_uri and _within_ulps(score, want_score), (url, begin)


def _brute_force_links(mentions, labels):
    """The links score model evaluated literally, page by page:
    mentions (url, surface, norm_surface, begin, end) and label pairs
    (uri, norm_surface) → {(url, begin, end): (uri, score, surface,
    norm_surface)}, the best candidate per span."""
    import math
    from collections import Counter

    profile = {}
    for uri, s in labels:
        profile.setdefault(uri, set()).add(s)
    urls = {m[0] for m in mentions}
    df = Counter(s for _, s in {(m[0], m[2]) for m in mentions})
    best = {}
    for url in urls:
        rows = [m for m in mentions if m[0] == url]
        tf = Counter(m[2] for m in rows)
        w = {s: n * math.log((len(urls) + 1) / (df[s] + 1.0)) for s, n in tf.items()}
        page_norm = math.sqrt(sum(x * x for x in w.values()))
        for _, surface, ns, begin, end in rows:
            for uri, surfaces in profile.items():
                if ns not in surfaces:
                    continue
                denom = page_norm * math.sqrt(len(surfaces))
                dot = sum(w.get(s, 0.0) for s in surfaces)
                score = 0.5 + 0.5 * dot / (denom if denom > 0 else 1.0)
                key = (-score, uri, surface, ns)
                best[(url, begin, end)] = min(best.get((url, begin, end), key), key)
    return {k: (uri, -neg, surface, ns) for k, (neg, uri, surface, ns) in best.items()}


def _within_ulps(a: float, b: float, n: int = 4) -> bool:
    import math

    return abs(a - b) <= n * math.ulp(max(abs(a), abs(b)))


def test_link_kernel_matches_brute_force(spark):
    """The url-partitioned links kernel against a literal evaluation of
    the score model: pages split across Arrow batches, duplicate mention
    rows (tf counts both, one link), a surface shared by two concepts
    with tied scores (the smaller uri wins), a page whose only surface
    is on every page (score exactly 0.5), and a concept with several
    surfaces. Same winners, scores within 4 ulp, at any batch size."""
    from skosconverter_spark.config import SKOS_ALT_LABEL, SKOS_PREF_LABEL
    from skosconverter_spark.kg.linking import link_stage
    from skosconverter_spark.kg.mentions import MENTION_SCHEMA, label_table

    vocab = spark.createDataFrame(
        [
            ("urn:multi", SKOS_PREF_LABEL, "Red"),
            ("urn:multi", SKOS_ALT_LABEL, "Crimson"),
            ("urn:multi", SKOS_ALT_LABEL, "Scarlet Red"),
            ("urn:tie-b", SKOS_PREF_LABEL, "Twin"),
            ("urn:tie-a", SKOS_PREF_LABEL, "Twin"),
            ("urn:common", SKOS_PREF_LABEL, "Common"),
            ("urn:blue", SKOS_PREF_LABEL, "Blue"),
        ],
        "subj string, pred string, obj string",
    )
    rows = [
        # p1: 6 rows, one duplicated, spread over batches of 2
        ("p1", "Red", "red", 0, 3),
        ("p1", "Crimson", "crimson", 4, 11),
        ("p1", "Scarlet Red", "scarlet red", 12, 23),
        ("p1", "red", "red", 24, 27),
        ("p1", "red", "red", 24, 27),
        ("p1", "Common", "common", 28, 34),
        # p2: the tied surface, twice, plus a blue
        ("p2", "Twin", "twin", 0, 4),
        ("p2", "twin", "twin", 5, 9),
        ("p2", "Blue", "blue", 10, 14),
        ("p2", "common", "common", 15, 21),
        # p3: only the surface on every page
        ("p3", "COMMON", "common", 0, 6),
        ("p4", "Blue", "blue", 0, 4),
        ("p4", "Common", "common", 5, 11),
        ("p4", "Crimson", "crimson", 12, 19),
    ]
    mentions = spark.createDataFrame(rows, MENTION_SCHEMA)
    lt = label_table(vocab)
    want = _brute_force_links(rows, [(r.uri, r.norm_surface) for r in lt])
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    runs = []
    try:
        for batch in ("2", before):
            spark.conf.set(conf, batch)
            runs.append(
                {
                    (r.url, r.begin, r.end): (r.concept_uri, r.score, r.surface, r.norm_surface)
                    for r in link_stage(mentions, lt, 2).collect()
                }
            )
    finally:
        spark.conf.set(conf, before)
    assert runs[0] == runs[1]
    got = runs[0]
    assert got.keys() == want.keys()
    for k, (uri, score, surface, ns) in want.items():
        assert got[k][0] == uri and got[k][2:] == (surface, ns), k
        assert _within_ulps(got[k][1], score), (k, got[k][1], score)
    assert got[("p2", 0, 4)][0] == "urn:tie-a"
    assert got[("p3", 0, 6)][1] == 0.5
    assert {got[("p1", b, e)][0] for b, e in [(0, 3), (4, 11), (12, 23)]} == {"urn:multi"}


STAGES = {
    "10_extract": "pages_text",
    "20_mentions": "mentions",
    "30_links": "links",
    "40_page_triples": "page_triples",
    "50_canonical": "triples",
    "60_graph": "graph",
}


def test_commit_records_the_read_back_schema(spark, pages, vocab, tmp_path):
    """The commit record holds each stage's read-back schema (every
    field nullable, the pred partition last) equal to what schema
    inference reads; a committed read passes it on and runs no Spark
    job, and a commit record without a schema counts as uncommitted."""
    from pyspark.sql.types import StructType

    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter

    from .test_api import _jobs_of

    root = tmp_path / "kg"
    run_pipeline(spark, pages, vocab, str(root), partitions=4)
    adapter = ParquetCatalogAdapter()
    for stage in STAGES:
        record = json.loads((root / stage / "_MANIFEST.json").read_text())
        inferred = spark.read.parquet(str(root / stage / f"snap-{record['snapshot_id']}")).schema
        assert StructType.fromJson(record["schema"]) == inferred, stage
        df, jobs = _jobs_of(spark, f"read_{stage}", lambda: adapter.read(spark, root / stage))
        assert jobs == 0, (stage, jobs)
        assert df.schema == inferred, stage
        if stage == "60_graph":
            assert inferred.fieldNames()[-1] == "pred"
    manifest = root / "30_links" / "_MANIFEST.json"
    old = json.loads(manifest.read_text())
    del old["schema"]
    manifest.write_text(json.dumps(old))
    assert ParquetCatalogAdapter().committed_fingerprint(root / "30_links") is None


def test_failed_commit_keeps_previous_commit(spark, tmp_path, monkeypatch):
    """A write whose commit fails publishes nothing: the previous commit
    stays in force with its own immutable rows, so a rerun under the OLD
    fingerprint serves them without building, and never serves the
    uncommitted rows."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
    from skosconverter_spark.kg.pipeline import StageRunner

    runner = StageRunner(spark, str(tmp_path / "kg"))

    built = []

    def rows(x):
        def build():
            built.append(x)
            return spark.createDataFrame([(x,)], "x int")

        return build

    def xs(df):
        return [r.x for r in df.collect()]

    assert xs(runner.run_stage("30_links", "A", rows(1))) == [1]

    def failing_commit(self, *args):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(ParquetCatalogAdapter, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        runner.run_stage("30_links", "B", rows(2))
    monkeypatch.undo()
    assert runner.catalog.committed_fingerprint(tmp_path / "kg" / "30_links") == "A"
    assert xs(runner.run_stage("30_links", "A", rows(1))) == [1]
    assert built == [1, 2]


def test_earlier_stage_result_survives_recompute(spark, tmp_path):
    """Stage data is immutable: a DataFrame an earlier run_stage returned
    still reads its own rows after the stage is recomputed once."""
    from skosconverter_spark.kg.pipeline import StageRunner

    runner = StageRunner(spark, str(tmp_path / "kg"))
    first = runner.run_stage("10_extract", "A", lambda: spark.range(100).toDF("x"))
    second = runner.run_stage("10_extract", "B", lambda: spark.range(7).toDF("x"))
    assert first.count() == 100
    assert second.count() == 7


def test_store_keeps_at_most_two_committed_snapshots(spark, tmp_path):
    """Retention: after 5 recomputes of one stage the store holds the
    current snapshot and its parent, plus any write still in flight."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
    from skosconverter_spark.kg.pipeline import StageRunner

    base = tmp_path / "kg" / "10_extract"
    runner = StageRunner(spark, str(tmp_path / "kg"))
    for i in range(6):
        runner.run_stage("10_extract", f"fp{i}", lambda i=i: spark.range(i + 1).toDF("x"))
    assert sorted(p.name for p in base.glob("snap-*")) == ["snap-5", "snap-6"]
    assert runner.catalog.read(spark, base, snapshot_id=5).count() == 5
    inflight = ParquetCatalogAdapter()
    inflight.write(spark.range(3).toDF("x"), base)
    runner.run_stage("10_extract", "fp6", lambda: spark.range(9).toDF("x"))
    assert sorted(p.name for p in base.glob("snap-*")) == ["snap-6", "snap-7", "snap-8"]
    assert inflight.read(spark, base).count() == 3


def test_old_layout_directories_are_removed(spark, tmp_path):
    """A stage root written by the older layout (data/, metrics/, a
    record with no schema or snapshot id) keeps only its manifest and
    snapshots once it recomputes; a file such as another writer's
    manifest temp file stays."""
    from skosconverter_spark.kg.pipeline import StageRunner

    base = tmp_path / "kg" / "10_extract"
    for d in ("data", "metrics"):
        (base / d).mkdir(parents=True)
        (base / d / "part-00000.parquet").write_bytes(b"old")
    (base / "_MANIFEST.json").write_text(
        json.dumps({"stage": "10_extract", "input_fingerprint": "A", "rows": 1})
    )
    (base / "_MANIFEST.json.9.tmp").write_text("{}")
    runner = StageRunner(spark, str(tmp_path / "kg"))
    for fp in ("A", "B"):
        runner.run_stage("10_extract", fp, lambda: spark.range(2).toDF("x"))
    assert sorted(p.name for p in base.iterdir()) == [
        "_MANIFEST.json", "_MANIFEST.json.9.tmp", "snap-1", "snap-2",
    ]


def test_torn_manifest_counts_as_uncommitted(spark, tmp_path):
    """A commit record cut off mid-write never counts as committed: a
    fresh adapter reports the stage uncommitted instead of raising, and
    the stage recomputes."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
    from skosconverter_spark.kg.pipeline import StageRunner

    root = tmp_path / "kg"
    StageRunner(spark, str(root)).run_stage("10_extract", "A", lambda: spark.range(4).toDF("x"))
    manifest = root / "10_extract" / "_MANIFEST.json"
    manifest.write_text(manifest.read_text()[:40])
    assert ParquetCatalogAdapter().committed_fingerprint(root / "10_extract") is None
    calls = []
    out = StageRunner(spark, str(root)).run_stage(
        "10_extract", "A", lambda: calls.append(1) or spark.range(4).toDF("x")
    )
    assert out.count() == 4 and calls == [1]
    assert ParquetCatalogAdapter().committed_fingerprint(root / "10_extract") == "A"


def test_changed_page_text_reruns_extract(spark, pages, vocab, tmp_path):
    """The pages' fingerprint covers every column, not just the urls: a
    rerun over the same urls with one page's text changed serves the new
    text, not the 10_extract checkpoint of the old one."""
    root = str(tmp_path / "kg")
    url = pages.select("url").orderBy("url").first().url
    run_pipeline(spark, pages, vocab, root, partitions=4)
    edited = pages.withColumn(
        "text",
        F.when(F.col("url") == url, F.lit("an edited page")).otherwise(F.col("text")),
    )
    out = run_pipeline(spark, edited, vocab, root, partitions=4)
    texts = {r.url: r.text for r in out["pages_text"].select("url", "text").collect()}
    assert texts[url] == "an edited page"
    assert len(texts) == pages.count()


def test_fingerprint_sees_duplicated_rows(spark):
    """Two identical rows must not cancel: these inputs differ in every
    duplicated row and agree elsewhere."""
    from skosconverter_spark.kg.pipeline import fingerprint_of

    def fp(rows):
        return fingerprint_of(spark.createDataFrame(rows, "u string, v string"), ["u", "v"])

    a = [("u1", "x"), ("u1", "x"), ("u2", "y")]
    b = [("u3", "z"), ("u3", "z"), ("u2", "y")]
    assert fp(a) != fp(b)
    assert fp(a) == fp(list(reversed(a)))  # still order-insensitive


def test_fingerprint_sees_where_the_nulls_are(spark):
    """A value moved between adjacent nullable columns changes the
    fingerprint, though the non-null values hash in the same order."""
    from skosconverter_spark.kg.pipeline import fingerprint_of

    def fp(rows):
        df = spark.createDataFrame(rows, "u string, v string, w string")
        return fingerprint_of(df, ["u", "v", "w"])

    assert fp([("u1", None, "x")]) != fp([("u1", "x", None)])

"""Round-5 fixes, pinned.

- domain_caps rebuilt as a salted two-level top-k: no window partition
  ever carries a whole (possibly pathological) domain through one task.
- line_dedup shuffles md5(line) keys, never raw line text.
- normalize_url matches the query only in the pre-fragment substring
  (SPA fragments like #/view?tab=1 must not resurrect params).
"""

from __future__ import annotations

import hashlib
import json

from hypothesis import given, settings, strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# domain_caps: skew-safe exact top-k
# ---------------------------------------------------------------------------


def _naive_domain_caps(df, cap, domain_col="source", key_col="doc_id"):
    from skosconverter_spark.operators.filter import sample_key

    w = Window.partitionBy(domain_col).orderBy(
        sample_key(F.col(key_col)), F.col(key_col)
    )
    return (
        df.select(key_col, domain_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cap)
    )


def test_domain_caps_matches_naive_window(spark):
    """Differential: the salted two-level plan is EXACT — identical rows
    and ranks to the single-window definition, across several domains
    and bucket counts (including n_buckets=1, the degenerate case)."""
    from skosconverter_spark.operators.filter import domain_caps

    docs = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(5000)], "doc_id long, source string"
    )
    expected = {
        (r.doc_id, r.source, r.rank)
        for r in _naive_domain_caps(docs, 7).collect()
    }
    for nb in (1, 4, 64):
        got = {
            (r.doc_id, r.source, r.rank)
            for r in domain_caps(docs, 7, n_buckets=nb).collect()
        }
        assert got == expected, f"n_buckets={nb}"


def test_domain_caps_pathological_domain(spark):
    """The VERDICT-prescribed planted skew case: one domain owning a
    10^6-row corpus completes without any window partition holding the
    whole domain — the first (stage-1) window partitions by the hash
    bucket, visible in the plan, and survivors match the md5 lottery
    computed independently in Python."""
    from skosconverter_spark.operators.filter import domain_caps

    n, cap = 1_000_000, 5
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("onehost.example").alias("source")
    )
    out = domain_caps(docs, cap, n_buckets=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_bucket" in plan, "stage-1 window must partition by the salt bucket"
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    # independent oracle: the cap smallest (md5-hex8, doc_id) coordinates
    expected = sorted(
        (hashlib.md5(str(i).encode()).hexdigest()[:8], i) for i in range(n)
    )[:cap]
    assert [r.doc_id for r in rows] == [i for _, i in expected]


# ---------------------------------------------------------------------------
# line_dedup: hashed shuffle key
# ---------------------------------------------------------------------------


def test_line_dedup_shuffles_digest_not_text(spark):
    """The winner agg and join-back key on md5(line): the raw line text
    must not be a grouping/join key anywhere in the plan."""
    from skosconverter_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [("a", "x\ny"), ("b", "y\nz")], "doc_id string, text string"
    )
    out = line_dedup(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "line_key" in plan and "md5" in plan
    # correctness unchanged by the keying
    got = {r.doc_id: r.clean_text for r in out.collect()}
    assert got == {"a": "x\ny", "b": "z"}


# ---------------------------------------------------------------------------
# normalize_url: query only before the fragment
# ---------------------------------------------------------------------------


def test_normalize_url_spa_fragment(spark):
    from skosconverter_spark.kg.extract import normalize_url

    df = spark.createDataFrame(
        [
            ("http://a.com/p#/view?tab=1",),  # SPA route: no real query
            ("http://a.com/p?x=1#f?y=2",),  # query, then ?' inside fragment
            ("http://a.com/p?b=2&a=1#frag",),  # plain fragment after query
        ],
        "url string",
    )
    got = [r.n for r in df.select(normalize_url(F.col("url")).alias("n")).collect()]
    assert got == [
        "http://a.com/p",
        "http://a.com/p?x=1",
        "http://a.com/p?a=1&b=2",
    ]


# ---------------------------------------------------------------------------
# ngram_jaccard_prefix: exact similarity join, prefix-filtered
# ---------------------------------------------------------------------------


def test_ngram_prefix_matches_all_pairs(spark):
    """Prefix filtering is LOSSLESS: identical pairs and jaccard values
    to the inverted-index exact join, at several thresholds — while the
    candidate join touches only prefix occurrences (a strict subset of
    the shingle table whenever τ prunes anything)."""
    import pytest

    from skosconverter_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    for tau in (0.5, 0.8):
        exact = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(docs, tau).collect()
        }
        pref = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_prefix(docs, tau).collect()
        }
        assert pref == exact, f"tau={tau}"
    with pytest.raises(ValueError):
        ngram_jaccard_prefix(docs, 0.0)  # τ=0 has no prefix bound


# ---------------------------------------------------------------------------
# ParquetCatalogAdapter: Iceberg commit protocol, exercised for real
# ---------------------------------------------------------------------------


def test_snapshot_catalog_stage_roundtrip(spark, tmp_path):
    """StageRunner through the snapshot-commit adapter: stage = snapshot
    commit, resume = fingerprint match on the committed snapshot (no
    rebuild), lineage = manifest entries recorded at write time."""
    from skosconverter_spark.kg.pipeline import StageRunner, fingerprint_of

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    runner = StageRunner(spark, str(tmp_path / "kg"))
    fp = fingerprint_of(docs, ["doc_id"])
    assert runner.run_stage("10_extract", fp, lambda: docs).count() == 100
    calls = []
    out2 = runner.run_stage(
        "10_extract", fp, lambda: calls.append(1) or docs
    )
    assert out2.count() == 100 and not calls, "matching commit must resume"
    # lineage flowed from the snapshot manifest, not a second scan
    m = runner.stage_metrics()
    assert m.count() > 0
    assert m.agg(F.sum("rows_out")).collect()[0][0] == 100


def test_snapshot_catalog_time_travel_and_orphans(spark, tmp_path):
    """Changed input -> new snapshot; a DataFrame read from the old one
    stays readable after the recompute; an uncommitted write is an orphan
    no restart can resolve (crash between write and commit must not
    satisfy resume)."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
    from skosconverter_spark.kg.pipeline import StageRunner, fingerprint_of

    base = tmp_path / "kg" / "10_extract"
    v1 = spark.range(10).select(F.col("id").alias("doc_id"))
    v2 = spark.range(25).select(F.col("id").alias("doc_id"))
    runner = StageRunner(spark, str(tmp_path / "kg"))
    ad = runner.catalog
    fp1, fp2 = fingerprint_of(v1, ["doc_id"]), fingerprint_of(v2, ["doc_id"])
    first = runner.run_stage("10_extract", fp1, lambda: v1)
    runner.run_stage("10_extract", fp2, lambda: v2)  # input changed: rebuild
    assert ad.committed_fingerprint(base) == fp2
    assert ad.read(spark, base).count() == 25
    assert first.count() == 10  # the parent snapshot is retained
    record = json.loads((base / "_MANIFEST.json").read_text())
    assert record["snapshot_id"] == 2 and record["parent_snapshot_id"] == 1
    assert record["rows"] == 25
    # crash simulation: write without commit, then a fresh adapter
    # (process restart) must still resolve the committed snapshot
    ad.write(spark.range(3).select(F.col("id").alias("doc_id")), base)
    fresh = ParquetCatalogAdapter()
    assert fresh.committed_fingerprint(base) == fp2
    assert fresh.read(spark, base).count() == 25, "orphan must be invisible"


# ---------------------------------------------------------------------------
# shared_passages: verbatim containment triage
# ---------------------------------------------------------------------------


def test_shared_passages_containment(spark):
    """A later doc quoting an earlier passage verbatim scores n_shared
    for exactly the quoted windows; the owner (min doc_id) scores 0
    even when the same window recurs later; unrelated text scores 0."""
    from skosconverter_spark.operators.dedup import shared_passages

    passage = "w1 w2 w3 w4 w5"  # 5 tokens -> 3 windows at w=3
    docs = spark.createDataFrame(
        [
            (1, passage),
            (2, "x1 x2 " + passage),  # contains every passage window
            (3, "y1 y2 y3 y4 y5"),  # unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_windows, r.n_shared)
        for r in shared_passages(docs, w=3).collect()
    }
    assert got[1] == (3, 0)  # owner of the passage
    # doc 2: 7 tokens -> 5 windows; the 3 pure-passage windows are owned
    # by doc 1, the 2 bridge windows (x2 w1 w2 etc.) are its own
    assert got[2] == (5, 3)
    assert got[3] == (3, 0)


# ---------------------------------------------------------------------------
# property tests: independent Python brute-force oracles
# ---------------------------------------------------------------------------


def _py_shingles(text: str) -> set[str]:
    toks = [t for t in text.lower().split() if t]
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff gg hh".split()),
                 min_size=3, max_size=12).map(" ".join),
        min_size=4, max_size=10,
    )
)
def test_prop_prefix_jaccard_vs_python_bruteforce(spark, texts):
    """ngram_jaccard_prefix vs an independent pure-Python all-pairs
    computation over a tiny high-collision alphabet (every doc shares
    shingles with most others — the prefix filter's worst case)."""
    from skosconverter_spark.operators.dedup import ngram_jaccard_prefix

    tau = 0.4
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_prefix(docs, tau).collect()
    }
    sh = {i: _py_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] and sh[b]:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= tau:
                    want[(a, b)] = j
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


@settings(max_examples=6, deadline=None)
@given(st.sets(st.tuples(st.integers(0, 8), st.integers(0, 8)), max_size=20))
def test_prop_triangles_vs_python_bruteforce(spark, raw_edges):
    from itertools import combinations

    from skosconverter_spark.operators.graph import triangle_counts

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    und = {frozenset(e) for e in edges}
    nodes = {n for e in und for n in e}
    want = {}
    for x, y, z in combinations(sorted(nodes), 3):
        if {frozenset((x, y)), frozenset((x, z)), frozenset((y, z))} <= und:
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# extract_links: crawl link-graph construction
# ---------------------------------------------------------------------------


def test_extract_links_positions_and_edge_cases(spark):
    from skosconverter_spark.kg.extract import extract_links

    pages = spark.createDataFrame(
        [
            (
                "u1",
                '<a href="http://a/1">one</a><p>x</p>'
                '<a class="c" id="z" href="http://a/2">two words</a>',
            ),
            ("u2", "<html><body>no links at all</body></html>"),
            ("u3", None),
        ],
        "url string, html string",
    )
    got = [
        (r.src_url, r.pos, r.href, r.anchor)
        for r in extract_links(pages).orderBy("src_url", "pos").collect()
    ]
    assert got == [
        ("u1", 0, "http://a/1", "one"),
        ("u1", 1, "http://a/2", "two words"),
    ]  # no-link and null-html pages contribute nothing


# ---------------------------------------------------------------------------
# triangle_counts: degree-ordered wedge enumeration
# ---------------------------------------------------------------------------


def test_triangle_counts_planted(spark):
    """K4 (every node in C(3,2)=3 triangles) plus a pendant edge and a
    triangle-free path; duplicate/reversed/self-loop edges must not
    change counts."""
    from skosconverter_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 4), (5, 6), (6, 7)]  # pendant + path
    noisy = edges + [(b, a) for a, b in edges] + [(0, 1), (2, 2)]
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(
            spark.createDataFrame(noisy, "src long, dst long")
        ).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # pendant/path nodes absent


# ---------------------------------------------------------------------------
# lm_bigram_scores: corpus-trained LM quality triage
# ---------------------------------------------------------------------------


def test_lm_scores_rank_gibberish_above_template(spark):
    """Documents made of corpus-typical transitions score low nll; a
    document whose transitions appear nowhere else scores high. Scores
    are partition-independent (decimal-carried sums)."""
    from skosconverter_spark.functions.text import lm_bigram_scores

    template = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, template) for i in range(20)]
        + [(100, "zq xv qk jw vz kx wj qz vx kq")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.nll) for r in lm_bigram_scores(docs).collect()}
    assert got[0][0] == 8  # 9 tokens -> 8 bigrams
    assert got[100][1] > got[0][1], "unique transitions must score worse"
    again = {
        r.doc_id: (r.n_bigrams, r.nll)
        for r in lm_bigram_scores(docs.repartition(7)).collect()
    }
    assert again == got

"""Round-3 regression tests: the VERDICT/ADVICE findings from round 2,
each pinned so it cannot come back.

- hash_sample boundary semantics (fraction 0.0 / 1.0 / >1.0 / <0)
- range_join's exact fractional-second gap contract (sub-second
  timestamps used to slip through a second-truncated filter)
- asof_join's opt-in right-side (key, ts) uniqueness validation
- connected_components raising instead of silently returning a
  non-converged fixpoint
- validation_report's hard cap on the never-truncated checks
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------------------
# hash_sample boundaries (ADVICE: 9-hex-digit threshold kept ~6% at 1.0)
# --------------------------------------------------------------------------


def test_hash_sample_boundaries(spark):
    from skosconverter_spark.operators.filter import hash_sample

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    assert hash_sample(docs, 0.0).count() == 0
    assert hash_sample(docs, 1.0).count() == 2000  # was ~6% before the fix
    assert hash_sample(docs, 1.5).count() == 2000
    with pytest.raises(ValueError):
        hash_sample(docs, -0.1)
    # nestedness holds right up to the boundary
    s999 = {r.doc_id for r in hash_sample(docs, 0.999).collect()}
    s100 = {r.doc_id for r in hash_sample(docs, 1.0).collect()}
    assert s999 <= s100 and len(s100) == 2000


# --------------------------------------------------------------------------
# range_join exactness (ADVICE: unix_timestamp() truncation vs epoch())
# --------------------------------------------------------------------------


def test_range_join_exact_fractional_gap(spark):
    from skosconverter_spark.operators.temporal import range_join

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame(
        [
            # exact gap 300.4s: second-truncated diff is 300 <= 300, but the
            # contract is exact |Δts| <= 300 -> must be EXCLUDED
            (1, base + dt.timedelta(seconds=300, microseconds=400_000), "over"),
            # exact gap 299.9s -> included
            (1, base + dt.timedelta(seconds=299, microseconds=900_000), "under"),
            # exactly 300.0s -> included (<= is inclusive)
            (1, base + dt.timedelta(seconds=300), "edge"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, base, 1.0)], "user_id long, ts timestamp, value double"
    )
    got = {
        r.tag
        for r in range_join(left, right, ["user_id"], "ts", 300).collect()
    }
    assert got == {"under", "edge"}


def test_range_join_subsecond_gap(spark):
    """A fractional max_gap_seconds (0.5) must be honored exactly —
    round-3 ADVICE: gap.cast('long') truncated 0.5 → 0 in the verify
    gate, silently returning only exact-equal timestamps."""
    import pytest

    from skosconverter_spark.operators.temporal import range_join

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame(
        [
            (1, base + dt.timedelta(microseconds=400_000), "in_04"),
            (1, base + dt.timedelta(microseconds=500_000), "edge_05"),
            (1, base + dt.timedelta(microseconds=500_001), "out_0500001"),
            (1, base - dt.timedelta(microseconds=300_000), "in_neg03"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, base, 1.0)], "user_id long, ts timestamp, value double"
    )
    got = {
        r.tag
        for r in range_join(left, right, ["user_id"], "ts", 0.5).collect()
    }
    assert got == {"in_04", "edge_05", "in_neg03"}
    with pytest.raises(ValueError):
        range_join(left, right, ["user_id"], "ts", 0)


# --------------------------------------------------------------------------
# asof_join right-side uniqueness contract (ADVICE: docstring promised an
# assertion that didn't exist)
# --------------------------------------------------------------------------


def test_asof_join_validate_duplicates(spark):
    from skosconverter_spark.operators.temporal import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, T(5), "c1")], "user_id long, ts timestamp, tag string"
    )
    dup_right = spark.createDataFrame(
        [(1, T(3), 30.0), (1, T(3), 99.0)],
        "user_id long, ts timestamp, value double",
    )
    with pytest.raises(ValueError, match="duplicate"):
        asof_join(left, dup_right, ["user_id"], "ts", validate=True)
    # without the flag the join still runs (caller owns the contract)
    assert asof_join(left, dup_right, ["user_id"], "ts").count() == 1
    # a clean right side passes validation
    clean = spark.createDataFrame(
        [(1, T(3), 30.0), (1, T(4), 40.0)],
        "user_id long, ts timestamp, value double",
    )
    got = asof_join(left, clean, ["user_id"], "ts", validate=True).collect()
    assert got[0].right_value == 40.0


# --------------------------------------------------------------------------
# fixpoint convergence guards (ADVICE: silent split at diameter > budget)
# --------------------------------------------------------------------------


def _undirected(spark, pairs):
    e = spark.createDataFrame(pairs, "src string, dst string")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_connected_components_nonconvergence_raises(spark):
    from skosconverter_spark.kg.canonicalize import connected_components

    chain = _undirected(
        spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=3)
    comp = connected_components(chain, max_iterations=25)
    assert {r.component for r in comp.collect()} == {"n00"}


# --------------------------------------------------------------------------
# tf-idf keyword extraction (new operator, round 3)
# --------------------------------------------------------------------------


def test_tfidf_top_terms_known_values(spark):
    import math

    from skosconverter_spark.functions.text import tfidf_top_terms

    docs = docs_df(
        spark,
        [(1, "apple banana  apple"), (2, "banana cherry"), (3, "cherry cherry cherry")],
    )
    got = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.tfidf)
        for r in tfidf_top_terms(docs, k=5).collect()
    }
    ln3, ln15 = round(2 * math.log(3), 6), round(math.log(1.5), 6)
    assert got[(1, 1)] == ("apple", 2, 1, ln3)
    assert got[(1, 2)][0] == "banana"
    # doc 2: banana and cherry tie on tfidf -> term asc breaks it
    assert got[(2, 1)] == ("banana", 1, 2, ln15)
    assert got[(2, 2)][0] == "cherry"
    assert got[(3, 1)] == ("cherry", 3, 2, round(3 * math.log(1.5), 6))
    assert len(got) == 5


# --------------------------------------------------------------------------
# validation_report hard cap (VERDICT #7)
# --------------------------------------------------------------------------


def test_validation_report_hard_cap(spark):
    from skosconverter_spark.config import (
        EngineConfig,
        RDF_TYPE,
        SKOS_BROADER,
        SKOS_CONCEPT,
        SKOS_PREF_LABEL,
    )
    from skosconverter_spark.operators.validate import validation_report

    rows = []
    seq = 0
    for i in range(30):
        uri = f"http://x/c{i:02d}"
        rows.append((uri, RDF_TYPE, SKOS_CONCEPT, False, None, "t", seq)); seq += 1
        rows.append((uri, SKOS_PREF_LABEL, f"c{i:02d}", True, "en", "t", seq)); seq += 1
        rows.append((uri, SKOS_BROADER, uri, False, None, "t", seq)); seq += 1
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )
    issues, warnings = validation_report(triples, EngineConfig(), hard_cap=10)
    selfrefs = [l for l in issues if "has itself as" in l]
    assert len(selfrefs) == 10
    assert any(
        "and 20 more self references (report capped at 10)" in l for l in issues
    )
    # default cap is invisible on the same corpus
    issues_full, _ = validation_report(triples, EngineConfig())
    assert len([l for l in issues_full if "has itself as" in l]) == 30
    assert not any("report capped" in l for l in issues_full)

"""Round-6 optimization-round regression tests.

Each test pins an internals change made for performance (or a
correctness fix taken from ADVICE.md) to its observable contract:

- prefix-filter bound: exact decimal ceiling (ADVICE medium — double
  arithmetic overshot the true ceiling for many (τ, |A|) combos)
- unrolled fixed-dim cosine ≡ interpreted fold, bit for bit
- near-dup band rows: only the shingle kernel's own doc_id exchange
- catalog adapters record partitioned writes in their manifests
- a fresh adapter never serves an uncommitted orphan snapshot
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact prefix ceiling
# ---------------------------------------------------------------------------


def test_prefix_ceiling_exact_for_float_unsafe_tau(spark):
    """ceil(0.405·600) is 243 in exact arithmetic; the double product is
    243.00000000000003 whose ceil (244) shortened the lossless prefix by
    one. The operator must use the exact bound."""
    row = spark.range(1).select(
        F.ceil(
            F.lit(repr(0.405)).cast("decimal(20,18)") * F.lit(600).cast("bigint")
        ).alias("exact"),
        F.ceil(F.lit(0.405) * F.lit(600).cast("bigint")).alias("double_path"),
    ).collect()[0]
    assert row.exact == 243
    assert row.double_path == 244  # documents why the fix exists


def test_ngram_prefix_matches_all_pairs_at_unsafe_tau(spark):
    """Prefix join ≡ brute-force inverted-index join at a τ whose double
    ceiling rounds wrong (0.405): the lossless claim must not depend on
    float-safe thresholds."""
    from skosconverter_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = []
    for i in range(12):
        toks = [words[(i + k) % len(words)] for k in range(8 + (i % 5))]
        texts.append(" ".join(toks))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tau = 0.405
    brute = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, tau).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_prefix(docs, tau).collect()
    }
    assert pref == brute


# ---------------------------------------------------------------------------
# unrolled cosine ≡ fold
# ---------------------------------------------------------------------------


def test_unrolled_dot_bit_identical_to_fold(spark):
    """The codegen fast path must reproduce the interpreted left fold
    bit for bit — including sign-of-zero (the chain is seeded with
    lit(0.0) exactly like the fold) and null arrays."""
    import random

    from skosconverter_spark.operators import similarity as S

    rnd = random.Random(6)
    rows = []
    for i in range(50):
        v = [rnd.uniform(-1, 1) for _ in range(64)]
        rows.append((i, v))
    rows.append((50, [0.0] * 64))       # all-zero: 0/0 guard + ±0 folds
    rows.append((51, [-0.0] * 64))      # negative-zero products
    rows.append((52, None))             # null array
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.limit(5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    joined = df.crossJoin(q)

    out = joined.select(
        S.dot_fast(F.col("embedding"), F.col("qv")).alias("dot_fast"),
        S.dot(F.col("embedding"), F.col("qv")).alias("dot"),
        S.norm_fast(F.col("embedding")).alias("norm_fast"),
        S.norm(F.col("embedding")).alias("norm"),
    ).collect()
    assert len(out) == 53 * 5
    # repr tells -0.0 from 0.0, which == does not
    assert [repr((r.dot_fast, r.norm_fast)) for r in out] == [
        repr((r.dot, r.norm)) for r in out
    ]


def test_dot_guard_falls_back_for_other_dims(spark):
    from skosconverter_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "id long, a array<double>, b array<double>",
    )
    got = df.select(S.dot_fast(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert got == ((0.0 + 1.0 * 4.0) + 2.0 * 5.0) + 3.0 * 6.0


# ---------------------------------------------------------------------------
# near-dup band rows: the shingle kernel's one exchange, no other
# ---------------------------------------------------------------------------


def test_band_rows_plan_no_requirement_exchange(spark):
    """The band rows are the shingle kernel's doc_id repartition, its sort
    and one mapInArrow pass, then a posexplode: no exchange that a
    doc-keyed aggregation inserts (the groupBy signature this replaced
    shipped 134 MB of hex partials in round 6 when it did)."""
    from skosconverter_spark.operators.dedup import _doc_sets, minhash_band_rows

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4}") for i in range(20)],
        "doc_id long, text string",
    )
    rows = minhash_band_rows(_doc_sets(docs, "text", 3, 12, 4))
    plan = rows._jdf.queryExecution().executedPlan().toString()
    ensure = [
        line for line in plan.splitlines()
        if "Exchange" in line and "ENSURE_REQUIREMENTS" in line
    ]
    assert not ensure, f"band rows re-shuffled: {ensure}"
    assert "MapInArrow" in plan and rows.count() == 20 * 4


# ---------------------------------------------------------------------------
# catalog: partitioned manifests + uncommitted orphans
# ---------------------------------------------------------------------------


def test_partitioned_write_manifest_not_empty(spark, tmp_path):
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)], "id long, pred string"
    )
    ad = ParquetCatalogAdapter()
    ad.write(df, tmp_path / "t", partition_by=("pred",))
    assert sum(n for _, n in ad.partition_rows(tmp_path / "t")) == 30
    ad.commit(tmp_path / "t", "t", "fp", 30, 0)
    record = json.loads((tmp_path / "t" / "_MANIFEST.json").read_text())
    assert {f.split("/")[0] for f, _ in record["files"]} == {"pred=a", "pred=b", "pred=c"}
    assert sum(n for _, n in ParquetCatalogAdapter().partition_rows(tmp_path / "t")) == 30


def test_time_travel_rejects_uncommitted_orphan(spark, tmp_path):
    """An adapter that did not itself stage a write must not serve it:
    an uncommitted crash orphan is exactly the state the protocol exists
    to hide. The writer reads its own in-flight write."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter

    base = tmp_path / "t"
    df = spark.range(5).select(F.col("id").alias("doc_id"))
    writer = ParquetCatalogAdapter()
    writer.write(df, base)  # staged, never committed
    assert writer.read(spark, base).count() == 5
    fresh = ParquetCatalogAdapter()
    with pytest.raises(FileNotFoundError, match="no committed stage"):
        fresh.read(spark, base)
    writer.commit(base, "t", "fp", 5, 0)
    assert fresh.read(spark, base).count() == 5


def test_time_travel_rejects_orphan_below_later_commit(spark, tmp_path):
    """An orphan numbered below or above a later commit is still not
    committed: a fresh adapter serves the commit, and the record names
    the commit it replaced as its parent, not the orphan."""
    from skosconverter_spark.kg.catalog import ParquetCatalogAdapter

    base = tmp_path / "t"
    ad = ParquetCatalogAdapter()
    ad.write(spark.range(1).toDF("doc_id"), base)
    ad.commit(base, "t", "fp1", 1, 0)  # v1 committed
    ParquetCatalogAdapter().write(spark.range(2).toDF("doc_id"), base)  # v2 orphan
    ad.write(spark.range(3).toDF("doc_id"), base)
    ad.commit(base, "t", "fp3", 3, 0)  # v3 committed
    ParquetCatalogAdapter().write(spark.range(4).toDF("doc_id"), base)  # v4 orphan
    fresh = ParquetCatalogAdapter()
    assert fresh.read(spark, base).count() == 3
    assert json.loads((base / "_MANIFEST.json").read_text())["parent_snapshot_id"] == 1

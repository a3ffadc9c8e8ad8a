"""Differential test for the near-dup shingle kernel.

The kernel's exploded sets (``_doc_sets``) and ``minhash_lsh_pairs`` are
pinned against the DataFrame expressions that define a token and a
signature (``operators/dedup.py::shingles``, ``F.md5``), on texts built
to hit every tokenizer subtlety:

- Java-regex ``\\s`` whitespace: tab, ``\\x0b``, ``\\f`` and ``\\r\\n`` split
  tokens, while NBSP, U+2028 and ``\\x1c`` (Python whitespace, not Java)
  stay inside one;
- case folding: dotted capital I, sharp s, a final sigma, NFD accents,
  and capitals newer than the JVM's Unicode tables (U+2C2F, U+A7C0,
  U+10570), which a Python ``lower()`` would fold and Spark's does not;
- texts of 0, 1 and 2 tokens, the empty string and a null text;
- duplicate ``doc_id`` rows spread across Arrow batches, whose shingles
  merge into one document.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skosconverter_spark.operators.dedup import N_BANDS, N_MINHASH, shingles

_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
TEXTS = [
    "a\tb\tc d e",
    "x\x0by\x0bz w v",
    "p\fq\fr s t",
    "line one\r\nline two\r\nline three",
    "nb\xa0sp stays one token here",
    "ls\u2028sep stays one token too",
    "fs\x1csep stays inside a token",
    "İstanbul İSTANBUL istanbul city of cats",
    "STRASSE ß Straße STRASSE ẞ",
    "ΟΔΟΣ ΟΔΟΣ ΟΔΟΣ δρόμος ΣΑΣ",
    "Café café CAFÉ bar and more",
    "Ⱟ ⱟ Ꟁ ꟁ \U00010570 \U00010597 newer capitals",
    "   leading and   trailing blanks   ",
    "",
    None,
    "one",
    "one two",
    "one two three",
    _BASE,
    _BASE + " nu",
    _BASE.upper(),
    _BASE.replace(" ", "\t"),
    "xi omicron " + _BASE,
]
# (doc_id, text): one row per text, then more rows for docs 0, 3 and 17;
# doc 0 has three rows, so at two records per Arrow batch they must span
# a batch boundary
ROWS = list(enumerate(TEXTS)) + [
    (0, "a b c extra words here"),
    (0, "extra words here and a tail"),
    (3, "line three\tline four"),
    (17, _BASE + " pi rho"),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string").repartition(3)


def _kernel_shingles(docs):
    from skosconverter_spark.operators.dedup import _doc_sets

    return _doc_sets(docs, "text", 3, 0, 0).select("doc_id", F.explode("sh").alias("shingle"))


def _expected_shingles(docs):
    return docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle")).distinct()


def _expected_candidates(sh):
    r = N_MINHASH // N_BANDS
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.encode(F.concat(F.lit(f"{i}:"), "shingle"), "utf-8"))).alias(f"h{i}")
            for i in range(N_MINHASH)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(F.encode(F.concat_ws("|", *[F.col(f"h{b * r + j}") for j in range(r)]), "utf-8"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bands.withColumnRenamed("doc_id", "doc_a")
    b = bands.withColumnRenamed("doc_id", "doc_b")
    return {
        (row.doc_a, row.doc_b)
        for row in a.join(b, ["band", "bucket"]).filter("doc_a < doc_b").select("doc_a", "doc_b").collect()
    }


def _with_small_batches(spark, fn):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        return fn()
    finally:
        spark.conf.set(conf, old)


def test_kernel_sets_match_the_shingle_expression(spark):
    docs = _docs(spark)
    want = sorted(tuple(r) for r in _expected_shingles(docs).collect())
    got = _with_small_batches(spark, lambda: sorted(tuple(r) for r in _kernel_shingles(docs).collect()))
    assert got == want
    assert any("nb\xa0sp" in s for _, s in want) and any("\u2028" in s for _, s in want)
    assert {d for d, _ in want} >= {0, 3, 17}


def test_kernel_sets_keep_a_string_doc_id(spark):
    docs = _docs(spark).select(F.concat(F.lit("d"), "doc_id").alias("doc_id"), "text")
    got = _kernel_shingles(docs)
    assert dict(got.dtypes)["doc_id"] == "string"
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in _expected_shingles(docs).collect()
    )


def test_lsh_pairs_at_zero_threshold_are_the_bucket_collisions(spark):
    from skosconverter_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    sh = _expected_shingles(docs)
    want = _expected_candidates(sh)
    sets: dict[int, set[str]] = {}
    for r in sh.collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    got = _with_small_batches(
        spark, lambda: {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs, 0.0).collect()}
    )
    assert set(got) == want and len(want) >= 3
    for (a, b), jac in got.items():
        assert jac == pytest.approx(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), abs=1e-6)


def test_a_document_past_the_shingle_cap_fails_loudly(spark, monkeypatch):
    from skosconverter_spark.operators import dedup
    from skosconverter_spark.operators.decontaminate import fuzzy_contaminated_docs

    monkeypatch.setattr(dedup, "MAX_DOC_SHINGLES", 5)
    at_cap = (1, "a b c d e f g")  # 5 shingles
    docs = spark.createDataFrame([at_cap], "doc_id long, text string")
    assert dedup.minhash_lsh_pairs(docs, 0.5).count() == 0
    # doc 7's two rows hold 3 + 3 distinct shingles: past the cap only merged
    docs = spark.createDataFrame(
        [at_cap, (7, "one two three four five"), (7, "six seven eight nine ten")],
        "doc_id long, text string",
    )
    for run in (
        lambda: dedup.minhash_lsh_pairs(docs, 0.5),
        lambda: dedup.ngram_jaccard_prefix(docs, 0.5),
        lambda: fuzzy_contaminated_docs(docs, docs),
    ):
        with pytest.raises(Exception, match="document 7 has more than 5 distinct 3-gram shingles"):
            run().collect()
    # doc_shingles (the exact gate's expression path) joins no set whole: no cap
    assert dedup.doc_shingles(docs).count() == 11

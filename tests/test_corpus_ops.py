"""Round-3 corpus-operator batch: known-answer tests for the new
training-data-pipeline operators (each also has a DuckDB oracle in
__spark_entry__; these pin the semantics on planted inputs the synthetic
corpus can't exercise — e.g. actual PII hits, actual contamination).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_batch_operators_run_unchanged_on_streams(spark, tmp_path):
    """The corpus operators are pure Catalyst expressions, so the SAME
    functions accept a readStream DataFrame with no code changes — and
    an availableNow pass produces exactly the batch answer. This is the
    batch/streaming unification the Spark-first design buys."""
    from skosconverter_spark.functions.text import redact_pii
    from skosconverter_spark.operators.filter import hash_sample, quality_flags

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    words = " ".join(["the", "a", "of", "and", "word"] * 12)
    rows = [(i, f"doc {i} mail{i}@example.org " + words) for i in range(40)]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows, schema).write.parquet(in_dir)

    batch = spark.read.schema(schema).parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)

    def transform(df):
        clean = redact_pii(df).withColumnRenamed("clean_text", "text")
        return quality_flags(hash_sample(clean, 0.5, "doc_id"), min_words=10)

    out = transform(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    want = sorted(map(tuple, transform(batch).collect()))
    assert got == want and len(got) > 0


# --------------------------------------------------------------------------
# PII redaction (zero-hit on the synthetic corpus — this is the value test)
# --------------------------------------------------------------------------


def test_redact_pii_planted(spark):
    from skosconverter_spark.functions.text import redact_pii

    docs = docs_df(
        spark,
        [
            (1, "contact bob.smith+x@example.co.uk or alice@test.org today"),
            (2, "server at 192.168.1.250 and 10.0.0.1 rebooted"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here"),
        ],
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].clean_text == "contact <EMAIL> or <EMAIL> today"
    assert got[1].n_emails == 2 and got[1].n_ips == 0
    assert got[2].clean_text == "server at <IP> and <IP> rebooted"
    assert got[2].n_ips == 2
    assert got[3].clean_text == "call <PHONE> now"
    assert got[3].n_phones == 1
    assert got[4].clean_text == "nothing sensitive here"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (0, 0, 0)


# --------------------------------------------------------------------------
# decontamination (8-gram overlap, broadcast eval side)
# --------------------------------------------------------------------------


def test_decontaminate_planted(spark):
    from skosconverter_spark.operators.decontaminate import contaminated_docs

    bench = "the quick brown fox jumps over the lazy dog tonight"
    ev = docs_df(spark, [(100, bench)])
    corpus = docs_df(
        spark,
        [
            # shares the full 10-token window -> three 8-grams
            (1, "prefix " + bench + " suffix"),
            # shares 7 consecutive tokens only -> clean at n=8
            (2, "the quick brown fox jumps over the cat"),
            (3, "completely unrelated words in this one document here"),
        ],
    )
    hits = {r.doc_id: r.n_shared for r in contaminated_docs(corpus, ev, n=8).collect()}
    assert hits == {1: 3}
    # the plan must broadcast the eval side (no corpus shuffle for the join)
    plan = contaminated_docs(corpus, ev, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_incremental_new_docs_planted(spark):
    from skosconverter_spark.functions.text import fingerprint
    from skosconverter_spark.operators.dedup import incremental_new_docs

    existing = docs_df(spark, [(1, "already ingested doc")]).select(
        fingerprint(F.col("text")).alias("fp")
    )
    new = docs_df(
        spark,
        [
            (10, "ALREADY   ingested doc"),  # dup of corpus (normalized) -> dropped
            (11, "fresh document one"),
            (12, "fresh  DOCUMENT one"),  # within-batch dup of 11 -> min doc_id wins
            (13, "fresh document two"),
        ],
    )
    got = {r.doc_id for r in incremental_new_docs(existing, new).collect()}
    assert got == {11, 13}


def test_fuzzy_contaminated_docs_planted(spark):
    from skosconverter_spark.operators.decontaminate import fuzzy_contaminated_docs

    bench = " ".join(f"w{i}" for i in range(40))  # 38 distinct 3-shingles
    ev = docs_df(spark, [(100, bench)])
    corpus = docs_df(
        spark,
        [
            (1, bench + " tail tok"),  # near-copy: jaccard 38/40 = 0.95
            (2, " ".join(f"w{i}" for i in range(15))),  # prefix: 13/38 ≈ 0.34
            (3, "completely different words in every position here now"),
        ],
    )
    got = {(r.doc_id, r.eval_doc_id): r.jaccard
           for r in fuzzy_contaminated_docs(corpus, ev, threshold=0.8).collect()}
    assert got == {(1, 100): 0.95}
    # a zero-overlap doc can never be a candidate (bucket match implies a
    # shared min-shingle); the j=0.34 prefix doc is below the s-curve's
    # reliable zone at r=3 — only the disjoint doc is asserted about
    loose = {r.doc_id for r in fuzzy_contaminated_docs(corpus, ev, threshold=0.1).collect()}
    assert 1 in loose and 3 not in loose


# --------------------------------------------------------------------------
# Gopher repetition signals
# --------------------------------------------------------------------------


def test_repetition_flags_known(spark):
    from skosconverter_spark.operators.filter import repetition_flags

    docs = docs_df(
        spark,
        [
            (1, "spam spam spam spam spam"),  # top share 1.0, all dup 2-grams
            (2, "one two three four five six seven eight nine ten"),
            (3, "   "),  # no tokens
        ],
    )
    got = {r.doc_id: r for r in repetition_flags(docs).collect()}
    assert got[1].n_words == 5 and got[1].top_word_share == 1.0
    assert got[1].dup_2gram_frac == 0.75  # 4 bigrams, 1 distinct
    assert got[1].keep is False
    assert got[2].n_words == 10 and got[2].top_word_share == 0.1
    assert got[2].dup_2gram_frac == 0.0 and got[2].keep is True
    assert got[3].n_words == 0 and got[3].keep is False
    assert got[3].top_word_share is None


# --------------------------------------------------------------------------
# stratified sampling (per-stratum fractions, hash_sample-compatible)
# --------------------------------------------------------------------------


def test_stratified_sample_matches_per_stratum_hash_sample(spark):
    from skosconverter_spark.operators.filter import hash_sample, stratified_sample

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("zh")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    out = stratified_sample(
        docs, {"en": 0.3, "de": 1.0}, strata_col="lang", default_fraction=0.0
    )
    got = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    en_ref = hash_sample(docs.filter(F.col("lang") == "en"), 0.3).count()
    assert got.get("en") == en_ref  # same coordinate as hash_sample
    assert got.get("de") == 1000  # fraction 1.0 keeps the whole stratum
    assert "zh" not in got  # default 0.0 drops
    with pytest.raises(ValueError):
        stratified_sample(docs, {"en": -0.5})


# --------------------------------------------------------------------------
# corpus-level n-gram census
# --------------------------------------------------------------------------


def test_ngram_topk_known(spark):
    from skosconverter_spark.functions.text import ngram_topk

    docs = docs_df(
        spark,
        [(1, "a b a b c"), (2, "a b x"), (3, "c a b")],
    )
    got = [(r.ngram, r.n_occurrences, r.rank) for r in ngram_topk(docs, n=2, k=3).collect()]
    assert sorted(got, key=lambda x: x[2]) == [
        ("a b", 4, 1),
        ("b a", 1, 2),  # count-1 ties broken by ngram ascending
        ("b c", 1, 3),
    ]


def test_stratified_sample_nesting_and_disjoint_salts(spark):
    """The hash_sample guarantees must survive stratification: a smaller
    per-stratum fraction is a SUBSET of a larger one at the same salt,
    and different salts draw (near-)independent samples."""
    from skosconverter_spark.operators.filter import stratified_sample

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    small = {r.doc_id for r in stratified_sample(docs, {"en": 0.1, "de": 0.3}).collect()}
    big = {r.doc_id for r in stratified_sample(docs, {"en": 0.4, "de": 0.6}).collect()}
    assert small <= big
    other = {r.doc_id for r in stratified_sample(docs, {"en": 0.4, "de": 0.6}, salt="s2").collect()}
    assert other != big  # different salt, different draw


def test_pack_documents_partition_invariance(spark):
    """pack_id/pack_offset are pure functions of the shard's doc_id
    order — repartitioning the input must not change a single row."""
    from skosconverter_spark.operators.filter import pack_documents

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), (F.col("id") % 17 + 1).cast("int"))).alias("text"),
        (F.col("id") % 5).cast("string").alias("source"),
    )
    a = sorted(map(tuple, pack_documents(docs, 64).collect()))
    b = sorted(map(tuple, pack_documents(docs.repartition(13), 64).collect()))
    assert a == b
    # exactness: within each shard, offsets advance by n_tokens mod L
    by_shard = {}
    for source, doc_id, n, pid, off in a:
        by_shard.setdefault(source, []).append((doc_id, n, pid, off))
    for rows in by_shard.values():
        rows.sort()
        cum = 0
        for _, n, pid, off in rows:
            assert (pid, off) == (cum // 64, cum % 64)
            cum += n


# --------------------------------------------------------------------------
# label centroids (decimal-exact distributed mean)
# --------------------------------------------------------------------------


def test_label_centroids_known(spark):
    from skosconverter_spark.operators.similarity import label_centroids

    vecs = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),
            (2, 0, [3.0, 6.0]),
            (3, 1, [5.0, 5.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {(r.label, r.pos): (r.n_vectors, r.centroid) for r in label_centroids(vecs).collect()}
    assert got == {
        (0, 0): (2, 2.0),
        (0, 1): (2, 4.0),
        (1, 0): (1, 5.0),
        (1, 1): (1, 5.0),
    }


def test_kmeans_separates_planted_clusters(spark):
    from skosconverter_spark.operators.similarity import kmeans_fit

    # two tight planted clusters around (0,0) and (10,10)
    pts = [(i, [0.0 + i * 0.1, 0.0 - i * 0.1]) for i in range(5)] + [
        (10 + i, [10.0 + i * 0.1, 10.0 - i * 0.1]) for i in range(5)
    ]
    vecs = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = {
        (r.centroid_id, r.pos): r.centroid
        for r in kmeans_fit(vecs, k=2, iterations=3).collect()
    }
    # k-means must recover the two cluster means (0.2, -0.2) and (10.2, 9.8)
    centers = sorted(
        (got[(c, 0)], got[(c, 1)]) for c in {c for c, _ in got}
    )
    assert centers == [(0.2, -0.2), (10.2, 9.8)]
    # fixpoint: one more iteration changes nothing (assignments stable)
    again = {
        (r.centroid_id, r.pos): r.centroid
        for r in kmeans_fit(vecs, k=2, iterations=4).collect()
    }
    assert sorted(got.values()) == sorted(again.values())


def test_pack_documents_known(spark):
    from skosconverter_spark.operators.filter import pack_documents

    docs = spark.createDataFrame(
        [
            # shard A: 3 docs of 3/4/2 tokens, context_len 5
            (1, "a b c", "A"),
            (2, "d e f g", "A"),
            (3, "h i", "A"),
            # shard B: independent numbering
            (10, "x y z w v u", "B"),
            (11, "q", "B"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.pack_id, r.pack_offset)
        for r in pack_documents(docs, context_len=5).collect()
    }
    assert got[1] == (3, 0, 0)
    assert got[2] == (4, 0, 3)  # starts in pack 0, spans into pack 1
    assert got[3] == (2, 1, 2)  # 7 tokens before -> pack 1, offset 2
    assert got[10] == (6, 0, 0)  # shard B restarts at pack 0
    assert got[11] == (1, 1, 1)


# --------------------------------------------------------------------------
# exact length deciles
# --------------------------------------------------------------------------


def test_length_deciles(spark):
    from skosconverter_spark.functions.text import corpus_length_deciles

    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"), (F.col("id") * 10).alias("n_chars")
    )
    got = {r.decile: r for r in corpus_length_deciles(docs).collect()}
    assert len(got) == 10
    assert all(r.n_docs == 2 for r in got.values())
    assert (got[1].min_len, got[1].max_len, got[1].mean_len) == (0, 10, 5.0)
    assert (got[10].min_len, got[10].max_len, got[10].mean_len) == (180, 190, 185.0)

"""Repo-local tests for the training-data extension operators.

Until round 2 these operators (dedup, similarity, text, multimodal,
events) were verified ONLY by the driver's DuckDB oracle; a regression
would not be caught by ``pytest tests/``. These are planted known-answer
cases plus a DuckDB oracle-parity sweep at sf0.001, so the suite alone
guards the whole extension surface.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


def test_exact_duplicates_planted(spark):
    from skosconverter_spark.operators.dedup import exact_duplicates

    docs = docs_df(
        spark,
        [
            (1, "Hello World"),
            (2, "hello   world"),  # same after whitespace/lowercase norm
            (3, "something else entirely"),
            (4, "Hello World"),
        ],
    )
    got = {r.fp: r for r in exact_duplicates(docs).collect()}
    assert len(got) == 1
    (grp,) = got.values()
    assert grp.n_docs == 3
    assert grp.representative == 1
    assert list(grp.doc_ids) == [1, 2, 4]
    expected_fp = hashlib.md5(b"hello world").hexdigest()
    assert grp.fp == expected_fp


def test_ngram_jaccard_known_value(spark):
    from skosconverter_spark.operators.dedup import ngram_jaccard_pairs

    # shingles(3): {abc,bcd,cde} vs {abc,bcd,cdf} -> |∩|=2, |∪|=4 -> 0.5
    docs = docs_df(spark, [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w q")])
    got = ngram_jaccard_pairs(docs, 0.5).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(1, 2, 0.5)]
    assert ngram_jaccard_pairs(docs, 0.6).count() == 0


def test_minhash_lsh_subset_of_exact(spark):
    from skosconverter_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = docs_df(
        spark,
        [
            (1, base),
            (2, base),  # identical: collides in EVERY band -> must be found
            (3, base + " tail"),
            (4, "completely different text about unrelated topic matter here"),
        ],
    )
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs, 0.5).collect()}
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, 0.5).collect()
    }
    assert (1, 2) in lsh and lsh[(1, 2)] == 1.0
    # LSH verified pairs are a subset of the exact pairs, with equal scores
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]


def test_simhash_deterministic_and_groups_identical(spark):
    from skosconverter_spark.operators.dedup import simhash

    docs = docs_df(
        spark,
        [(1, "alpha beta gamma"), (2, "ALPHA  beta   gamma"), (3, "delta epsilon")],
    )
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert got[1] == got[2]  # norm_tokens lowercases + collapses whitespace
    assert got[1] != got[3]
    assert all(0 <= v < (1 << 16) for v in got.values())
    again = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert got == again


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def test_cosine_topk_known_ranking(spark):
    from skosconverter_spark.operators.similarity import cosine_topk

    vectors = vec_df(
        spark,
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.6, 0.8]), (3, [0.8, 0.6])],
    )
    got = (
        cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
        .orderBy("rank")
        .collect()
    )
    assert [(r.neighbor_id, r.rank) for r in got] == [(3, 1), (2, 2)]
    assert got[0].score == pytest.approx(0.8, abs=1e-6)
    assert got[1].score == pytest.approx(0.6, abs=1e-6)


def test_ivf_topk_recall_vs_exact(spark):
    from skosconverter_spark.operators.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=3).collect()
    }
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_topk(e, q, k=3, centroid_mod=23).collect()}
    # one-bucket recall is lossy by design but must stay a real ANN result:
    # every query answered, all neighbors valid, recall above a floor
    assert {qid for qid, _ in ivf} == {qid for qid, _ in exact}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.2, f"ivf recall collapsed: {recall}"


def test_embedding_neardup_bucketed_full_recall_on_true_neardups(spark):
    from skosconverter_spark.operators.similarity import (
        embedding_neardup_bucketed,
        embedding_neardup_pairs,
    )

    # two tight clusters around the two centroids (ids 0 and 5, mod 5);
    # every true near-dup pair (cos >= 0.99) is within one bucket
    vectors = vec_df(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.99, 0.1, 0.0, 0.0]),
            (2, [1.0, 0.01, 0.0, 0.0]),
            (5, [0.0, 1.0, 0.0, 0.0]),
            (6, [0.1, 0.99, 0.0, 0.0]),
            (7, [0.0, 1.0, 0.01, 0.0]),
        ],
    )
    exact = {
        (r.id_a, r.id_b): r.score
        for r in embedding_neardup_pairs(vectors, 0.99).collect()
    }
    bucketed = {
        (r.id_a, r.id_b): r.score
        for r in embedding_neardup_bucketed(vectors, 0.99, centroid_mod=5).collect()
    }
    assert exact  # the plant produced true near-dups
    assert bucketed == exact  # recall 1.0 on true near-dups, scores identical


def test_embedding_neardup_bucketed_subset_at_loose_threshold(spark):
    from skosconverter_spark.operators.similarity import (
        embedding_neardup_bucketed,
        embedding_neardup_pairs,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(e, 0.35).collect()}
    bucketed = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_bucketed(e, 0.35, centroid_mod=23).collect()
    }
    assert bucketed <= exact
    assert bucketed  # finds in-bucket pairs


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def test_token_counts_known_values(spark):
    from skosconverter_spark.functions.text import bpe_ish_token_count, token_count

    docs = docs_df(spark, [(1, "a  b\tc"), (2, "Hello, world!"), (3, "x")])
    got = {
        r.doc_id: (r.n, r.m)
        for r in docs.select(
            "doc_id",
            token_count(F.col("text")).alias("n"),
            bpe_ish_token_count(F.col("text")).alias("m"),
        ).collect()
    }
    assert got[1] == (3, 3)
    assert got[2] == (2, 4)  # Hello , world !
    assert got[3] == (1, 1)


def test_quality_features_exact_rationals(spark):
    from skosconverter_spark.functions.text import quality_features

    docs = docs_df(spark, [(1, "the cat, and a hat!")])
    r = quality_features(docs).collect()[0]
    assert r.n_chars == 19
    assert r.n_tokens == 5
    assert r.n_stopwords == 3  # the, and, a
    assert r.punct_ratio == pytest.approx(2 / 19)
    assert r.stopword_ratio == pytest.approx(3 / 5)


def test_fingerprint_matches_hashlib(spark):
    from skosconverter_spark.functions.text import fingerprint

    docs = docs_df(spark, [(1, "  The   QUICK fox  ")])
    r = docs.select(fingerprint(F.col("text")).alias("fp")).collect()[0]
    assert r.fp == hashlib.md5(b"the quick fox").hexdigest()


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (public MOSS property): any shared substring
    of length >= w + k - 1 yields at least one shared fingerprint;
    identical docs have identical sketches; too-short docs vanish."""
    from skosconverter_spark.functions.text import winnow_fingerprints

    docs = docs_df(
        spark,
        [
            (1, "abcdefghijklmnop"),
            (2, "zzz abcdefghijklmnop"),  # shares a 16-char run with 1
            (3, "1234567"),  # 7 norm chars < k + w - 1 = 8 -> no window
            (4, "ABCDEFGHIJKLMNOP"),  # identical to 1 after lowering
        ],
    )
    fps = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert 3 not in fps
    assert fps[1] == fps[4]
    assert fps[1] & fps[2]  # shared substring -> shared fingerprint
    assert all(len(f) == 32 for f in fps[1])  # md5 hex


def test_lang_id_pinned_snippets(spark):
    from skosconverter_spark.functions.text import lang_id

    docs = docs_df(
        spark,
        [
            (1, "the cat and the dog sat in the middle of the garden"),
            (2, "ich habe einen schönen geschenk von der schule bekommen"),
            (3, "le président de la république a dit que le gouvernement"),
            (4, "la casa de el señor está en la ciudad que hemos visitado"),
            (5, "een van de mensen van een ijsje in de winkel"),
            (6, "zzz qqq kkk"),
            (7, ""),
        ],
    )
    got = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "nl", 6: "und", 7: None}


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def test_byte_stats_and_media_schema(spark):
    from skosconverter_spark.operators.multimodal import (
        byte_stats,
        media_from_documents,
    )

    docs = docs_df(spark, [(0, "abc"), (1, "xy"), (2, "")])
    media = media_from_documents(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    got = {r.media_id: r for r in byte_stats(media).collect()}
    assert (got[0].kind, got[1].kind, got[2].kind) == ("image", "audio", "video")
    assert got[0].n_bytes == 3 and got[2].n_bytes == 0
    assert got[0].payload_md5 == hashlib.md5(b"abc").hexdigest()


def test_featurize_histogram_and_empty_payload(spark):
    from skosconverter_spark.operators.multimodal import (
        featurize,
        media_from_documents,
    )

    docs = docs_df(spark, [(0, "abc"), (2, "")])
    got = {r.media_id: r for r in featurize(media_from_documents(docs), dims=8).collect()}
    # "abc" = bytes 97,98,99 -> buckets 1,2,3 each 1/3
    expect = [0.0, 1 / 3, 1 / 3, 1 / 3, 0.0, 0.0, 0.0, 0.0]
    assert got[0].n_bytes == 3
    assert list(got[0].features) == pytest.approx(expect)
    assert got[2].n_bytes == 0
    assert list(got[2].features) == [0.0] * 8


# --------------------------------------------------------------------------
# events / classic aggregation (through the driver-contract queries)
# --------------------------------------------------------------------------


def test_events_window_agg_manual(spark):
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 10, 5), "click", 1, 1.5),
            (dt.datetime(2024, 1, 1, 10, 55), "click", 2, 2.5),
            (dt.datetime(2024, 1, 1, 11, 5), "click", 1, 4.0),
            (dt.datetime(2024, 1, 1, 10, 30), "view", 3, 1.0),
        ],
        "ts timestamp, event_type string, user_id long, value double",
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(14,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        ).collect()
    }
    assert got[(dt.datetime(2024, 1, 1, 10, 0), "click")] == (2, 4.0)
    assert got[(dt.datetime(2024, 1, 1, 11, 0), "click")] == (1, 4.0)
    assert got[(dt.datetime(2024, 1, 1, 10, 0), "view")] == (1, 1.0)


# --------------------------------------------------------------------------
# oracle-parity sweep: every extension queries() entry vs DuckDB at sf0.001
# --------------------------------------------------------------------------

EXTENSION_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk",
    "ann_ivf_topk",
    "embedding_neardup",
    "embedding_neardup_bucketed",
    "embedding_neardup_srp",
    "text_token_count",
    "text_quality",
    "text_fingerprint",
    "text_langid",
    "text_winnow",
    "corpus_quality_filter",
    "corpus_hash_sample",
    "multimodal_byte_stats",
    "multimodal_features",
    "events_window_agg",
    "events_asof",
    "events_sessions",
    "events_range_join",
    "events_rollup",
    "events_top_users",
    "lineitem_pricing",
    "corpus_line_dedup",
    "corpus_domain_caps",
    "corpus_c4_filter",
    "corpus_url_dedup",
    # validator family over the dirty bridge (round 4)
    "skos_val_duplicate_uris",
    "skos_val_missing_labels",
    "skos_val_multiple_preflabels",
    "skos_val_self_references",
    "skos_val_no_scheme",
    "skos_val_duplicate_labels",
    "skos_val_top_inconsistencies",
    "skos_val_orphans",
    "skos_val_cycles",
    "skos_val_depths",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    from tools.oracle_check import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EXTENSION_QUERIES)
def test_extension_oracle_parity(spark, duck, name):
    import __spark_entry__ as e
    from tools.oracle_check import df_to_rows

    sdf = e.queries()[name](spark, SF_DIR)
    srows, scols = df_to_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = duck.sql(e.oracle_sql()[name])
    orows, ocols = df_to_rows(res.columns, res.fetchall())
    assert scols == ocols
    assert len(srows) == len(orows)
    assert srows == orows


def test_quality_flags_known_values(spark):
    from skosconverter_spark.operators.filter import quality_flags

    good = "the quick brown fox jumps over a lazy dog in the field " * 5
    docs = docs_df(
        spark,
        [
            (1, good),                      # passes every rule
            (2, "word " * 60),              # no stopwords -> dropped
            (3, "aa " * 60 + "the a of"),   # mean word len < 3 -> dropped
            (4, "the a of it"),             # too short -> dropped
        ],
    )
    got = {r.doc_id: r for r in quality_flags(docs, min_words=50).collect()}
    assert got[1].keep is True
    assert got[1].n_words == 60
    assert got[2].keep is False and got[2].stopword_hits == 0
    assert got[3].keep is False and got[3].mean_word_len < 3.0
    assert got[4].keep is False and got[4].n_words == 4


def test_hash_sample_deterministic_nested_disjoint(spark):
    from skosconverter_spark.operators.filter import hash_sample

    docs = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s10 = {r.doc_id for r in hash_sample(docs, 0.10).collect()}
    s20 = {r.doc_id for r in hash_sample(docs, 0.20).collect()}
    assert s10 == {r.doc_id for r in hash_sample(docs.repartition(13), 0.10).collect()}
    assert s10 < s20  # nested: smaller fraction is a subset
    assert 0.05 < len(s10) / 5000 < 0.15 and 0.15 < len(s20) / 5000 < 0.25
    other = {r.doc_id for r in hash_sample(docs, 0.10, salt="v2").collect()}
    assert other != s10  # salts give independent draws


# --------------------------------------------------------------------------
# temporal operators: as-of join, sessionization
# --------------------------------------------------------------------------


def test_asof_join_known_answers(spark):
    import datetime as dt

    from skosconverter_spark.operators.temporal import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, T(5), "c1"), (1, T(20), "c2"), (2, T(7), "c3"), (3, T(1), "c4")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(3), 30.0), (1, T(20), 40.0), (2, T(9), 50.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r.tag: (r.view_ts, r.view_value)
        for r in asof_join(left, right, ["user_id"], "ts", "view_").collect()
    }
    assert got["c1"] == (T(3), 30.0)   # latest preceding
    assert got["c2"] == (T(20), 40.0)  # equal ts IS visible (>= semantics)
    assert got["c3"] == (None, None)   # right row is later -> no match
    assert got["c4"] == (None, None)   # user has no right rows at all


def test_session_windows_known_answers(spark):
    import datetime as dt

    from skosconverter_spark.operators.temporal import session_windows

    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    ev = spark.createDataFrame(
        [
            (1, T(10, 0), 1.0),
            (1, T(10, 20), 2.0),   # within 30min gap -> same session
            (1, T(11, 30), 4.0),   # >30min after previous -> new session
            (2, T(10, 0), 8.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in session_windows(ev, "30 minutes").collect()
    }
    assert got[(1, T(10, 0))] == (T(10, 50), 2, 3.0)  # end = last + gap
    assert got[(1, T(11, 30))] == (T(12, 0), 1, 4.0)
    assert got[(2, T(10, 0))] == (T(10, 30), 1, 8.0)


def test_range_join_band_exactness(spark):
    import datetime as dt

    from skosconverter_spark.operators.temporal import range_join

    T = lambda s: dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, T(0)), (1, T(100)), (2, T(50))], "user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        # planted at bucket boundaries: exactly gap apart, one past gap,
        # one in a neighboring bucket
        [(1, T(60)), (1, T(61)), (1, T(160)), (2, T(49))],
        "user_id long, ts timestamp",
    )
    pairs = {
        (r.user_id, r.ts, r.view_ts)
        for r in range_join(left, right, ["user_id"], "ts", 60, "view_").collect()
    }
    # brute-force expectation: |Δ| <= 60s
    lrows = [(1, T(0)), (1, T(100)), (2, T(50))]
    rrows = [(1, T(60)), (1, T(61)), (1, T(160)), (2, T(49))]
    expect = {
        (ul, tl, tr)
        for ul, tl in lrows
        for ur, tr in rrows
        if ul == ur and abs((tl - tr).total_seconds()) <= 60
    }
    assert pairs == expect  # each qualifying pair exactly once, none extra
    assert (1, T(0), T(60)) in pairs      # boundary: exactly gap apart
    assert (1, T(0), T(61)) not in pairs  # one second beyond


def test_time_rollup_hierarchy_consistent(spark):
    import datetime as dt

    from skosconverter_spark.operators.temporal import time_rollup

    ev = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 10, 0, 30), 1.0),
            (dt.datetime(2024, 1, 1, 10, 0, 45), 2.0),
            (dt.datetime(2024, 1, 1, 10, 59, 0), 4.0),
            (dt.datetime(2024, 1, 2, 0, 0, 0), 8.0),
        ],
        "ts timestamp, value double",
    )
    rows = time_rollup(ev).collect()
    by_grain = {}
    for r in rows:
        by_grain.setdefault(r.grain, []).append(r)
    # every grain accounts for every event and the full value mass
    for g in ("minute", "hour", "day"):
        assert sum(r.n_events for r in by_grain[g]) == 4
        assert sum(r.total_value for r in by_grain[g]) == 15.0
    assert len(by_grain["minute"]) == 3  # two events share a minute
    assert len(by_grain["hour"]) == 2
    assert len(by_grain["day"]) == 2


def test_embedding_neardup_srp_properties(spark):
    from skosconverter_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_srp,
        srp_signature,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # identical vectors share every signature band -> always candidates
    dup = e.limit(5).select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    planted = e.unionByName(dup)
    found = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_srp(planted, 0.999999).collect()
    }
    assert {(i, i + 10_000) for i in range(5)} <= found
    # candidates are verified: srp results are a subset of brute force
    exact = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(e, 0.35).collect()}
    srp = {(r.id_a, r.id_b) for r in embedding_neardup_srp(e, 0.35).collect()}
    assert srp <= exact and srp
    # signatures are deterministic bit-strings
    sigs = {r.vec_id: r.sig for r in srp_signature(e.limit(20)).collect()}
    assert all(len(s) == 16 and set(s) <= {"0", "1"} for s in sigs.values())
    again = {r.vec_id: r.sig for r in srp_signature(e.limit(20)).collect()}
    assert sigs == again


def test_prepare_corpus_cascade(spark):
    """quality -> exact dedup -> near-dup CC -> survivors, planted cases
    for every stage; keep policy = min doc_id throughout."""
    from skosconverter_spark.operators.corpus_pipeline import prepare_corpus_ids

    base = (
        "the quick brown fox jumps over a lazy dog in the green field "
        "while the other animals of the forest watch it go by today "
    ) * 2
    docs = docs_df(
        spark,
        [
            (1, base),                         # survives (representative)
            (2, base.upper()),                 # exact dup of 1 (normalized)
            (3, base + "bonus trailing words"),# near dup of 1 (high jaccard)
            (4, "too short"),                  # quality-dropped
            (5, base.replace("fox", "owl").replace("dog", "cat").replace("green", "red").replace("forest", "meadow")),
        ],
    )
    kept = {r.doc_id for r in prepare_corpus_ids(docs, min_words=20).collect()}
    assert 1 in kept and 5 in kept
    assert 2 not in kept      # exact duplicate
    assert 3 not in kept      # near duplicate (same CC component as 1)
    assert 4 not in kept      # failed quality

"""Driver contract: flagship entry, per-operator queries, DuckDB oracles.

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(or a training-data extension) through the engine's own modules; the
matching ``oracle_sql()`` entry re-derives the same result in ANSI SQL
over the same parquet tables. Hash discipline for oracle parity:

- only md5 (bit-identical across Spark/DuckDB) — never engine hashes
- floating aggregation only through exact forms: integer rationals,
  DECIMAL(_,2) sums cast to double at the end, or ordered left-fold
  dot products (identical double streams in both engines)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.tpch_bridge import ORACLE_CHAIN_CTE, triples_from_tpch


def _fan_out(spark, df):
    """Scale-adaptive scan parallelism (guide §2/§6): the local corpus
    tables are single-row-group parquet files, so every scan plans as
    ONE task and any CPU-dense pass downstream of it (per-token md5
    votes, Arrow kernels, pair cosines — embedding_neardup measured 43 s
    on one core) serializes until the first shuffle. Fan the tiny scan
    out to the session's parallelism once; a real multi-file corpus
    already carries at least that many scan partitions and this is a
    no-op with no shuffle added.

    The probe, ``df.rdd.getNumPartitions()``, plans the scan once more.
    Measured warm at sf0.1 (local[4], 4-CPU box, median of 5 per caller):
    ``_docs`` 44 ms, ``_emb`` 34 ms, ``_dedup_corpus`` 70 ms, less than
    the 88–129 ms of the ``spark.read`` it follows. A check that plans
    nothing would have to re-derive Spark's file splitting, so it stays."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _docs(spark, sf_dir):
    return _fan_out(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark, sf_dir):
    return _fan_out(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full forward path (guarded triple collect →
    hierarchy assembly → DFS row table) over the vocabulary bridged from
    region/nation."""
    from skosconverter_spark.operators.render import document_rows

    triples = triples_from_tpch(spark, "/root/testdata/sf0.001")
    return (
        document_rows(triples, EngineConfig())
        .filter(F.col("origin") != "ghost")  # markdown-only separator slots
        .select("uri", "label", "level", "section", "parent_label", "scheme_label")
    )


# --------------------------------------------------------------------------
# SKOS graph operators over the tpch bridge
# --------------------------------------------------------------------------


def q_skos_levels(spark, sf_dir):
    from skosconverter_spark.plans.hierarchy import dfs_rows

    rows = dfs_rows(triples_from_tpch(spark, sf_dir), EngineConfig())
    return rows.filter(F.col("origin") != "ghost").select(
        "uri", "label", "level", "section"
    )


def _bridge_index(spark, sf_dir):
    """The bridge vocabulary's triple index, from one guarded collect."""
    from skosconverter_spark.plans.local_dfs import collect_triples, index_triples

    return index_triples(collect_triples(triples_from_tpch(spark, sf_dir)))


def q_skos_closure(spark, sf_dir):
    from skosconverter_spark.kg.canonicalize import closure_local
    from skosconverter_spark.plans.local_dfs import assemble

    parent = assemble(_bridge_index(spark, sf_dir)).parent
    return spark.createDataFrame(
        closure_local(parent.items()), "descendant string, ancestor string"
    )


def q_skos_best_label(spark, sf_dir):
    from skosconverter_spark.plans.local_dfs import assemble, best_label_fn

    index = _bridge_index(spark, sf_dir)
    h = assemble(index)
    best_label = best_label_fn(index[0], EngineConfig(preferred_language="fr"))
    return spark.createDataFrame(
        [(u, best_label(u)) for u in h.concepts + h.schemes], "uri string, label string"
    )


def q_skos_orphans(spark, sf_dir):
    from skosconverter_spark.plans.local_dfs import assemble

    h = assemble(_bridge_index(spark, sf_dir))
    return spark.createDataFrame(
        [(o, h.concept_to_scheme.get(o)) for o in h.orphans], "uri string, scheme string"
    )


def q_skos_polyhierarchy(spark, sf_dir):
    from skosconverter_spark.operators.validate import polyhierarchy

    t = triples_from_tpch(spark, sf_dir)
    return polyhierarchy(t).select(
        "uri",
        F.size("parents").alias("n_parents"),
        F.array_join("parents", ",").alias("parents"),
    )


# --------------------------------------------------------------------------
# validator family (SURVEY §2 A1-A4/J5-J8/F8/R1-R2) over the DIRTY bridge:
# the clean vocabulary plus deterministically planted defects
# (tpch_bridge.dirty_triples_from_tpch documents every rule)
# --------------------------------------------------------------------------


def _dirty(spark, sf_dir):
    from skosconverter_spark.tpch_bridge import dirty_triples_from_tpch

    return dirty_triples_from_tpch(spark, sf_dir)


def q_skos_val_duplicate_uris(spark, sf_dir):
    from skosconverter_spark.operators.validate import duplicate_uris

    return duplicate_uris(_dirty(spark, sf_dir)).select(
        "uri", F.col("count").alias("n_types")
    )


def q_skos_val_missing_labels(spark, sf_dir):
    from skosconverter_spark.operators.validate import missing_labels

    return missing_labels(_dirty(spark, sf_dir)).select("uri")


def q_skos_val_multiple_preflabels(spark, sf_dir):
    from skosconverter_spark.operators.validate import multiple_pref_labels

    return multiple_pref_labels(_dirty(spark, sf_dir)).select(
        "uri",
        "lang",
        F.array_join("labels", ",").alias("labels"),
        F.size("labels").alias("n_labels"),
    )


def q_skos_val_self_references(spark, sf_dir):
    from skosconverter_spark.operators.validate import self_references

    return self_references(_dirty(spark, sf_dir)).select("uri", "kind")


def q_skos_val_no_scheme(spark, sf_dir):
    from skosconverter_spark.operators.validate import concepts_without_schemes

    return concepts_without_schemes(_dirty(spark, sf_dir)).select("uri")


def q_skos_val_duplicate_labels(spark, sf_dir):
    from skosconverter_spark.operators.validate import duplicate_labels

    return duplicate_labels(_dirty(spark, sf_dir)).select(
        "label",
        F.array_join("uris", ",").alias("uris"),
        F.size("uris").alias("n_uris"),
    )


def q_skos_val_top_inconsistencies(spark, sf_dir):
    from skosconverter_spark.operators.validate import top_concept_inconsistencies

    return top_concept_inconsistencies(_dirty(spark, sf_dir)).select(
        "scheme", "direction", F.array_join("concepts", ",").alias("concepts")
    )


def q_skos_val_orphans(spark, sf_dir):
    from skosconverter_spark.operators.validate import validator_orphans

    return validator_orphans(_dirty(spark, sf_dir)).select("uri")


def q_skos_val_cycles(spark, sf_dir):
    from skosconverter_spark.operators.validate import circular_references

    return circular_references(_dirty(spark, sf_dir), EngineConfig()).select(
        F.array_join("cycle", " -> ").alias("cycle")
    )


def q_skos_val_depths(spark, sf_dir):
    from skosconverter_spark.operators.validate import hierarchy_depths

    return hierarchy_depths(_dirty(spark, sf_dir), EngineConfig()).select(
        "root", "depth"
    )


# --------------------------------------------------------------------------
# deduplication (documents corpus with planted exact + near duplicates)
# --------------------------------------------------------------------------


def _dedup_corpus(spark, sf_dir):
    """documents ∪ exact copies (+2e6 ids) ∪ perturbed copies (+1e6 ids)."""
    # raw read (not _docs): the fan-out happens once AFTER the 3-branch
    # union, not per branch
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = d.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    near = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    # the 3-branch union scans as 3 tasks, serializing every CPU-dense
    # downstream pass (shingle explode, k×md5 signatures) on 3 cores
    # (measured: 10 s + 29 s of task CPU on 3 and 10 tasks respectively)
    return _fan_out(spark, d.unionByName(exact).unionByName(near))


_DEDUP_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 2000000, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text || ' the end' FROM documents
)
"""


def q_dedup_exact(spark, sf_dir):
    from skosconverter_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_dedup_corpus(spark, sf_dir)).select(
        "fp", "n_docs", "representative"
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    from skosconverter_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_dedup_corpus(spark, sf_dir), 0.8)


def q_dedup_ngram_prefix(spark, sf_dir):
    """Prefix-filtered EXACT jaccard join (SSJoin/PPJoin rule): lossless
    by construction, so it shares the all-pairs oracle verbatim."""
    from skosconverter_spark.operators.dedup import ngram_jaccard_prefix

    return ngram_jaccard_prefix(_dedup_corpus(spark, sf_dir), 0.8)


def q_dedup_shared_passages(spark, sf_dir):
    """Verbatim-passage containment over the planted-duplicates corpus:
    exact copies share every window, '...the end' perturbations all but
    the tail, originals own their windows (n_shared = 0 up to cross-doc
    text collisions)."""
    from skosconverter_spark.operators.dedup import shared_passages

    return shared_passages(_dedup_corpus(spark, sf_dir), w=8)


def q_dedup_minhash_lsh(spark, sf_dir):
    from skosconverter_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_dedup_corpus(spark, sf_dir), 0.8)


def q_corpus_prepare(spark, sf_dir):
    """The full cleaning cascade (quality → exact dedup → minhash
    near-dup CC → survivors) over the planted-duplicate corpus — the
    composition every stage feeds; one oracle checks the whole chain."""
    from skosconverter_spark.operators.corpus_pipeline import prepare_corpus_ids

    return prepare_corpus_ids(
        _dedup_corpus(spark, sf_dir), min_words=20, neardup_threshold=0.8
    )


def q_dedup_simhash(spark, sf_dir):
    from skosconverter_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# similarity search over embeddings
# --------------------------------------------------------------------------


def q_ann_topk(spark, sf_dir):
    from skosconverter_spark.operators.similarity import cosine_topk

    e = _emb(spark, sf_dir)
    return cosine_topk(e, e.filter(F.col("vec_id") < 10), k=3)


def q_ann_ivf_topk(spark, sf_dir):
    from skosconverter_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir)
    return ivf_topk(e, e.filter(F.col("vec_id") < 10), k=3, centroid_mod=23)


def q_embedding_neardup(spark, sf_dir):
    """Exact all-pairs — the VERIFIER; the scale path is the bucketed
    variant below (same relationship as ngram_jaccard vs minhash_lsh)."""
    from skosconverter_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(_emb(spark, sf_dir), 0.35)


def q_embedding_neardup_bucketed(spark, sf_dir):
    from skosconverter_spark.operators.similarity import embedding_neardup_bucketed

    return embedding_neardup_bucketed(_emb(spark, sf_dir), 0.35, centroid_mod=23)


def q_embedding_neardup_srp(spark, sf_dir):
    from skosconverter_spark.operators.similarity import embedding_neardup_srp

    return embedding_neardup_srp(_emb(spark, sf_dir), 0.35)


# --------------------------------------------------------------------------
# KG entity linking (mention scan → candidates → TF-IDF scoring → best)
# --------------------------------------------------------------------------

# inline vocabulary over surfaces that occur in the documents corpus;
# 'spark' is deliberately ambiguous (prefLabel of :spark, altLabel of
# :sparkle) so the context term and the min-uri tie-break are exercised
_KG_VOCAB = [
    ("urn:kg:join", "pref", "join"),
    ("urn:kg:join", "alt", "merge join"),
    ("urn:kg:spark", "pref", "spark"),
    ("urn:kg:sparkle", "pref", "sparkle"),
    ("urn:kg:sparkle", "alt", "spark"),
    ("urn:kg:window", "pref", "window"),
    ("urn:kg:stream", "pref", "stream"),
    ("urn:kg:streamwin", "pref", "streamwin"),
    ("urn:kg:streamwin", "alt", "stream window"),
]

_PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
_ALT = "http://www.w3.org/2004/02/skos/core#altLabel"


def _kg_vocab_triples(spark):
    rows = [
        (uri, _PREF if kind == "pref" else _ALT, label, True, None, "vocab", i)
        for i, (uri, kind, label) in enumerate(_KG_VOCAB)
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )


def q_kg_links(spark, sf_dir):
    """Full linking pipeline over the documents corpus, aggregated to
    (url, surface, winning concept, mention count, score) — begin/end
    offsets collapse out because score is a function of (url, surface,
    uri), which is what makes the stage oracle-expressible."""
    from skosconverter_spark.kg.linking import link_stage
    from skosconverter_spark.kg.mentions import label_table, scan_mentions

    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("url"), "text"
    )
    triples = _kg_vocab_triples(spark)
    # one vocabulary read for the scanner and the links stage; the
    # final aggregation is url-prefixed, so it reuses the links stage's
    # url partitioning
    labels = label_table(triples)
    mentions = scan_mentions(pages, labels).localCheckpoint(eager=True)
    best = link_stage(mentions, labels, spark.sparkContext.defaultParallelism)
    return best.groupBy("url", "norm_surface", "concept_uri").agg(
        F.count("*").alias("n_mentions"),
        F.round(F.min("score"), 6).alias("score"),
    ).withColumnRenamed("norm_surface", "surface")


# --------------------------------------------------------------------------
# text analysis over documents
# --------------------------------------------------------------------------


def q_text_token_count(spark, sf_dir):
    from skosconverter_spark.functions.text import bpe_ish_token_count, token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_subtokens"),
    )


def q_text_quality(spark, sf_dir):
    from skosconverter_spark.functions.text import quality_features

    return quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_tokens", "n_stopwords", "stopword_ratio"
    )


def q_text_fingerprint(spark, sf_dir):
    from skosconverter_spark.functions.text import fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


def q_text_langid(spark, sf_dir):
    from skosconverter_spark.functions.text import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_text_winnow(spark, sf_dir):
    from skosconverter_spark.functions.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


def q_text_tfidf(spark, sf_dir):
    from skosconverter_spark.functions.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


def q_text_lm_score(spark, sf_dir):
    """CCNet-style corpus-trained bigram LM quality scores (neg mean
    log-likelihood per document, add-0.5 smoothing)."""
    from skosconverter_spark.functions.text import lm_bigram_scores

    return lm_bigram_scores(_docs(spark, sf_dir))


def q_corpus_quality_filter(spark, sf_dir):
    from skosconverter_spark.operators.filter import quality_flags

    return quality_flags(_docs(spark, sf_dir), min_words=20)


def q_corpus_hash_sample(spark, sf_dir):
    from skosconverter_spark.operators.filter import hash_sample

    return hash_sample(_docs(spark, sf_dir), 0.1).select("doc_id")


def q_corpus_stratified_sample(spark, sf_dir):
    from skosconverter_spark.operators.filter import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        {"en": 0.5, "de": 0.25, "fr": 1.0},
        strata_col="lang",
        default_fraction=0.05,
    ).select("doc_id", "lang")


def q_corpus_repetition(spark, sf_dir):
    from skosconverter_spark.operators.filter import repetition_flags

    return repetition_flags(_docs(spark, sf_dir))


def q_corpus_decontaminate(spark, sf_dir):
    """Eval set = every 10th document; corpus = the rest plus a planted
    contaminated copy of each eval doc (same convention as the dedup
    oracles' planted duplicates) so the 8-gram overlap gate has known
    positives at every scale."""
    from skosconverter_spark.operators.decontaminate import contaminated_docs

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text").unionAll(
        ev.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
        )
    )
    return contaminated_docs(corpus, ev, n=8)


def q_corpus_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (minhash-LSH) complement of corpus_decontaminate: same
    eval/corpus split and planted near-copies; near-dup gate at τ=0.8."""
    from skosconverter_spark.operators.decontaminate import fuzzy_contaminated_docs

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text").unionAll(
        ev.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
        )
    )
    return fuzzy_contaminated_docs(corpus, ev, threshold=0.8)


def q_text_ngram_topk(spark, sf_dir):
    from skosconverter_spark.functions.text import ngram_topk

    return ngram_topk(_docs(spark, sf_dir), n=2, k=20)


def q_text_pii(spark, sf_dir):
    from skosconverter_spark.functions.text import redact_pii

    return redact_pii(_docs(spark, sf_dir))


def q_corpus_pack(spark, sf_dir):
    from skosconverter_spark.operators.filter import pack_documents

    return pack_documents(_docs(spark, sf_dir), context_len=512)


def q_corpus_length_deciles(spark, sf_dir):
    from skosconverter_spark.functions.text import corpus_length_deciles

    return corpus_length_deciles(_docs(spark, sf_dir))


def q_emb_label_centroids(spark, sf_dir):
    from skosconverter_spark.operators.similarity import label_centroids

    return label_centroids(_emb(spark, sf_dir))


def q_emb_kmeans(spark, sf_dir):
    from skosconverter_spark.operators.similarity import kmeans_fit

    return kmeans_fit(_emb(spark, sf_dir), k=8, iterations=2)


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def q_multimodal_byte_stats(spark, sf_dir):
    from skosconverter_spark.operators.multimodal import byte_stats, media_from_documents

    return byte_stats(media_from_documents(_docs(spark, sf_dir)))


def q_multimodal_features(spark, sf_dir):
    from skosconverter_spark.operators.multimodal import featurize, media_from_documents

    feats = featurize(media_from_documents(_docs(spark, sf_dir)), dims=8)
    # fold the feature vector into oracle-checkable integers: bucket of the
    # max weight, and the (exact-rational) weight numerator via n_bytes
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.expr(
            "array_position(features, array_max(features))"
        ).cast("int").alias("argmax_bucket"),
    )


# --------------------------------------------------------------------------
# windows / time / classic aggregation
# --------------------------------------------------------------------------


def q_events_window_agg(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )


def q_events_top_users(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(14,2)")).alias("tv")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("tv").desc(), "user_id")
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "event_type", "user_id", F.col("tv").cast("double").alias("total_value"), "rank"
        )
    )


def q_events_asof(spark, sf_dir):
    """clicks as-of joined to the latest preceding view per user. The
    right side is pre-aggregated to unique (user_id, ts) so 'latest' is
    well-defined in every engine (see operators.temporal docstring)."""
    from skosconverter_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(clicks, views, ["user_id"], "ts", right_prefix="view_")


def q_events_range_join(spark, sf_dir):
    """click×view pairs within 5 minutes per user (bucket-banded equi
    join, not a theta cross product); counts + extrema keep the checked
    output compact while pinning every pair."""
    from skosconverter_spark.operators.temporal import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    pairs = range_join(clicks, views, ["user_id"], "ts", 300, right_prefix="view_")
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.min("ts").alias("first_click"),
        F.max("view_ts").alias("last_view"),
    )


def q_events_rollup(spark, sf_dir):
    from skosconverter_spark.operators.temporal import time_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return time_rollup(ev)


def q_events_sessions(spark, sf_dir):
    from skosconverter_spark.operators.temporal import session_windows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_windows(ev, "30 minutes")


def _revenue():
    """Decimal-exact revenue term: sums are order-free so distributed
    partial aggregation matches any SQL engine bit-for-bit (the
    DECIMAL-sums-cast-to-double house rule)."""
    return F.col("l_extendedprice").cast("decimal(16,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping-priority), adapted to the synthesized schema:
    the classic dim-filter → fact-fact join → agg → top-k OLAP shape.
    customer is a broadcast dim (no fact shuffle for it); orders⋈lineitem
    shuffles on the uniform orderkey; top-10 is a TakeOrdered over a
    TOTAL order (revenue desc, l_orderkey) — deterministic limit."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_revenue()).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): the snowflake join — every dim
    (customer, supplier, nation, region) broadcasts, so the only
    corpus-sized shuffle is lineitem⋈orders on orderkey; the
    same-nation (c_nationkey = s_nationkey) constraint rides the
    broadcast join condition."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue()).cast("double"), 2).alias("revenue"))
    )


def q_graph_pagerank(spark, sf_dir):
    """PageRank over the customer↔supplier interaction graph (distinct
    pairs from orders⋈lineitem; keys prefixed so the two key spaces
    cannot collide). 3 iterations, d=0.85."""
    from skosconverter_spark.operators.graph import pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, damping=0.85, iterations=3)


def q_dedup_incremental(spark, sf_dir):
    """Ingest-delta dedup: corpus = every 3rd document's fingerprints
    (already ingested); delta = the rest plus planted copies (same
    convention as the dedup oracles)."""
    from skosconverter_spark.functions.text import fingerprint
    from skosconverter_spark.operators.dedup import incremental_new_docs

    docs = _docs(spark, sf_dir)
    existing = docs.filter(F.col("doc_id") % 3 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    new = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return incremental_new_docs(existing, new)


def q_corpus_line_dedup(spark, sf_dir):
    """C4/RefinedWeb corpus-wide line dedup. The synthetic documents are
    single-line token streams, so the query builds multi-line docs the
    oracle can reconstruct: line 0 = the doc's own 80-char head, line 1
    = the head of doc (doc_id % 100) — a real cross-document boilerplate
    line — plus a trailing empty line (exempt from dedup)."""
    from skosconverter_spark.operators.dedup import line_dedup

    d = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("head")
    )
    peer = d.select(
        F.col("doc_id").alias("peer_id"), F.col("head").alias("peer_head")
    )
    corpus = (
        d.withColumn("peer_id", F.col("doc_id") % 100)
        .join(peer, "peer_id")
        .select(
            "doc_id",
            F.concat(
                F.col("head"), F.lit("\n"), F.col("peer_head"), F.lit("\n")
            ).alias("text"),
        )
    )
    return line_dedup(corpus)


def q_corpus_url_dedup(spark, sf_dir):
    """URL canonicalization dedup: each doc gets a MESSY crawl URL
    (casing, default port, tracking params, fragment, trailing slashes,
    or missing scheme — one family per doc_id % 4) plus the clean
    equivalent; normalize_url must collapse every pair to one key."""
    from skosconverter_spark.kg.extract import normalize_urls

    d = _docs(spark, sf_dir).select("doc_id")
    m = F.col("doc_id") % 4
    i = F.col("doc_id").cast("string")
    messy = d.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("HTTP://WWW.Example.COM:80/a/"), i,
                                F.lit("/?utm_source=x&b=2&a=1#frag")))
        .when(m == 1, F.concat(F.lit("https://example.org:443/p/"), i,
                               F.lit("?z=1&y=2")))
        .when(m == 2, F.concat(F.lit("http://Example.com/a/"), i,
                               F.lit("//#sec?noise=1")))
        .otherwise(F.concat(F.lit("sub.example.net/x/"), i, F.lit(" ")))
        .alias("url"),
    )
    clean = d.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("http://www.example.com/a/"), i,
                                F.lit("?a=1&b=2")))
        .when(m == 1, F.concat(F.lit("https://example.org/p/"), i,
                               F.lit("?y=2&z=1")))
        .when(m == 2, F.concat(F.lit("http://example.com/a/"), i))
        .otherwise(F.concat(F.lit("Sub.Example.net/x/"), i))
        .alias("url"),
    )
    return (
        normalize_urls(messy.unionByName(clean))
        .groupBy("norm_url")
        .agg(F.count("*").alias("n_urls"), F.min("doc_id").alias("doc_id"))
    )


def q_corpus_c4_filter(spark, sf_dir):
    """C4 line-level cleaning over a synthesized multi-line corpus that
    exercises every rule: a good sentence line (kept), a lorem-ipsum
    line, a javascript line, a no-terminal-punctuation line, and a
    too-short line (all dropped)."""
    from skosconverter_spark.operators.filter import c4_line_filters

    d = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("head")
    )
    corpus = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("head"), F.lit(".")),
            F.lit("lorem ipsum dolor sit."),
            F.lit("Enable JavaScript to view this page."),
            F.col("head"),
            F.lit("Too short."),
        ).alias("text"),
    )
    return c4_line_filters(corpus)


def q_corpus_domain_caps(spark, sf_dir):
    """FineWeb-style per-domain document cap (15 of each source's 25),
    deterministic md5 lottery."""
    from skosconverter_spark.operators.filter import domain_caps

    return domain_caps(_docs(spark, sf_dir), 15)


def q_events_topk_per_user(spark, sf_dir):
    """Top-3 events per user by (value desc, event_id) — the grouped
    top-k window every analytics surface ships."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.select("user_id", "event_id", "value", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", F.round("value", 6).alias("value"), "rnk")
    )


def q_events_rolling_hour(spark, sf_dir):
    """Per-user 1-hour rolling count/sum/mean via a RANGE frame over
    integer epoch microseconds — peer-inclusive in both engines, sums
    decimal-exact."""
    from pyspark.sql import Window

    from skosconverter_spark.operators.temporal import _epoch_micros

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        _epoch_micros(F.col("ts")).alias("us"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("v").over(w).cast("double"), 6).alias("sum_1h"),
        F.round(
            (F.sum("v").over(w).cast("double") / F.count("*").over(w)), 6
        ).alias("mean_1h"),
    )


def q_events_funnel(spark, sf_dir):
    """Ordered funnel signup → view → purchase per user: each step's
    timestamp is the min event AFTER the previous step completed
    (strictly ordered — a purchase before the first view doesn't
    count). Three conditional-min aggregations chained by left joins;
    exact timestamp parity."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def first_after(etype, prev, prev_col):
        e = ev.filter(F.col("event_type") == etype).select("user_id", "ts")
        j = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_col))
        return j.groupBy("user_id").agg(F.min("ts").alias(f"{etype}_ts"))

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    s2 = first_after("view", s1, "signup_ts")
    s3 = first_after("purchase", s2, "view_ts")
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", "signup_ts", "view_ts", "purchase_ts")
    )


def q_events_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event; activity counted as distinct users per (cohort_week,
    week_offset). Offsets are exact integer arithmetic on epoch
    microseconds of week-truncated timestamps."""
    from skosconverter_spark.operators.temporal import _epoch_micros

    week_us = 7 * 24 * 3600 * 1_000_000
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (_epoch_micros(F.col("week")) - _epoch_micros(F.col("cohort_week")))
                / week_us
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        # DuckDB's date_trunc('week') yields DATE; align the output type
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


def q_kg_extract_links(spark, sf_dir):
    """Outbound-link extraction over synthesized crawl html (each doc
    links a site page, an external page, and repeats one in-domain
    link) — the link-graph construction pass."""
    from skosconverter_spark.kg.extract import extract_links

    d = _docs(spark, sf_dir).select("doc_id", F.substring("text", 1, 20).alias("head"))
    i = F.col("doc_id").cast("string")
    pages = d.select(
        F.concat(F.lit("http://crawl.test/"), i).alias("url"),
        F.concat(
            F.lit('<html><body><p>'), F.col("head"),
            F.lit('</p><a href="http://crawl.test/'), (F.col("doc_id") % 50).cast("string"),
            F.lit('?x=1">page '), (F.col("doc_id") % 7).cast("string"),
            F.lit('</a> <a class="ext" href="https://other.org/'),
            (F.col("doc_id") % 11).cast("string"),
            F.lit('">Other Site</a><a href="http://crawl.test/'),
            (F.col("doc_id") % 50).cast("string"),
            F.lit('?x=1">again</a></body></html>'),
        ).alias("html"),
    )
    return extract_links(pages)


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle counts over the co-purchase graph (parts
    connected when some order contains both) — degree-ordered wedge
    enumeration, pure integer counting."""
    from skosconverter_spark.operators.graph import triangle_counts

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") != F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    return triangle_counts(edges)


def q_events_percentiles(spark, sf_dir):
    """Exact (interpolated) per-group order statistics — Spark's
    percentile() and DuckDB's quantile_cont() share the linear-
    interpolation definition, verified to 6 places."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_events_running(spark, sf_dir):
    """Per-user running analytics: ordered running count/sum plus the
    gap to the previous event — the lead/lag window family. Sum carried
    as DECIMAL(18,6) (order-free exact); the gap in integer epoch
    MICROSECONDS (operators/temporal.py::_epoch_micros idiom — exact,
    matching DuckDB's epoch_us)."""
    from pyspark.sql import Window

    from skosconverter_spark.operators.temporal import _epoch_micros

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = _epoch_micros(F.col("ts"))
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(run).alias("running_n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(run).cast("double"), 6
        ).alias("running_sum"),
        (us - F.lag(us).over(w)).alias("micros_since_prev"),
    )


def q_events_json_extract(spark, sf_dir):
    """Semi-structured path: parse the events.props JSON column with
    from_json (schema-on-read, JVM-side — no Python) and aggregate the
    extracted field per event type. The DuckDB oracle uses its native
    json extraction; integer parity is exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_events_cube(spark, sf_dir):
    """CUBE rollup over (event_type, day): all four grouping levels in
    one pass — the OLAP cube the reference's per-vocabulary summaries
    hint at, generalized. Sums carried as DECIMAL(18,6) so every
    grouping level is order-free exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return (
        ev.cube("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("v").cast("double"), 6).alias("sum_value"),
        )
        # rollup NULLs -> sentinels: the harness sorts rows and cannot
        # order str/None; '(all)' is unambiguous (no source value is null)
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(
                F.col("day"), F.lit("1900-01-01").cast("timestamp")
            ).alias("day"),
            "n_events",
            "sum_value",
        )
    )


def q_lineitem_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(14,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(16,2)")).cast("double").alias(
                "sum_base_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate and consumed by the driver gate, which samples
    # a prefix of this dict when it checks fewer than all entries. Queries
    # with the LEAST driver-gate evidence come first: the 9 that had never
    # had a driver CORRECTNESS row through r4, then the 10 that were green
    # in r3 but not re-sampled by the r4 driver, then the long-green rest.
    return {
        # -- never driver-checked through r4 --------------------------------
        "dedup_ngram_prefix": q_dedup_ngram_prefix,
        "text_lm_score": q_text_lm_score,
        "graph_triangles": q_graph_triangles,
        "kg_extract_links": q_kg_extract_links,
        "dedup_shared_passages": q_dedup_shared_passages,
        "corpus_c4_filter": q_corpus_c4_filter,
        "corpus_domain_caps": q_corpus_domain_caps,
        "corpus_line_dedup": q_corpus_line_dedup,
        "corpus_url_dedup": q_corpus_url_dedup,
        "dedup_incremental": q_dedup_incremental,
        "events_cohorts": q_events_cohorts,
        "events_funnel": q_events_funnel,
        "events_rolling_hour": q_events_rolling_hour,
        "events_topk_per_user": q_events_topk_per_user,
        # -- r3-green, not re-sampled by the r4 driver ----------------------
        "events_range_join": q_events_range_join,
        "events_rollup": q_events_rollup,
        "lineitem_pricing": q_lineitem_pricing,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "events_json_extract": q_events_json_extract,
        "events_cube": q_events_cube,
        "graph_pagerank": q_graph_pagerank,
        "events_percentiles": q_events_percentiles,
        "events_running": q_events_running,
        # -- driver-green in r4 ---------------------------------------------
        "skos_levels": q_skos_levels,
        "skos_closure": q_skos_closure,
        "skos_best_label": q_skos_best_label,
        "skos_orphans": q_skos_orphans,
        "skos_polyhierarchy": q_skos_polyhierarchy,
        "skos_val_duplicate_uris": q_skos_val_duplicate_uris,
        "skos_val_missing_labels": q_skos_val_missing_labels,
        "skos_val_multiple_preflabels": q_skos_val_multiple_preflabels,
        "skos_val_self_references": q_skos_val_self_references,
        "skos_val_no_scheme": q_skos_val_no_scheme,
        "skos_val_duplicate_labels": q_skos_val_duplicate_labels,
        "skos_val_top_inconsistencies": q_skos_val_top_inconsistencies,
        "skos_val_orphans": q_skos_val_orphans,
        "skos_val_cycles": q_skos_val_cycles,
        "skos_val_depths": q_skos_val_depths,
        "kg_links": q_kg_links,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "corpus_prepare": q_corpus_prepare,
        "ann_topk": q_ann_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_bucketed": q_embedding_neardup_bucketed,
        "embedding_neardup_srp": q_embedding_neardup_srp,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_fingerprint": q_text_fingerprint,
        "text_langid": q_text_langid,
        "text_winnow": q_text_winnow,
        "text_tfidf": q_text_tfidf,
        "corpus_quality_filter": q_corpus_quality_filter,
        "corpus_hash_sample": q_corpus_hash_sample,
        "corpus_stratified_sample": q_corpus_stratified_sample,
        "corpus_repetition": q_corpus_repetition,
        "corpus_decontaminate": q_corpus_decontaminate,
        "corpus_decontaminate_fuzzy": q_corpus_decontaminate_fuzzy,
        "corpus_length_deciles": q_corpus_length_deciles,
        "corpus_pack": q_corpus_pack,
        "text_ngram_topk": q_text_ngram_topk,
        "text_pii": q_text_pii,
        "emb_label_centroids": q_emb_label_centroids,
        "emb_kmeans": q_emb_kmeans,
        "multimodal_byte_stats": q_multimodal_byte_stats,
        "multimodal_features": q_multimodal_features,
        "events_window_agg": q_events_window_agg,
        "events_top_users": q_events_top_users,
        "events_asof": q_events_asof,
        "events_sessions": q_events_sessions,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_NU = "'urn:tpch:nation:' || nkey"
_RU = "'urn:tpch:region:' || r_regionkey"

_SKOS_LEVELS_SQL = f"""
WITH {ORACLE_CHAIN_CTE.strip()},
orph AS (
  SELECT n_nationkey AS nkey, n_name, n_regionkey AS rkey
  FROM nation WHERE n_nationkey % 7 = 3
)
SELECT {_RU} AS uri, r_name AS label, 0 AS level, 'scheme' AS section FROM region
UNION ALL
SELECT {_NU}, n_name, pos, 'top' FROM chain
UNION ALL
SELECT {_NU}, n_name, 2, 'orphan' FROM orph
UNION ALL
SELECT NULL, '[Other Concepts in ' || r_name || ']', 1, 'orph_hdr'
FROM region WHERE EXISTS (SELECT 1 FROM orph WHERE orph.rkey = r_regionkey)
"""

_SKOS_CLOSURE_SQL = f"""
WITH RECURSIVE {ORACLE_CHAIN_CTE.strip()},
edges AS (SELECT nkey AS child, prev_nkey AS parent FROM chain WHERE pos > 1),
anc(child, ancestor) AS (
  SELECT child, parent FROM edges
  UNION
  SELECT a.child, e.parent FROM anc a JOIN edges e ON a.ancestor = e.child
)
SELECT 'urn:tpch:nation:' || child AS descendant,
       'urn:tpch:nation:' || ancestor AS ancestor
FROM anc
"""

_SKOS_BEST_LABEL_SQL = f"""
SELECT 'urn:tpch:nation:' || n_nationkey AS uri, lower(n_name) AS label FROM nation
UNION ALL
SELECT {_RU} AS uri, r_name AS label FROM region
"""

_SKOS_ORPHANS_SQL = """
SELECT 'urn:tpch:nation:' || n_nationkey AS uri,
       'urn:tpch:region:' || n_regionkey AS scheme
FROM nation WHERE n_nationkey % 7 = 3
"""

_SKOS_POLY_SQL = f"""
WITH {ORACLE_CHAIN_CTE.strip()},
tops AS (SELECT rkey, nkey AS top_nkey FROM chain WHERE pos = 1)
SELECT 'urn:tpch:nation:' || c.nkey AS uri, 2 AS n_parents,
       'urn:tpch:nation:' || c.prev_nkey || ',' || 'urn:tpch:nation:' || t.top_nkey
         AS parents
FROM chain c JOIN tops t USING (rkey)
WHERE c.pos > 1 AND c.nkey % 11 = 5 AND c.prev_nkey != t.top_nkey
"""

# ---- validator family over the dirty bridge (planted-defect rules are
# documented at tpch_bridge.dirty_triples_from_tpch; each oracle re-derives
# one rule's consequences directly from nation/region) ----

_VAL_DUP_URIS_SQL = """
SELECT 'urn:tpch:nation:' || n_nationkey AS uri, CAST(2 AS BIGINT) AS n_types
FROM nation WHERE n_nationkey % 13 = 1
"""

_VAL_MISSING_LABELS_SQL = """
SELECT 'urn:tpch:ghost:' || n_nationkey AS uri
FROM nation WHERE n_nationkey % 9 = 2
"""

_VAL_MULTI_PREF_SQL = """
SELECT 'urn:tpch:nation:' || n_nationkey AS uri, 'en' AS lang,
       n_name || ',' || n_name || '-bis' AS labels, 2 AS n_labels
FROM nation WHERE n_nationkey % 6 = 0
"""

_VAL_SELF_REFS_SQL = """
SELECT 'urn:tpch:nation:' || n_nationkey AS uri, 'broader' AS kind
FROM nation WHERE n_nationkey % 17 = 4
"""

_VAL_NO_SCHEME_SQL = _VAL_MISSING_LABELS_SQL

_VAL_DUP_LABELS_SQL = """
WITH s AS (
  SELECT n_nationkey AS nkey, 'SHARED-' || (n_nationkey % 2) AS label
  FROM nation WHERE n_nationkey % 5 = 1
)
SELECT label,
       string_agg('urn:tpch:nation:' || nkey, ',' ORDER BY nkey) AS uris,
       CAST(count(*) AS INT) AS n_uris
FROM s GROUP BY label HAVING count(*) > 1
"""

_VAL_TOP_INCONSISTENCIES_SQL = f"""
WITH {ORACLE_CHAIN_CTE.strip()}
SELECT 'urn:tpch:region:' || rkey AS scheme, 'missing_top_of' AS direction,
       'urn:tpch:nation:' || nkey AS concepts
FROM chain WHERE pos = 2
UNION ALL
SELECT 'urn:tpch:region:' || rkey, 'missing_has_top',
       'urn:tpch:nation:' || nkey
FROM chain WHERE pos = 3
"""

_VAL_ORPHANS_SQL = """
SELECT 'urn:tpch:nation:' || n_nationkey AS uri
FROM nation WHERE n_nationkey % 7 = 3
UNION ALL
SELECT 'urn:tpch:ghost:' || n_nationkey
FROM nation WHERE n_nationkey % 9 = 2
"""

_VAL_CYCLES_SQL = """
SELECT 'urn:tpch:cyc:' || r_regionkey || ':0 -> '
    || 'urn:tpch:cyc:' || r_regionkey || ':1 -> '
    || 'urn:tpch:cyc:' || r_regionkey || ':2 -> '
    || 'urn:tpch:cyc:' || r_regionkey || ':0' AS cycle
FROM region
"""

_VAL_DEPTHS_SQL = f"""
WITH {ORACLE_CHAIN_CTE.strip()},
sz AS (SELECT rkey, count(*) AS n FROM elig GROUP BY rkey)
SELECT 'urn:tpch:nation:' || c.nkey AS root,
       CAST(s.n - c.pos + 1 AS INT) AS depth
FROM chain c JOIN sz s USING (rkey)
WHERE c.pos <= 3
"""

# shared SQL fragments for text/dedup oracles
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

_SHINGLES_SQL = f"""
toks AS (SELECT doc_id, {_TOKS} AS ts FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)
)
"""

_SHARED_PASSAGES_SQL = f"""
WITH {_DEDUP_CORPUS_SQL.strip().rstrip()},
toks AS (SELECT doc_id, {_TOKS} AS ts FROM corpus),
g AS (
  SELECT doc_id, array_to_string(ts[i : i + 7], ' ') AS gram
  FROM toks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 6, 1))) AS t(i)
),
o AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY 1)
SELECT doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
FROM g JOIN o USING (gram) GROUP BY doc_id
"""

_JACCARD_PAIRS_SQL = f"""
{_DEDUP_CORPUS_SQL.strip().rstrip()},
{_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE, 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE >= {{tau}}
"""


def _minhash_sql(tau: float, k: int = 12, bands: int = 4) -> str:
    r = k // bands
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b, cat=" || '|' || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    jac = _JACCARD_PAIRS_SQL.format(tau=0.0)
    # reuse the jaccard CTE body as a subquery for the verify step
    return f"""
WITH {_DEDUP_CORPUS_SQL.strip()},
{_SHINGLES_SQL.strip()},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bandrows AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE, 6) AS jaccard
FROM cand c
JOIN common USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE >= {tau}
"""


def _corpus_prepare_sql(
    min_words: int = 20, tau: float = 0.8, k: int = 12, bands: int = 4
) -> str:
    """One SQL statement for the whole cleaning cascade: quality CTEs +
    fingerprint dedup + the minhash candidate/verify pipeline (over the
    exact survivors) + recursive-CTE connected components for duplicate
    clustering + the min-id keep policy."""
    r = k // bands
    sig_cols = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(k))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b, cat=" || '|' || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH RECURSIVE {_DEDUP_CORPUS_SQL.strip().replace('corpus AS', 'corpus0 AS')},
tq AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
  FROM corpus0
),
qf AS (
  SELECT doc_id, len(toks) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           round(list_sum(list_apply(toks, x -> length(x)))::DOUBLE / len(toks)::DOUBLE, 6)
         END AS mwl,
         CASE WHEN len(toks) > 0 THEN
           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                 / len(toks)::DOUBLE, 6)
         END AS awf,
         len(list_intersect(list_distinct(list_apply(toks, x -> lower(x))),
                            ['the','a','of','and','to','in','is','it'])) AS sh
  FROM tq
),
q AS (
  SELECT doc_id FROM qf
  WHERE n_words >= {min_words} AND n_words <= 100000
    AND mwl >= 3.0 AND mwl <= 10.0 AND awf >= 0.8 AND sh >= 2
),
fp AS (
  SELECT c.doc_id, md5(trim(regexp_replace(lower(c.text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus0 c JOIN q USING (doc_id)
),
rep AS (SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp),
ex AS (SELECT f.doc_id FROM fp f JOIN rep ON f.fp = rep.fp AND f.doc_id = rep.keep_id),
corpus AS (SELECT c.doc_id, c.text FROM corpus0 c JOIN ex USING (doc_id)),
{_SHINGLES_SQL.strip()},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bandrows AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN common USING (doc_a, doc_b)
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common)::DOUBLE >= {tau}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a
),
comp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
drops AS (SELECT doc_id FROM comp WHERE mn < doc_id)
SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN substr(h, {j + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN cnt ELSE -cnt END) AS v{j}"
        for j in range(bits)
    )
    simbits = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
tok AS (
  SELECT doc_id, t AS tok, count(*) AS cnt
  FROM corpus, UNNEST({_TOKS}) AS u(t)
  WHERE t != '' GROUP BY doc_id, t
),
h AS (SELECT doc_id, md5(tok) AS h, cnt FROM tok),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, {simbits} AS simhash FROM v
"""


_DOT = (
    "list_reduce(list_apply(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE),"
    " (x, y) -> x + y)"
)
_NORM_V = "sqrt(list_reduce(list_apply({a}, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))"


def _cos(a: str, b: str) -> str:
    return (
        _DOT.format(a=a, b=b)
        + " / ("
        + _NORM_V.format(a=a)
        + " * "
        + _NORM_V.format(a=b)
        + ")"
    )


_ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos('q.qv', 'e.embedding')} AS score
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(score, 6) AS score
FROM ranked WHERE rank <= 3
"""

_ANN_IVF_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 23 = 0
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos('e.embedding', 'c.cv')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
v AS (SELECT e.vec_id AS neighbor_id, e.embedding AS vv, a.centroid_id
      FROM embeddings e JOIN assigned a USING (vec_id)),
q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, a.centroid_id
      FROM embeddings e JOIN assigned a USING (vec_id) WHERE e.vec_id < 10),
scored AS (
  SELECT q.query_id, v.neighbor_id, {_cos('q.qv', 'v.vv')} AS score
  FROM v JOIN q USING (centroid_id) WHERE v.neighbor_id != q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(score, 6) AS score
FROM ranked WHERE rank <= 3
"""

_EMB_NEARDUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cos('a.embedding', 'b.embedding')}, 6) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cos('a.embedding', 'b.embedding')} >= 0.35
"""

_EMB_NEARDUP_BUCKETED_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 23 = 0
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos('e.embedding', 'c.cv')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
v AS (SELECT e.vec_id, e.embedding, a.centroid_id
      FROM embeddings e JOIN assigned a USING (vec_id))
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cos('a.embedding', 'b.embedding')}, 6) AS score
FROM v a JOIN v b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE {_cos('a.embedding', 'b.embedding')} >= 0.35
"""

def _srp_sql(threshold: float = 0.35, bits: int = 16, bands: int = 4, dim: int = 64) -> str:
    """SRP-LSH near-dup oracle: the ±1 hyperplanes are Python-generated
    literals (deterministic md5 derivation) consumed identically by both
    engines; bit = ordered-fold dot > 0."""
    from skosconverter_spark.operators.similarity import srp_signs

    signs = srp_signs(bits, dim)
    r = bits // bands
    bit_exprs = []
    for j in range(bits):
        lit = "[" + ", ".join(str(s) for s in signs[j]) + "]"
        bit_exprs.append(
            "CASE WHEN list_reduce(list_apply(list_zip(embedding, {lit}), "
            "p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y) > 0 "
            "THEN '1' ELSE '0' END".format(lit=lit)
        )
    sig = " || ".join(bit_exprs)
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, substr(sig, {b * r + 1}, {r}) AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sig AS (SELECT vec_id, {sig} AS sig FROM embeddings),
bandrows AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round({_cos('va.embedding', 'vb.embedding')}, 6) AS score
FROM cand c
JOIN embeddings va ON va.vec_id = c.id_a
JOIN embeddings vb ON vb.vec_id = c.id_b
WHERE {_cos('va.embedding', 'vb.embedding')} >= {threshold}
"""


_STOPWORDS_SQL = "('the','a','of','and','to','in','is','it')"

_TEXT_QUALITY_SQL = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
t AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' '),
                     x -> x != '') AS toks
  FROM corpus
)
SELECT doc_id, n_chars, len(toks) AS n_tokens,
       len(list_filter(toks, x -> lower(x) IN {_STOPWORDS_SQL})) AS n_stopwords,
       len(list_filter(toks, x -> lower(x) IN {_STOPWORDS_SQL}))::DOUBLE
         / len(toks)::DOUBLE AS stopword_ratio
FROM t
"""

_TOKEN_COUNT_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(text, '\s+', ' ', 'g'), ' '),
                     x -> x != '') AS toks,
         list_filter(string_split(regexp_replace(
             regexp_replace(text, '([^\w\s])', ' \1', 'g'), '\s+', ' ', 'g'), ' '),
                     x -> x != '') AS subtoks
  FROM documents
)
SELECT doc_id, len(toks) AS n_tokens, len(subtoks) AS n_subtokens FROM t
"""

_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def _kg_links_sql() -> str:
    """Entity linking re-derived in SQL. All candidate surfaces are exact
    dictionary hits, so surface_jaccard is identically 1.0 (max over the
    concept's own labels always includes the matched one) and the score
    reduces to 0.5 + 0.5*context; the context term is the mention-based
    TF-IDF cosine of kg.linking's score model (its module docstring),
    which kg.linking evaluates page by page in one kernel pass; here it
    is one global query with the same ln weights, norms and
    zero-denominator guard."""
    surfaces = sorted({label for _, _, label in _KG_VOCAB})
    uni = [s for s in surfaces if " " not in s]
    bi = [s for s in surfaces if " " in s]
    cand = sorted({(label, uri) for uri, _, label in _KG_VOCAB})
    uni_list = ", ".join(f"'{s}'" for s in uni)
    bi_list = ", ".join(f"'{s}'" for s in bi)
    cand_values = ", ".join(f"('{s}', '{u}')" for s, u in cand)
    return f"""
WITH pages AS (SELECT 'doc:' || doc_id AS url, lower(text) AS t FROM documents),
toks AS (SELECT url, regexp_extract_all(t, '\\w+(?:''\\w+)?') AS ts FROM pages),
uni AS (
  SELECT url, tok, count(*) AS tf FROM (
    SELECT url, unnest(ts) AS tok FROM toks) u
  WHERE tok IN ({uni_list}) GROUP BY url, tok
),
bi AS (
  SELECT url, tok, count(*) AS tf FROM (
    SELECT url, ts[i] || ' ' || ts[i+1] AS tok
    FROM toks CROSS JOIN UNNEST(range(1, len(ts))) AS r(i)) b
  WHERE tok IN ({bi_list}) GROUP BY url, tok
),
tf AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
np AS (SELECT count(DISTINCT url) AS n_pages FROM tf),
dfs AS (SELECT tok, count(DISTINCT url) AS df FROM tf GROUP BY tok),
w AS (
  SELECT tf.url, tf.tok, tf.tf, tf.tf * ln((np.n_pages + 1) / (dfs.df + 1.0)) AS w
  FROM tf JOIN dfs USING (tok) CROSS JOIN np
),
pn AS (SELECT url, sqrt(sum(w*w)) AS page_norm FROM w GROUP BY url),
cand(surface, uri) AS (VALUES {cand_values}),
pnorm AS (SELECT uri, sqrt(count(*)::DOUBLE) AS prof_norm FROM cand GROUP BY uri),
dots AS (
  SELECT w.url, c.uri, sum(w.w) AS dot
  FROM w JOIN cand c ON c.surface = w.tok GROUP BY 1, 2
),
ctx AS (
  SELECT d.url, d.uri,
         d.dot / CASE WHEN pn.page_norm * pm.prof_norm > 0
                      THEN pn.page_norm * pm.prof_norm ELSE 1.0 END AS context
  FROM dots d JOIN pn USING (url) JOIN pnorm pm USING (uri)
),
scored AS (
  SELECT tf.url, tf.tok AS surface, c.uri, tf.tf,
         0.5 + 0.5 * coalesce(ctx.context, 0.0) AS score
  FROM tf JOIN cand c ON c.surface = tf.tok
  LEFT JOIN ctx ON ctx.url = tf.url AND ctx.uri = c.uri
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY url, surface ORDER BY score DESC, uri) AS rn
  FROM scored
)
SELECT url, surface, uri AS concept_uri, tf AS n_mentions, round(score, 6) AS score
FROM best WHERE rn = 1 AND score >= 0.25
"""


def _langid_sql() -> str:
    """The trigram-profile language id IS oracle-expressible: Python's
    str.count counts non-overlapping occurrences left-to-right, exactly
    what replace-based counting does; the kernel's argmax (sorted-lang
    tie-break, strictly-greater-than-1 floor, None on empty) maps to a
    ROW_NUMBER pick + CASE."""
    from skosconverter_spark.functions.text import _LANG_PROFILES

    per_lang = []
    for lang in sorted(_LANG_PROFILES):
        terms = " + ".join(
            f"((length(t) - length(replace(t, '{g}', ''))) // 3)"
            for g in _LANG_PROFILES[lang]
        )
        per_lang.append(f"SELECT doc_id, '{lang}' AS lang, {terms} AS score FROM t")
    scores = "\nUNION ALL\n".join(per_lang)
    return f"""
WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
scores AS (
{scores}
),
best AS (
  SELECT doc_id, lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM scores
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL OR d.text = '' THEN NULL
            WHEN b.score > 1 THEN b.lang ELSE 'und' END AS pred_lang
FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
"""

_TEXT_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x != '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(n_docs / d.df::DOUBLE), 6) AS tfidf
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN nd
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM r WHERE rank <= 5
"""

_TEXT_LM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x != '') AS ls
  FROM documents
),
bg AS (
  SELECT doc_id, ls[i] AS prev, ls[i + 1] AS cur
  FROM toks CROSS JOIN UNNEST(range(1, len(ls))) AS r(i)
),
cb AS (SELECT prev, cur, count(*) AS c_bg FROM bg GROUP BY 1, 2),
cp AS (SELECT prev, count(*) AS c_prev FROM bg GROUP BY 1),
vc AS (SELECT count(DISTINCT term) AS v
       FROM (SELECT unnest(ls) AS term FROM toks)),
lp AS (
  SELECT bg.doc_id,
         CAST(round(ln((c_bg + CAST(0.5 AS DOUBLE))
                       / (c_prev + CAST(0.5 AS DOUBLE) * v)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM bg JOIN cb USING (prev, cur) JOIN cp USING (prev) CROSS JOIN vc
)
SELECT doc_id, count(*) AS n_bigrams,
       round(-(sum(lp))::DOUBLE / count(*), 6) AS nll
FROM lp GROUP BY doc_id
"""

_TEXT_WINNOW_SQL = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos, md5(substr(t, i, 5)) AS h
  FROM n CROSS JOIN UNNEST(range(1, length(t) - 5 + 2)) AS r(i)
),
w AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         count(*) OVER (PARTITION BY doc_id) AS npos
  FROM g
)
SELECT DISTINCT doc_id, wmin AS fp FROM w WHERE pos <= npos - 4
"""

_QUALITY_FILTER_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           round(list_sum(list_apply(toks, x -> length(x)))::DOUBLE / len(toks)::DOUBLE, 6)
         END AS mean_word_len,
         CASE WHEN len(toks) > 0 THEN
           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                 / len(toks)::DOUBLE, 6)
         END AS alpha_word_frac,
         len(list_intersect(list_distinct(list_apply(toks, x -> lower(x))),
                            ['the','a','of','and','to','in','is','it'])) AS stopword_hits
  FROM t
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stopword_hits,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND alpha_word_frac >= 0.8 AND stopword_hits >= 2) AS keep
FROM f
"""

_HASH_SAMPLE_SQL = f"""
SELECT doc_id FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 8) < '{format(int(0.1 * 16**8), "08x")}'
"""


def _frac_hex(fraction: float) -> str:
    # mirror of operators.filter.fraction_threshold
    return "g" if fraction >= 1.0 else format(int(fraction * 16**8), "08x")


_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 8) <
      CASE lang
        WHEN 'de' THEN '{_frac_hex(0.25)}'
        WHEN 'en' THEN '{_frac_hex(0.5)}'
        WHEN 'fr' THEN '{_frac_hex(1.0)}'
        ELSE '{_frac_hex(0.05)}'
      END
"""

_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x != '') AS ts
  FROM documents
),
sh2 AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS s
  FROM toks CROSS JOIN UNNEST(range(1, greatest(len(ts), 1))) AS t(i)
),
st2 AS (SELECT doc_id, count(*) AS total, count(DISTINCT s) AS dist FROM sh2 GROUP BY 1),
sh3 AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
  FROM toks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)
),
st3 AS (SELECT doc_id, count(*) AS total, count(DISTINCT s) AS dist FROM sh3 GROUP BY 1),
tfc AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
  GROUP BY 1, 2
),
ws AS (
  SELECT doc_id, sum(tf)::BIGINT AS n_words,
         round(max(tf)::DOUBLE / sum(tf)::DOUBLE, 6) AS top_word_share
  FROM tfc GROUP BY 1
)
SELECT d.doc_id,
       coalesce(w.n_words, 0) AS n_words,
       w.top_word_share,
       CASE WHEN s2.total > 0 THEN round(1 - s2.dist::DOUBLE / s2.total::DOUBLE, 6) END
         AS dup_2gram_frac,
       CASE WHEN s3.total > 0 THEN round(1 - s3.dist::DOUBLE / s3.total::DOUBLE, 6) END
         AS dup_3gram_frac,
       coalesce(coalesce(w.n_words, 0) > 0
                AND w.top_word_share <= 0.2
                AND coalesce(CASE WHEN s2.total > 0
                             THEN round(1 - s2.dist::DOUBLE / s2.total::DOUBLE, 6) END, 0) <= 0.1
                AND coalesce(CASE WHEN s3.total > 0
                             THEN round(1 - s3.dist::DOUBLE / s3.total::DOUBLE, 6) END, 0) <= 0.08,
                FALSE) AS keep
FROM documents d
LEFT JOIN ws w USING (doc_id)
LEFT JOIN st2 s2 USING (doc_id)
LEFT JOIN st3 s3 USING (doc_id)
"""

_DECONTAMINATE_SQL = r"""
WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
  UNION ALL SELECT doc_id + 1000000, text || ' extra tail' FROM ev
),
ctoks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
  FROM corpus
),
csh AS (
  SELECT DISTINCT doc_id,
         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
         ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
  FROM ctoks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 6, 1))) AS t(i)
),
etoks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
  FROM ev
),
esh AS (
  SELECT DISTINCT
         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
         ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
  FROM etoks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 6, 1))) AS t(i)
)
SELECT c.doc_id, count(*) AS n_shared
FROM csh c JOIN esh e USING (shingle)
GROUP BY 1
"""

def _fuzzy_decontaminate_sql(k: int = 12, bands: int = 4, tau: float = 0.8) -> str:
    r = k // bands
    sig_cols = ",\n         ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(k)
    )

    def band_select(table: str) -> str:
        return "\n  UNION ALL ".join(
            "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM {t}".format(
                b=b,
                t=table,
                expr=" || '|' || ".join(f"h{b * r + j}" for j in range(r)),
            )
            for b in range(bands)
        )

    jac = "round(common::DOUBLE / (n_c + n_e - common)::DOUBLE, 6)"
    return rf"""
WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
  UNION ALL SELECT doc_id + 1000000, text || ' extra tail' FROM ev
),
ctoks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
  FROM corpus
),
csh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM ctoks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)
),
etoks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
  FROM ev
),
esh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM etoks CROSS JOIN UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)
),
csig AS (
  SELECT doc_id,
         {sig_cols}
  FROM csh GROUP BY doc_id
),
esig AS (
  SELECT doc_id,
         {sig_cols}
  FROM esh GROUP BY doc_id
),
cband AS (
  {band_select("csig")}
),
eband AS (
  {band_select("esig")}
),
cand AS (
  SELECT DISTINCT c.doc_id, e.doc_id AS eval_doc_id
  FROM cband c JOIN eband e USING (band, bucket)
),
sizes_c AS (SELECT doc_id, count(*) AS n_c FROM csh GROUP BY 1),
sizes_e AS (SELECT doc_id AS eval_doc_id, count(*) AS n_e FROM esh GROUP BY 1),
common AS (
  SELECT c.doc_id, e.doc_id AS eval_doc_id, count(*) AS common
  FROM csh c JOIN esh e ON c.shingle = e.shingle GROUP BY 1, 2
)
SELECT cand.doc_id, cand.eval_doc_id, {jac} AS jaccard
FROM cand
JOIN common USING (doc_id, eval_doc_id)
JOIN sizes_c ON sizes_c.doc_id = cand.doc_id
JOIN sizes_e USING (eval_doc_id)
WHERE {jac} >= {tau}
"""


_NGRAM_TOPK_SQL = r"""
WITH toks AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
  FROM documents
),
sh AS (
  SELECT ts[i] || ' ' || ts[i+1] AS ngram
  FROM toks CROSS JOIN UNNEST(range(1, greatest(len(ts), 1))) AS t(i)
),
c AS (SELECT ngram, count(*) AS n_occurrences FROM sh GROUP BY 1),
r AS (
  SELECT ngram, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, ngram) AS rank
  FROM c
)
SELECT ngram, n_occurrences, rank FROM r WHERE rank <= 20
"""

_PII_SQL = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\+?\d[\d()\- ]{6,}\d', '<PHONE>', 'g') AS clean_text,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         AS n_emails,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
       len(regexp_extract_all(text, '\+?\d[\d()\- ]{6,}\d')) AS n_phones
FROM documents
"""

_CORPUS_PACK_SQL = r"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split(regexp_replace(text, '\s+', ' ', 'g'), ' '),
                         x -> x != '')) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM t
)
SELECT source, doc_id, n_tokens,
       CAST(tokens_before // 512 AS BIGINT) AS pack_id,
       CAST(tokens_before % 512 AS BIGINT) AS pack_offset
FROM c
"""

_LENGTH_DECILES_SQL = r"""
WITH r AS (
  SELECT doc_id, n_chars AS len,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT decile, count(*) AS n_docs, min(len) AS min_len, max(len) AS max_len,
       round(sum(len)::DOUBLE / count(*)::DOUBLE, 6) AS mean_len
FROM r GROUP BY 1
"""

def _kmeans_sql(k: int = 8, iterations: int = 2) -> str:
    """Lloyd's algorithm unrolled as chained CTEs — one (distance,
    argmin, mean) triple per iteration, decimal-exact to mirror
    operators/similarity.py::kmeans_fit value-for-value."""
    ctes = [
        r"""e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         round(unnest(embedding)::DOUBLE, 6)::DECIMAL(12,6) AS v
  FROM embeddings
)""",
        f"""init AS (
  SELECT vec_id, row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cid
  FROM embeddings QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {k}
)""",
        """c0 AS (
  SELECT i.cid, e.pos, e.v AS c FROM e JOIN init i USING (vec_id)
)""",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""d{t} AS (
  SELECT e.vec_id, c.cid, sum((e.v - c.c) * (e.v - c.c)) AS dist
  FROM e JOIN c{t - 1} c USING (pos) GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{t}
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""c{t} AS (
  SELECT a.cid, e.pos,
         round(sum(e.v)::DOUBLE / count(*)::DOUBLE, 6)::DECIMAL(12,6) AS c
  FROM e JOIN a{t} a USING (vec_id) GROUP BY 1, 2
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT cid AS centroid_id, pos, c::DOUBLE AS centroid FROM c{iterations}"
    )


_LABEL_CENTROIDS_SQL = r"""
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         round(unnest(embedding)::DOUBLE, 6)::DECIMAL(18,6) AS e
  FROM embeddings
)
SELECT label, pos, count(*) AS n_vectors,
       round(sum(e)::DOUBLE / count(*)::DOUBLE, 6) AS centroid
FROM e GROUP BY 1, 2
"""

_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""

# documents.text is pure ASCII (verified: max codepoint 121), so the
# utf-8 byte stream equals the codepoint stream — chars stand in for
# bytes, which DuckDB can't index out of a BLOB directly
_MULTIMODAL_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text, octet_length(encode(text)) AS n_bytes
  FROM documents
),
chars AS (
  SELECT media_id, kind, n_bytes, unnest(string_split_regex(text, '')) AS ch
  FROM b
),
hist AS (
  SELECT media_id, kind, n_bytes, unicode(ch) % 8 AS bucket, count(*) AS cnt
  FROM chars WHERE ch != '' GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT media_id, bucket, cnt,
         ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY cnt DESC, bucket) AS rn
  FROM hist
)
-- left join back to the base table: an empty document has no hist rows,
-- but the Spark side (fake_features over b'') still emits a row with
-- argmax_bucket=1 (all-zero histogram, first max position)
SELECT b.media_id, b.kind, b.n_bytes,
       coalesce(best.bucket + 1, 1) AS argmax_bucket
FROM b LEFT JOIN best ON best.media_id = b.media_id AND best.rn = 1
"""

_EVENTS_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       (sum(value::DECIMAL(14,2)))::DOUBLE AS total_value
FROM events GROUP BY 1, 2
"""

_EVENTS_TOP_USERS_SQL = """
WITH totals AS (
  SELECT event_type, user_id, sum(value::DECIMAL(14,2)) AS tv
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, user_id, tv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tv DESC, user_id) AS rank
  FROM totals
)
SELECT event_type, user_id, tv::DOUBLE AS total_value, rank
FROM ranked WHERE rank <= 3
"""

_EVENTS_ASOF_SQL = """
WITH v AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
  SELECT user_id, ts, value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.ts, c.click_value,
       v.ts AS view_ts, v.view_value
FROM c ASOF LEFT JOIN v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""

_EVENTS_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       (sum(value::DECIMAL(14,2)))::DOUBLE AS total_value
FROM s GROUP BY user_id, sid
"""

_EVENTS_RANGE_SQL = """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
pairs AS (
  SELECT c.user_id, c.ts, v.ts AS view_ts
  FROM c JOIN v ON c.user_id = v.user_id
   AND abs(epoch(c.ts) - epoch(v.ts)) <= 300
)
SELECT user_id, count(*) AS n_pairs,
       min(ts) AS first_click, max(view_ts) AS last_view
FROM pairs GROUP BY user_id
"""

_EVENTS_ROLLUP_SQL = """
SELECT 'minute' AS grain, date_trunc('minute', ts) AS bucket_start,
       count(*) AS n_events, (sum(value::DECIMAL(14,2)))::DOUBLE AS total_value
FROM events GROUP BY 2
UNION ALL
SELECT 'hour', date_trunc('hour', ts), count(*),
       (sum(value::DECIMAL(14,2)))::DOUBLE
FROM events GROUP BY 2
UNION ALL
SELECT 'day', date_trunc('day', ts), count(*),
       (sum(value::DECIMAL(14,2)))::DOUBLE
FROM events GROUP BY 2
"""

def _pagerank_sql(damping: float = 0.85, iterations: int = 3) -> str:
    ctes = [
        """raw AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)""",
        "und AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw)",
        "nodes AS (SELECT DISTINCT src AS node FROM und)",
        "deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        """r0 AS (
  SELECT node, round(1.0 / n, 12)::DECIMAL(20,12) AS rank FROM nodes CROSS JOIN nn
)""",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""c{t} AS (
  SELECT u.dst AS node,
         sum(round(r.rank::DOUBLE / d.deg, 12)::DECIMAL(20,12)) AS contrib
  FROM und u JOIN r{t - 1} r ON u.src = r.node JOIN deg d ON u.src = d.src
  GROUP BY 1
)"""
        )
        # inject the EXACT python doubles: DuckDB parses bare 0.85 /
        # (1 - 0.85) as decimals, whose values differ from the engine's
        # IEEE doubles by an ulp at the 12th place
        ctes.append(
            f"""r{t} AS (
  SELECT n.node,
         round({1.0 - damping!r}::DOUBLE / nn.n
               + {damping!r}::DOUBLE * coalesce(c.contrib::DOUBLE, 0), 12)::DECIMAL(20,12) AS rank
  FROM nodes n LEFT JOIN c{t} c USING (node) CROSS JOIN nn
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, rank::DOUBLE AS rank FROM r{iterations}"
    )


_LINE_DEDUP_SQL = r"""
WITH lc AS (
  SELECT d.doc_id,
         substring(d.text, 1, 80) || chr(10) || substring(p.text, 1, 80)
           || chr(10) AS text
  FROM documents d JOIN documents p ON p.doc_id = d.doc_id % 100
),
l AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ls[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lc)
  CROSS JOIN UNNEST(range(1, len(ls) + 1)) AS t(i)
),
r AS (SELECT doc_id, pos, line, doc_id * 1000000 + pos AS rnk FROM l),
w AS (SELECT line, min(rnk) AS win_rank FROM r GROUP BY line),
k AS (
  SELECT r.doc_id, r.pos, r.line,
         (r.rnk = w.win_rank OR r.line = '') AS keep
  FROM r JOIN w USING (line)
)
SELECT doc_id,
       coalesce(
         string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), ''
       ) AS clean_text,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM k GROUP BY doc_id
"""

_URL_DEDUP_SQL = r"""
WITH raw AS (
  SELECT doc_id, CASE doc_id % 4
    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/a/' || doc_id || '/?utm_source=x&b=2&a=1#frag'
    WHEN 1 THEN 'https://example.org:443/p/' || doc_id || '?z=1&y=2'
    WHEN 2 THEN 'http://Example.com/a/' || doc_id || '//#sec?noise=1'
    ELSE 'sub.example.net/x/' || doc_id || ' ' END AS url
  FROM documents
  UNION ALL
  SELECT doc_id, CASE doc_id % 4
    WHEN 0 THEN 'http://www.example.com/a/' || doc_id || '?a=1&b=2'
    WHEN 1 THEN 'https://example.org/p/' || doc_id || '?y=2&z=1'
    WHEN 2 THEN 'http://example.com/a/' || doc_id
    ELSE 'Sub.Example.net/x/' || doc_id END
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS host0,
    regexp_replace(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1),
      '/+$', '') AS path,
    list_sort(list_filter(
      string_split(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '&'),
      p -> p != '' AND NOT starts_with(p, 'utm_')
           AND NOT starts_with(p, 'fbclid='))) AS params
  FROM raw
),
n AS (
  SELECT doc_id,
    CASE WHEN scheme = '' THEN lower(trim(url))
         ELSE scheme || '://'
              || CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                      WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                      ELSE host0 END
              || path
              || CASE WHEN len(params) > 0
                      THEN '?' || array_to_string(params, '&') ELSE '' END
    END AS norm_url
  FROM parts
)
SELECT norm_url, count(*) AS n_urls, min(doc_id) AS doc_id
FROM n GROUP BY norm_url
"""

_C4_FILTER_SQL = r"""
WITH lc AS (
  SELECT doc_id,
         substring(text, 1, 80) || '.' || chr(10)
         || 'lorem ipsum dolor sit.' || chr(10)
         || 'Enable JavaScript to view this page.' || chr(10)
         || substring(text, 1, 80) || chr(10)
         || 'Too short.' AS text
  FROM documents
),
s AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls,
         list_filter(
           string_split(text, chr(10)),
           x -> regexp_matches(x, '[.!?"]\s*$')
                AND len(list_filter(string_split(trim(x), ' '), t -> t != '')) >= 3
                AND NOT contains(lower(x), 'lorem ipsum')
                AND NOT contains(lower(x), 'javascript')
                AND NOT contains(x, '{')
         ) AS kept
  FROM lc
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       CAST(len(kept) AS INT) AS n_kept,
       CAST(len(ls) - len(kept) AS INT) AS n_removed
FROM s
"""

_DOMAIN_CAPS_SQL = r"""
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substring(md5(doc_id::VARCHAR), 1, 8), doc_id
         ) AS rank
  FROM documents
)
SELECT doc_id, source, CAST(rank AS INT) AS rank FROM r WHERE rank <= 15
"""

_DEDUP_INCREMENTAL_SQL = r"""
WITH existing AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 = 0
),
new_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0
),
fp AS (
  SELECT min(doc_id) AS doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM new_docs GROUP BY 2
)
SELECT doc_id, fp FROM fp
WHERE fp NOT IN (SELECT fp FROM existing)
"""

_EVENTS_TOPK_SQL = """
SELECT user_id, event_id, round(value, 6) AS value, rnk
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
  FROM events
)
WHERE rnk <= 3
"""

_EVENTS_ROLLING_SQL = """
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       round((sum(value::DECIMAL(18,6)) OVER w)::DOUBLE, 6) AS sum_1h,
       round((sum(value::DECIMAL(18,6)) OVER w)::DOUBLE
             / (count(*) OVER w), 6) AS mean_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

_EVENTS_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS view_ts
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.signup_ts GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.view_ts GROUP BY 1
)
SELECT s1.user_id, signup_ts, view_ts, purchase_ts
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""

_EVENTS_COHORTS_SQL = """
WITH w AS (SELECT user_id, date_trunc('week', ts) AS week FROM events),
f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
SELECT cohort_week,
       (epoch_us(week) - epoch_us(cohort_week)) // 604800000000 AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM w JOIN f USING (user_id)
GROUP BY 1, 2
"""

_KG_EXTRACT_LINKS_SQL = r"""
WITH h AS (
  SELECT 'http://crawl.test/' || doc_id AS url,
         '<html><body><p>' || substring(text, 1, 20)
         || '</p><a href="http://crawl.test/' || (doc_id % 50)
         || '?x=1">page ' || (doc_id % 7)
         || '</a> <a class="ext" href="https://other.org/' || (doc_id % 11)
         || '">Other Site</a><a href="http://crawl.test/' || (doc_id % 50)
         || '?x=1">again</a></body></html>' AS html
  FROM documents
),
l AS (
  SELECT url,
         regexp_extract_all(html, '<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>', 1) AS hrefs,
         regexp_extract_all(html, '<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>', 2) AS anchors
  FROM h
)
SELECT url AS src_url, CAST(i - 1 AS INT) AS pos,
       hrefs[i] AS href, anchors[i] AS anchor
FROM l CROSS JOIN UNNEST(range(1, len(hrefs) + 1)) AS r(i)
"""

_GRAPH_TRIANGLES_SQL = r"""
WITH e AS (
  SELECT DISTINCT least(l1.l_partkey, l2.l_partkey) AS a,
                  greatest(l1.l_partkey, l2.l_partkey) AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey != l2.l_partkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT node, count(*) AS n_triangles
FROM (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
GROUP BY node
"""

_EVENTS_PERCENTILES_SQL = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""

_EVENTS_RUNNING_SQL = """
SELECT user_id, event_id,
       count(*) OVER w_run AS running_n,
       round((sum(value::DECIMAL(18,6)) OVER w_run)::DOUBLE, 6) AS running_sum,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w_ord AS micros_since_prev
FROM events
WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
       w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

_EVENTS_JSON_SQL = """
SELECT event_type,
       count(*) AS n_events,
       sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
       min(json_extract(props, '$.k')::INT) AS min_k,
       max(json_extract(props, '$.k')::INT) AS max_k
FROM events
GROUP BY event_type
"""

_EVENTS_CUBE_SQL = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(date_trunc('day', ts), TIMESTAMP '1900-01-01') AS day,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,6))::DOUBLE, 6) AS sum_value
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
"""

_TPCH_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice::DECIMAL(16,2)
                 * (1::DECIMAL(3,2) - l_discount::DECIMAL(4,2)))::DOUBLE, 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1997-01-01'
  AND l_shipdate > '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

_TPCH_Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice::DECIMAL(16,2)
                 * (1::DECIMAL(3,2) - l_discount::DECIMAL(4,2)))::DOUBLE, 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
GROUP BY n_name
"""

_LINEITEM_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       (sum(l_quantity::DECIMAL(14,2)))::DOUBLE AS sum_qty,
       (sum(l_extendedprice::DECIMAL(16,2)))::DOUBLE AS sum_base_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""

_DEDUP_EXACT_SQL = f"""
WITH {_DEDUP_CORPUS_SQL.strip()},
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus
)
SELECT fp, count(*) AS n_docs, min(doc_id) AS representative
FROM fp GROUP BY fp HAVING count(*) > 1
"""


def oracle_sql() -> dict[str, str]:
    return {
        "skos_levels": _SKOS_LEVELS_SQL,
        "skos_closure": _SKOS_CLOSURE_SQL,
        "skos_best_label": _SKOS_BEST_LABEL_SQL,
        "skos_orphans": _SKOS_ORPHANS_SQL,
        "skos_polyhierarchy": _SKOS_POLY_SQL,
        "skos_val_duplicate_uris": _VAL_DUP_URIS_SQL,
        "skos_val_missing_labels": _VAL_MISSING_LABELS_SQL,
        "skos_val_multiple_preflabels": _VAL_MULTI_PREF_SQL,
        "skos_val_self_references": _VAL_SELF_REFS_SQL,
        "skos_val_no_scheme": _VAL_NO_SCHEME_SQL,
        "skos_val_duplicate_labels": _VAL_DUP_LABELS_SQL,
        "skos_val_top_inconsistencies": _VAL_TOP_INCONSISTENCIES_SQL,
        "skos_val_orphans": _VAL_ORPHANS_SQL,
        "skos_val_cycles": _VAL_CYCLES_SQL,
        "skos_val_depths": _VAL_DEPTHS_SQL,
        "kg_links": _kg_links_sql(),
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": "WITH " + _JACCARD_PAIRS_SQL.format(tau=0.8),
        # lossless prefix filtering == the exact all-pairs answer
        "dedup_ngram_prefix": "WITH " + _JACCARD_PAIRS_SQL.format(tau=0.8),
        "dedup_minhash_lsh": _minhash_sql(0.8),
        "dedup_simhash": _simhash_sql(),
        "corpus_prepare": _corpus_prepare_sql(),
        "ann_topk": _ANN_TOPK_SQL,
        "ann_ivf_topk": _ANN_IVF_SQL,
        "embedding_neardup": _EMB_NEARDUP_SQL,
        "embedding_neardup_bucketed": _EMB_NEARDUP_BUCKETED_SQL,
        "embedding_neardup_srp": _srp_sql(),
        "text_token_count": _TOKEN_COUNT_SQL,
        "text_quality": _TEXT_QUALITY_SQL,
        "text_fingerprint": _FINGERPRINT_SQL,
        "text_langid": _langid_sql(),
        "text_winnow": _TEXT_WINNOW_SQL,
        "text_tfidf": _TEXT_TFIDF_SQL,
        "text_lm_score": _TEXT_LM_SCORE_SQL,
        "corpus_quality_filter": _QUALITY_FILTER_SQL,
        "corpus_hash_sample": _HASH_SAMPLE_SQL,
        "corpus_stratified_sample": _STRATIFIED_SAMPLE_SQL,
        "corpus_repetition": _REPETITION_SQL,
        "corpus_decontaminate": _DECONTAMINATE_SQL,
        "corpus_decontaminate_fuzzy": _fuzzy_decontaminate_sql(),
        "corpus_length_deciles": _LENGTH_DECILES_SQL,
        "corpus_pack": _CORPUS_PACK_SQL,
        "text_ngram_topk": _NGRAM_TOPK_SQL,
        "text_pii": _PII_SQL,
        "emb_label_centroids": _LABEL_CENTROIDS_SQL,
        "emb_kmeans": _kmeans_sql(),
        "multimodal_byte_stats": _MULTIMODAL_SQL,
        "multimodal_features": _MULTIMODAL_FEATURES_SQL,
        "events_window_agg": _EVENTS_WINDOW_SQL,
        "events_top_users": _EVENTS_TOP_USERS_SQL,
        "events_asof": _EVENTS_ASOF_SQL,
        "events_sessions": _EVENTS_SESSIONS_SQL,
        "events_range_join": _EVENTS_RANGE_SQL,
        "events_rollup": _EVENTS_ROLLUP_SQL,
        "lineitem_pricing": _LINEITEM_PRICING_SQL,
        "tpch_q3": _TPCH_Q3_SQL,
        "tpch_q5": _TPCH_Q5_SQL,
        "events_json_extract": _EVENTS_JSON_SQL,
        "events_cube": _EVENTS_CUBE_SQL,
        "graph_pagerank": _pagerank_sql(),
        "graph_triangles": _GRAPH_TRIANGLES_SQL,
        "kg_extract_links": _KG_EXTRACT_LINKS_SQL,
        "dedup_shared_passages": _SHARED_PASSAGES_SQL,
        "events_percentiles": _EVENTS_PERCENTILES_SQL,
        "events_running": _EVENTS_RUNNING_SQL,
        "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
        "corpus_line_dedup": _LINE_DEDUP_SQL,
        "corpus_domain_caps": _DOMAIN_CAPS_SQL,
        "corpus_c4_filter": _C4_FILTER_SQL,
        "corpus_url_dedup": _URL_DEDUP_SQL,
        "events_topk_per_user": _EVENTS_TOPK_SQL,
        "events_rolling_hour": _EVENTS_ROLLING_SQL,
        "events_funnel": _EVENTS_FUNNEL_SQL,
        "events_cohorts": _EVENTS_COHORTS_SQL,
    }

"""Entity linking: TF-IDF context scoring of exact dictionary hits (north_star).

Everything is built-in DataFrame algebra — explode/groupBy/join — so
Catalyst plans it with partial aggregation and broadcast joins; no UDFs
at all in this stage.

Score model (deterministic):
- candidates are exact dictionary hits: mention_candidates equi-joins a
  mention's normalized surface to a label of the concept, so the
  mention-to-label surface match is always total and contributes the
  constant 0.5.
- context_tfidf: cosine similarity between the page's mention TF-IDF
  vector (vocabulary surfaces found on the page) and the concept's
  surface set, with document frequencies computed over the pages.
- score = 0.5 + 0.5 * context_tfidf. TF-IDF weights are non-negative
  (df ≤ n_pages), so the cosine lies in [0, 1] and every score in
  [0.5, 1]; no threshold is applied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.kg.mentions import mention_candidates


def vocab_score_tables(label_tbl: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(prof, prof_norm): the vocabulary side of the context cosine —
    each concept's distinct surface set (uri, norm_surface) and its
    Euclidean norm (uri, prof_norm) as a 0/1 vector."""
    prof = label_tbl.select("uri", "norm_surface").distinct()
    prof_norm = prof.groupBy("uri").agg(
        F.sqrt(F.count("*").cast("double")).alias("prof_norm")
    )
    return prof, prof_norm


def mention_context_scores(mentions: DataFrame, label_tbl: DataFrame) -> DataFrame:
    """(url, uri, context_tfidf): cosine between the page's MENTION
    vector and the concept's surface set, with IDF over pages.

    Scale rationale: the naive context model (TF-IDF over full page
    text) explodes O(corpus tokens) rows — tens of billions at target
    scale — only to discard everything outside the vocabulary. The
    mention scanner has already found every vocabulary occurrence, so
    the context vector is derivable from the mentions table alone:
    tf(url, surface) = mention counts, idf over page frequency of the
    surface. Co-occurring vocabulary mentions are the context signal;
    no token explode, every shuffle is bounded by |mentions|.
    """
    tf = mentions.groupBy("url", "norm_surface").agg(F.count("*").alias("tf"))
    # n_pages as an in-plan broadcast scalar (single-row aggregate +
    # crossJoin), NOT a driver-side .count(): a separate blocking job
    # would re-scan the mentions table once per pipeline run just to
    # fetch one integer
    np_df = mentions.agg(F.countDistinct("url").alias("n_pages"))
    # (url, norm_surface) is tf's grouping key, so rows are unique per
    # pair and count(*) ≡ countDistinct(url) — without the extra
    # expand/two-phase distinct aggregation countDistinct plans
    df_s = tf.groupBy("norm_surface").agg(F.count("*").alias("df"))
    w = (
        tf.join(F.broadcast(df_s), "norm_surface")
        .crossJoin(F.broadcast(np_df))
        .withColumn(
            "w",
            F.col("tf")
            * F.log(
                (F.col("n_pages") + F.lit(1)).cast("double") / (F.col("df") + 1.0)
            ),
        )
        .select("url", "norm_surface", "w")
    )
    page_norm = w.groupBy("url").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("page_norm")
    )
    prof, prof_norm = vocab_score_tables(label_tbl)
    dots = (
        w.join(F.broadcast(prof), "norm_surface")
        .groupBy("url", "uri")
        .agg(F.sum("w").alias("dot"))
    )
    return (
        dots.join(page_norm, "url")
        .join(F.broadcast(prof_norm), "uri")
        .select(
            "url",
            "uri",
            (
                F.col("dot")
                / F.when(
                    F.col("page_norm") * F.col("prof_norm") > 0,
                    F.col("page_norm") * F.col("prof_norm"),
                ).otherwise(F.lit(1.0))
            ).alias("context_tfidf"),
        )
    )


def score_candidates(
    candidates: DataFrame,
    mentions: DataFrame,
    label_tbl: DataFrame,
) -> DataFrame:
    """candidates (url, surface, norm_surface, begin, end, concept_uri,
    kind) → scored links.

    Contract: ``candidates`` come from mention_candidates over the same
    ``label_tbl``, so every (concept_uri, norm_surface) is one of the
    concept's labels and the surface term of the score is exactly 1.0:
    score = 0.5 + 0.5 * context_tfidf. A candidate from any other
    generator would be scored as an exact hit; nothing checks this,
    because the check would cost a join against the label table. The
    only candidate-side shuffle is one narrow distinct() that collapses
    pref/alt kind duplicates."""
    ctx = mention_context_scores(mentions, label_tbl).withColumnRenamed(
        "uri", "concept_uri"
    )
    scored = (
        candidates.select(
            "url", "surface", "norm_surface", "begin", "end", "concept_uri"
        )
        .distinct()
        .join(ctx, ["url", "concept_uri"], "left")
        .withColumn(
            "score", 0.5 + 0.5 * F.coalesce(F.col("context_tfidf"), F.lit(0.0))
        )
    )
    return scored.select(
        "url", "surface", "norm_surface", "begin", "end", "concept_uri", "score"
    )


def link_best(scored: DataFrame) -> DataFrame:
    """One concept per mention span: highest score, ties to the smaller
    uri (deterministic).

    A hash aggregation — min over (−score, uri, payload) structs, the
    house first-value-wins pattern — NOT a row_number window: the window
    shuffles and per-partition-sorts every candidate row, while the agg
    map-side-combines to one partial winner per span per partition
    before the shuffle. Negating an IEEE double is exact, so the struct
    order is precisely (score desc, concept_uri asc)."""
    pick = F.min(
        F.struct(
            (-F.col("score")).alias("neg_score"),
            F.col("concept_uri").alias("concept_uri"),
            F.col("surface").alias("surface"),
            F.col("norm_surface").alias("norm_surface"),
            F.col("score").alias("score"),
        )
    ).alias("m")
    return scored.groupBy("url", "begin", "end").agg(pick).select(
        "url",
        F.col("m.surface").alias("surface"),
        F.col("m.norm_surface").alias("norm_surface"),
        "begin",
        "end",
        F.col("m.concept_uri").alias("concept_uri"),
        F.col("m.score").alias("score"),
    )


def link_stage(
    mentions: DataFrame,
    triples: DataFrame,
    label_tbl: DataFrame,
    parts: int,
) -> DataFrame:
    """Mentions → candidates → scored links → one best concept per
    mention span: the KG pipeline's 30_links and the kg_links query.

    One url-keyed exchange up front makes the scoring DAG downstream
    exchange-free: hashpartitioning(url) satisfies the clustered
    distribution of every aggregation and join in score_candidates /
    mention_context_scores / link_best (all keyed with url as a prefix),
    so Catalyst plans them in one stage instead of a chain of seven
    small shuffles (r6: 30_links was 5.6 s of a 12.4 s pipeline; plan
    46 → 31 exchanges)."""
    by_url = mentions.repartition(parts, "url")
    return link_best(
        score_candidates(
            mention_candidates(by_url, triples, label_tbl=label_tbl),
            by_url,
            label_tbl,
        )
    )

"""Entity linking: TF-IDF + Jaccard candidate scoring (north_star).

Everything is built-in DataFrame algebra — explode/groupBy/join — so
Catalyst plans it with partial aggregation and broadcast joins; no UDFs
at all in this stage.

Score model (deterministic):
- surface_jaccard: |tokens(mention) ∩ tokens(label)| / |union| — 1.0 for
  exact dictionary hits, discounts partial alt-label matches.
- context_tfidf: cosine similarity between the page's mention TF-IDF
  vector (vocabulary surfaces found on the page) and the concept's
  surface set, with document frequencies computed over the pages.
- score = 0.5 * surface_jaccard + 0.5 * context_tfidf; candidates below
  ``threshold`` are dropped (the theta part of J11 applied after the
  equi candidate-gen join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.kg.mentions import label_table, mention_candidates


def mention_context_scores(
    mentions: DataFrame, triples: DataFrame, label_tbl: DataFrame | None = None
) -> DataFrame:
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
    lt_src = label_tbl if label_tbl is not None else label_table(triples)
    prof = lt_src.select("uri", "norm_surface").distinct()
    prof_norm = prof.groupBy("uri").agg(
        F.sqrt(F.count("*").cast("double")).alias("prof_norm")
    )
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


def vocab_score_tables(label_tbl: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(jac_lookup, labels_arr): the two vocabulary-only lookup tables
    score_candidates broadcasts. Exposed so a pipeline can materialize
    them CONCURRENTLY with the mention scan (they depend only on the
    label table): built lazily inside the scoring query, their
    aggregation rounds sit on the links stage's critical path instead of
    overlapping work that has to happen anyway."""
    lt = label_tbl.select(
        F.col("uri").alias("concept_uri"), "norm_surface"
    ).distinct()
    m_tok = F.split(F.col("norm_surface"), " ")
    c_tok = F.split(F.col("cand_norm"), " ")
    jac = (
        F.size(F.array_intersect(m_tok, c_tok)).cast("double")
        / F.size(F.array_union(m_tok, c_tok)).cast("double")
    )
    jac_lookup = (
        lt.join(
            lt.select("concept_uri", F.col("norm_surface").alias("cand_norm")),
            "concept_uri",
        )
        .withColumn("sj", jac)
        .groupBy("concept_uri", "norm_surface")
        .agg(F.max("sj").alias("surface_jaccard"))
    )
    labels_arr = lt.groupBy("concept_uri").agg(
        F.collect_list(F.split("norm_surface", " ")).alias("label_toks")
    )
    return jac_lookup, labels_arr


def score_candidates(
    candidates: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    threshold: float = 0.25,
    label_tbl: DataFrame | None = None,
    score_tables: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """candidates (url, surface, norm_surface, begin, end, concept_uri,
    kind) → scored links above threshold.

    surface_jaccard is max over the concept's labels of
    jaccard(mention tokens, label tokens). Under EXACT dictionary
    candidate generation (mention_candidates equi-joins on the
    normalized surface) the matched label IS the mention surface, so the
    max is identically 1.0 — measured over 920k candidates, zero rows
    below 1.0 — and the term only discounts candidates from a looser
    generator. The score therefore depends only on (norm_surface,
    concept_uri), which lets it be PRECOMPUTED on the vocabulary alone:
    a label×label self-join per concept on the broadcast-sized label
    table, never a corpus-sized join. (Through round 3 this was a
    broadcast join EXPANDING every candidate row by the concept's label
    count followed by a 6-string-column groupBy — ~2× the rows through
    the stage's widest shuffle, computing a constant.) The remaining
    candidate-side shuffle is one narrow distinct() that collapses
    pref/alt kind duplicates.
    """
    lt_src = label_tbl if label_tbl is not None else label_table(triples)
    # LEFT join + coalesce fallback, not inner: under exact generation the
    # lookup always hits (precondition above), but a looser candidate
    # generator must degrade to DISCOUNTING unmatched surfaces, never
    # silently dropping them. The fallback is the true max-over-labels
    # jaccard, computed row-local against a broadcast per-concept array of
    # label token lists (0.0 for a concept with no labels at all). One
    # linear pass — no branch/union (which would reference the candidate
    # subtree twice and re-run its upstream), no extra shuffle; coalesce
    # evaluates the fallback lazily, so the exact-generation hot path pays
    # only a broadcast hash probe. The transform lambda captures only the
    # mention's own token split (short string, cheap per label) — not an
    # expensive array expression (the HOF re-evaluation pitfall).
    jac_lookup, labels_arr = (
        score_tables if score_tables is not None else vocab_score_tables(lt_src)
    )
    f_tok = F.split(F.col("norm_surface"), " ")
    fallback_jac = F.array_max(
        F.transform(
            F.col("label_toks"),
            lambda t: F.size(F.array_intersect(f_tok, t)).cast("double")
            / F.size(F.array_union(f_tok, t)).cast("double"),
        )
    )
    with_jac = (
        candidates.select(
            "url", "surface", "norm_surface", "begin", "end", "concept_uri"
        )
        .distinct()
        .join(F.broadcast(jac_lookup), ["concept_uri", "norm_surface"], "left")
        .join(F.broadcast(labels_arr), "concept_uri", "left")
        .withColumn(
            "surface_jaccard",
            F.coalesce(F.col("surface_jaccard"), fallback_jac, F.lit(0.0)),
        )
        .drop("label_toks")
    )
    ctx = mention_context_scores(mentions, triples, label_tbl=lt_src).withColumnRenamed(
        "uri", "concept_uri"
    )
    scored = (
        with_jac.join(ctx, ["url", "concept_uri"], "left")
        .withColumn(
            "score",
            0.5 * F.col("surface_jaccard")
            + 0.5 * F.coalesce(F.col("context_tfidf"), F.lit(0.0)),
        )
        .filter(F.col("score") >= threshold)
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
    threshold: float,
    score_tables: tuple[DataFrame, DataFrame] | None = None,
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
            triples,
            threshold=threshold,
            label_tbl=label_tbl,
            score_tables=score_tables,
        )
    )

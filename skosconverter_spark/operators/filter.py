"""Corpus filtering + deterministic sampling for training-data pipelines.

Two operators every 100 TB pretraining pipeline runs before anything
else, both pure Catalyst expressions (no Python, no shuffle except the
caller's):

- ``quality_flags``: document-level quality rules in the publicly
  documented Gopher/C4 family (Rae et al. 2021 §A1.1; Raffel et al.
  2020 §2.2) — word-count bounds, mean word length, alphabetic-word
  fraction, stopword evidence. Every signal is exact
  integer/rational math so a SQL oracle reproduces the keep/drop
  decision bit-for-bit. Thresholds are parameters; the defaults are the
  published Gopher values where they exist.
- ``hash_sample``: deterministic content-addressed sampling — keep a row
  iff the first 8 hex chars of md5(key||salt) compare below the
  fraction's hex threshold. Properties that matter at scale: stable
  under re-runs and repartitioning (pure function of the key), nested
  samples (frac 0.1 ⊂ frac 0.2 at the same salt), disjoint across
  salts, and engine-agnostic (string comparison on md5 hex — no
  engine-private hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from skosconverter_spark.functions.text import STOPWORDS, tokens

# published Gopher bounds (Rae et al. 2021, Appendix A1.1)
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOPWORD_HITS = 2


def quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = MIN_WORDS,
    max_words: int = MAX_WORDS,
    min_mean_word_len: float = MIN_MEAN_WORD_LEN,
    max_mean_word_len: float = MAX_MEAN_WORD_LEN,
    min_alpha_word_frac: float = MIN_ALPHA_WORD_FRAC,
    min_stopword_hits: int = MIN_STOPWORD_HITS,
) -> DataFrame:
    """(doc_id, n_words, mean_word_len, alpha_word_frac, stopword_hits,
    keep): per-document quality signals and the conjunctive decision."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    # guard n_words = 0: NULL ratios on BOTH engine and oracle (an empty
    # document fails keep either way, but the value row must agree)
    nz = F.when(n_words > 0, n_words.cast("double"))
    mean_len = total_len.cast("double") / nz
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = alpha_words.cast("double") / nz
    # stopword evidence: number of DISTINCT stopwords present (the
    # Gopher rule asks for >= 2 of a fixed list)
    low = F.array_distinct(F.transform(toks, lambda t: F.lower(t)))
    stop_hits = F.size(
        F.array_intersect(low, F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    out = df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return out.withColumn("keep", keep)


def repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    max_top_word_share: float = 0.2,
    max_dup_2gram_frac: float = 0.1,
    max_dup_3gram_frac: float = 0.08,
) -> DataFrame:
    """(doc_id, n_words, top_word_share, dup_2gram_frac, dup_3gram_frac,
    keep): the Gopher repetition-removal signals (Rae et al. 2021 §A1.1
    "repetitious documents") in their exactly-reproducible form — the
    share of the most frequent word, and the duplicated-n-gram fraction
    (1 − distinct/total) for word 2- and 3-grams.

    Plan shape: the n-gram fractions are pure array expressions (the
    shingle array is evaluated once per row; sizes of it and its
    array_distinct — no explode, no shuffle). The word histogram needs
    one explode + one doc-keyed hash aggregation; top-word share is
    max(tf)/sum(tf) from that single pass. One shuffle total, then a
    doc_id join back to the expression-only side.

    All ratios are round(·, 6) of exact integer arithmetic, so the SQL
    oracle reproduces keep/drop bit-for-bit."""
    from skosconverter_spark.operators.dedup import norm_tokens, shingles

    t = F.col(text_col)

    def dup_frac(n: int) -> Column:
        arr = shingles(t, n)
        total = F.size(arr)
        return F.when(
            total > 0,
            F.round(
                1.0
                - F.size(F.array_distinct(arr)).cast("double")
                / total.cast("double"),
                6,
            ),
        )

    per_doc = df.select(
        "doc_id",
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )
    tf = (
        df.select("doc_id", F.explode(norm_tokens(t)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    word_stats = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_words"),
        F.round(F.max("tf").cast("double") / F.sum("tf").cast("double"), 6).alias(
            "top_word_share"
        ),
    )
    out = per_doc.join(word_stats, "doc_id", "left").withColumn(
        "n_words", F.coalesce(F.col("n_words"), F.lit(0))
    )
    keep = (
        (F.col("n_words") > 0)
        & (F.col("top_word_share") <= max_top_word_share)
        & (F.coalesce(F.col("dup_2gram_frac"), F.lit(0.0)) <= max_dup_2gram_frac)
        & (F.coalesce(F.col("dup_3gram_frac"), F.lit(0.0)) <= max_dup_3gram_frac)
    )
    return out.select(
        "doc_id",
        "n_words",
        "top_word_share",
        "dup_2gram_frac",
        "dup_3gram_frac",
        keep.alias("keep"),
    )


def pack_documents(
    df: DataFrame,
    context_len: int = 512,
    text_col: str = "text",
    shard_col: str = "source",
) -> DataFrame:
    """(source, doc_id, n_tokens, pack_id, pack_offset): GPT-style
    sequential packing — documents are concatenated in doc_id order and
    cut into fixed ``context_len``-token training windows; a document
    starts in pack ``pack_id`` at ``pack_offset`` and may span packs
    (the standard pretraining concatenate-then-chunk scheme).

    Pure integer math over one running-sum window: pack_id =
    floor(tokens_before / L), pack_offset = tokens_before mod L.

    Scale note: packing is inherently a running sum, so it is computed
    PER SHARD (``shard_col``, default the ingest source) — each shard's
    window is independent and parallel, exactly how a real pipeline
    packs per input shard; a single global ordering would serialize the
    corpus through one partition. pack_id is therefore per-shard."""
    from skosconverter_spark.functions.text import token_count

    w = (
        Window.partitionBy(shard_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = df.select(
        shard_col, "doc_id", token_count(F.col(text_col)).alias("n_tokens")
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        shard_col,
        "doc_id",
        "n_tokens",
        F.floor(before / context_len).cast("bigint").alias("pack_id"),
        (before % context_len).cast("bigint").alias("pack_offset"),
    )


def sample_key(key: Column, salt: str = "") -> Column:
    """First 8 hex chars of md5(key||salt) — the sampling coordinate."""
    return F.substring(
        F.md5(F.encode(F.concat(key.cast("string"), F.lit(salt)), "utf-8")), 1, 8
    )


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Deterministic ~fraction sample: keep iff the md5-hex coordinate is
    below the fraction's 8-hex-digit threshold. Nested across fractions,
    stable across runs/partitionings, disjoint across salts.

    fraction >= 1.0 keeps everything (early return: an 8-hex-digit
    threshold cannot express 16**8, and a 9-char string compares
    lexicographically below almost every 8-char hex key)."""
    if fraction < 0:
        raise ValueError(f"hash_sample fraction must be >= 0, got {fraction}")
    if fraction >= 1.0:
        return df
    thr = format(int(fraction * 16**8), "08x")
    return df.filter(sample_key(F.col(key_col), salt) < F.lit(thr))


def fraction_threshold(fraction: float) -> str:
    """The 8-hex-digit md5 threshold for a fraction; 'g' (> every hex
    char) encodes keep-everything so a CASE over strata needs no special
    branch."""
    if fraction < 0:
        raise ValueError(f"fraction must be >= 0, got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * 16**8), "08x")


def c4_line_filters(
    df: DataFrame, text_col: str = "text", min_words: int = 3
) -> DataFrame:
    """(doc_id, clean_text, n_kept, n_removed): the C4 line-level
    cleaning rules (Raffel et al. 2020 §2.2) — keep only lines that end
    in terminal punctuation, have at least ``min_words`` words, and
    contain neither "lorem ipsum", "javascript" (placeholder/noscript
    boilerplate) nor a curly brace (leaked code).

    Pure per-row array expressions — no shuffle at all, the filter runs
    inside the scan's codegen stage. The higher-order-function lambdas
    here touch only their bound element (cheap per line), never a
    captured expensive expression (the [[spark-hof-lambda-pitfall]]
    class)."""
    lines = F.split(F.col(text_col), "\n")

    def keep(l):
        words = F.filter(F.split(F.trim(l), " "), lambda t: t != F.lit(""))
        low = F.lower(l)
        return (
            l.rlike(r'[.!?"]\s*$')
            & (F.size(words) >= min_words)
            & ~low.contains("lorem ipsum")
            & ~low.contains("javascript")
            & ~l.contains("{")
        )

    kept = F.filter(lines, keep)
    return df.select(
        "doc_id",
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).alias("n_kept"),
        (F.size(lines) - F.size(kept)).alias("n_removed"),
    )


def domain_caps(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    n_buckets: int = 64,
) -> DataFrame:
    """(doc_id, <domain_col>, rank): at most ``cap`` documents per
    domain — the FineWeb-style anti-spam guard against one host
    dominating a crawl snapshot. Selection is a deterministic hash
    lottery (same md5 coordinate as ``hash_sample``, doc_id tiebreak),
    so the surviving set is stable across runs, partitionings, and
    cluster sizes, and re-crawls keep the same winners.

    Plan: salted two-level top-k — the skewed domain key NEVER carries
    a whole domain through one task. Stage 1 ranks within (domain,
    hash-bucket of the row key): a pathological host's rows spread over
    ``n_buckets`` window partitions of ~|domain|/n_buckets rows each,
    and each bucket keeps at most ``cap`` local candidates. Stage 2
    re-ranks per domain over the surviving candidates only — bounded at
    cap × n_buckets rows per domain by construction, regardless of how
    big the host was. Exact: any row in a domain's true global top-cap
    is beaten by < cap rows overall, hence by < cap rows inside its own
    bucket, so it survives stage 1; and every row globally above it
    also survives, so its stage-2 row_number equals its global rank.
    (A naive single window partitioned by the domain is exactly the
    skew this operator exists to defuse — AQE skew-join splitting does
    not apply to windows.)"""
    if cap < 1:
        raise ValueError(f"domain_caps cap must be >= 1, got {cap}")
    order_cols = [sample_key(F.col(key_col), salt), F.col(key_col)]
    bucketed = df.select(key_col, domain_col).withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    )
    w_local = Window.partitionBy(domain_col, "_bucket").orderBy(*order_cols)
    candidates = (
        bucketed.withColumn("_lrank", F.row_number().over(w_local))
        .filter(F.col("_lrank") <= cap)
        .drop("_bucket", "_lrank")
    )
    w_global = Window.partitionBy(domain_col).orderBy(*order_cols)
    return (
        candidates.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= cap)
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum hash sampling — the corpus-mixing move
    (downweight one language/source, keep another whole) every
    pretraining pipeline runs when balancing data.

    Same coordinate as ``hash_sample`` (first 8 md5 hex chars of
    key||salt), so per-stratum samples inherit its properties: nested
    across fractions, stable under repartitioning, disjoint across
    salts — and a row's fate never depends on which stratum OTHER rows
    are in. The per-stratum threshold is a literal CASE expression:
    pure Catalyst filter, no shuffle, no Python."""
    thr = F.lit(fraction_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(fraction_threshold(frac))
        ).otherwise(thr)
    return df.filter(sample_key(F.col(key_col), salt) < thr)

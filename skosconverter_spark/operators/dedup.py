"""Deduplication operators for training-data pipelines.

Four families over the ``documents`` table (doc_id, text, ...):

- exact:      md5 fingerprint groupBy — one shuffle, map-side combined.
- ngram-jaccard: word-3-gram shingles, inverted-index self-join,
  |∩|/|∪| threshold. Exact but O(pairs-sharing-a-shingle): the scale
  path is minhash below; this is the verifier / small-corpus tool.
- minhash+LSH: k md5-based min-hashes → b bands of r rows → band-bucket
  self-join for candidates → exact jaccard verify. The classic
  shingle→minhash→band→bucket-join pipeline; candidate generation cost
  is bounded by bucket collisions, not n².
- simhash:    16-bit hamming sketch from md5 nibble bits (per-token
  weighted bit votes) — pure aggregation, no joins.

Hash discipline: ONLY md5 (identical across Spark / DuckDB / Python),
so every operator here is verifiable against an ANSI-SQL oracle
value-for-value. xxhash64 would be faster but is Spark-private; at
100 TB you'd swap the constant, not the shape.

There is ONE shingle kernel, ``_doc_sets``: ``norm_tokens`` in a JVM
projection, one doc_id exchange, then one ``mapInArrow`` pass that gives
each document its sorted distinct word-n-gram set and its ``bands`` LSH
band buckets: signature ``h_i = min md5("i:shingle")`` (hex), bucket
``b`` = md5 of ``h[b*r:(b+1)*r]`` joined by ``|``. The tokens come from
the same expression as ``shingles``, so the kernel only joins them into
n-grams; ``tests/test_dedup_kernel.py`` pins its sets and buckets
against ``shingles`` / ``F.md5``. Everything else here is JVM-side.
"""

from __future__ import annotations

import functools
from hashlib import md5
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from skosconverter_spark.functions.text import fingerprint

N_MINHASH = 12
N_BANDS = 4
# distinct shingles one document's set may hold in the shingle kernel (the
# set rides whole through the verify joins); a larger one raises ValueError
MAX_DOC_SHINGLES = 1_000_000


def norm_tokens(col):
    return F.array_remove(
        F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " "), ""
    )


def shingles_of_tokens(toks, n: int = 3):
    """Word n-gram shingle array from an ALREADY-MATERIALIZED token
    array column (empty when fewer than n tokens).

    Built as a zip_with over n shifted slices, NOT a transform indexing
    the token array: a lambda that captures the tokenization expression
    re-evaluates lower+regexp+split once per element_at call (higher-
    order functions are interpreted, no subexpression elimination), which
    made shingling O(tokens × n) full-text scans per row — the dominant
    cost of the whole minhash pipeline. Slices evaluate their argument
    once per ROW; the zip_with lambdas touch only bound element vars.

    Callers should pass a bound ATTRIBUTE for ``toks`` (tokenize in a
    separate projection across a materialization boundary): this
    expression references its input n+2 times (n slices + 2 size
    guards), and when the reference is the raw tokenization expression
    the interpreted-HOF pipeline re-runs lower+regexp+split per
    reference — measured at ~1.7 ms/doc of task CPU in the r6 shingle
    stage, w-gram passages paying w+2 re-evaluations."""
    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, k + 1, F.greatest(m, F.lit(0))) for k in range(n)]
    arr = parts[0]
    for p in parts[1:]:
        arr = F.zip_with(arr, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(m >= 1, arr).otherwise(F.array().cast("array<string>"))


def shingles(col, n: int = 3):
    """Word n-gram shingle array straight from a text column — see
    shingles_of_tokens for the cheap two-step form used on hot paths."""
    return shingles_of_tokens(norm_tokens(col), n)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp, n_docs, doc_ids sorted, representative=min doc_id) for groups
    with >1 member."""
    return (
        docs.select(F.col("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
            F.min("doc_id").alias("representative"),
        )
        .filter(F.col("n_docs") > 1)
    )


def line_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_kept, n_removed): corpus-wide exact line
    deduplication — the C4/RefinedWeb pass that strips boilerplate
    repeated across pages (nav bars, cookie banners, footers). Lines are
    the text split on "\n", which F.split's Java regex matches literally
    (a "\r" stays part of its line). Each distinct non-empty line
    survives only at its FIRST corpus occurrence (min (doc_id,
    position)); every other occurrence is dropped and the document
    reassembled from its surviving lines in order. Empty lines are
    exempt (they are structure, not content).

    Plan shape at scale: posexplode (one pass) → per-line winner as a
    hash agg keyed on md5(line) — NEVER the raw text: on a
    boilerplate-heavy crawl the same kilobyte nav-bar line recurs
    millions of times, and a text-keyed agg/join would ship those bytes
    through both shuffles; the 128-bit digest is uniform, fixed-width,
    and collision-safe at corpus scale — → one equi-join back on the
    digest (text rides only the exploded side, where reassembly needs
    it anyway) → per-doc re-aggregation keyed by doc_id. Two shuffles
    total, both on uniform keys; no windows, no all-pairs anything."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "pos", "line"
        ),
    )
    # the winner is min over the (doc_id, pos) total order — a plain
    # min(struct) hash agg, valid for any orderable doc_id type
    ranked = lines.withColumn("rank", F.struct("doc_id", "pos")).withColumn(
        "line_key", F.md5("line")
    )
    winners = ranked.groupBy("line_key").agg(F.min("rank").alias("win_rank"))
    kept = ranked.join(winners, "line_key").withColumn(
        "keep", (F.col("rank") == F.col("win_rank")) | (F.col("line") == "")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("pos", F.col("line").alias("v")),
                            )
                        )
                    ),
                    lambda s: s["v"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_removed"),
        )
    )


def incremental_new_docs(
    existing_fps: DataFrame, new_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp): the production ingest shape — documents from a new
    batch that are neither exact duplicates of the already-ingested
    corpus nor of each other (min doc_id wins within the batch). A real
    pipeline never re-dedups the whole corpus per delivery; it keeps the
    fingerprint table and anti-joins each delta against it.

    Plan: one fp-keyed hash agg over the (small) delta, then one
    anti-join on the uniform md5 key — the corpus-sized side shuffles
    once, partial-agg-free, no matter how big the history grows."""
    fp = new_docs.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))
    first = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return first.join(existing_fps.select("fp"), "fp", "left_anti").select(
        "doc_id", "fp"
    )


def _band_buckets(sh: list[str], k: int, bands: int) -> list[str]:
    """The ``bands`` md5 band buckets of a shingle set (none for an empty
    set or k = 0). A min over raw digests is the min over their hex
    strings, and copying an md5 state that already holds "i:" hashes
    "i:shingle" without re-encoding the prefix."""
    if not k or not sh:
        return []
    encoded = [s.encode() for s in sh]
    h = []
    for i in range(k):
        prefix = md5(b"%d:" % i)
        digests = []
        for e in encoded:
            m = prefix.copy()
            m.update(e)
            digests.append(m.digest())
        h.append(min(digests).hex())
    r = k // bands
    return [md5("|".join(h[b * r : (b + 1) * r]).encode()).hexdigest() for b in range(bands)]


def _doc_sets_kernel(
    schema: pa.Schema, n: int, k: int, bands: int, cap: int,
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """``_doc_sets``' ``mapInArrow`` body over (doc_id, toks) rows sorted by
    doc_id. A document's rows can span Arrow batches, so the open one is
    carried across batch boundaries and emitted once its last row is seen;
    its set is the union over its rows, as a groupBy would merge them."""

    def row(doc, sh: set[str]) -> tuple:
        ordered = sorted(sh)
        return doc, ordered, _band_buckets(ordered, k, bands)

    def to_batch(rows: list[tuple]) -> pa.RecordBatch:
        cols = list(zip(*rows)) or [[], [], []]
        return pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )

    doc, sh, is_open = None, set(), False
    for batch in batches:
        rows = []
        for d, toks in zip(*(c.to_pylist() for c in batch.columns)):
            if is_open and d != doc:
                rows.append(row(doc, sh))
                sh = set()
            doc, is_open = d, True
            if toks:
                sh.update(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
                if len(sh) > cap:
                    raise ValueError(
                        f"document {doc!r} has more than {cap:,} distinct "
                        f"{n}-gram shingles (MAX_DOC_SHINGLES)"
                    )
        yield to_batch(rows)
    if is_open:
        yield to_batch([row(doc, sh)])


def _doc_sets(
    docs: DataFrame, text_col: str, n: int, k: int, bands: int
) -> DataFrame:
    """(doc_id, sh, buckets), one row per distinct doc_id: ``sh`` its
    sorted distinct word-n-gram set, ``buckets`` its ``bands`` LSH band
    buckets from a k-md5 min-hash signature (empty when k = 0 or ``sh``
    is empty). doc_id keeps the input type. A set past
    ``MAX_DOC_SHINGLES`` raises ``ValueError`` naming the doc_id.

    ``norm_tokens`` runs before the exchange (one token array per row is
    shipped), then a sort within partitions and one ``mapInArrow`` pass.
    The kernel is a module-level function bound with ``functools.partial``,
    so it pickles by reference and never captures a name that a tracer
    may have rebound."""
    schema = pa.schema([
        pa.field("doc_id", to_arrow_type(docs.schema["doc_id"].dataType)),
        pa.field("sh", pa.list_(pa.string())),
        pa.field("buckets", pa.list_(pa.string())),
    ])
    kernel = functools.partial(_doc_sets_kernel, schema, n, k, bands, MAX_DOC_SHINGLES)
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", norm_tokens(F.col(text_col)).alias("toks"))
        .repartition(par, "doc_id")
        .sortWithinPartitions("doc_id")
        .mapInArrow(kernel, from_arrow_schema(schema))
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct — the inverted-index input of
    ``contaminated_docs`` and ``ngram_jaccard_pairs``, which explode the
    shingles at once and never need a document's set whole; the set
    consumers read ``_doc_sets``. It stays on JVM expressions because
    timed on the same inputs the kernel's sort + Arrow round trip was
    the slower form for both callers.

    Tokenization happens in its own projection BEFORE the exchange, so
    the n+2 references inside the shingle expression hit a bound
    attribute instead of re-running the interpreted tokenizer per
    reference (see shingles_of_tokens), and the shuffle carries one token
    array per doc rather than n exploded shingle rows. The exchange
    hash-partitions by doc_id, which satisfies the distinct's clustered
    distribution, so the dedup adds no exchange of its own."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.select(
        "doc_id", norm_tokens(F.col(text_col)).alias("_toks")
    )
    return (
        toks.repartition(par, "doc_id")
        .select(
            "doc_id", F.explode(shingles_of_tokens(F.col("_toks"), n)).alias("shingle")
        )
        .dropDuplicates()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    n: int = 3,
    join_cost_budget: int = 50_000_000,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set jaccard ≥ τ.

    Inverted-index equi-join on the shingle (no cross join); jaccard
    from exact integers so any engine reproduces the double exactly.

    This is the exact small-corpus VERIFIER: the self-join emits Σ df²
    rows over shingle document-frequency, which explodes on any corpus
    where shingles repeat — the scale path is ``minhash_lsh_pairs``.
    To stop a caller pointing it at a corpus by accident, one cheap
    hash-agg pass computes Σ df² first and raises when it exceeds
    ``join_cost_budget`` (the estimate never moves the shingle table
    anywhere)."""
    sh = doc_shingles(docs, text_col, n).localCheckpoint(eager=True)
    cost_row = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .agg(F.sum(F.col("df") * F.col("df")).alias("cost"))
        .first()
    )
    cost = cost_row.cost or 0
    if cost > join_cost_budget:
        raise ValueError(
            f"ngram_jaccard_pairs is the exact all-pairs verifier; this "
            f"input's inverted-index self-join would emit ~{cost:,} rows "
            f"(Σ df² > budget {join_cost_budget:,}). Use minhash_lsh_pairs "
            "for corpus-sized inputs, or raise join_cost_budget explicitly."
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_prefix(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): EXACT jaccard similarity join via prefix
    filtering (the SSJoin/PPJoin candidate rule, Chaudhuri et al. 2006 /
    Xiao et al. 2008) — same output as ``ngram_jaccard_pairs``, but the
    candidate self-join touches only each document's PREFIX: its
    |A| − ceil(τ·|A|) + 1 globally rarest shingles.

    Why it is lossless: J(A,B) ≥ τ forces |A∩B| ≥ ceil(τ·|A|). Order
    all shingles by one global total order (df asc, shingle asc). Let
    x* be the smallest member of A∩B in that order. If x* sat outside
    A's prefix, every intersection token would (positions only grow),
    leaving |A∩B| ≤ ceil(τ|A|) − 1 — contradiction; symmetrically for
    B. So every qualifying pair collides on x* within both prefixes,
    and the exact verification over candidates loses nothing.

    Why it scales where the inverted-index join cannot: the self-join
    cost is Σ df_prefix² over PREFIX occurrences only — rarest-first
    ordering sends precisely the high-df shingles (the Σ df² explosion
    in ``ngram_jaccard_pairs``) out of the prefix. Stages: shingle
    kernel (k = 0: sets only, no md5), df hash agg, one doc-keyed window
    (bounded by a document's own shingle count, never corpus-sized), the
    rare-key candidate join, and the exact verify from the same sets.
    This is the exact scale path; minhash stays the approximate one."""
    if not 0 < threshold <= 1:
        raise ValueError(
            f"prefix filtering needs 0 < threshold <= 1, got {threshold}"
        )
    sets = _doc_sets(docs, text_col, n, 0, 0).localCheckpoint(eager=True)
    sh = sets.select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # the prefix bound's ceiling is computed in EXACT decimal arithmetic
    # (decimal × integer is exact in Spark): double arithmetic rounds
    # ceil(τ·|A|) up past the true ceiling for many (τ, |A|) combos
    # (e.g. 0.405·600 → 244 instead of 243), silently shortening the
    # prefix of an operator documented as lossless. repr() keeps the
    # exact double the caller passed.
    tau_exact = F.lit(repr(float(threshold))).cast("decimal(20,18)")
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(tau_exact * F.col("n_sh")) + 1
        )
        .select("doc_id", "shingle")
    )
    cand = (
        pref.withColumnRenamed("doc_id", "doc_a")
        .join(pref.withColumnRenamed("doc_id", "doc_b"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_candidates(cand, sets, threshold)


def shared_passages(
    docs: DataFrame, text_col: str = "text", w: int = 8
) -> DataFrame:
    """(doc_id, n_windows, n_shared): verbatim-passage containment
    triage — how many of a document's ``w``-token windows already occur
    in an EARLIER document (min doc_id owns a window). The cheap exact
    cousin of suffix-array substring dedup (Lee et al. 2022): a page
    quoting a long passage verbatim from elsewhere scores high n_shared
    even when its overall shingle jaccard is low, which is exactly the
    containment case minhash-style whole-doc similarity misses.

    Plan: one window explode, the winner as a min(doc_id) hash agg on
    md5(window) — fixed-width uniform shuffle keys, never the window
    text (same discipline as line_dedup) — one join back on the digest,
    one doc-keyed aggregation. No windows over skewed keys, no pairs
    anywhere: cost is linear in total window occurrences.

    Tokenization is a separate projection across the doc_id exchange so
    the w-gram expression's w+2 input references hit a bound attribute
    (the interpreted tokenizer otherwise re-runs per reference — see
    shingles_of_tokens) and the shuffle moves one token array per doc,
    not w-gram rows."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    g = (
        docs.select("doc_id", norm_tokens(F.col(text_col)).alias("_toks"))
        .repartition(par, "doc_id")
        .select(
            "doc_id", F.explode(shingles_of_tokens(F.col("_toks"), w)).alias("g")
        )
    )
    h = g.select("doc_id", F.md5(F.encode(F.col("g"), "utf-8")).alias("h"))
    owner = h.groupBy("h").agg(F.min("doc_id").alias("owner"))
    return (
        h.join(owner, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(
                F.when(F.col("owner") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_shared"),
        )
    )


def minhash_band_rows(sets: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) from ``_doc_sets`` rows: one row per band
    bucket, none for a document without shingles."""
    return sets.select("doc_id", F.posexplode("buckets").alias("band", "bucket"))


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    k: int = N_MINHASH,
    bands: int = N_BANDS,
) -> DataFrame:
    """Candidate pairs from LSH band buckets, verified with exact jaccard.

    bands × rows = k; a pair is a candidate iff some band's signature
    slice matches exactly (one (band, bucket) self-join, deduped). The
    shingle kernel's sets are checkpointed once and feed both the band
    rows and the verifier; candidate generation never enumerates pairs
    that merely share a shingle (that is O(Σ df²))."""
    sets = _doc_sets(docs, text_col, 3, k, bands).localCheckpoint(eager=True)
    band_rows = minhash_band_rows(sets)
    a = band_rows.withColumnRenamed("doc_id", "doc_a")
    b_ = band_rows.withColumnRenamed("doc_id", "doc_b")
    candidates = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_candidates(candidates, sets, threshold)


def _verify_candidates(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the candidate pairs whose exact
    shingle jaccard is ≥ ``threshold``, rounded to 6 places after the
    compare. ``cand`` is (doc_a, doc_b); ``sets`` is ``_doc_sets`` rows,
    joined once per side. The sets are distinct, so |∩| from
    array_intersect is the join count of shared shingles and |∪| from
    array_union is |A| + |B| − |∩|: the double is exact in any engine."""
    jac = (
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
        / F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    )
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash): per-token md5 nibble high-bits vote ±count;
    bit j set iff the weighted vote is positive."""
    toks = (
        docs.select("doc_id", F.explode(norm_tokens(F.col(text_col))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.md5(F.encode(F.col("tok"), "utf-8")))
    )
    votes = [
        F.sum(
            F.when(
                F.substring(F.col("h"), j + 1, 1).isin(*"89abcdef"),
                F.col("cnt"),
            ).otherwise(-F.col("cnt"))
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.alias("simhash"))

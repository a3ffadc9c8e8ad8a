"""Benchmark decontamination for training-data pipelines.

The published method (Brown et al. 2020 §C "Measuring and Preventing
Memorization Of Benchmarks"; also Chowdhery et al. 2022 §7): a training
document is contaminated iff it shares at least one word n-gram (GPT-3
used 13-grams) with any document of an evaluation set. Exact n-gram
overlap — not fuzzy similarity — is the industry gate because it is
cheap, deterministic and auditable.

Plan shape at 100 TB: the EVAL side is tiny (benchmarks are thousands
of documents, the corpus is billions), so its distinct-shingle set is
broadcast — the corpus is scanned ONCE, shingled, and hash-joined with
no shuffle of corpus rows at all. The output is the contaminated-doc
list (doc_id, n_shared), which downstream drops with a broadcast
anti-join. Tokenization reuses the dedup operators' ``norm_tokens``
(operators/dedup.py): the exact gate shingles with their expressions,
the fuzzy gate with their shingle kernel, so the decontamination gates
and the dedup gate agree on what a "token" is.

Reference scope note: proycon/skosConverter has no corpus operators;
this extends the engine for the pretraining-pipeline tier (SURVEY.md
§2 extension block), value-checked against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.operators.dedup import _doc_sets, doc_shingles, minhash_band_rows

N_DECONTAM = 8  # word n-gram length of the overlap gate


def contaminated_docs(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = N_DECONTAM,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shared): corpus documents sharing >= 1 word n-gram with
    the eval set, with the count of distinct shared n-grams.

    The eval shingle set is deduplicated across eval documents and
    broadcast: the join adds no shuffle on the corpus side."""
    corpus_sh = doc_shingles(corpus, text_col, n)
    eval_sh = (
        doc_shingles(eval_docs, text_col, n).select("shingle").distinct()
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = N_DECONTAM,
    text_col: str = "text",
) -> DataFrame:
    """The corpus minus contaminated documents (broadcast anti-join on
    the contaminated-id list — eval-sized, tiny)."""
    hits = contaminated_docs(corpus, eval_docs, n, text_col).select("doc_id")
    return corpus.join(F.broadcast(hits), "doc_id", "left_anti")


def fuzzy_contaminated_docs(
    corpus: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, eval_doc_id, jaccard): corpus documents NEAR-duplicating
    an eval document — the fuzzy complement to the exact n-gram gate
    (catches paraphrase-lite contamination: reformatted, re-punctuated
    or lightly edited benchmark text that shares no verbatim 8-gram).

    Same minhash+LSH machinery as the self-dedup (operators/dedup.py),
    pointed ACROSS two tables instead of at one: corpus band rows
    equi-join the broadcast eval band rows (eval sets are tiny — no
    corpus shuffle), candidates verify with exact shingle jaccard ≥ τ
    from the same shingle-kernel sets the band rows came from."""
    sets_c = _doc_sets(corpus, text_col, 3, k, bands).localCheckpoint(eager=True)
    sets_e = _doc_sets(eval_docs, text_col, 3, k, bands).localCheckpoint(eager=True)
    be = minhash_band_rows(sets_e).select(
        F.col("doc_id").alias("eval_doc_id"), "band", "bucket"
    )
    candidates = (
        minhash_band_rows(sets_c)
        .join(F.broadcast(be), ["band", "bucket"])
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    common = F.size(F.array_intersect(F.col("sh_c"), F.col("sh_e")))
    jac = common.cast("double") / (
        F.size("sh_c") + F.size("sh_e") - common
    ).cast("double")
    return (
        candidates.join(sets_c.select("doc_id", F.col("sh").alias("sh_c")), "doc_id")
        .join(
            F.broadcast(sets_e.select(F.col("doc_id").alias("eval_doc_id"), F.col("sh").alias("sh_e"))),
            "eval_doc_id",
        )
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "eval_doc_id", "jaccard")
    )

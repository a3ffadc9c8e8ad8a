"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline jobs (chosen to hit every scale-relevant path):

- kg_pipeline      : full web-scale KG construct (extract → salted
                     repartition → mention scan → linking → canonical
                     triples) on a synthesized pages corpus; the primary
                     throughput metric (triples emitted / sec) mirrors
                     BASELINE.md.
- skos_forward     : 22k-concept vocabulary → hierarchy assembly → DFS
                     rows → CSV render (the reference's measured
                     skos2notion path: 2,730 concepts/s single-core).
- notion2skos      : markdown → triples Arrow extraction (reference:
                     54.9k lines/s single-core).
- dedup_minhash    : shingle→minhash→LSH bands→verify on the documents
                     corpus with planted near-dups.
- ann_topk         : brute-force cosine top-k over embeddings.
- lineitem_pricing : classic pricing-summary aggregation (Catalyst
                     baseline sanity).

Extra JSON keys beyond the required contract: "throughput" (per-job
rates) — the driver ignores unknown keys; BASELINE.md reads them.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def run_bench(sf_dir: str, cpus: int, pages_rows: int | None = None) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from skosconverter_spark.config import EngineConfig
    from skosconverter_spark.kg.pipeline import run_pipeline
    from skosconverter_spark.operators.render import document_rows, render_documents
    from skosconverter_spark.schemas import DOCS
    from skosconverter_spark.session import get_spark
    from skosconverter_spark.sources.pages import synthesize_pages
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples
    from skosconverter_spark.sources.vocab_gen import synthesize_vocab

    spark = get_spark(
        app_name="skosconverter-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    cfg = EngineConfig()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    pages_rows = pages_rows or max(2000, int(200_000 * sf))

    timings: dict[str, float] = {}
    throughput: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # --- kg_pipeline -------------------------------------------------------
    # input setup is untimed: the north rule's input is an existing pages
    # table, so materialize the synthesized corpus to parquet first
    vocab_docs = spark.createDataFrame(
        [("v", "v", "ttl", _bench_vocab_ttl())], schema=DOCS
    )
    vocab = ok_triples(extract_triples(vocab_docs, cfg)).cache()
    vocab.count()
    with tempfile.TemporaryDirectory() as kg_root:
        synthesize_pages(spark, pages_rows, partitions=cpus).write.parquet(
            f"{kg_root}/pages"
        )
        pages = spark.read.parquet(f"{kg_root}/pages")
        out = timed(
            "kg_pipeline",
            lambda: run_pipeline(spark, pages, vocab, f"{kg_root}/kg", partitions=cpus),
        )
        n_triples = out["triples"].count()
    throughput["kg_triples_per_sec"] = round(n_triples / timings["kg_pipeline"], 1)
    throughput["kg_pages_per_sec"] = round(pages_rows / timings["kg_pipeline"], 1)

    # --- skos_forward (reference-comparable: concepts/sec) ------------------
    # a vocabulary is driver-sized: one guarded collect plus the DFS
    # kernel (see operators.render.render_text_local)
    n_concepts = 22_100  # BASELINE.md measurement size
    vt = synthesize_vocab(spark, n_concepts).localCheckpoint(eager=True)
    from skosconverter_spark.operators.render import render_text_local

    timed("skos_forward", lambda: render_text_local(vt, "csv", cfg))
    throughput["forward_concepts_per_sec"] = round(n_concepts / timings["skos_forward"], 1)

    # --- notion2skos (lines/sec) --------------------------------------------
    md_doc = _bench_markdown(400)
    n_docs = max(64, cpus * 8)
    md_docs = spark.createDataFrame(
        [(f"d{i}", f"d{i}", "md", md_doc) for i in range(n_docs)], schema=DOCS
    )
    n_lines = md_doc.count("\n") * n_docs
    timed(
        "notion2skos",
        lambda: ok_triples(extract_triples(md_docs, cfg)).count(),
    )
    throughput["parse_lines_per_sec"] = round(n_lines / timings["notion2skos"], 1)

    # --- harness-table queries ----------------------------------------------
    qs = entrymod.queries()
    for name in ("dedup_minhash_lsh", "ann_topk", "lineitem_pricing"):
        timed(name, lambda n=name: qs[n](spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "pages_rows": pages_rows,
        "kg_triples": n_triples,
        "throughput": throughput,
    }
    spark.stop()
    return result


def _bench_vocab_ttl() -> str:
    from skosconverter_spark.sources.pages import VOCAB_CONCEPTS

    ns = "http://example.org/kg#"
    lines = ["@prefix skos: <http://www.w3.org/2004/02/skos/core#> ."]
    lines.append(f'<{ns}scheme> a skos:ConceptScheme ; skos:prefLabel "Things"@en .')
    for key, label, alts in VOCAB_CONCEPTS:
        lines.append(f'<{ns}{key}> a skos:Concept ; skos:prefLabel "{label}"@en .')
        for a in alts:
            lines.append(f'<{ns}{key}> skos:altLabel "{a}" .')
    return "\n".join(lines)


def _bench_markdown(n_concepts: int) -> str:
    out = ["# Concept Scheme: Bench"]
    for i in range(n_concepts):
        level = 2 + (i % 3)
        out.append("#" * level + f" Concept {i:05d}")
        out.append(f"_Definition:_ Definition number {i}.  ")
        out.append(f"_Alternative Labels:_ C{i}, Alt{i}  ")
        out.append(f"**URI:** http://example.org/bench#c{i}")
        out.append("")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run_bench(sf_dir, cpus)
    print(json.dumps(result))

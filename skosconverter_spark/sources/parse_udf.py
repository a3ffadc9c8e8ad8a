"""docs → triples: the Arrow-batched triple-extraction stage.

One ``mapInPandas`` pass: each Arrow batch of document rows is expanded
into triple rows by the pure-Python kernels (turtle / markdown /
jsonld). This is the UDTF-shaped stage of SURVEY.md §2.13 — one Python
call per batch, never per row. Per-document parse errors become
``status='error'`` rows in the companion ``doc_status`` output instead
of failing the job, matching the reference's swallow-and-continue batch
semantics (skos_converter.py:497-499).

Scale posture: upstream should repartition docs by a url-hash salt
before this stage (see kg.pipeline) so a handful of giant documents
can't skew batches; downstream `triples` is written partitioned by
`pred` so predicate-pattern scans prune.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.sources.jsonld import parse_jsonld
from skosconverter_spark.sources.markdown_parse import parse_markdown
from skosconverter_spark.sources.turtle import parse_turtle

TRIPLE_COLS = [
    "subj", "pred", "obj", "obj_is_literal", "obj_lang", "src_url", "seq", "status", "error",
]
_OUT_SCHEMA = (
    "subj string, pred string, obj string, obj_is_literal boolean, "
    "obj_lang string, src_url string, seq long, status string, error string"
)


def _parse_one(fmt: str, payload: str, config: EngineConfig):
    if fmt == "md":
        return parse_markdown(payload, config)
    if fmt in ("jsonld", "json"):
        return parse_jsonld(payload)
    # default turtle, matching the reference's extension dispatch (:507)
    return parse_turtle(payload)


def extract_triples(docs: DataFrame, config: EngineConfig) -> DataFrame:
    """Parse every document row into triple rows.

    Input columns required: ``url`` (or doc_id), ``fmt``, ``payload``.
    Output: triple rows with ``status='ok'``, plus one ``status='error'``
    row per failed document (subj/pred/obj null) carrying the message.
    Filter ``status='ok'`` for the graph; aggregate errors for the batch
    report.
    """
    cfg = config  # captured by closure; small dataclass, cheap to pickle

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in TRIPLE_COLS}
            for url, fmt, payload in zip(pdf["url"], pdf["fmt"], pdf["payload"]):
                try:
                    parsed = _parse_one(fmt, payload or "", cfg)
                except Exception as exc:  # per-doc isolation (:497-499)
                    out["subj"].append(None)
                    out["pred"].append(None)
                    out["obj"].append(None)
                    out["obj_is_literal"].append(None)
                    out["obj_lang"].append(None)
                    out["src_url"].append(url)
                    out["seq"].append(None)
                    out["status"].append("error")
                    out["error"].append(f"{type(exc).__name__}: {exc}")
                    continue
                # seq = per-document insertion ordinal. The reference's
                # rdflib store is insertion-ordered, and every "first value
                # wins" idiom (labels[0], first-parent-wins, first-scheme-
                # wins; skos_converter.py:381, :709-733) follows that order —
                # min(seq) windows downstream reproduce it deterministically.
                for seq, t in enumerate(parsed):
                    out["subj"].append(t.subj)
                    out["pred"].append(t.pred)
                    out["obj"].append(t.obj)
                    out["obj_is_literal"].append(t.obj_is_literal)
                    out["obj_lang"].append(t.obj_lang)
                    out["src_url"].append(url)
                    out["seq"].append(seq)
                    out["status"].append("ok")
                    out["error"].append(None)
            yield pd.DataFrame(out)

    cols = docs.columns
    src = docs.withColumn("url", F.col("url") if "url" in cols else F.col("doc_id"))
    return src.select("url", "fmt", "payload").mapInPandas(parse_batches, _OUT_SCHEMA)


def ok_triples(extracted: DataFrame) -> DataFrame:
    """Graph-ready triples: drop error rows, dedup set-semantics
    (rdflib Graph.add dedups; SURVEY §2.7 U5)."""
    return dedup_triples(extracted.filter(F.col("status") == "ok"))


def dedup_triples(t: DataFrame) -> DataFrame:
    """One row per (s,p,o,lang) across documents — a partial-aggregated
    groupBy (map-side combine), keeping the earliest seq so
    insertion-order picks stay exact."""
    return (
        t.groupBy("subj", "pred", "obj", "obj_lang")
        .agg(
            # deterministic literal-ness pick (min-seq discipline, D6): if
            # duplicate (s,p,o,lang) rows disagree — a literal and a URI
            # object with the same string — the earliest insertion wins,
            # never a nondeterministic first()
            F.min(F.struct("seq", "src_url", "obj_is_literal"))[
                "obj_is_literal"
            ].alias("obj_is_literal"),
            F.min("src_url").alias("src_url"),
            F.min("seq").alias("seq"),
        )
        .select("subj", "pred", "obj", "obj_is_literal", "obj_lang", "src_url", "seq")
    )


def doc_errors(extracted: DataFrame) -> DataFrame:
    return extracted.filter(F.col("status") == "error").select(
        F.col("src_url").alias("url"), "error"
    )

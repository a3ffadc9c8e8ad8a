"""High-level conversion API — the reference CLI's jobs as engine calls.

A user of the reference runs::

    skos_converter.py to-csv vocab.ttl out.csv [--force|--skip-validation]
    skos_converter.py to-skos notes.md out.ttl
    ... --batch-dir in/ --output-dir out/

The equivalents here (skos_converter.py:1704-1893 handlers, :473-501
batch loop):

- ``skos_to_notion``: triples → rendered document(s) in csv/md/json/xml,
  with the 11-check validation gate (errors abort unless forced — D7).
- ``notion_to_skos``: markdown docs → deduplicated triples (+ Turtle
  text via operators.export).
- ``convert_directory``: the batch mode — every file in a directory
  becomes one output document, converted in ONE distributed job (the
  reference loops files sequentially); per-file parse errors isolate
  into a status report instead of failing the job (:497-499).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.operators.export import write_graph_table
from skosconverter_spark.operators.render import render_documents, render_text_local
from skosconverter_spark.operators.validate import gate, validation_report
from skosconverter_spark.plans.local_dfs import arrow_rows, guard_driver_sized
from skosconverter_spark.sources.docs import docs_from_directory
from skosconverter_spark.sources.parse_udf import doc_errors, extract_triples, ok_triples

_EXT = {"csv": ".csv", "md": ".md", "json": ".json", "xml": ".xml"}


class ValidationError(RuntimeError):
    """Raised when validation finds errors and neither --force nor
    --skip-validation was given (skos_converter.py:1789-1798)."""

    def __init__(self, issues: list[str]):
        super().__init__(f"{len(issues)} validation error(s); use force=True")
        self.issues = issues


def skos_to_notion(
    triples: DataFrame,
    fmt: str,
    config: EngineConfig | None = None,
    force: bool = False,
    skip_validation: bool = False,
) -> tuple[str, list[str], list[str]]:
    """One vocabulary → one rendered document (+ validation report)."""
    cfg = config or EngineConfig()
    issues: list[str] = []
    warnings: list[str] = []
    if not skip_validation:
        issues, warnings = validation_report(triples, cfg)
        if not gate(issues, force=force, skip_validation=skip_validation):
            raise ValidationError(issues)
    return render_text_local(triples, fmt, cfg), issues, warnings


def notion_to_skos(
    docs: DataFrame, config: EngineConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Markdown docs → (triples, per-doc errors)."""
    cfg = config or EngineConfig()
    extracted = extract_triples(docs, cfg)
    return ok_triples(extracted), doc_errors(extracted)


def convert_directory(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    fmt: str = "csv",
    operation: str = "skos2notion",
    config: EngineConfig | None = None,
) -> DataFrame:
    """Batch mode: one output per input file, all files in one job.

    skos2notion: ``*.ttl``/``*.json(ld)`` → ``<name>.<fmt>`` documents.
    notion2skos: ``*.md`` → one combined triples parquet + per-doc Turtle.
    Returns a status DataFrame (url, status, error).

    Unlike the reference's sequential loop, parsing is one Arrow job over
    all files and rendering is one grouped-map job — per-file isolation
    comes from error-status rows, not try/except around a loop. Batch
    mode renders without the validation gate.
    """
    cfg = config or EngineConfig()
    out_root = Path(output_dir)
    out_root.mkdir(parents=True, exist_ok=True)
    pattern = "*.md" if operation == "notion2skos" else "*"
    docs = docs_from_directory(spark, input_dir, pattern)
    if operation == "skos2notion":
        docs = docs.filter(F.col("fmt") != "md")
    extracted = extract_triples(docs, cfg)
    # not cached: Spark matches a cached plan by the directory path, not
    # the file contents, so a second call would report stale errors
    errors = doc_errors(extracted)

    if operation == "notion2skos":
        write_graph_table(ok_triples(extracted), str(out_root / "triples"))
    else:
        per_doc = render_documents(extracted.filter(F.col("status") == "ok"), fmt, cfg)
        # one row per input FILE (not per triple) — but a million-file
        # batch would still overwhelm the driver loop, so guard it too
        for vocab_id, payload in arrow_rows(
            guard_driver_sized(per_doc, "convert_directory per-file render", 100_000)
        ):
            name = Path(vocab_id).stem + _EXT[fmt]
            (out_root / name).write_text(payload, encoding="utf-8")

    ok_urls = docs.select(F.col("url")).join(
        errors.select("url"), "url", "left_anti"
    ).withColumn("status", F.lit("ok")).withColumn("error", F.lit(None).cast("string"))
    return ok_urls.unionByName(
        errors.select("url", F.lit("error").alias("status"), "error")
    )


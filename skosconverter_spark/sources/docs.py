"""Document source: the directory scan.

Replaces the reference's BatchProcessor directory glob
(skos_converter.py:473-501): a directory of ``*.ttl`` / ``*.md`` /
``*.json(ld)`` files becomes one ``docs`` DataFrame row per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EXT_TO_FMT = {"ttl": "ttl", "md": "md", "json": "jsonld", "jsonld": "jsonld"}


def docs_from_directory(
    spark: SparkSession, input_dir: str, pattern: str = "*"
) -> DataFrame:
    """Read every vocabulary file under ``input_dir`` as one docs row.

    Uses Spark's distributed ``binaryFile`` source (the listing and the
    reads are executor-side, unlike the reference's driver glob), then
    decodes payloads and dispatches format on extension
    (skos_converter.py:507, :1747).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(input_dir)
        .select("path", "content")
    )
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    fmt_expr = F.coalesce(
        *[F.when(ext == k, F.lit(v)) for k, v in _EXT_TO_FMT.items()], F.lit("ttl")
    )
    return raw.select(
        F.sha1(F.col("path")).alias("doc_id"),
        F.col("path").alias("url"),
        fmt_expr.alias("fmt"),
        F.decode(F.col("content"), "utf-8").alias("payload"),
    )

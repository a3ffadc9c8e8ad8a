"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design stance (SURVEY.md / task brief): image/audio/video cells are
``binary`` columns with a metadata struct; the Spark-side plumbing —
schema, Arrow batch shape, partitioning, UDF signatures — is real and
tested, while no media is decoded: the codec libraries are not in this
container, so a deterministic fake featurizer over the raw payload bytes
exercises the batched path end-to-end.

At 100 TB the pattern is: binary column stays columnar (Parquet/Iceberg
BINARY), decode happens once inside ``mapInPandas`` per Arrow batch
(bounded memory: maxRecordsPerBatch), features come back as fixed-width
arrays — never strings, never per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents corpus: the
    text bytes stand in for an encoded payload (real pipelines read the
    bytes from WARC/object storage; the column shape is the same)."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            F.when(kind == "image", (F.col("doc_id") % 640 + 1).cast("int")).alias("width"),
            F.when(kind == "image", (F.col("doc_id") % 480 + 1).cast("int")).alias("height"),
            F.when(kind != "image", (F.col("doc_id") % 60000).cast("int")).alias(
                "duration_ms"
            ),
        ).alias("meta"),
    )


def fake_features(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic featurizer standing in for decode+embed: a byte
    histogram folded to ``dims`` buckets, L1-normalized."""
    buckets = [0] * dims
    for b in payload:
        buckets[b % dims] += 1
    total = sum(buckets) or 1
    return [b / total for b in buckets]


def featurize(media: DataFrame, dims: int = 8) -> DataFrame:
    """(media_id, kind, n_bytes, features array<double>): the Arrow-batched
    feature-extraction stage, ``fake_features`` over each payload."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, sizes = [], []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                feats.append(fake_features(raw, dims))
                sizes.append(len(raw))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, "media_id long, kind string, n_bytes long, features array<double>"
    )


def byte_stats(media: DataFrame) -> DataFrame:
    """(media_id, kind, n_bytes, payload_md5): pure-expression binary
    column statistics (no UDF) — the oracle-checkable face of the
    multimodal plumbing."""
    return media.select(
        "media_id",
        "kind",
        F.octet_length(F.col("payload")).cast("long").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )

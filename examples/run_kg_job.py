"""The spark-submit entry point for the KG construction pipeline.

Cluster usage (tools/make_submit.py builds the zip):

    python tools/make_submit.py
    spark-submit --py-files skosconverter_spark.zip \
        --master <cluster> examples/run_kg_job.py \
        --pages /data/pages_parquet --vocab /data/vocab.ttl --out /data/kg

Local smoke:

    python examples/run_kg_job.py --pages <dir> --vocab <ttl> --out <dir> \
        [--partitions N]

Reads the pages table (url, warc_ts, html, text, lang), parses the SKOS
vocabulary, runs extract -> mention scan -> linking -> canonicalize ->
graph materialize with checkpoints + lineage metrics, and prints the
per-stage row counts.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--vocab", required=True, help="SKOS vocabulary file (.ttl)")
    ap.add_argument("--out", required=True, help="pipeline root (stages + graph)")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from skosconverter_spark.config import EngineConfig
    from skosconverter_spark.kg.pipeline import run_pipeline
    from skosconverter_spark.schemas import DOCS
    from skosconverter_spark.session import get_spark
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

    own = spark is None
    if own:
        spark = get_spark(app_name="kg-construct")
    try:
        cfg = EngineConfig()
        pages = spark.read.parquet(args.pages)
        vocab_src = Path(args.vocab)
        vdocs = spark.createDataFrame(
            [(vocab_src.stem, str(vocab_src), "ttl",
              vocab_src.read_text(encoding="utf-8"))],
            schema=DOCS,
        )
        vocab = ok_triples(extract_triples(vdocs, cfg))
        out = run_pipeline(
            spark,
            pages,
            vocab,
            args.out,
            config=cfg,
            partitions=args.partitions,
        )
        for name in ("pages_text", "mentions", "links", "triples", "graph"):
            print(f"{name}: {out[name].count()} rows")
        return 0
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())

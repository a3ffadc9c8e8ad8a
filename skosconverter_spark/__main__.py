"""``spark-submit``-able CLI mirroring the reference's argparse surface.

The reference CLI (skos_converter.py:1586-1701 parsers, :1704-1893
handlers) exposes::

    to-csv | to-markdown | to-json | to-xml  INPUT
        [--output BASE] [--skip-validation] [--force]
        [--language L] [--fallback-languages L ...]
        [--batch-dir DIR --output-dir DIR]
    to-skos INPUT
        [--output FILE] [--namespace URI] [--prefix P]
        [--batch-dir DIR --output-dir DIR]

Same commands and flags here, wired to the engine's api layer; exit
codes match the reference (0 ok, 1 on missing input / validation
abort / parse failure). ``--markdown-style`` is accepted for parity
but only ``headings`` is real — every reference call site hardcodes
``use_bullets=False`` (skos_converter.py:951-957 is dead code), so the
other styles are rejected with a clear message rather than guessed.

Run as::

    python -m skosconverter_spark to-csv vocab.ttl --output out
    spark-submit .../skosconverter_spark/__main__.py to-csv vocab.ttl
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

_FMT_BY_COMMAND = {
    "to-csv": ("csv", ".csv"),
    "to-markdown": ("md", ".md"),
    "to-json": ("json", ".json"),
    "to-xml": ("xml", ".xml"),
}


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="skosconverter_spark",
        description="Convert between SKOS RDF (Turtle) and various formats",
    )
    sub = parser.add_subparsers(dest="command", help="Conversion target")

    for cmd, help_fmt in (
        ("to-csv", "CSV"),
        ("to-markdown", "Markdown"),
        ("to-json", "JSON"),
        ("to-xml", "XML"),
    ):
        p = sub.add_parser(cmd, help=f"Convert SKOS Turtle to {help_fmt} format")
        p.add_argument("input_file", help="Input Turtle RDF file")
        p.add_argument("--output", help="Output file name (without extension)")
        p.add_argument("--skip-validation", action="store_true",
                       help="Skip SKOS validation checks")
        p.add_argument("--force", action="store_true",
                       help="Continue conversion even if validation finds errors")
        p.add_argument("--language",
                       help="Preferred language for labels (e.g., en, fr, de)")
        p.add_argument("--fallback-languages", nargs="*",
                       help="Fallback languages in order of preference")
        p.add_argument("--batch-dir", help="Process all .ttl files in directory")
        p.add_argument("--output-dir", help="Output directory for batch processing")
        if cmd == "to-markdown":
            p.add_argument("--markdown-style",
                           choices=["headings", "bullets", "mixed"],
                           default="headings",
                           help="Markdown formatting style (default: headings)")

    p = sub.add_parser("to-skos", help="Convert Notion markdown to SKOS Turtle")
    p.add_argument("input_file", help="Input Notion markdown file")
    p.add_argument("--output", help="Output file name (default: input_skos.ttl)")
    p.add_argument("--namespace", default="http://example.org/vocabulary#",
                   help="Namespace URI for new concepts")
    p.add_argument("--prefix", default="ex", help="Namespace prefix (default: ex)")
    p.add_argument("--batch-dir", help="Process all .md files in directory")
    p.add_argument("--output-dir", help="Output directory for batch processing")
    return parser


def _config(args):
    from skosconverter_spark.config import EngineConfig

    cfg = EngineConfig(
        namespace_uri=getattr(args, "namespace", "http://example.org/vocabulary#"),
        prefix=getattr(args, "prefix", "ex"),
    )
    if getattr(args, "language", None):
        fallbacks = tuple(getattr(args, "fallback_languages", None) or ("en", ""))
        cfg = cfg.with_(preferred_language=args.language, fallback_languages=fallbacks)
    return cfg


def _load_docs(spark, path: Path):
    from skosconverter_spark.schemas import DOCS

    ext = path.suffix.lower().lstrip(".")
    fmt = {"md": "md", "markdown": "md", "json": "json", "jsonld": "jsonld"}.get(
        ext, "ttl"
    )
    return spark.createDataFrame(
        [(str(path), path.stem, fmt, path.read_text(encoding="utf-8"))], schema=DOCS
    )


def run(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    if not args.command:
        build_parser().print_help()
        return 1
    if getattr(args, "markdown_style", "headings") != "headings":
        print(
            "error: only --markdown-style headings is supported (the reference's "
            "bullets/mixed branches are dead code — every call site hardcodes "
            "use_bullets=False, skos_converter.py:951-957)",
            file=sys.stderr,
        )
        return 1

    from skosconverter_spark.api import (
        ValidationError,
        convert_directory,
        notion_to_skos,
        skos_to_notion,
    )
    from skosconverter_spark.operators.export import export_turtle_text
    from skosconverter_spark.session import get_spark
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

    own_session = spark is None
    if own_session:
        spark = get_spark(app_name="skosconverter-cli")
    try:
        cfg = _config(args)
        if args.batch_dir:
            if not args.output_dir:
                print("error: --output-dir required for batch processing",
                      file=sys.stderr)
                return 1
            if not Path(args.batch_dir).exists():
                print(f"error: batch directory not found: {args.batch_dir}",
                      file=sys.stderr)
                return 1
            op = "notion2skos" if args.command == "to-skos" else "skos2notion"
            fmt = _FMT_BY_COMMAND.get(args.command, ("csv",))[0]
            status = convert_directory(
                spark, args.batch_dir, args.output_dir, fmt=fmt, operation=op, config=cfg
            )
            n_err = status.filter("status = 'error'").count()
            if n_err:
                print(f"{n_err} file(s) failed to convert", file=sys.stderr)
            return 0

        src = Path(args.input_file)
        if not src.exists():
            print(f"error: input file not found: {src}", file=sys.stderr)
            return 1

        if args.command == "to-skos":
            out = (
                Path(args.output if args.output.endswith(".ttl") else args.output + ".ttl")
                if args.output
                else src.with_name(src.stem + "_skos.ttl")
            )
            triples, errors = notion_to_skos(_load_docs(spark, src), cfg)
            n_err = errors.count()
            if n_err:
                print("error: failed to parse markdown file", file=sys.stderr)
                return 1
            text, summary = export_turtle_text(triples)
            out.write_text(text, encoding="utf-8")
            print(
                f"Created {out} ({summary['triples']} triples, "
                f"{summary['concepts']} concepts, {summary['schemes']} schemes)"
            )
            # the reference's rule recap (:1960-1969)
            from skosconverter_spark.operators.console import (
                skos_conversion_summary,
            )

            for line in skos_conversion_summary():
                print(line)
            return 0

        fmt, fext = _FMT_BY_COMMAND[args.command]
        base = args.output if args.output else str(src).rsplit(".", 1)[0]
        out = Path(base + fext)
        triples = ok_triples(extract_triples(_load_docs(spark, src), cfg))
        try:
            text, issues, warnings = skos_to_notion(
                triples, fmt, config=cfg,
                force=args.force, skip_validation=args.skip_validation,
            )
        except ValidationError as exc:
            for issue in exc.issues:
                print(f"  ERROR: {issue}", file=sys.stderr)
            print(
                "Validation found critical errors. Conversion aborted.\n"
                "Use --force to convert anyway, or --skip-validation to skip.",
                file=sys.stderr,
            )
            return 1
        for issue in issues:
            print(f"  ERROR: {issue}", file=sys.stderr)
        for w in warnings:
            print(f"  WARNING: {w}", file=sys.stderr)
        out.write_text(text, encoding="utf-8")
        print(f"Created {out}")
        # the reference's post-conversion import hints (:1926-1957);
        # its format names differ from our short codes only for markdown
        from skosconverter_spark.operators.console import import_instructions

        for line in import_instructions("markdown" if fmt == "md" else fmt):
            print(line)
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(run())

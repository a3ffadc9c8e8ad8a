"""Notion-format document renderers: CSV / Markdown / JSON / Confluence-XML.

Byte-identical re-expressions of the reference's four forward sinks
(skos_converter.py: to_notion_csv :764-888, to_notion_markdown
:890-1041, to_xml :1043-1170, to_notion_json :1172-1281).

Split in two layers:

1. ``document_rows`` — the DFS row table with full concept metadata,
   from the engine's one DFS (plans.local_dfs, exposed as a DataFrame by
   plans.hierarchy.dfs_rows). A vocabulary is driver-sized, so this is
   one guarded collect plus a Python pass; inputs above
   ``MAX_DRIVER_ROWS`` triples fail loudly (an explicit non-goal).
   ``sort_path`` is the row's zero-padded emission ordinal.
2. ``render_{csv,markdown,json,xml}_rows`` — pure-Python kernels over
   the ordered row list of ONE vocabulary document. Golden-path string
   assembly stays in Python (never Spark SQL string functions — §4.3)
   so bytes can't drift. ``render_documents`` runs them inside
   ``applyInPandas`` — one vocabulary = one group = one Python call; a
   corpus of many vocabularies renders in parallel across executors.
"""

from __future__ import annotations

import io
import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.plans.hierarchy import dfs_rows
from skosconverter_spark.plans.local_dfs import (  # noqa: F401 - re-exported
    _DOC_ROWS_SCHEMA,
    MAX_DRIVER_ROWS,
    collect_triples,
    dfs_rows_local,
    guard_driver_sized,
)

CSV_FIELDS = [
    "Title", "Parent", "Concept Scheme", "Definition",
    "Alternative Labels", "Notation", "URI", "Level",
]


def render_text_local(triples: DataFrame, fmt: str, config: EngineConfig) -> str:
    """Whole-document render straight from the DFS kernel: one guarded
    collect, no intermediate DataFrame."""
    rows = dfs_rows_local(collect_triples(triples), config)
    return _KERNELS[fmt](rows)


def document_rows(triples: DataFrame, config: EngineConfig) -> DataFrame:
    """DFS-ordered row table with full concept metadata, ready to render."""
    return dfs_rows(triples, config)


# --------------------------------------------------------------------------
# pure-Python kernels (input: list of dict rows ordered by sort_path)
# --------------------------------------------------------------------------


def _md_level(row) -> int:
    # markdown/xml/json levels: tops and unassigned anchor at 1 (csv level
    # already 1); scheme-orphan subtrees shift up by one (csv anchors at 2,
    # the reference calls add_concept_md(orphan, 1) — :1026)
    return row["level"] - 1 if row["section"] == "orphan" else row["level"]


def _is_concept(row) -> bool:
    return (
        row["section"] in ("top", "orphan", "unassigned")
        and row["origin"] != "ghost"
    )


def render_csv_rows(rows: list[dict]) -> str:
    """to_notion_csv byte layout (:764-888): csv.DictWriter defaults —
    QUOTE_MINIMAL, CRLF line terminator."""
    import csv

    buf = io.StringIO(newline="")
    writer = csv.DictWriter(buf, fieldnames=CSV_FIELDS)
    writer.writeheader()
    for r in rows:
        if r["origin"] == "ghost":  # markdown-only separator slots
            continue
        sec = r["section"]
        if sec == "scheme":
            rec = {
                "Title": f"[SCHEME] {r['label']}", "Parent": "",
                "Concept Scheme": r["scheme_label"], "Definition": "",
                "Alternative Labels": "", "Notation": "", "URI": r["uri"],
                "Level": 0,
            }
        elif sec == "orph_hdr":
            rec = {
                "Title": f"  [Other Concepts in {r['scheme_label']}]",
                "Parent": f"[SCHEME] {r['scheme_label']}",
                "Concept Scheme": r["scheme_label"],
                "Definition": "Concepts in this scheme without broader relations",
                "Alternative Labels": "", "Notation": "", "URI": "", "Level": 1,
            }
        elif sec == "unass_hdr":
            rec = {
                "Title": "[UNASSIGNED CONCEPTS]", "Parent": "",
                "Concept Scheme": "",
                "Definition": "Concepts not associated with any concept scheme",
                "Alternative Labels": "", "Notation": "", "URI": "", "Level": 0,
            }
        else:
            rec = {
                "Title": "  " * r["level"] + r["label"],
                "Parent": r["parent_label"],
                "Concept Scheme": r["scheme_label"],
                "Definition": r["definition"],
                "Alternative Labels": ", ".join(r["alt_labels"]),
                "Notation": r["notation"],
                "URI": r["uri"],
                "Level": r["level"],
            }
        writer.writerow(rec)
    return buf.getvalue()


def _md_concept_block(out: list[str], r: dict, level: int) -> None:
    """_format_concept_markdown + _add_concept_metadata_to_markdown
    (:946-1004), use_bullets=False (all call sites hardcode it)."""
    label = r["label"]
    if level <= 6:
        prefix = ""
        if level == 4:
            prefix = "▸ "
        elif level == 5:
            prefix = "▹ "
        elif level >= 6:
            prefix = "◦ "
        out.append(f"{'#' * min(level, 6)} {prefix}{label}\n")
    else:
        indent = "  " * (level - 6)
        out.append(f"{indent}**◦ {label}**\n")
    if r["notation"]:
        out.append(f"_Notation:_ `{r['notation']}`  ")
    if r["definition"]:
        out.append(f"_Definition:_ {r['definition']}  ")
    if r["alt_labels"]:
        out.append(f"_Alternative Labels:_ {', '.join(r['alt_labels'])}  ")
    out.append(f"_URI:_ <{r['uri']}>")
    if r["same_as"]:
        out.append("_Same as:_ " + ", ".join(f"<{x}>" for x in r["same_as"]) + "  ")
    if r["related"]:
        out.append("_Related:_ " + ", ".join(f"<{x}>" for x in r["related"]) + "  ")
    out.append("\n")


def render_markdown_rows(rows: list[dict]) -> str:
    """to_notion_markdown (:890-1041): '\\n'.join of items; '' separator
    before every top slot at index > 0 — INCLUDING slots whose concept
    was already processed (ghost rows, :1017-1019) — and before every
    orphan; '' after a concept's block whenever it has tree children
    (:911-915), even when every child was emitted elsewhere."""
    out: list[str] = []
    for r in rows:
        if r["origin"] == "ghost":
            # processed top slot at i>0: separator only, no block
            out.append("")
            continue
        if not _is_concept(r):
            continue
        level = _md_level(r)
        if r["origin"] == "anchor":
            if r["section"] == "top":
                if r["top_idx"] > 0:
                    out.append("")
            else:  # orphan / unassigned: '' always precedes (:1025, :1034)
                out.append("")
        _md_concept_block(out, r, level)
        if r["has_children"]:
            out.append("")
    return "\n".join(out)


def _xml_escape(text: str) -> str:
    if not text:
        return ""
    return (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;").replace("'", "&#39;")
    )


def render_xml_rows(rows: list[dict]) -> str:
    """to_xml (:1043-1170): Confluence storage-format wrapper, h{level}
    headings, metadata paragraphs, URI info macro, '' spacing."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        "<ac:confluence-content>",
        '<ac:structured-macro ac:name="expand" ac:schema-version="1">',
        '<ac:parameter ac:name="title">SKOS Vocabulary</ac:parameter>',
        "<ac:rich-text-body>",
    ]
    for r in rows:
        if not _is_concept(r):
            continue
        level = _md_level(r)
        label = _xml_escape(r["label"])
        if level <= 6:
            out.append(f"<h{level}>{label}</h{level}>")
        else:
            indent = "&nbsp;" * ((level - 6) * 4)
            out.append(f"<p>{indent}<strong>{label}</strong></p>")
        if r["definition"]:
            out.append(f"<p><em>Definition:</em> {_xml_escape(r['definition'])}</p>")
        if r["notation"]:
            out.append(
                f"<p><em>Notation:</em> <code>{_xml_escape(r['notation'])}</code></p>"
            )
        if r["alt_labels"]:
            alt = ", ".join(_xml_escape(x) for x in r["alt_labels"])
            out.append(f"<p><em>Alternative Labels:</em> {alt}</p>")
        out.append('<ac:structured-macro ac:name="info" ac:schema-version="1">')
        out.append('<ac:parameter ac:name="title">URI</ac:parameter>')
        out.append("<ac:rich-text-body>")
        out.append(f"<p><code>{_xml_escape(str(r['uri']))}</code></p>")
        out.append("</ac:rich-text-body>")
        out.append("</ac:structured-macro>")
        out.append("")
    out.append("</ac:rich-text-body>")
    out.append("</ac:structured-macro>")
    out.append("</ac:confluence-content>")
    return "\n".join(out)


def _json_id(uri: str) -> str:
    return str(uri).replace("/", "_").replace("#", "_")


def render_json_rows(rows: list[dict]) -> str:
    """to_notion_json (:1172-1281): nested vocabulary dict; the flat
    ``concepts`` list is post-order (each node appended after its whole
    subtree — build_concept_dict appends children first, callers append
    the root after it returns)."""
    data = {"vocabulary": {"schemes": [], "concepts": []}}
    schemes_by_label: dict[str, dict] = {}
    current_scheme: dict | None = None
    unassigned: list[dict] = []
    # stack of (md_level, concept_dict) for nesting reconstruction
    stack: list[tuple[int, dict]] = []
    concepts_flat = data["vocabulary"]["concepts"]

    def pop_to(level: int) -> None:
        while stack and stack[-1][0] >= level:
            _, d = stack.pop()
            concepts_flat.append(d)

    for r in rows:
        if r["origin"] == "ghost":  # markdown-only separator slots
            continue
        sec = r["section"]
        if sec == "scheme":
            pop_to(1)
            scheme_dict = {
                "id": _json_id(r["uri"]),
                "title": r["scheme_label"],
                "uri": str(r["uri"]),
                "top_concepts": [],
                "other_concepts": [],
            }
            data["vocabulary"]["schemes"].append(scheme_dict)
            schemes_by_label[r["scheme_label"]] = scheme_dict
            current_scheme = scheme_dict
            continue
        if sec in ("orph_hdr", "unass_hdr"):
            pop_to(1)
            if sec == "orph_hdr":
                current_scheme = schemes_by_label[r["scheme_label"]]
            continue
        level = _md_level(r)
        pop_to(level)
        if sec == "unassigned" and level == 1:
            parent_id = None
        elif r["origin"] == "anchor":
            parent_id = current_scheme["id"] if current_scheme else None
        else:
            parent_id = stack[-1][1]["id"] if stack else None
        d = {
            "id": _json_id(r["uri"]),
            "title": r["label"],
            "parent_id": parent_id,
            "definition": r["definition"],
            "alternative_labels": list(r["alt_labels"]),
            "notation": r["notation"],
            "uri": str(r["uri"]),
            "children": [],
        }
        if r["origin"] == "anchor":
            if sec == "top":
                current_scheme["top_concepts"].append(d)
            elif sec == "orphan":
                current_scheme["other_concepts"].append(d)
            else:
                unassigned.append(d)
        elif stack:
            stack[-1][1]["children"].append(d)
        stack.append((level, d))
    pop_to(1)
    if unassigned:
        data["vocabulary"]["unassigned_concepts"] = unassigned
    return json.dumps(data, indent=2, ensure_ascii=False)


_KERNELS = {
    "csv": render_csv_rows,
    "md": render_markdown_rows,
    "json": render_json_rows,
    "xml": render_xml_rows,
}


def _render_rows(rows: list[dict], kernel) -> str:
    """One document from its row-table dicts: sort_path order, list
    columns as lists."""
    rows.sort(key=lambda r: tuple(r["sort_path"]))
    for r in rows:
        for c in ("alt_labels", "same_as", "related"):
            r[c] = [] if r[c] is None else list(r[c])
    return kernel(rows)


def render_documents(
    doc_rows: DataFrame, fmt: str, vocab_col: str | None = None
) -> DataFrame:
    """Render one output document per vocabulary group → (vocab_id, payload).

    ``doc_rows`` is document_rows() output, optionally carrying a
    ``vocab_col`` grouping column for multi-vocabulary corpora (the
    reference's batch mode, one output file per input file — :488-499).
    Grouped-map UDF: each group's rows are sorted by sort_path inside the
    kernel, so no global sort is needed."""
    kernel = _KERNELS[fmt]
    src = doc_rows.withColumn(
        "vocab_id", F.col(vocab_col) if vocab_col else F.lit("_all")
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        payload = _render_rows(pdf.to_dict("records"), kernel)
        return pd.DataFrame({"vocab_id": [pdf["vocab_id"].iloc[0]], "payload": [payload]})

    return src.groupBy("vocab_id").applyInPandas(
        render, "vocab_id string, payload string"
    )


def render_document_text(
    doc_rows: DataFrame, fmt: str, max_rows: int = MAX_DRIVER_ROWS
) -> str:
    """Single-vocabulary convenience: the whole corpus as one document.

    A single output document is driver-sized by definition (the
    reference writes ONE file), so this takes the row table from
    ``guard_driver_sized`` (one Spark job, Arrow) and runs the kernel
    driver-side — skipping the one-group shuffle the grouped-map path
    would force. Misuse on a corpus-sized row table fails loudly instead
    of OOMing the driver."""
    rows = guard_driver_sized(doc_rows, "render_document_text", max_rows).to_pylist()
    return _render_rows(rows, _KERNELS[fmt])

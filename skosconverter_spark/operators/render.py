"""Notion-format document renderers: CSV / Markdown / JSON / Confluence-XML.

Byte-identical re-expressions of the reference's four forward sinks
(skos_converter.py: to_notion_csv :764-888, to_notion_markdown
:890-1041, to_xml :1043-1170, to_notion_json :1172-1281).

Every document is the engine's one DFS (plans.local_dfs.dfs_rows_local)
followed by one of the pure-Python kernels ``render_{csv,markdown,json,
xml}_rows`` over that document's ordered row list. Golden-path string
assembly stays in Python (never Spark SQL string functions — §4.3) so
bytes can't drift. Two entry points reach it:

- ``render_text_local``: one vocabulary on the driver — one guarded
  collect of the triples (fails above ``MAX_DRIVER_ROWS``), DFS, kernel.
- ``render_documents``: the reference's batch mode (one output file per
  input file — :488-499) as ONE grouped map over the triples keyed by
  source document: each group runs DFS and kernel in one Python call, so
  a directory of vocabularies renders in parallel across executors and
  crosses the Python boundary once per document.

``document_rows`` is the DFS row table as a DataFrame (plans.hierarchy
.dfs_rows) for callers that want the rows, not a rendered document.
"""

from __future__ import annotations

import io
import json

import pandas as pd
from pyspark.sql import DataFrame

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.plans.hierarchy import dfs_rows
from skosconverter_spark.plans.local_dfs import (  # noqa: F401 - re-exported
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


def render_documents(triples: DataFrame, fmt: str, config: EngineConfig) -> DataFrame:
    """One rendered document per source document → (vocab_id, payload).

    ``triples`` carries ``src_url`` (the document key, returned as
    ``vocab_id``) beside the six DFS columns. One grouped map: each
    document's triples go through the DFS and the kernel in one Python
    call. A document whose DFS emits no row (no scheme, no concept)
    yields no row, so batch mode writes no file for it."""
    src = triples.select(
        "src_url", "subj", "pred", "obj", "obj_is_literal", "obj_lang", "seq"
    )

    def render(pdf):
        return _render_document(fmt, config, pdf)

    return src.groupBy("src_url").applyInPandas(render, "vocab_id string, payload string")


def _render_document(fmt: str, config: EngineConfig, pdf: pd.DataFrame) -> pd.DataFrame:
    # module-level, so the grouped map pickles it by reference and the
    # executor resolves dfs_rows_local and _KERNELS in its own import
    rows = dfs_rows_local(
        zip(
            pdf["subj"], pdf["pred"], pdf["obj"],
            pdf["obj_is_literal"], pdf["obj_lang"], pdf["seq"],
        ),
        config,
    )
    if not rows:
        return pd.DataFrame(columns=["vocab_id", "payload"])
    return pd.DataFrame(
        {"vocab_id": [pdf["src_url"].iloc[0]], "payload": [_KERNELS[fmt](rows)]}
    )

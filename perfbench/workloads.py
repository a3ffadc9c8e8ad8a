"""The benchmark's workloads: inputs made from a seed, the timed
operations, and the checks every output must pass.

A workload is built by ``Workload(spark, work_dir, seed, partitions)``
and exposes:

- ``ops``: an ordered list of (name, callable), one *cycle* of the
  closed loop;
- ``check(name, outputs)``: called right after op ``name`` with the
  cycle's outputs so far; returns the names of the ops whose output is
  wrong;
- ``facts(outputs)``: workload facts reported next to the timings;
- ``span``: a ``(layer, name)`` context factory the traced run replaces,
  for spans the benchmark opens itself.

A run builds each workload more than once, from distinct seeds, in
distinct work dirs. Inputs reach the engine only through its public
functions. Expected answers are derived from the generator, with one
exception: the distributed row table is checked against the engine's
driver-local DFS of the same triples (a differential check).
"""

from __future__ import annotations

import csv
import io
import json
import random
import shutil
from contextlib import nullcontext
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from skosconverter_spark.api import notion_to_skos, skos_to_notion
from skosconverter_spark.config import (
    OWL_SAME_AS,
    EngineConfig,
    RDF_TYPE,
    SKOS_CONCEPT,
    SKOS_EXACT_MATCH,
    SKOS_PREF_LABEL,
)
from skosconverter_spark.kg.pipeline import run_pipeline
from skosconverter_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_prefix
from skosconverter_spark.operators.export import export_turtle_text
from skosconverter_spark.operators.render import collect_triples, document_rows
from skosconverter_spark.plans.local_dfs import dfs_rows_local
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.pages import VOCAB_CONCEPTS, page_record
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples
from skosconverter_spark.sources.vocab_gen import synthesize_vocab

# Small on purpose: nearly every op is bound by its number of Spark jobs,
# not by its data, and the run budget leaves room for one cycle per run
# after set-up.
CRAWL_PAGES = 1500
LINKED_PAGES = 200
LINKED_CONCEPTS = 1000
LINKED_CHAINS = 200
CHAIN_LEN = 10  # min uri at one end: min-label propagation runs 10 rounds
VOCAB_CONCEPTS_N = 400
NEARDUP_DOCS = 800

KG_NS = "http://example.org/kg#"
DROPPED_ON_CRASH = ("30_links", "50_canonical", "60_graph")


def _bench_vocab_ttl() -> str:
    """The 10-concept vocabulary the synthesized pages mention (29 triples)."""
    lines = ["@prefix skos: <http://www.w3.org/2004/02/skos/core#> ."]
    lines.append(f'<{KG_NS}scheme> a skos:ConceptScheme ; skos:prefLabel "Things"@en .')
    for key, label, alts in VOCAB_CONCEPTS:
        lines.append(f'<{KG_NS}{key}> a skos:Concept ; skos:prefLabel "{label}"@en .')
        for a in alts:
            lines.append(f'<{KG_NS}{key}> skos:altLabel "{a}" .')
    return "\n".join(lines)


BENCH_VOCAB_TRIPLES = 2 + sum(2 + len(alts) for _, _, alts in VOCAB_CONCEPTS)


def _parse(spark, fmt: str, payload: str, cfg: EngineConfig):
    docs = spark.createDataFrame([("d", "d", fmt, payload)], schema=DOCS)
    return ok_triples(extract_triples(docs, cfg))


def first_query(spark) -> None:
    """A session's first query: parse the 10-concept vocabulary, which
    loads the JVM's query paths and starts the first Python worker."""
    _parse(spark, "ttl", _bench_vocab_ttl(), EngineConfig()).count()


def _seeded_vocab(spark, n: int, seed: int):
    """synthesize_vocab's forest under a per-seed namespace."""
    ns = f"urn:bench:s{seed}:"
    vt = synthesize_vocab(spark, n)
    uri = lambda c: F.regexp_replace(c, "^urn:bench:", ns)  # noqa: E731
    return vt.select(
        uri(F.col("subj")).alias("subj"),
        "pred",
        F.when(F.col("obj_is_literal"), F.col("obj")).otherwise(uri(F.col("obj"))).alias("obj"),
        "obj_is_literal",
        "obj_lang",
        "src_url",
        "seq",
    )


def _write_parquet(table: pa.Table, path: Path, parts: int) -> None:
    """``table`` as ``parts`` parquet files, written without a Spark job, so
    an input build spends its time in the generators, not in the engine."""
    path.mkdir()
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step), path / f"part-{p:03d}.parquet")


def _write_pages(path: Path, first: int, n: int, parts: int) -> dict[str, set[str]]:
    """Pages ``first .. first+n-1`` as parquet; returns url → expected concept uris."""
    recs = [page_record(i) for i in range(first, first + n)]
    table = pa.table({
        "url": pa.array([r["url"] for r in recs], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in recs], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in recs], pa.binary()),
        "text": pa.array([r["text"] for r in recs], pa.string()),
        "lang": pa.array([r["lang"] for r in recs], pa.string()),
    })
    _write_parquet(table, path, parts)
    return {r["url"]: {KG_NS + c for c in r["_concepts"]} for r in recs}


def _links_match(out, expected: dict[str, set[str]]) -> bool:
    got = out["links"].select("url", "concept_uri").distinct().toArrow().to_pylist()
    want = {(u, c) for u, cs in expected.items() for c in cs}
    return {(r["url"], r["concept_uri"]) for r in got} == want


def _untraced(layer: str, name: str):
    return nullcontext()


class KgCase:
    """One pages table and vocabulary driven through run_pipeline, with
    the checks its generator implies."""

    def __init__(self, spark, work: Path, parts: int, first_page: int, n_pages: int, vocab, chains=()):
        self.spark, self.work, self.parts = spark, work, parts
        self.expected = _write_pages(work / "pages", first_page, n_pages, parts)
        self.pages = spark.read.parquet(str(work / "pages"))
        self.vocab = vocab.localCheckpoint(eager=True)
        self.chains = chains
        self.runs = 0
        self.root: Path | None = None
        if not chains:
            # pages' "# Page n" headings parse as one two-triple scheme each
            self.n_triples = 2 * n_pages + BENCH_VOCAB_TRIPLES

    def build(self):
        """A fresh run into an empty stage root."""
        self.runs += 1
        self.root = self.work / f"kg{self.runs}"
        return run_pipeline(self.spark, self.pages, self.vocab, str(self.root), partitions=self.parts)

    def resume(self):
        """Rerun after the downstream stages vanished, as after a crash."""
        for stage in DROPPED_ON_CRASH:
            shutil.rmtree(self.root / stage)
        return run_pipeline(self.spark, self.pages, self.vocab, str(self.root), partitions=self.parts)

    def mention_rows(self) -> int:
        """Rows the last build committed to the mentions stage."""
        return json.loads((self.root / "20_mentions" / "_MANIFEST.json").read_text())["rows"]

    def store_mb(self) -> float:
        """Bytes committed to the stage store by the last build."""
        return sum(f.stat().st_size for f in self.root.rglob("*") if f.is_file()) / 1e6

    def ok(self, out) -> bool:
        if not _links_match(out, self.expected):
            return False
        if not self.chains:
            return out["triples"].count() == self.n_triples
        return self._chains_collapsed(out["triples"])

    def _chains_collapsed(self, t) -> bool:
        """Every chain's labels sit on its minimum uri; no alias edge and
        no equivalence self-loop survives."""
        aliased = t.filter(F.col("subj").startswith("urn:alias:") | F.col("obj").startswith("urn:alias:"))
        labels: dict[str, int] = {}
        for r in aliased.select("subj", "pred").toArrow().to_pylist():
            if r["pred"] != SKOS_PREF_LABEL:
                return False
            labels[r["subj"]] = labels.get(r["subj"], 0) + 1
        if labels != {uris[0]: CHAIN_LEN for uris in self.chains}:
            return False
        return t.filter(
            F.col("pred").isin(SKOS_EXACT_MATCH, OWL_SAME_AS) & (F.col("subj") == F.col("obj"))
        ).count() == 0


def _alias_chains(spark, seed: int):
    """LINKED_CHAINS chains of CHAIN_LEN uris linked by exactMatch/sameAs,
    each uri with its own prefLabel; zero-padded positions keep every
    chain's minimum uri at one end, the worst case for min-label
    propagation."""
    rng = random.Random(seed)
    chains, rows = [], []
    for c in range(LINKED_CHAINS):
        uris = [f"urn:alias:s{seed}:{c:05d}:{p:02d}" for p in range(CHAIN_LEN)]
        chains.append(uris)
        for p, u in enumerate(uris):
            label = f"Alias {rng.randrange(10**9):09d} {p}"
            rows.append((u, SKOS_PREF_LABEL, label, True, "en", "chains", c * 100 + 2 * p))
            if p + 1 < CHAIN_LEN:
                pred = SKOS_EXACT_MATCH if rng.random() < 0.5 else OWL_SAME_AS
                rows.append((u, pred, uris[p + 1], False, None, "chains", c * 100 + 2 * p + 1))
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )
    return df, chains


class Kg:
    """The KG pipeline, two ways. ``crawl``: a page-heavy build over the
    10-concept vocabulary, then a crash-resume; canonicalization finds no
    equivalence edges and idles. ``linked``: a small build over a large
    vocabulary with alias chains; canonicalization rounds dominate."""

    span = staticmethod(_untraced)

    def __init__(self, spark, work: Path, seed: int, parts: int):
        things = _parse(spark, "ttl", _bench_vocab_ttl(), EngineConfig()).localCheckpoint(eager=True)
        (work / "crawl").mkdir()
        (work / "linked").mkdir()
        self.crawl = KgCase(spark, work / "crawl", parts, (seed % 100) * CRAWL_PAGES, CRAWL_PAGES, things)
        chains_df, chains = _alias_chains(spark, seed)
        vocab = things.unionByName(_seeded_vocab(spark, LINKED_CONCEPTS, seed)).unionByName(chains_df)
        self.linked = KgCase(
            spark, work / "linked", parts, (seed % 100) * LINKED_PAGES, LINKED_PAGES, vocab, chains
        )
        self.ops = [
            ("crawl_build", self.crawl.build),
            ("crawl_resume", self.crawl.resume),
            ("linked_build", self.linked.build),
        ]
        self.cases = {"crawl_build": self.crawl, "crawl_resume": self.crawl, "linked_build": self.linked}

    def check(self, name: str, outputs: dict) -> list[str]:
        return [] if self.cases[name].ok(outputs[name]) else [name]

    def facts(self, outputs: dict) -> dict[str, float]:
        return {
            "store_mb": self.crawl.store_mb(),
            "mention_rows": self.crawl.mention_rows() + self.linked.mention_rows(),
        }


def _markdown(rows: list[dict]) -> str:
    """A Notion-style markdown export of a DFS row list, in the format the
    markdown parser reads back (``**URI:**`` lines, heading level = depth)."""
    out = []
    for r in rows:
        if r["origin"] == "ghost" or r["uri"] is None:
            continue
        if r["section"] == "scheme":
            out.append(f"# Concept Scheme: {r['label']}")
        else:
            out.append("#" * (r["level"] + 1) + f" {r['label']}")
        out.append(f"**URI:** {r['uri']}")
        out.append("")
    return "\n".join(out) + "\n"


class VocabCase:
    """The converter's user path on one vocabulary: Turtle → validated CSV,
    markdown → Turtle, and the distributed DFS row table."""

    def __init__(self, spark, seed: int, span):
        self.cfg = EngineConfig()
        self.span = span
        n = VOCAB_CONCEPTS_N + seed % 10
        vt = _seeded_vocab(spark, n, seed).localCheckpoint(eager=True)
        ttl, summary = export_turtle_text(vt)
        if summary["concepts"] != n:
            raise RuntimeError(f"vocabulary generator made {summary}, expected {n} concepts")
        self.ttl_docs = spark.createDataFrame([("v", "v", "ttl", ttl)], schema=DOCS)
        self.triples = _parse(spark, "ttl", ttl, self.cfg).localCheckpoint(eager=True)
        self.concepts = _concept_uris(vt)
        self.rows = dfs_rows_local(collect_triples(self.triples), self.cfg)
        self.md_docs = spark.createDataFrame([("m", "m", "md", _markdown(self.rows))], schema=DOCS)

    def to_csv(self):
        with self.span()("sources.parse_udf", "ttl_parse"):
            triples = ok_triples(extract_triples(self.ttl_docs, self.cfg)).localCheckpoint(eager=True)
        return skos_to_notion(triples, "csv", self.cfg)

    def to_skos(self):
        # the parser's fixed mode: bug-compat mode drops every concept by design
        with self.span()("sources.parse_udf", "md_parse"):
            triples, _ = notion_to_skos(self.md_docs, self.cfg.with_(bug_compat=False))
            triples = triples.localCheckpoint(eager=True)
        return triples, export_turtle_text(triples)

    def row_table(self):
        return document_rows(self.triples, self.cfg).toArrow()

    def ok(self, name: str, out) -> bool:
        if name == "to_csv":
            text, issues, _ = out
            uris = [r["URI"] for r in csv.DictReader(io.StringIO(text)) if r["URI"] in self.concepts]
            return not issues and len(uris) == len(self.concepts) and set(uris) == self.concepts
        if name == "to_skos":
            triples, (_, summary) = out
            return _concept_uris(triples) == self.concepts and summary["concepts"] == len(self.concepts)
        table = sorted(out.to_pylist(), key=lambda r: r["sort_path"])
        return [(r["uri"], r["level"]) for r in table] == [(r["uri"], r["level"]) for r in self.rows]


def _concept_uris(triples) -> set[str]:
    typed = triples.filter((F.col("pred") == RDF_TYPE) & (F.col("obj") == SKOS_CONCEPT))
    return {r["subj"] for r in typed.select("subj").toArrow().to_pylist()}


_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "customer join the"
).split()


class DedupCase:
    """Planted exact and perturbed copies; LSH pairs against exact pairs."""

    def __init__(self, spark, work: Path, seed: int, parts: int):
        rng = random.Random(seed)
        base = [
            (i, " ".join(rng.choice(_WORDS) for _ in range(rng.randint(20, 100))))
            for i in range(NEARDUP_DOCS)
        ]
        rows = (
            base
            + [(i + 2_000_000, t) for i, t in base]
            + [(i + 1_000_000, t + " the end") for i, t in base]
        )
        ids, texts = zip(*rows)
        _write_parquet(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
            work / "docs",
            parts,
        )
        self.docs = spark.read.parquet(str(work / "docs")).repartition(parts)
        self.planted = {
            p for i, _ in base for p in ((i, i + 1_000_000), (i, i + 2_000_000), (i + 1_000_000, i + 2_000_000))
        }

    @staticmethod
    def _pairs(df) -> set[tuple[int, int]]:
        return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").toArrow().to_pylist()}

    def lsh_pairs(self):
        return self._pairs(minhash_lsh_pairs(self.docs, 0.8))

    def exact_pairs(self):
        return self._pairs(ngram_jaccard_prefix(self.docs, 0.8))

    def wrong(self, outputs: dict) -> list[str]:
        """Judged once both pair sets exist."""
        exact = outputs["exact_pairs"]
        bad = [] if self.planted <= exact else ["exact_pairs"]
        return bad + ([] if outputs["lsh_pairs"] <= exact else ["lsh_pairs"])


class Convert:
    """The library's document paths: the SKOS converter on one vocabulary
    (to-csv with validation, to-skos, the DFS row table) and near-duplicate
    detection on a planted corpus (MinHash-LSH and the exact prefix join)."""

    span = staticmethod(_untraced)

    def __init__(self, spark, work: Path, seed: int, parts: int):
        self.vocab = VocabCase(spark, seed, lambda: self.span)
        self.dedup = DedupCase(spark, work, seed, parts)
        self.ops = [
            ("to_csv", self.vocab.to_csv),
            ("to_skos", self.vocab.to_skos),
            ("row_table", self.vocab.row_table),
            ("lsh_pairs", self.dedup.lsh_pairs),
            ("exact_pairs", self.dedup.exact_pairs),
        ]

    def check(self, name: str, outputs: dict) -> list[str]:
        if name == "lsh_pairs":
            return []  # judged against the exact pairs, which come next
        if name == "exact_pairs":
            return self.dedup.wrong(outputs)
        return [] if self.vocab.ok(name, outputs[name]) else [name]

    def facts(self, outputs: dict) -> dict[str, float]:
        lsh, exact = outputs["lsh_pairs"], outputs["exact_pairs"]
        return {"lsh_recall": len(lsh) / len(exact), "verified_pairs": len(lsh) + len(exact)}


WORKLOADS = {"kg": Kg, "convert": Convert}

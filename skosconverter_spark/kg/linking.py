"""Entity linking: TF-IDF context scoring of exact dictionary hits (north_star).

Score model (deterministic):
- candidates are exact dictionary hits: a mention (url, surface,
  norm_surface, begin, end) is a candidate for every concept with a
  label of the same normalized surface (``mention_candidates`` is the
  same match as an equi-join; both sides are normalized by
  ``mentions.normalize_surface``), so the mention-to-label surface match is
  always total and contributes the constant 0.5.
- tf(url, s) counts the page's mention rows of surface s (duplicate rows
  count); df(s) is the number of distinct urls with a mention of s;
  n_pages the number of distinct urls with any mention;
  idf(s) = ln((n_pages + 1) / (df(s) + 1)) and w(url, s) = tf · idf.
- context(url, c) = Σ_{s ∈ S(c)} w(url, s) / (‖w(url)‖ · √|S(c)|): the
  cosine between the page's weight vector over all its mention surfaces
  and the concept's distinct surface set S(c) as a 0/1 vector. A zero
  denominator divides by 1 instead.
- score = 0.5 + 0.5 · context. The weights are non-negative
  (df ≤ n_pages), so the cosine lies in [0, 1] and every score in
  [0.5, 1]; no threshold is applied.
- one link per mention span (url, begin, end): the candidate with the
  smallest (−score, concept_uri, surface, norm_surface), i.e. the
  highest score with ties to the smaller uri.

Two rounds:
1. On the driver, one guarded collect: idf per surface (df and n_pages
   in Spark, ``log`` included, so the kernel multiplies the same doubles
   a Spark plan would). The vocabulary side comes from the
   ``label_table`` rows the caller already holds, with no Spark job.
   Both are broadcast.
2. On the executors, one ``mapInArrow`` pass over the mentions,
   hash-partitioned by url and sorted by url within each partition,
   scores each page whole and emits its links.

Equivalence: every term of the score except df and n_pages — tf, w,
‖w(url)‖, the dot products, the scores and the per-span pick — reads
one page's mentions alone. The url partitioning puts all of a page's
mentions in one task, contiguous after the sort, so the page-at-a-time
kernel with df and n_pages broadcast evaluates the same formula as a
global plan of joins and aggregations over the mentions table. The one
freedom left is the order of floating additions: the kernel sums in
sorted-surface order, so its scores agree with any other evaluation
order to within a few ulp.
"""

from __future__ import annotations

import functools
import math
from collections import Counter, defaultdict
from itertools import groupby
from operator import itemgetter
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from skosconverter_spark.kg.mentions import Label
from skosconverter_spark.plans.local_dfs import guard_driver_sized

_LINK_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("surface", pa.string()),
        ("norm_surface", pa.string()),
        ("begin", pa.int32()),
        ("end", pa.int32()),
        ("concept_uri", pa.string()),
        ("score", pa.float64()),
    ]
)


def vocab_score_tables(
    labels: list[Label],
) -> tuple[dict[str, tuple[str, ...]], dict[str, float]]:
    """(concepts, prof_norm): the vocabulary side of the context cosine,
    from ``label_table``'s rows, deduplicated on (norm_surface, uri).
    ``concepts`` maps a normalized surface to its concepts' uris, sorted;
    ``prof_norm`` maps a uri to √|S(c)|, the norm of its distinct surface
    set as a 0/1 vector."""
    concepts: dict[str, list[str]] = defaultdict(list)
    sizes: Counter = Counter()
    for surface, uri in {(ns, uri) for uri, _, ns, _ in labels}:
        sizes[uri] += 1
        if surface is not None:  # a null surface matches no mention
            concepts[surface].append(uri)
    return (
        {s: tuple(sorted(uris)) for s, uris in concepts.items()},
        {uri: math.sqrt(n) for uri, n in sizes.items()},
    )


def _idf(mentions: DataFrame) -> dict[str, float]:
    """idf per mention surface, from one guarded collect: at most one
    row per distinct surface, i.e. per distinct label surface when the
    mentions come from the scanner."""
    df = (
        mentions.select("url", "norm_surface")
        .distinct()
        .groupBy("norm_surface")
        .agg(F.count("*").alias("df"))
    )
    n_pages = mentions.agg(F.countDistinct("url").alias("n_pages"))
    idf = F.log((F.col("n_pages") + F.lit(1)).cast("double") / (F.col("df") + 1.0))
    tbl = guard_driver_sized(
        df.crossJoin(n_pages).select("norm_surface", idf.alias("idf")), "link statistics"
    )
    return dict(zip(*(c.to_pylist() for c in tbl.columns)))


def _score_page(tables, url: str | None, rows: list[tuple]) -> list[tuple]:
    """One page's mention rows (url, surface, norm_surface, begin, end)
    → its links, one per span (see the module docstring)."""
    idf, concepts, prof_norm = tables.value
    tf = Counter(ns for _, _, ns, _, _ in rows if ns is not None)
    dots: dict[str, float] = {}
    page_norm = 0.0
    if url is not None:  # a page without a url has no context vector
        w = {s: tf[s] * idf[s] for s in sorted(tf)}
        page_norm = math.sqrt(sum(x * x for x in w.values()))
        for s, x in w.items():
            for uri in concepts.get(s, ()):
                dots[uri] = dots.get(uri, 0.0) + x
    best: dict[tuple, tuple] = {}
    for _, surface, ns, begin, end in set(rows):
        for uri in concepts.get(ns, ()):
            denom = page_norm * prof_norm[uri]
            score = 0.5 + 0.5 * (dots.get(uri, 0.0) / (denom if denom > 0 else 1.0))
            key = (-score, uri, surface, ns)
            if (begin, end) not in best or key < best[(begin, end)]:
                best[(begin, end)] = key
    return [
        (url, surface, ns, begin, end, uri, -neg)
        for (begin, end), (neg, uri, surface, ns) in best.items()
    ]


def _links_batch(links: list[tuple]) -> pa.RecordBatch:
    cols = list(zip(*links)) if links else [()] * len(_LINK_ARROW)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _LINK_ARROW)], schema=_LINK_ARROW
    )


def score_candidates(mentions: DataFrame, labels: list[Label]):
    """Round 1, on the driver: collect idf, broadcast it with the
    vocabulary tables, and return the per-page scorer
    ``score_page(url, rows)`` the kernel runs.

    Contract: the candidates it scores are exact dictionary hits of the
    same ``labels``, so the surface term of the score is exactly 1.0;
    a looser candidate generator would need its own surface term."""
    tables = mentions.sparkSession.sparkContext.broadcast(
        (_idf(mentions), *vocab_score_tables(labels))
    )
    # a partial over a module-level function, so the executor-side
    # closure names no function a tracer may have rebound
    return functools.partial(_score_page, tables)


def link_best(mentions: DataFrame, score_page, parts: int) -> DataFrame:
    """Round 2: the links of every page, from one ``mapInArrow`` pass
    over the mentions hash-partitioned by url and sorted by url within
    each partition, so a page's rows arrive together. They can span
    Arrow batches, so the open page is carried across batch boundaries
    and scored once its last row has been seen."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        url, rows = None, []  # the open page
        for batch in batches:
            links: list[tuple] = []
            page_rows = zip(*(c.to_pylist() for c in batch.columns))
            for u, group in groupby(page_rows, key=itemgetter(0)):
                if rows and u != url:
                    links += score_page(url, rows)
                    rows = []
                url = u
                rows.extend(group)
            yield _links_batch(links)
        if rows:
            yield _links_batch(score_page(url, rows))

    return (
        mentions.select("url", "surface", "norm_surface", "begin", "end")
        .repartition(parts, "url")
        .sortWithinPartitions("url")
        .mapInArrow(kernel, from_arrow_schema(_LINK_ARROW))
    )


def link_stage(mentions: DataFrame, labels: list[Label], parts: int) -> DataFrame:
    """Mentions → one best concept per mention span: the KG pipeline's
    30_links and the kg_links query. ``labels`` are ``label_table``'s
    rows for the vocabulary; the candidates are their exact hits.

    Two rounds (module docstring): the statistics collect, then one
    kernel pass over the mentions — a plan of
    Scan → Exchange(url) → Sort → MapInArrow."""
    return link_best(mentions, score_candidates(mentions, labels), parts)

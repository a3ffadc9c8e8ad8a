"""The web-scale KG-construction pipeline: staged, checkpointed, resumable.

Stage graph (north_star):

    pages ──extract_text──▶ pages_text ──salted repartition──▶
      ├─ mention scan (broadcast trie) ─▶ mentions
      ├─ TF-IDF context scoring, one kernel per page ─▶ links
      └─ page-markdown triple extraction ─▶ raw_triples
    raw_triples ∪ vocabulary ──canonicalization closure──▶ triples
    triples ─▶ 60_graph (the same rows, pred-partitioned parquet)

Scheduling: ``run_pipeline`` builds this graph per call as a node table,
``name → (deps, fn(inputs))``, over the input fingerprints, the shared
label rows (``label_table``: one guarded collect of the vocabulary's
labels, normalized on the driver) and the stages. ``_run_graph`` runs
it as Dryad does (Isard et al., EuroSys 2007): a node starts once its
inputs have resolved, and no pool thread waits on a sibling. So once
the fingerprints are known 10_extract overlaps the label read (skipped
when 20_mentions and 30_links are both committed), 20_mentions overlaps
40_page_triples, 30_links starts when 20_mentions is done, and
50_canonical when 40_page_triples is.

Resumability (north_rule): every stage, the 60_graph sink included,
goes through ``StageRunner.run_stage``: it writes a new immutable parquet
snapshot of the stage, then atomically replaces the stage's
``_MANIFEST.json``, which records the stage name, its input fingerprint,
row count, read-back schema (so reads infer nothing and run no Spark
job) and the snapshot it names. On rerun, a stage whose manifest matches
the current input fingerprint is loaded instead of recomputed —
resume-from-any-completed-stage with no extra bookkeeping, and a full
rerun writes no file. A crash or a failed commit leaves the previous
commit in force; a recompute leaves the DataFrames of the previous run
readable (kg/catalog.py: retention). On a real deployment these writes
are Iceberg commits and the fingerprint is the input snapshot id.

Lineage/metrics (north_rule): the commit record also lists the
snapshot's (file, rows) pairs, read from the written parquet FOOTERS
(one tiny metadata read per file, driver-side) — the local analogue of
Iceberg manifest entries. ``stage_metrics`` builds the per-output-
partition table from the committed records on the driver, so lineage
costs zero Spark jobs and zero data scans, and a write whose commit
failed reports nothing.
"""

from __future__ import annotations

import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.kg.canonicalize import canonicalize_triples
from skosconverter_spark.kg.catalog import ParquetCatalogAdapter, file_rows
from skosconverter_spark.kg.extract import (
    EXTRACTOR_VERSION,
    extract_text,
    salted_repartition,
)
from skosconverter_spark.kg.linking import link_stage
from skosconverter_spark.kg.mentions import label_table, scan_mentions
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples


@dataclass
class StageRunner:
    spark: SparkSession
    root: str
    catalog: ParquetCatalogAdapter = field(default_factory=ParquetCatalogAdapter, init=False)

    def _base(self, stage: str) -> Path:
        return Path(self.root) / stage

    def is_committed(self, stage: str, input_fingerprint: str) -> bool:
        """Whether ``stage``'s committed fingerprint is ``input_fingerprint``,
        i.e. whether ``run_stage`` would load it without building."""
        return self.catalog.committed_fingerprint(self._base(stage)) == input_fingerprint

    def run_stage(
        self,
        stage: str,
        input_fingerprint: str,
        build,  # () -> DataFrame
        partition_by: tuple[str, ...] = (),
    ) -> DataFrame:
        """Build-or-load one stage: build → write → read back → footer
        lineage → commit. A stage whose committed fingerprint matches
        ``input_fingerprint`` is read back without building or writing
        anything. ``partition_by`` lays the written files out by those
        columns (the graph sink's pred partitioning).

        Storage/commit mechanics live behind ``self.catalog``
        (kg/catalog.py): parquet snapshots + a JSON commit record here,
        Iceberg snapshot commits on a real deployment — the pipeline
        never touches the storage layer directly."""
        base = self._base(stage)
        if self.is_committed(stage, input_fingerprint):
            return self.catalog.read(self.spark, base)
        t0 = time.time()
        self.catalog.write(build(), base, partition_by=partition_by)
        out = self.catalog.read(self.spark, base)
        wall_ms = int((time.time() - t0) * 1000)
        # per-partition lineage from the catalog's write metadata
        # (parquet footers / Iceberg manifest entries) — metadata-only,
        # no Spark job, no second scan of the stage output
        rows = sum(n for _, n in self.catalog.partition_rows(base))
        self.catalog.commit(base, stage, input_fingerprint, rows, wall_ms)
        return out

    def stage_metrics(self) -> DataFrame:
        """Every committed stage's per-partition lineage, one row per
        output file, from the commit records: built on the driver, no
        Spark job. A stage with no file reports partition -1, 0 rows."""
        rows = []
        for manifest in sorted(Path(self.root).glob("*/_MANIFEST.json")):
            record = self.catalog.committed(manifest.parent)
            if record is None:
                continue
            rows += [
                (record["stage"], pid, n, record["wall_ms"], record["input_fingerprint"])
                for pid, n in file_rows(record["files"]) or [(-1, 0)]
            ]
        return self.spark.createDataFrame(rows, _METRICS_SCHEMA)


_METRICS_SCHEMA = (
    "stage string, partition_id int, rows_out bigint, wall_ms bigint, "
    "input_fingerprint string"
)


def fingerprint_of(df: DataFrame, sample_cols: list[str]) -> str:
    """Cheap order-insensitive content fingerprint: count + the sum of a
    per-row hash over a column projection. At real scale this is the
    Iceberg snapshot id; here it must detect input changes across runs.

    The row hash interleaves each column with its null flag, because
    ``xxhash64`` skips nulls: (u, null, x) and (u, x, null) would hash
    alike. The rows combine by an exact decimal sum, not ``bit_xor``,
    under which two identical rows cancel out."""
    row = F.xxhash64(*(x for c in sample_cols for x in (F.col(c), F.col(c).isNull())))
    agg = df.select(
        F.sum(row.cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("c"),
    ).collect()[0]
    return f"{agg['c']}:{agg['h']}"


def _run_graph(nodes: dict, max_workers: int) -> dict:
    """Run ``nodes`` (``name → (deps, fn(inputs))``); return each node's
    value by name.

    Only the calling thread waits (in ``wait(FIRST_COMPLETED)``), so any
    pool of one or more workers finishes the graph. Tasks are wrapped in
    ``inheritable_thread_target`` at submit time: their Spark jobs keep
    the caller's local properties (job group, scheduler pool, tags) and
    are described by the node's name. On the first failure, nodes not
    yet started are cancelled, running ones finish, and it is raised."""
    spark = SparkSession.active()

    def run(name, fn, inputs):
        spark.sparkContext.setLocalProperty("spark.job.description", name)
        return fn(inputs)

    pending, done, running = dict(nodes), {}, {}
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        while pending or running:
            for name, (deps, fn) in list(pending.items()):
                if all(d in done for d in deps):
                    del pending[name]
                    task = inheritable_thread_target(spark)(run)
                    inputs = {d: done[d] for d in deps}
                    running[pool.submit(task, name, fn, inputs)] = name
            if not running:
                raise ValueError(f"unresolvable dependencies: {sorted(pending)}")
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                if fut.exception() is not None:
                    for other in running:
                        other.cancel()
                    raise fut.exception()
                done[name] = fut.result()
    return done


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    vocab_triples: DataFrame,
    root: str,
    config: EngineConfig | None = None,
    partitions: int | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full KG pipeline; returns the stage outputs.
    Every stage is committed, so a rerun resumes after the last
    committed stage and a full rerun builds and writes nothing."""
    config = config or EngineConfig()
    parts = partitions or spark.sparkContext.defaultParallelism
    runner = StageRunner(spark, root)

    def stage(name, fingerprint, build, partition_by=()):
        # positional (name, fingerprint, build, partition_by): a tracer
        # wrapping run_stage reads the stage name from its first argument
        return lambda i: runner.run_stage(name, fingerprint(i), lambda: build(i), partition_by)

    def fp_pages(i):
        return i["fp_pages"]

    def fp_both(i):
        return f"{i['fp_pages']}|{i['fp_vocab']}"

    def extract(i):
        # checkpoint pruning: no downstream stage re-reads the raw html —
        # `text` IS the extraction product and html is reproducible from
        # the input table — so the binary payload (roughly half the
        # stage's bytes) never hits the checkpoint disk
        return salted_repartition(extract_text(pages), parts).drop("html")

    def labels(i):
        if all(runner.is_committed(n, fp_both(i)) for n in ("20_mentions", "30_links")):
            return None
        return label_table(vocab_triples)

    def mentions(i):
        return scan_mentions(i["10_extract"], vocab_triples, labels=i["labels"])

    def page_triples(i):
        md = i["10_extract"].select(
            F.col("url"), F.lit("md").alias("fmt"), F.col("text").alias("payload")
        )
        return ok_triples(extract_triples(md, config))

    def links(i):
        return link_stage(i["20_mentions"], i["labels"], parts)

    def canonical(i):
        return canonicalize_triples(
            i["40_page_triples"].unionByName(vocab_triples), config.max_iterations
        )

    # built per call, never at import: a tracer that rebinds the engine's
    # module functions must see every call the nodes make
    fps = ("fp_pages", "fp_vocab")
    nodes = {
        # every input column: the stages read more than the keys (extract
        # keeps `text` and reads `html`; the vocabulary's language tags and
        # seq order labels). The extractor version is part of the pages'
        # fingerprint, so a new extractor re-runs every stage downstream.
        "fp_pages": ((), lambda i: f"{fingerprint_of(pages, pages.columns)}|x={EXTRACTOR_VERSION}"),
        "fp_vocab": ((), lambda i: fingerprint_of(vocab_triples, vocab_triples.columns)),
        # the vocabulary's label rows, read once (one guarded collect) for
        # the mention scanner's trie and the links stage's tables; None
        # when both stages that read them will load their commits
        "labels": (fps, labels),
        "10_extract": (("fp_pages",), stage("10_extract", fp_pages, extract)),
        "20_mentions": (
            ("10_extract", "labels", *fps),
            stage("20_mentions", fp_both, mentions),
        ),
        "40_page_triples": (
            ("10_extract", "fp_pages"),
            stage("40_page_triples", fp_pages, page_triples),
        ),
        "30_links": (
            ("20_mentions", "labels", *fps),
            stage("30_links", fp_both, links),
        ),
        "50_canonical": (
            ("40_page_triples", *fps),
            stage("50_canonical", fp_both, canonical),
        ),
        # pred-partitioned so triple-pattern scans prune (on Iceberg this
        # is a partitioned+bucketed table spec)
        "60_graph": (
            ("50_canonical", *fps),
            stage("60_graph", fp_both, lambda i: i["50_canonical"], ("pred",)),
        ),
    }
    out = _run_graph(nodes, max_workers=len(nodes))
    return {
        "pages_text": out["10_extract"],
        "mentions": out["20_mentions"],
        "links": out["30_links"],
        "page_triples": out["40_page_triples"],
        "triples": out["50_canonical"],
        "graph": out["60_graph"],
        "metrics": runner.stage_metrics(),
    }

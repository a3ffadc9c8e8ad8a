"""The web-scale KG-construction pipeline: staged, checkpointed, resumable.

Stage graph (north_star):

    pages ──extract_text──▶ pages_text ──salted repartition──▶
      ├─ mention scan (broadcast trie) ─▶ mentions
      ├─ candidate join + TF-IDF/Jaccard scoring ─▶ links
      └─ page-markdown triple extraction ─▶ raw_triples
    raw_triples ∪ vocabulary ──canonicalization closure──▶ triples
    triples ─▶ partitioned graph table (pred-partitioned parquet)

Resumability (north_rule): every stage writes a parquet checkpoint plus
a ``_MANIFEST.json`` recording the stage name, its input fingerprint
and row count. On rerun, a stage whose manifest matches the current
input fingerprint is loaded instead of recomputed — resume-from-any-
completed-stage with no extra bookkeeping. (This container has plain
parquet; on a real deployment these writes are Iceberg commits and the
fingerprint is the input snapshot id.)

Lineage/metrics (north_rule): each stage emits per-output-partition row
counts into ``stage_metrics`` parquet alongside the checkpoint. The
counts come from the written parquet FOOTERS (one tiny metadata read
per file, driver-side) — the local analogue of reading an Iceberg
manifest — so lineage costs zero extra Spark jobs and zero data scans.
Through round 2 this was a full second scan of every stage's output
(groupBy(spark_partition_id).count), which dominated the pipeline's
measured 8→32 scaling (BASELINE.md: eff 0.27).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.kg.canonicalize import canonicalize_triples
from skosconverter_spark.kg.extract import extract_text, salted_repartition
from skosconverter_spark.kg.linking import link_best, score_candidates
from skosconverter_spark.kg.mentions import mention_candidates, scan_mentions
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples


@dataclass
class StageRunner:
    spark: SparkSession
    root: str
    config: EngineConfig = field(default_factory=EngineConfig)
    force: bool = False  # recompute even when a manifest matches
    codec: str = "zstd"  # checkpoint compression (zstd ≈ 2× smaller than
    # snappy on text-heavy stages → half the bytes through the shared
    # checkpoint store; decode cost is amortized across executors)
    catalog: object | None = None  # CatalogAdapter; default parquet+manifest

    def __post_init__(self):
        if self.catalog is None:
            from skosconverter_spark.kg.catalog import ParquetCatalogAdapter

            self.catalog = ParquetCatalogAdapter(codec=self.codec)

    def _base(self, stage: str) -> Path:
        return Path(self.root) / stage

    def run_stage(
        self,
        stage: str,
        input_fingerprint: str,
        build,  # () -> DataFrame
        persist: bool = True,
    ) -> DataFrame:
        """Build-or-load one stage; write checkpoint + manifest + metrics.

        ``persist=False`` materializes the stage executor-locally
        (localCheckpoint → memory/local-disk blocks) instead of writing
        a parquet checkpoint: downstream stages still read a
        materialized boundary (no python-stage fusion, results reusable
        by two consumers), but the bytes never cross the shared
        checkpoint store. The trade: the stage is NOT resumable (no
        manifest) — a rerun rebuilds it from its persisted inputs. A
        matching manifest from a previous persisted run is still
        honored either way.

        Storage/commit mechanics live behind ``self.catalog``
        (kg/catalog.py): parquet + JSON manifest here, Iceberg snapshot
        commits on a real deployment — the pipeline never touches the
        storage layer directly."""
        base = self._base(stage)
        metrics = base / "metrics"
        if (
            not self.force
            and self.catalog.committed_fingerprint(base) == input_fingerprint
        ):
            return self.catalog.read(self.spark, base)
        import os

        debug = os.environ.get("SPARK_GRAFT_DEBUG_STAGES")
        t0 = time.time()
        df = build()
        if not persist:
            out = df.localCheckpoint(eager=True)
            wall_ms = int((time.time() - t0) * 1000)
            if debug:
                print(f"    [{stage}] local: {time.time() - t0:.2f}s", flush=True)
            # lineage over the cached blocks (JVM memory scan — cheap,
            # and these stages have no parquet footers to read)
            per_part_rows = [
                (r["pid"], r["rows"])
                for r in out.groupBy(
                    F.spark_partition_id().alias("pid")
                ).count().withColumnRenamed("count", "rows").collect()
            ]
            _write_metrics_parquet(
                metrics,
                [
                    (stage, pid, n, wall_ms, input_fingerprint)
                    for pid, n in sorted(per_part_rows)
                ]
                or [(stage, -1, 0, wall_ms, input_fingerprint)],
            )
            return out
        self.catalog.write(df, base)
        if debug:
            print(f"    [{stage}] write: {time.time() - t0:.2f}s", flush=True)
        out = self.catalog.read(self.spark, base)
        wall_ms = int((time.time() - t0) * 1000)
        # per-partition lineage from the catalog's commit metadata
        # (parquet footers / Iceberg manifest entries) — metadata-only,
        # no Spark job, no second scan of the stage output
        per_part_rows = self.catalog.partition_rows(base)
        rows = sum(n for _, n in per_part_rows)
        _write_metrics_parquet(
            metrics,
            [
                (stage, pid, n, wall_ms, input_fingerprint)
                for pid, n in per_part_rows
            ]
            or [(stage, -1, 0, wall_ms, input_fingerprint)],
        )
        self.catalog.commit(base, stage, input_fingerprint, rows, wall_ms)
        return out

    def stage_metrics(self) -> DataFrame:
        """All stages' per-partition lineage metrics."""
        paths = [str(p) for p in Path(self.root).glob("*/metrics") if p.exists()]
        return self.spark.read.parquet(*paths)


_METRICS_SCHEMA = (
    ("stage", "string"),
    ("partition_id", "int32"),
    ("rows_out", "int64"),
    ("wall_ms", "int64"),
    ("input_fingerprint", "string"),
)


def _write_metrics_parquet(metrics: Path, rows: list[tuple]) -> None:
    """Driver-side parquet write of a handful of lineage rows (types
    matching what the Spark writer produced through round 2, so old and
    new metrics dirs union cleanly in stage_metrics)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    if metrics.exists():
        shutil.rmtree(metrics)
    metrics.mkdir(parents=True, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {
            name: pa.array(cols[i], type=getattr(pa, typ)())
            for i, (name, typ) in enumerate(_METRICS_SCHEMA)
        }
    )
    pq.write_table(table, metrics / "part-00000.parquet")


def fingerprint_of(df: DataFrame, sample_cols: list[str]) -> str:
    """Cheap order-insensitive content fingerprint: count + xor-ish hash
    over a column projection. At real scale this is the Iceberg snapshot
    id; here it must detect input changes across runs."""
    agg = df.select(
        F.expr(f"bit_xor(xxhash64({', '.join(sample_cols)}))").alias("h"),
        F.count("*").alias("c"),
    ).collect()[0]
    return f"{agg['c']}:{agg['h']}"


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    vocab_triples: DataFrame,
    root: str,
    config: EngineConfig | None = None,
    partitions: int | None = None,
    link_threshold: float = 0.25,
    force: bool = False,
    persist_intermediate: bool = True,
    codec: str = "zstd",
) -> dict[str, DataFrame]:
    """Run (or resume) the full KG pipeline; returns the stage outputs.

    ``persist_intermediate=False`` keeps the re-derivable middle stages
    (20_mentions, 40_page_triples) executor-local instead of writing
    them to the checkpoint store: resume then restarts from 10_extract
    rather than mid-DAG, but every byte of intermediate state stays off
    the shared disk — the right trade when checkpoint I/O, not compute,
    bounds scaling (BASELINE.md's single-box pipeline measurements).
    10_extract (the expensive Arrow stage) and the final sinks are
    always persisted."""
    config = config or EngineConfig()
    parts = partitions or spark.sparkContext.defaultParallelism
    runner = StageRunner(spark, root, config, force=force, codec=codec)

    # the two input fingerprints are independent single-row aggregations;
    # submit them concurrently so the second is not a serial round on the
    # pipeline's critical path
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=2) as _fp_pool:
        _f_pages = _fp_pool.submit(fingerprint_of, pages, ["url"])
        _f_vocab = _fp_pool.submit(
            fingerprint_of, vocab_triples, ["subj", "pred", "obj"]
        )
        fp_pages = _f_pages.result()
        fp_vocab = _f_vocab.result()

    # checkpoint pruning: no downstream stage re-reads the raw html —
    # `text` IS the extraction product and html is reproducible from the
    # input table — so the binary payload (roughly half the stage's
    # bytes) never hits the checkpoint disk
    pages_text = runner.run_stage(
        "10_extract",
        fp_pages,
        lambda: salted_repartition(extract_text(pages), parts).drop("html"),
    )

    # the vocabulary's label table is consumed by three stages (mention
    # scanner surfaces, candidate join, scorer profile); compute its
    # distinct aggregation once and share the vocab-sized result instead
    # of re-running the shuffle+broadcast build per consumer
    from skosconverter_spark.kg.mentions import label_table

    lt = label_table(vocab_triples).localCheckpoint(eager=True)

    from concurrent.futures import Future, ThreadPoolExecutor

    graph_base = Path(root) / "60_graph"
    futures: dict[str, Future] = {}

    mentions_task = partial(
        runner.run_stage,
        "20_mentions",
        f"{fp_pages}|{fp_vocab}",
        lambda: scan_mentions(pages_text, vocab_triples, label_tbl=lt),
        persist_intermediate,
    )
    page_triples_task = partial(
        runner.run_stage,
        "40_page_triples",
        fp_pages,
        lambda: ok_triples(
            extract_triples(
                pages_text.select(
                    F.col("url"),
                    F.lit("md").alias("fmt"),
                    F.col("text").alias("payload"),
                ),
                config,
            )
        ),
        persist_intermediate,
    )

    # the scorer's vocabulary-only lookup tables depend on nothing
    # but the label table: materialize them concurrently with the
    # mention scan so their aggregation/broadcast rounds overlap
    # work that must happen anyway instead of sitting on the links
    # stage's critical path
    from skosconverter_spark.kg.linking import vocab_score_tables

    def _prebuild_score_tables():
        jl, la = vocab_score_tables(lt)
        return (
            jl.localCheckpoint(eager=True),
            la.localCheckpoint(eager=True),
        )

    # downstream chains as dependency-submitted futures rather than a
    # second barrier pool: 30_links starts the moment 20_mentions is
    # done (not at max(20, 40)), 50_canonical the moment
    # 40_page_triples is, and the 60_graph sink overlaps the links
    # stage instead of running after everything (r6: the graph write +
    # read-back was ~1 s of serial tail under a 5 s links stage).
    def _links_chain():
        # one url-keyed exchange up front makes the whole scoring DAG
        # downstream exchange-free: hashpartitioning(url) satisfies
        # the clustered distribution of every aggregation and join in
        # score_candidates / mention_context_scores / link_best
        # (their keys all have url as a prefix — candidate distinct,
        # tf, page_norm, dots, the ctx join, the span-winner agg), so
        # Catalyst plans them back-to-back in one stage instead of
        # the r6-measured chain of seven small shuffles that made
        # 30_links the pipeline's critical path (5.6 s of 12.4 s;
        # plan: 46 → 31 exchanges).
        mentions_by_url = futures["mentions"].result().repartition(parts, "url")
        return runner.run_stage(
            "30_links",
            f"{fp_pages}|{fp_vocab}|t={link_threshold}",
            lambda: link_best(
                score_candidates(
                    mention_candidates(
                        mentions_by_url, vocab_triples, label_tbl=lt
                    ),
                    mentions_by_url,
                    vocab_triples,
                    threshold=link_threshold,
                    label_tbl=lt,
                    score_tables=futures["score_tables"].result(),
                )
            ),
        )

    def _canonical_graph_chain():
        triples_ = runner.run_stage(
            "50_canonical",
            f"{fp_pages}|{fp_vocab}",
            lambda: canonicalize_triples(
                futures["page_triples"].result().unionByName(vocab_triples),
                config.max_iterations,
            ),
        )
        # final graph table: pred-partitioned so triple-pattern scans
        # prune (committed through the catalog adapter like every
        # stage; on Iceberg this is a partitioned+bucketed table spec)
        runner.catalog.write(triples_, graph_base, partition_by=("pred",))
        return triples_, runner.catalog.read(spark, graph_base)

    # stage DAG: mentions and page-triples only depend on extract — run
    # them concurrently (SparkSession job submission is thread-safe; the
    # scheduler interleaves their tasks, so the cluster never idles while
    # one stage's tail tasks drain). The two chains block on sibling
    # futures inside a worker, so a pool smaller than this list
    # deadlocks; dependency order submits a chain after what it awaits.
    tasks = {
        "mentions": mentions_task,
        "page_triples": page_triples_task,
        "score_tables": _prebuild_score_tables,
        "links": _links_chain,
        "canonical_graph": _canonical_graph_chain,
    }
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        for name, task in tasks.items():
            futures[name] = pool.submit(task)
        mentions = futures["mentions"].result()
        page_triples = futures["page_triples"].result()
        links = futures["links"].result()
        triples, graph = futures["canonical_graph"].result()

    return {
        "pages_text": pages_text,
        "mentions": mentions,
        "links": links,
        "page_triples": page_triples,
        "triples": triples,
        "graph": graph,
        "metrics": runner.stage_metrics(),
    }

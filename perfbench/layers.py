"""Layer attribution for the traced benchmark run.

``Tracer`` wraps the engine's public functions at their module
attributes (and at every module that imported them by name), so each
call records a span: name, layer, start, end and the span that caused
it. While a span is open, its id is set as a Spark local property in the
calling thread, so every Spark job the call issues carries it. After the
session stops, ``layer_metrics`` reads the local event log (no UI, no
network), attributes jobs, stages and tasks to spans, and reduces
everything to one row per layer.

Spans live in memory and are written once, when the run ends. A layer's
self time is its spans' duration minus the part of it that child spans
cover. Jobs and task metrics count inclusively: a job issued under a
``kg.catalog`` write inside the ``kg.mentions`` stage counts for both.
"""

from __future__ import annotations

import concurrent.futures
import functools
import json
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass
from pathlib import Path

SPAN_PROP = "perfbench.span"

# pipeline stage -> the layer whose work the stage is
STAGE_LAYERS = {
    "10_extract": "kg.extract",
    "20_mentions": "kg.mentions",
    "30_links": "kg.linking",
    "40_page_triples": "sources.parse_udf",
    "50_canonical": "kg.canonicalize",
}

# (module, attribute, layer); only driver-side functions — a wrapper
# captured by an executor-side closure could not be pickled
WRAPPED = [
    ("skosconverter_spark.kg.pipeline", "run_pipeline", "kg.pipeline"),
    ("skosconverter_spark.kg.pipeline", "fingerprint_of", "kg.pipeline"),
    ("skosconverter_spark.kg.extract", "extract_text", "kg.extract"),
    ("skosconverter_spark.kg.extract", "salted_repartition", "kg.extract"),
    ("skosconverter_spark.kg.mentions", "label_table", "kg.mentions"),
    ("skosconverter_spark.kg.mentions", "scan_mentions", "kg.mentions"),
    ("skosconverter_spark.kg.mentions", "mention_candidates", "kg.mentions"),
    ("skosconverter_spark.kg.linking", "vocab_score_tables", "kg.linking"),
    ("skosconverter_spark.kg.linking", "score_candidates", "kg.linking"),
    ("skosconverter_spark.kg.linking", "link_best", "kg.linking"),
    ("skosconverter_spark.sources.parse_udf", "extract_triples", "sources.parse_udf"),
    ("skosconverter_spark.sources.parse_udf", "ok_triples", "sources.parse_udf"),
    ("skosconverter_spark.kg.canonicalize", "canonicalize_triples", "kg.canonicalize"),
    ("skosconverter_spark.kg.canonicalize", "canonical_map", "kg.canonicalize"),
    ("skosconverter_spark.kg.canonicalize", "connected_components", "kg.canonicalize"),
    ("skosconverter_spark.operators.validate", "validation_report", "operators.validate"),
    ("skosconverter_spark.operators.render", "collect_triples", "operators.render"),
    ("skosconverter_spark.operators.render", "render_text_local", "operators.render"),
    ("skosconverter_spark.operators.render", "document_rows", "operators.render"),
    ("skosconverter_spark.plans.local_dfs", "dfs_rows_local", "plans.local_dfs"),
    ("skosconverter_spark.plans.hierarchy", "dfs_rows", "plans.hierarchy"),
    ("skosconverter_spark.operators.export", "export_turtle_text", "operators.export"),
    ("skosconverter_spark.operators.dedup", "doc_shingles", "operators.dedup"),
    ("skosconverter_spark.operators.dedup", "minhash_band_rows", "operators.dedup"),
    ("skosconverter_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup"),
    ("skosconverter_spark.operators.dedup", "ngram_jaccard_prefix", "operators.dedup"),
]
CATALOG_METHODS = {
    "write": "write",
    "read": "read",
    "committed_fingerprint": "read",
    "commit": "commit",
    "partition_rows": "commit",
}
# dedup tables whose eager materialization is timed as its own span
MATERIALIZED = {"doc_shingles": "shingles", "minhash_band_rows": "band_rows"}


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float | None = None
    checkpoints: int = 0  # eager localCheckpoint calls made directly under it
    op: str | None = None  # the benchmark op this span belongs to


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.candidate_pairs = 0  # rows of the dedup candidate tables
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._main_stack: list[Span] = []
        self._marks: dict[int, tuple[str, object]] = {}

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        # a pool thread's first span was caused by whatever the main
        # thread is blocked in (run_pipeline fans its stages out to a pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), layer, name, parent.id if parent else None, time.time())
            s.op = parent.op if parent else name
            self.spans.append(s)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(s.id))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, prev)

    # -- wrapping --------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _traced(self, fn, layer: str, name_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name_of(args, kwargs)):
                out = fn(*args, **kwargs)
            if fn.__name__ in MATERIALIZED:
                tracer._marks[id(out)] = (MATERIALIZED[fn.__name__], out)
            return out

        return wrapper

    def install(self, callers=()) -> None:
        """Wrap every function in WRAPPED wherever the engine or one of
        the ``callers`` modules bound it."""
        from skosconverter_spark.kg.catalog import ParquetCatalogAdapter
        from skosconverter_spark.kg.pipeline import StageRunner

        for mod_name, attr, layer in WRAPPED:
            orig = getattr(sys.modules[mod_name], attr)
            wrapper = self._traced(orig, layer, lambda a, k, n=attr: n)
            # rebind every name the function was imported under, so
            # callers that did ``from module import fn`` see the wrapper
            engine = [
                m for m in list(sys.modules.values())
                if getattr(m, "__name__", "").startswith("skosconverter_spark")
            ]
            for mod in engine + list(callers):
                for name, value in list(vars(mod).items()):
                    if value is orig:
                        self._patch(mod, name, wrapper)
        # the render kernels are dispatched through a dict, not by name
        render = sys.modules["skosconverter_spark.operators.render"]
        kernels = dict(render._KERNELS)
        for fmt, fn in kernels.items():
            kernels[fmt] = self._traced(fn, "operators.render", lambda a, k: "kernel")
        self._patch(render, "_KERNELS", kernels)

        orig_stage = StageRunner.run_stage
        self._patch(
            StageRunner,
            "run_stage",
            self._traced(
                orig_stage,
                "kg.pipeline",
                lambda a, k: "stage:" + (a[1] if len(a) > 1 else k["stage"]),
            ),
        )
        for meth, kind in CATALOG_METHODS.items():
            self._patch(
                ParquetCatalogAdapter,
                meth,
                self._traced(getattr(ParquetCatalogAdapter, meth), "kg.catalog", lambda a, k, n=kind: n),
            )
        self._patch_checkpoint()
        self._patch_future_wait()

    def _patch_checkpoint(self) -> None:
        """Count eager materializations (fixpoint rounds) and time the
        dedup tables' own materialization; count LSH/prefix candidates."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        orig = DataFrame.localCheckpoint

        @functools.wraps(orig)
        def local_checkpoint(df, *args, **kwargs):
            stack = tracer._stack()
            if stack:
                stack[-1].checkpoints += 1
            mark = tracer._marks.pop(id(df), None)
            cm = tracer.span("operators.dedup", mark[0]) if mark else nullcontext()
            with cm:
                out = orig(df, *args, **kwargs)
            if stack and stack[-1].layer == "operators.dedup" and out.columns == ["doc_a", "doc_b"]:
                with tracer.span("perfbench", "probe"):
                    tracer.candidate_pairs += out.count()
            return out

        self._patch(DataFrame, "localCheckpoint", local_checkpoint)

    def _patch_future_wait(self) -> None:
        """Time pool threads blocked on a sibling stage's future."""
        tracer = self
        orig = concurrent.futures.Future.result

        @functools.wraps(orig)
        def result(fut, timeout=None):
            if threading.current_thread() is threading.main_thread() or fut.done():
                return orig(fut, timeout)
            with tracer.span("kg.pipeline", "wait"):
                return orig(fut, timeout)

        self._patch(concurrent.futures.Future, "result", result)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------


@dataclass
class Job:
    span: int | None
    start: float
    end: float
    sql: int | None


@dataclass
class StageTotals:
    span: int | None = None
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    bytes_written_mb: float = 0.0


def read_event_log(log_dir: Path):
    """(jobs, stages, exchanges per SQL execution) from a local event log."""
    # skip the filesystem's hidden .crc companions
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    plans: dict[int, dict] = {}

    def span_of(props: dict) -> int | None:
        v = (props or {}).get(SPAN_PROP)
        return int(v) if v not in (None, "") else None

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = Job(
                        span_of(props),
                        ev["Submission Time"] / 1000,
                        ev["Submission Time"] / 1000,
                        int(sql) if sql is not None else None,
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, StageTotals()).span = span_of(ev.get("Properties"))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], StageTotals())
                    st.tasks += 1
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.shuffle_write_mb += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    st.bytes_written_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plans[ev["executionId"]] = ev["sparkPlanInfo"]
    exchanges = {eid: _count_nodes(p, "Exchange") for eid, p in plans.items()}
    return jobs, stages, exchanges


def _count_nodes(plan: dict, node: str) -> int:
    own = 1 if plan.get("nodeName") == node else 0
    return own + sum(_count_nodes(c, node) for c in plan.get("children", []))


# ----------------------------------------------------------------------
# reduction to per-layer metrics
# ----------------------------------------------------------------------


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Attribution:
    """Spans joined with the event log's jobs and stages."""

    def __init__(self, spans: list[Span], jobs, stages, exchanges):
        self.spans = [s for s in spans if s.end is not None]
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        ids = {s.id for s in self.spans}
        self.jobs = [j for j in jobs.values() if j.span in ids]
        self.stages = [st for st in stages.values() if st.span in ids]
        self.exchanges = exchanges

    def chain(self, span_id: int | None) -> list[Span]:
        out = []
        while span_id is not None:
            s = self.by_id[span_id]
            out.append(s)
            span_id = s.parent
        return out

    def under(self, span_id, pred) -> bool:
        return any(pred(s) for s in self.chain(span_id))

    def spans_where(self, pred) -> list[Span]:
        return [s for s in self.spans if pred(s)]

    def wall(self, pred) -> float:
        """Wall time covered by the matching spans (concurrent spans count once)."""
        return _union((s.start, s.end) for s in self.spans_where(pred))

    def self_time(self, s: Span) -> float:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in self.children.get(s.id, [])]
        return (s.end - s.start) - _union(k for k in kids if k[1] > k[0])

    def jobs_under(self, pred, exclude=None) -> list[Job]:
        return [
            j for j in self.jobs
            if self.under(j.span, pred) and not (exclude and self.under(j.span, exclude))
        ]

    def stage_sum(self, pred, field_name: str, exclude=None) -> float:
        return sum(
            getattr(st, field_name) for st in self.stages
            if self.under(st.span, pred) and not (exclude and self.under(st.span, exclude))
        )

    def stage_span_wall(self, stage: str) -> float:
        """Wall time of a pipeline stage's calls, minus the time they sat
        blocked on a sibling stage's future."""
        total = 0.0
        for s in self.spans_where(lambda s: s.name == "stage:" + stage):
            waits = [
                (w.start, w.end) for w in self.spans
                if w.name == "wait" and self.under(w.id, lambda x: x.id == s.id)
            ]
            total += (s.end - s.start) - _union(waits)
        return total


def layer_of(s: Span) -> str:
    if s.name.startswith("stage:"):
        return STAGE_LAYERS.get(s.name[6:], "kg.pipeline")
    return s.layer


def layer_metrics(tracer: Tracer, log_dir: Path, cycles: int, verified_pairs: int) -> tuple[dict, list]:
    """Per-cycle per-layer metrics and the per-layer table rows."""
    jobs, stages, exchanges = read_event_log(log_dir)
    a = Attribution(tracer.spans, jobs, stages, exchanges)
    in_layer = lambda name: (lambda s: layer_of(s) == name)  # noqa: E731
    named = lambda layer, *names: (lambda s: s.layer == layer and s.name in names)  # noqa: E731
    catalog = in_layer("kg.catalog")
    probe = in_layer("perfbench")
    pipeline = named("kg.pipeline", "run_pipeline")
    stage = lambda st: (lambda s: s.name == "stage:" + st)  # noqa: E731
    cpu = lambda pred: a.stage_sum(pred, "cpu_s", exclude=probe)  # noqa: E731
    shuffle = lambda pred: a.stage_sum(pred, "shuffle_write_mb", exclude=probe)  # noqa: E731

    driver_gap = 0.0
    for p in a.spans_where(pipeline):
        busy = _union(
            (max(j.start, p.start), min(j.end, p.end))
            for j in a.jobs_under(lambda s, pid=p.id: s.id == pid)
            if j.end > p.start and j.start < p.end
        )
        driver_gap += (p.end - p.start) - busy

    link_execs = {j.sql for j in a.jobs_under(stage("30_links")) if j.sql is not None}
    rounds = sum(max(0, s.checkpoints - 1) for s in a.spans_where(named("kg.canonicalize", "connected_components")))
    cands = tracer.candidate_pairs
    m = {
        "kg.pipeline.fingerprint_s": a.wall(named("kg.pipeline", "fingerprint_of")),
        "kg.pipeline.driver_gap_s": driver_gap,
        "kg.pipeline.stage_wait_s": sum(s.end - s.start for s in a.spans_where(named("kg.pipeline", "wait"))),
        "kg.pipeline.jobs": len(a.jobs_under(pipeline)),
        "kg.extract.build_s": a.stage_span_wall("10_extract"),
        "kg.extract.tasks": a.stage_sum(stage("10_extract"), "tasks"),
        "kg.extract.executor_cpu_s": cpu(stage("10_extract")),
        "kg.extract.shuffle_write_mb": shuffle(stage("10_extract")),
        "kg.mentions.build_s": a.stage_span_wall("20_mentions"),
        "kg.mentions.executor_cpu_s": cpu(stage("20_mentions")),
        "kg.linking.build_s": a.stage_span_wall("30_links"),
        # the links stage is built lazily: every one of its jobs runs inside its catalog write
        "kg.linking.build_jobs": len(a.jobs_under(stage("30_links"))),
        "kg.linking.exchanges": sum(exchanges.get(e, 0) for e in link_execs),
        "kg.linking.shuffle_write_mb": shuffle(stage("30_links")),
        "kg.linking.executor_cpu_s": cpu(stage("30_links")),
        "sources.parse_udf.executor_cpu_s": cpu(stage("40_page_triples")),
        "sources.parse_udf.ttl_parse_s": a.wall(named("sources.parse_udf", "ttl_parse")),
        "sources.parse_udf.md_parse_s": a.wall(named("sources.parse_udf", "md_parse")),
        "kg.canonicalize.rounds": rounds,
        "kg.canonicalize.build_jobs": len(a.jobs_under(stage("50_canonical"), exclude=catalog)),
        "kg.canonicalize.build_s": a.stage_span_wall("50_canonical"),
        "kg.canonicalize.executor_cpu_s": cpu(stage("50_canonical")),
        "kg.catalog.write_s": a.wall(named("kg.catalog", "write")),
        "kg.catalog.bytes_written_mb": a.stage_sum(named("kg.catalog", "write"), "bytes_written_mb"),
        "kg.catalog.read_s": a.wall(named("kg.catalog", "read")),
        "kg.catalog.commit_s": a.wall(named("kg.catalog", "commit")),
        "operators.validate.report_s": a.wall(in_layer("operators.validate")),
        "operators.validate.jobs": len(a.jobs_under(in_layer("operators.validate"))),
        "operators.validate.executor_cpu_s": cpu(in_layer("operators.validate")),
        "operators.render.collect_s": a.wall(named("operators.render", "collect_triples")),
        "operators.render.kernel_s": a.wall(named("operators.render", "kernel")),
        "operators.render.document_rows_jobs": len(a.jobs_under(named("bench", "row_table"))),
        "plans.local_dfs.dfs_s": a.wall(in_layer("plans.local_dfs")),
        "plans.hierarchy.build_jobs": len(a.jobs_under(in_layer("plans.hierarchy"))),
        "operators.export.turtle_s": a.wall(in_layer("operators.export")),
        "operators.dedup.shingles_s": a.wall(named("operators.dedup", "shingles")),
        "operators.dedup.band_rows_s": a.wall(named("operators.dedup", "band_rows")),
        "operators.dedup.executor_cpu_s": cpu(in_layer("operators.dedup")),
        "operators.dedup.shuffle_write_mb": shuffle(in_layer("operators.dedup")),
    }
    per_cycle = {k: v / cycles for k, v in m.items()}
    per_cycle["operators.dedup.candidate_yield"] = verified_pairs / cands if cands else 0.0
    return per_cycle, _table(a, probe)


def _table(a: Attribution, probe) -> list[tuple]:
    """(op, layer, spans, wall_s, self_s, jobs, tasks, cpu_s, shuffle_mb) per op and layer."""
    rows = []
    for op in dict.fromkeys(s.op for s in a.spans):
        layers = sorted({layer_of(s) for s in a.spans if s.op == op} - {"perfbench"})
        for layer in layers:
            pred = lambda s, L=layer, o=op: s.op == o and layer_of(s) == L  # noqa: E731
            spans = a.spans_where(pred)
            rows.append((
                op,
                layer,
                len(spans),
                a.wall(pred),
                sum(a.self_time(s) for s in spans),
                len(a.jobs_under(pred, exclude=probe)),
                int(a.stage_sum(pred, "tasks", exclude=probe)),
                a.stage_sum(pred, "cpu_s", exclude=probe),
                a.stage_sum(pred, "shuffle_write_mb", exclude=probe),
            ))
    return rows

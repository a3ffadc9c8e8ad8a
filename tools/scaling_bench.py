"""Scaling-efficiency evidence (BASELINE.json north_rule).

No real cluster exists in this sandbox, so per the driver instruction
the two-cluster-size criterion is evidenced by running the SAME job at
two parallelism levels on the SAME input: local[N] vs local[4N] (one
JVM each, fresh subprocess per run).

Measurement protocol (what a fair cluster comparison requires):
- input setup (synthesizing + writing the pages table) is UNTIMED —
  the north rule's input is an existing Iceberg table;
- the python-worker fleet and JIT are warmed with a full dry pass
  before timing (cold-starting 4N workers inside the timed region
  measures fork+import, not the job);
- the compute job is repeated and the median taken.

Two jobs are reported:
- kg_compute: the compute-dominated stage chain (extract → mention scan
  → candidate scoring/linking → page-triple parse + language id) with no
  intermediate persistence. This is where 10^12-document wall-time
  lives, and the portion whose resources genuinely scale with executor
  count on a real cluster.
- kg_pipeline: the full checkpointed pipeline including every stage
  write/read. On ONE box the disk and memory bus do not quadruple when
  threads do, so its efficiency under-reads what a real 4N-executor
  cluster (with per-node disks) would show — reported anyway, with that
  caveat, in BASELINE.md.

Usage: python tools/scaling_bench.py [--n 8] [--rows 200000] [--update-baseline]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_CHILD = r"""
import json, sys, tempfile, time
sys.path.insert(0, {repo!r})
from skosconverter_spark.session import get_spark
from skosconverter_spark.config import EngineConfig
from skosconverter_spark.kg.pipeline import run_pipeline
from skosconverter_spark.kg.extract import extract_text
from skosconverter_spark.kg.mentions import label_table, scan_mentions
from skosconverter_spark.kg.linking import link_stage
from skosconverter_spark.functions.text import lang_id
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.pages import synthesize_pages
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples
from pyspark.sql import functions as F
import bench

cpus = {cpus}
rows = {rows}
spark = get_spark(app_name=f"scaling-{{cpus}}", master=f"local[{{cpus}}]", shuffle_partitions=cpus)
cfg = EngineConfig()
work = tempfile.mkdtemp()

# ---- untimed input setup: the pages table exists on storage ----
synthesize_pages(spark, rows, partitions=cpus).write.parquet(work + "/pages")
pages = spark.read.parquet(work + "/pages")
vdocs = spark.createDataFrame([("v", "v", "ttl", bench._bench_vocab_ttl())], schema=DOCS)
vocab = ok_triples(extract_triples(vdocs, cfg)).cache(); vocab.count()

from concurrent.futures import ThreadPoolExecutor

def compute_job():
    # materialize between python stages (chained mapInPandas fuse into one
    # task pipeline with K live python workers per task), then submit the
    # independent branches concurrently so the scheduler keeps every core
    # busy while any one branch's tail drains
    pt = extract_text(pages).localCheckpoint(eager=True)
    docs = pt.select("url", F.lit("md").alias("fmt"), F.col("text").alias("payload"))
    labels = label_table(vocab)
    m = scan_mentions(pt, labels).localCheckpoint(eager=True)
    branches = [
        lambda: ok_triples(extract_triples(docs, cfg)).count(),
        lambda: link_stage(m, labels, cpus).count(),
        lambda: lang_id(pt.selectExpr("monotonically_increasing_id() as doc_id", "text")).count(),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        return sum(f.result() for f in [pool.submit(b) for b in branches])

# ---- warm: full pass (workers forked+imported, JIT hot) ----
compute_job()

# ---- timed: compute-dominated chain, median of 3 ----
comp = []
for _ in range(3):
    t0 = time.time(); n_out = compute_job(); comp.append(time.time() - t0)
comp_s = sorted(comp)[1]

# ---- timed: full checkpointed pipeline (fresh dir each) ----
t0 = time.time()
out = run_pipeline(spark, pages, vocab, work + "/kg", partitions=cpus)
n_triples = out["triples"].count()
pipe_s = time.time() - t0

print(json.dumps({{
    "cpus": cpus, "rows": rows,
    "compute_sec": round(comp_s, 2),
    "compute_pages_per_sec": round(rows / comp_s, 1),
    "pipeline_sec": round(pipe_s, 2),
    "pipeline_pages_per_sec": round(rows / pipe_s, 1),
    "triples": n_triples,
    "triples_per_sec": round(n_triples / pipe_s, 1),
}}))
"""


def run_at(cpus: int, rows: int) -> dict:
    code = _CHILD.format(repo=str(REPO), cpus=cpus, rows=rows)
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=str(REPO),
        timeout=5400,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no result from local[{cpus}]:\n{proc.stderr[-3000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--update-baseline", action="store_true")
    args = ap.parse_args()

    small = run_at(args.n, args.rows)
    large = run_at(args.n * 4, args.rows)
    eff_c = (large["compute_pages_per_sec"] / small["compute_pages_per_sec"]) / 4.0
    eff_p = (large["pipeline_pages_per_sec"] / small["pipeline_pages_per_sec"]) / 4.0
    report = {
        "rows": args.rows,
        f"local[{args.n}]": small,
        f"local[{args.n * 4}]": large,
        "compute_speedup": round(
            large["compute_pages_per_sec"] / small["compute_pages_per_sec"], 2
        ),
        "compute_scaling_efficiency": round(eff_c, 3),
        "pipeline_speedup": round(
            large["pipeline_pages_per_sec"] / small["pipeline_pages_per_sec"], 2
        ),
        "pipeline_scaling_efficiency": round(eff_p, 3),
    }
    print(json.dumps(report, indent=2))

    if args.update_baseline:
        # Replace ONLY the sentinel-delimited measurement table; the
        # surrounding curated prose (hardware control, interpretation,
        # engine-vs-reference) is hand-maintained and must survive runs.
        md = REPO / "BASELINE.md"
        begin, end = "<!-- scaling:begin -->", "<!-- scaling:end -->"
        n, n4 = args.n, args.n * 4
        block = (
            f"{begin}\n"
            f"Latest run ({args.rows} synthesized ~1.5 KB pages, one JVM per "
            f"width, worker fleet + JIT warmed, compute = median of 3):\n\n"
            f"| job | local[{n}] pages/s | local[{n4}] pages/s | speedup | efficiency |\n"
            f"|---|---|---|---|---|\n"
            f"| kg compute chain (extract→mention scan→link→parse→langid) "
            f"| {small['compute_pages_per_sec']} | {large['compute_pages_per_sec']} "
            f"| {report['compute_speedup']}x | **{report['compute_scaling_efficiency']}** |\n"
            f"| full checkpointed pipeline (incl. stage parquet writes) "
            f"| {small['pipeline_pages_per_sec']} | {large['pipeline_pages_per_sec']} "
            f"| {report['pipeline_speedup']}x | {report['pipeline_scaling_efficiency']} |\n"
            f"{end}"
        )
        text = md.read_text()
        if begin in text and end in text:
            pre = text[: text.index(begin)]
            post = text[text.index(end) + len(end):]
            text = pre + block + post
        else:
            text += f"\n## Measured scaling (this engine)\n\n{block}\n"
        md.write_text(text)
        print(f"updated {md}")


if __name__ == "__main__":
    main()

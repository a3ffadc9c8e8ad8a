"""Extra benchmarks for optimization work (guide §1.4): per-phase
timings with noop-sink isolation and .explain("formatted") capture.
bench.py stays frozen; this file is the measurement scratchpad whose
numbers OPTIMIZATION_r06.md cites. Per-stage walls come from the
pipeline's ``stage_metrics``; per-layer jobs, CPU and shuffle from
``perfbench/run.py --trace 1``.

Usage:
    python bench_extra.py kg            # kg_pipeline staged breakdown
    python bench_extra.py minhash       # dedup_minhash_lsh decomposition
    python bench_extra.py forward      # skos_forward profile
    python bench_extra.py queries q1 q2 # noop-time arbitrary declared queries
    python bench_extra.py plans q1 q2   # dump explain(formatted) to plans/r06/
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session():
    from skosconverter_spark.session import get_spark

    return get_spark(
        app_name="bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, spark=None):
    if spark is not None:
        spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label:42s} {dt:8.3f}s", flush=True)
    if spark is not None:
        spark.sparkContext.setJobDescription(None)
    return out, dt


def bench_kg():
    from pyspark.sql import functions as F

    from skosconverter_spark.config import EngineConfig
    from skosconverter_spark.kg.pipeline import run_pipeline
    from skosconverter_spark.schemas import DOCS
    from skosconverter_spark.sources.pages import synthesize_pages
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples
    import bench

    spark = get_session()
    cfg = EngineConfig()
    pages_rows = max(2000, int(200_000 * 0.1))
    vocab_docs = spark.createDataFrame(
        [("v", "v", "ttl", bench._bench_vocab_ttl())], schema=DOCS
    )
    vocab = ok_triples(extract_triples(vocab_docs, cfg)).cache()
    vocab.count()
    with tempfile.TemporaryDirectory() as kg_root:
        synthesize_pages(spark, pages_rows, partitions=CPUS).write.parquet(
            f"{kg_root}/pages"
        )
        pages = spark.read.parquet(f"{kg_root}/pages")
        out, dt = timed(
            "kg_pipeline TOTAL",
            lambda: run_pipeline(spark, pages, vocab, f"{kg_root}/kg", partitions=CPUS),
            spark,
        )
        _, dt2 = timed("triples.count()", lambda: out["triples"].count(), spark)
        walls = out["metrics"].groupBy("stage").agg(F.max("wall_ms").alias("ms"))
        for r in walls.orderBy("stage").collect():
            print(f"    [{r.stage}] {r.ms / 1000:.2f}s", flush=True)
    spark.stop()


def bench_minhash():
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from skosconverter_spark.operators import dedup as D

    spark = get_session()
    docs = em._dedup_corpus(spark, SF_DIR)
    docs.count()  # warm the parquet read

    t0 = time.time()
    sh, _ = timed("doc_shingles checkpoint", lambda: D.doc_shingles(docs, "text").localCheckpoint(eager=True), spark)
    br, _ = timed("band_rows checkpoint", lambda: D.minhash_band_rows(sh).localCheckpoint(eager=True), spark)
    a = br.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b_ = br.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand, _ = timed(
        "candidates checkpoint",
        lambda: a.join(b_, ["band", "bucket"]) .filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").distinct().localCheckpoint(eager=True),
        spark,
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets, _ = timed(
        "sets checkpoint",
        lambda: sh.join(cand_docs, "doc_id", "semi").groupBy("doc_id").agg(F.collect_set("shingle").alias("sh")).localCheckpoint(eager=True),
        spark,
    )
    jac = (
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
        / F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    )
    final = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.8)
    )
    timed("verify+count", lambda: final.count(), spark)
    print(f"  TOTAL decomposed: {time.time()-t0:.3f}s")
    # whole-query single shot for comparison
    timed("whole query count", lambda: em.queries()["dedup_minhash_lsh"](spark, SF_DIR).count(), spark)
    spark.stop()


def bench_forward():
    import cProfile
    import pstats

    from skosconverter_spark.config import EngineConfig
    from skosconverter_spark.operators.render import collect_triples, _KERNELS
    from skosconverter_spark.plans.local_dfs import dfs_rows_local
    from skosconverter_spark.sources.vocab_gen import synthesize_vocab

    spark = get_session()
    cfg = EngineConfig()
    vt = synthesize_vocab(spark, 22_100).localCheckpoint(eager=True)
    triples, _ = timed("collect_triples", lambda: collect_triples(vt), spark)
    rows, _ = timed("dfs_rows_local", lambda: dfs_rows_local(triples, cfg), spark)
    timed("render_csv", lambda: _KERNELS["csv"](rows), spark)
    # profile the kernel
    pr = cProfile.Profile()
    pr.enable()
    dfs_rows_local(triples, cfg)
    pr.disable()
    pstats.Stats(pr).sort_stats("cumulative").print_stats(18)
    spark.stop()


def bench_queries(names):
    import __spark_entry__ as em

    spark = get_session()
    qs = em.queries()
    for name in names:
        timed(name, lambda n=name: noop(qs[n](spark, SF_DIR)), spark)
    spark.stop()


def dump_plans(names, suffix):
    import __spark_entry__ as em

    spark = get_session()
    qs = em.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        p = f"plans/r06/{name}_{suffix}.txt"
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"  wrote {p}")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "kg":
        bench_kg()
    elif mode == "minhash":
        bench_minhash()
    elif mode == "forward":
        bench_forward()
    elif mode == "plans":
        dump_plans(sys.argv[2:-1] or sys.argv[2:], sys.argv[-1] if sys.argv[-1] in ("before", "after") else "before")
    else:
        bench_queries(sys.argv[2:])

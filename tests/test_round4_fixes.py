"""Round-4 fixes pinned by VERDICT.md r3 / ADVICE.md:

- the all-pairs verifiers (ngram jaccard, exact embedding neardup) must
  fail fast when pointed at corpus-sized inputs instead of launching a
  quadratic join;
- corpus_length_deciles must not contain a corpus-wide single-partition
  ntile window (the histogram construction replaces it) while keeping
  ntile-identical results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )


def test_ngram_jaccard_guard_trips_and_disables(spark):
    from skosconverter_spark.operators.dedup import ngram_jaccard_pairs

    # 5 shingles, each in all 6 documents: Σ df² = 5 · 36 = 180
    docs = _docs(spark, ["the cat sat on the mat today"] * 6)
    with pytest.raises(ValueError, match="all-pairs verifier"):
        ngram_jaccard_pairs(docs, 0.5, join_cost_budget=179).count()
    # at the budget it runs; identical duplicate texts -> all 15 pairs at 1.0
    got = ngram_jaccard_pairs(docs, 0.5, join_cost_budget=180).collect()
    assert len(got) == 15 and all(r.jaccard == 1.0 for r in got)
    # default budget unchanged semantics on small input
    assert ngram_jaccard_pairs(docs, 0.5).count() == 15


def test_embedding_neardup_guard(spark):
    from skosconverter_spark.operators.similarity import embedding_neardup_pairs

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="O\\(n²\\) verifier"):
        embedding_neardup_pairs(vecs, 0.9, max_rows=4)
    assert embedding_neardup_pairs(vecs, 0.9, max_rows=5).count() == 10
    assert embedding_neardup_pairs(vecs, 0.9, max_rows=0).count() == 10


def test_length_deciles_matches_ntile_and_avoids_global_window(spark):
    from pyspark.sql import Window

    from skosconverter_spark.functions.text import corpus_length_deciles

    # 47 docs, duplicate lengths straddling decile boundaries (47 = 4*10+7:
    # first 7 deciles get 5 rows, the rest 4)
    rows = [(f"d{i:03d}", (i * 7) % 13 + 1) for i in range(47)]
    df = spark.createDataFrame(rows, "doc_id string, n_chars int")
    got = {
        r.decile: (r.n_docs, r.min_len, r.max_len, r.mean_len)
        for r in corpus_length_deciles(df).collect()
    }
    w = Window.orderBy(F.col("n_chars"), F.col("doc_id"))
    want = {
        r.decile: (r.n_docs, r.min_len, r.max_len, r.mean_len)
        for r in df.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_len"),
            F.max("n_chars").alias("max_len"),
            F.round(
                F.sum("n_chars").cast("double") / F.count("*").cast("double"), 6
            ).alias("mean_len"),
        )
        .collect()
    }
    assert got == want
    # fewer docs than deciles: ntile emits only deciles 1..n
    small = spark.createDataFrame(rows[:3], "doc_id string, n_chars int")
    got_small = {r.decile: r.n_docs for r in corpus_length_deciles(small).collect()}
    assert got_small == {1: 1, 2: 1, 3: 1}
    # the physical plan must not ntile the corpus through one partition
    plan = corpus_length_deciles(df)._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan


def test_line_dedup_planted(spark):
    from skosconverter_spark.operators.dedup import line_dedup

    boiler = "accept cookies to continue"
    docs = spark.createDataFrame(
        [
            ("a", f"alpha content\n{boiler}\n\nmore alpha"),
            ("b", f"{boiler}\nbeta content\n"),
            ("c", f"gamma content\n{boiler}"),
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
           for r in line_dedup(docs).collect()}
    # doc a holds the first occurrence (pos 1) -> keeps everything;
    # empty line exempt everywhere
    assert got["a"] == (f"alpha content\n{boiler}\n\nmore alpha", 4, 0)
    assert got["b"] == ("beta content\n", 2, 1)
    assert got["c"] == ("gamma content", 1, 1)


def test_domain_caps_planted(spark):
    import pytest as _pytest

    from skosconverter_spark.operators.filter import domain_caps

    docs = spark.createDataFrame(
        [(i, "big" if i < 20 else "small") for i in range(23)],
        "doc_id long, source string",
    )
    out = domain_caps(docs, 4, key_col="doc_id").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert len(by_src["big"]) == 4          # capped
    assert sorted(by_src["small"]) == [20, 21, 22]  # under cap: all survive
    # deterministic under repartitioning
    again = domain_caps(docs.repartition(7), 4, key_col="doc_id").collect()
    assert {(r.doc_id, r.rank) for r in again} == {(r.doc_id, r.rank) for r in out}
    with _pytest.raises(ValueError):
        domain_caps(docs, 0)


def test_pyfiles_zip_importable(tmp_path):
    """The spark-submit --py-files artifact contains the whole package
    and is importable from the zip alone (what executors do)."""
    import subprocess
    import sys as _sys

    from tools.make_submit import build

    out = tmp_path / "skosconverter_spark.zip"
    names = build(out)
    assert "skosconverter_spark/kg/pipeline.py" in names
    assert not any("tests/" in n or "__pycache__" in n for n in names)
    probe = (
        "import sys; sys.path.insert(0, %r); "
        "import skosconverter_spark.operators.dedup as d; "
        "import skosconverter_spark.kg.linking as l; "
        "print('zip-import-ok')" % str(out)
    )
    r = subprocess.run(
        [_sys.executable, "-c", probe], capture_output=True, text=True, timeout=120
    )
    assert "zip-import-ok" in r.stdout, r.stderr[-500:]


def test_driver_contract_consistency():
    """Every oracle has a query; every oracle SQL is valid DuckDB
    (EXPLAIN against empty views — no Spark, no execution)."""
    import duckdb

    import __spark_entry__ as e
    from tools.oracle_check import TABLES

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet') LIMIT 0")
    for name, sql in oracles.items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as exc:  # pragma: no cover - the assertion IS the cover
            raise AssertionError(f"oracle {name} does not parse: {exc}") from exc


def test_c4_line_filters_planted(spark):
    from skosconverter_spark.operators.filter import c4_line_filters

    docs = spark.createDataFrame(
        [
            ("a", 'A good full sentence stays here.\nno terminal punctuation'
                  '\nlorem ipsum dolor sit amet.\nWhy use JavaScript here?'
                  '\nfunction f() { return 1; }.\nOk.\nShe said "stop there."'),
        ],
        "doc_id string, text string",
    )
    r = c4_line_filters(docs).collect()[0]
    assert r.clean_text == 'A good full sentence stays here.\nShe said "stop there."'
    assert (r.n_kept, r.n_removed) == (2, 5)
    # min_words is configurable
    r2 = c4_line_filters(docs, min_words=1).collect()[0]
    assert "Ok." in r2.clean_text and r2.n_kept == 3


def test_normalize_url_planted(spark):
    from skosconverter_spark.kg.extract import normalize_urls

    cases = [
        ("HTTP://WWW.Ex.COM:80/a/1/?utm_source=x&b=2&a=1#f", "http://www.ex.com/a/1?a=1&b=2"),
        ("https://ex.org:443/p", "https://ex.org/p"),
        ("https://ex.org:8443/p", "https://ex.org:8443/p"),  # non-default port kept
        ("http://Ex.com/a//", "http://ex.com/a"),
        ("http://ex.com/?fbclid=abc", "http://ex.com"),
        ("no-scheme.example/Path ", "no-scheme.example/path"),
        ("http://ex.com/q?b=1&a=2&utm_medium=m", "http://ex.com/q?a=2&b=1"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    for r in normalize_urls(df).collect():
        assert r.norm_url == r.want, (r.url, r.norm_url, r.want)


def test_run_kg_job_script(spark, tmp_path, capsys):
    """examples/run_kg_job.py (the spark-submit entry point) runs the
    full pipeline end-to-end from CLI args."""
    import sys as _sys
    from pathlib import Path

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))
    import run_kg_job

    from skosconverter_spark.sources.pages import synthesize_pages
    from tests.test_kg_pipeline import vocab_ttl

    pages_dir = str(tmp_path / "pages")
    synthesize_pages(spark, 40, partitions=2).write.parquet(pages_dir)
    vocab_file = tmp_path / "vocab.ttl"
    vocab_file.write_text(vocab_ttl(), encoding="utf-8")
    rc = run_kg_job.main(
        ["--pages", pages_dir, "--vocab", str(vocab_file),
         "--out", str(tmp_path / "kg"), "--partitions", "2"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "triples:" in out and "graph:" in out

"""Show that every output check of the benchmark rejects a wrong output.

Usage, from the root of a checkout::

    python3 perfbench/selftest.py [--workload kg|convert] [--seed 1]

Builds the workload, runs each op once, confirms the check accepts the
real output, then hands the check deliberately corrupted copies of it
(a dropped link, a surviving alias, a missing CSV row, a foreign LSH
pair, ...) and confirms each one is flagged. Exits non-zero if any
corruption slips through.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys

import pyarrow as pa

from run import ROOT, WORKLOADS, _pin_environment, _start_session, _stop_session


def _corruptions(name: str, out, F):
    """(label, corrupted output) pairs for op ``name``."""
    if name in ("crawl_build", "crawl_resume", "linked_build"):
        first = out["links"].select("url").first()["url"]
        yield "one page's links dropped", {**out, "links": out["links"].filter(F.col("url") != first)}
        if name == "linked_build":
            t = out["triples"]
            alias = t.filter(F.col("subj").startswith("urn:alias:")).select("subj").first()["subj"]
            stray = t.limit(1).select(
                F.lit(alias[:-2] + "01").alias("subj"), "pred", "obj", "obj_is_literal",
                "obj_lang", "src_url", "seq",
            )
            yield "a non-minimum alias survives", {**out, "triples": t.unionByName(stray)}
            loop = t.limit(1).select(
                F.lit(alias).alias("subj"),
                F.lit("http://www.w3.org/2004/02/skos/core#exactMatch").alias("pred"),
                F.lit(alias).alias("obj"), "obj_is_literal", "obj_lang", "src_url", "seq",
            )
            yield "an equivalence self-loop survives", {**out, "triples": t.unionByName(loop)}
        else:
            t = out["triples"]
            yield "one triple missing", {**out, "triples": t.limit(t.count() - 1)}
    elif name == "to_csv":
        text, issues, warnings = out
        lines = text.splitlines(keepends=True)
        i = next(k for k, line in enumerate(lines) if re.search(r":c\d+\b", line))  # a concept's row
        yield "one concept's CSV row dropped", ("".join(lines[:i] + lines[i + 1:]), issues, warnings)
        yield "validation reported an issue", (text, ["ERROR: planted"], warnings)
    elif name == "to_skos":
        triples, (ttl, summary) = out
        gone = triples.filter(F.col("obj") == "http://www.w3.org/2004/02/skos/core#Concept").first()["subj"]
        yield "one concept missing", (triples.filter(F.col("subj") != gone), (ttl, summary))
    elif name == "row_table":
        rows = out.to_pylist()
        i = next(k for k, r in enumerate(rows) if r["uri"] and rows[k + 1]["uri"])
        rows[i]["sort_path"], rows[i + 1]["sort_path"] = rows[i + 1]["sort_path"], rows[i]["sort_path"]
        yield "two rows out of DFS order", pa.Table.from_pylist(rows, schema=out.schema)
    elif name == "lsh_pairs":
        yield "a pair the exact join does not have", out | {(-2, -1)}
    elif name == "exact_pairs":
        yield "a planted pair missing", out - {(0, 1_000_000)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, action="append")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    _pin_environment(work)
    import workloads
    from pyspark.sql import functions as F

    spark, cpus = _start_session(work, trace=False)
    missed = 0
    try:
        for w in args.workload or WORKLOADS:
            (work / w).mkdir()
            wl = workloads.WORKLOADS[w](spark, work / w, args.seed, cpus)
            outputs: dict = {}
            for name, fn in wl.ops:
                outputs[name] = fn()
                if wl.check(name, outputs):
                    print(f"{w}/{name}: check rejects the real output")
                    missed += 1
                    continue
                # the LSH pairs are judged once the exact pairs exist
                targets = {"lsh_pairs": (), "exact_pairs": ("lsh_pairs", "exact_pairs")}.get(name, (name,))
                for target in targets:
                    for label, bad in _corruptions(target, outputs[target], F):
                        flagged = target in wl.check(name, {**outputs, target: bad})
                        print(f"{w}/{target}: {label}: {'flagged' if flagged else 'MISSED'}")
                        missed += not flagged
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())

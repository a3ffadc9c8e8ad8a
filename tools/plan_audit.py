"""Automated physical-plan audit over the whole driver query surface.

For every ``__spark_entry__.queries()`` entry, builds the DataFrame at
the given sf dir and scans its physical plan for the scale red flags
PLAN_AUDIT.md tracks by hand:

- ``BatchEvalPython``   → row-at-a-time Python UDF (the slow path; this
                          engine's Python seams must all be Arrow:
                          MapInPandas / FlatMapGroupsInPandas /
                          ArrowEvalPython).
- ``CartesianProduct``  → unintended cross join (broadcast nested loops
                          are reported separately; the in-plan scalar
                          idiom uses a single-row broadcast side).
- ``Window`` fed by ``Exchange SinglePartition`` → a corpus-wide
  single-partition window (the corpus_length_deciles class of bug).
  Global ``.agg()`` scalars also produce SinglePartition exchanges, so
  only Window/Sort consumers are flagged; known-tiny inputs are
  allowlisted with a reason.

Exit 1 on any unallowlisted flag. Usage:
    python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# windows that run over provably bounded inputs: name -> reason
ALLOWLIST = {
    "corpus_length_deciles": "window over the distinct-length histogram "
    "(cardinality <= max doc length, not corpus size)",
    "text_ngram_topk": "rank window over the global top-k rows (k=20) "
    "after a TakeOrdered",
    "tpch_q3": "final top-10 sort after aggregation (LIMIT pushes TakeOrdered)",
}


def audit_plan(plan: str) -> dict:
    lines = plan.splitlines()
    single_part_window = False
    for i, line in enumerate(lines):
        if re.search(r"\b(Window|WindowExec|Sort)\b", line) and "SortMergeJoin" not in line:
            # look down the child lines for a single-partition exchange
            # feeding this operator (tree children print below)
            for j in range(i + 1, min(i + 4, len(lines))):
                if "Exchange SinglePartition" in lines[j]:
                    single_part_window = True
    return {
        "batch_eval_python": plan.count("BatchEvalPython"),
        "cartesian": plan.count("CartesianProduct"),
        "single_partition_window": single_part_window,
        "sort_merge_join": plan.count("SortMergeJoin"),
        "broadcast_join": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "arrow_python": plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("MapInArrow"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from skosconverter_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    results, flagged = {}, []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            results[name] = {"error": f"{type(exc).__name__}: {exc}"}
            flagged.append(name)
            continue
        r = audit_plan(plan)
        bad = (
            r["batch_eval_python"] > 0
            or r["cartesian"] > 0
            or (r["single_partition_window"] and name not in ALLOWLIST)
        )
        r["allowlisted"] = ALLOWLIST.get(name)
        results[name] = r
        if bad:
            flagged.append(name)
            print(f"FLAG {name}: {r}")
        else:
            print(f"ok   {name}")
    print(json.dumps({"flagged": flagged, "n_audited": len(results)}))
    spark.stop()
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()

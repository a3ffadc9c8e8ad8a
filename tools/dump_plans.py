"""Dump ``explain("formatted")`` for declared queries to plans/r06/.

Usage:
    python tools/dump_plans.py q1 q2 [before|after]

Each query's physical plan goes to ``plans/r06/<query>_<suffix>.txt``
(suffix defaults to ``before``). Env: SPARK_GRAFT_SF_DIR (input sf dir,
default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (local cores, default 32).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def dump_plans(names, suffix):
    import __spark_entry__ as em
    from skosconverter_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
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
    args = sys.argv[1:]
    suffix = args.pop() if args and args[-1] in ("before", "after") else "before"
    dump_plans(args, suffix)

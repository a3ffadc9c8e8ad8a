"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage, from the root of a checkout::

    python3 perfbench/spread.py --workload kg --seeds 1-10 [--seconds 10]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
for every metric its median, quartiles and (Q3 - Q1) / median, the spread
BENCHMARK.json's bounds are judged against (quartiles as
``statistics.quantiles(values, n=4)`` gives them). Each run's result line
is appended to ``.perfbench_out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    ap.add_argument("--seconds", type=int, default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    out = ROOT / ".perfbench_out" / f"spread-{args.workload}.jsonl"
    out.parent.mkdir(exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        with open(out, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "table": lines[:-1], **result}) + "\n")
        print(f"seed {seed:3d} wall {wall:6.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.3f}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{k:32s} median {med:9.4f}  q1 {q1:9.4f}  q3 {q3:9.4f}  spread {(q3 - q1) / med:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

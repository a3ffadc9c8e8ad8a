"""Layer-attributed benchmark for the KG pipeline, the SKOS converter and
near-duplicate detection.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload kg --seed 1 --seconds 5 --trace 0

One process, one Spark session at local[<cpus>], one client issuing one
operation at a time (a closed loop). The run imports the engine, starts
the session and runs its first query, builds the workload's inputs
SETUPS times from seeds derived from ``--seed``, then repeats the
workload's cycle of operations, taking the builds in turn, until
``--seconds`` have passed (at least one whole cycle), checking every
output.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layers, reads the Spark event log and prints one row per layer
plus the per-layer metrics. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Metric names and units
come from BENCHMARK.json. Everything the run writes lives under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (span
dumps of traced runs).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("kg", "convert")
# input builds per run; setup_s takes their median
SETUPS = 2
OPS = ("crawl_build", "crawl_resume", "linked_build", "to_csv", "to_skos", "row_table", "lsh_pairs", "exact_pairs")


def _pin_environment(work: Path) -> None:
    """Workers must import the package from this checkout, and every
    temporary file must stay inside it."""
    (work / "tmp").mkdir(parents=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM spark-submit starts (the launcher too): temp files in the
    # checkout, and no hsperfdata file, which the JVM always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


def _start_session(work: Path, trace: bool):
    from skosconverter_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        }
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    ), cpus


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_session(spark) -> None:
    """Stop Spark, then wait for its JVM and the Python workers it forked."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in spawned:
        while Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


class Loop:
    """Closed-loop client: one op at a time, cycle after cycle, each cycle
    on the next of the workload instances (input builds) in turn."""

    def __init__(self, builds, tracer=None):
        self.builds = builds
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {name: [] for name, _ in builds[0].ops}
        self.cycles: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.passes = 0
        self.last: dict = {}
        self.last_wl = builds[0]

    def cycle(self) -> None:
        """One pass over the workload's ops; the cycle counts only if every
        op returned and every output passed its check."""
        wl = self.builds[self.passes % len(self.builds)]
        self.passes += 1
        outputs, total, bad = {}, 0.0, set()
        for name, fn in wl.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("bench", name) if self.tracer else contextlib.nullcontext():
                    outputs[name] = fn()
                dt = time.perf_counter() - t0
                # checked before the next op runs: a resume rewrites the
                # files the previous op's output reads from
                wrong = wl.check(name, outputs)
            except Exception:  # an op or check that raises fails the op; keep measuring
                traceback.print_exc()
                bad.add(name)
                continue
            self.samples[name].append(dt)
            total += dt
            if wrong:
                print(f"check failed: {wrong}", file=sys.stderr)
                bad.update(wrong)
        self.failed += len(bad)
        if not bad:
            self.last, self.last_wl = outputs, wl
            self.cycles.append(total)

    def run_for(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while True:
            self.cycle()
            if time.perf_counter() >= deadline:
                return


def _declared(trace: bool) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _op_table(loop: Loop) -> None:
    for name, xs in loop.samples.items():
        if xs:
            print(f"# op {name:12s} n={len(xs):2d} median={statistics.median(xs):.3f}s max={max(xs):.3f}s")


def run(args, work: Path) -> dict:
    t0 = time.perf_counter()
    import workloads  # the engine's import time is set-up too

    spark, cpus = _start_session(work, bool(args.trace))
    try:
        # the session's first query pays the JVM's and the first Python
        # worker's cold start: a one-off cost of the session, not of one build
        workloads.first_query(spark)
        start_s = time.perf_counter() - t0
        builds, inputs_s = [], []
        for k in range(SETUPS):
            (work / f"inputs{k}").mkdir()
            t = time.perf_counter()
            builds.append(
                workloads.WORKLOADS[args.workload](spark, work / f"inputs{k}", args.seed * SETUPS + k, cpus)
            )
            inputs_s.append(time.perf_counter() - t)
        setup_s = start_s + statistics.median(inputs_s)
        print(f"# setup: start {start_s:.2f}s, inputs {' '.join(f'{x:.2f}' for x in inputs_s)}s", file=sys.stderr)

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install(callers=[workloads])
            for wl in builds:
                wl.span = tracer.span
        loop = Loop(builds, tracer)
        t = time.perf_counter()
        loop.run_for(args.seconds)
        print(f"# measured loop {time.perf_counter() - t:.2f}s, cycles "
              f"{' '.join(f'{x:.2f}' for x in loop.cycles)}s", file=sys.stderr)
        if tracer:
            tracer.uninstall()
        facts = loop.last_wl.facts(loop.last) if loop.last else {}
    finally:
        _stop_session(spark)

    _op_table(loop)
    for k, v in facts.items():
        print(f"# {k} = {v:.4f}")
    if not loop.cycles:
        metrics = {}
    elif args.trace:
        metrics = _layer_metrics(args, work, tracer, loop, start_s, facts)
    else:
        metrics = {"cycle_s": statistics.median(loop.cycles), "setup_s": setup_s}
    units = _declared(bool(args.trace))
    if set(metrics) != set(units) and loop.cycles:
        raise RuntimeError(f"computed metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    return {
        "correct": loop.failed == 0 and bool(loop.cycles),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _layer_metrics(args, work: Path, tracer, loop: Loop, start_s: float, facts: dict) -> dict:
    from layers import layer_metrics

    n = len(loop.cycles)
    m, table = layer_metrics(tracer, work / "eventlog", n, facts.get("verified_pairs", 0) * n)
    tracer.write(ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.jsonl")
    print(f"# {'op':12s} {'layer':20s} {'spans':>5s} {'wall_s':>7s} {'self_s':>7s} {'jobs':>5s} "
          f"{'tasks':>6s} {'cpu_s':>7s} {'shuf_mb':>7s}   (sums over {n} cycle(s))")
    for op, layer, spans, wall, self_s, jobs, tasks, cpu, shuf in table:
        print(f"# {op:12s} {layer:20s} {spans:5d} {wall:7.3f} {self_s:7.3f} {jobs:5d} "
              f"{tasks:6d} {cpu:7.2f} {shuf:7.2f}")
    m |= {
        "session.start_s": start_s,
        "kg.mentions.rows_out": facts.get("mention_rows", 0),
        "ops.cycle_s": statistics.median(loop.cycles),
        "ops.store_mb": facts.get("store_mb", 0.0),
        "ops.lsh_recall": facts.get("lsh_recall", 0.0),
    }
    for op in OPS:
        xs = loop.samples.get(op)
        m[f"ops.{op}_s"] = statistics.median(xs) if xs else 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _pin_environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only if no concurrent run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

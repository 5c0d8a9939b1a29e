"""Run one benchmark workload and print its metrics.

    python3 lakebench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root (any checkout of it). The workload's inputs
come from ``--seed``; the engine only sees the generated tables. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics and the spans are written
to ``.lakebench/traces/<workload>-seed<n>.json``. Lines before it repeat
every metric by name with its unit, and list each failed operation.

Every run works in a fresh scratch root, ``.lakebench/<workload>``,
wiped at start: Spark's local dirs, the engine's work dir and warehouse,
the generated data and the event log all live there.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_analytics", "lake_ingest")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
    "space_amp": "x",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(scratch: str) -> None:
    """Fresh scratch root and the environment the engine and its Python
    workers read; must run before the JVM starts."""
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("local", "work", "warehouse", "data", "events", "tmp"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_GRAFT_WORK_DIR"] = os.path.join(scratch, "work")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(scratch, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python UDF workers are started by the JVM and import the engine
    # by name, so the repository root must be on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.append(ROOT)


def report(workload: str, seed: int, res: dict, trace: int) -> None:
    """Human-readable lines, then the one-line JSON result."""
    print(f"workload={workload} seed={seed} trace={trace} clients=1 (closed loop)")
    print(f"inputs: {res['inputs']}")
    if trace:
        metrics = res["per_layer"]
        for name, (value, unit) in metrics.items():
            print(f"  {name} = {value:.6g} {unit}")
    else:
        metrics = {k: (res["metrics"][k], u) for k, u in END_TO_END.items()}
        for name, (value, unit) in metrics.items():
            extra = ""
            if name == "latency_tail_s":
                extra = f"  (p{res['tail_pct']:.1f} of n={res['n']})"
            print(f"  {name} = {value:.6g} {unit}{extra}")
    fail_ratio = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"  fail_ratio = {fail_ratio:.6g} ratio  ({res['failed']}/{res['attempted']})")
    for line in res["failures"]:
        print(f"  FAILED {line}")
    for kind, quarters in res["drift"].items():
        print(f"  drift {kind}: {quarters}")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pg_lakehouse_spark", "__init__.py")):
        print(f"no pg_lakehouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".lakebench", args.workload)
    prepare_environment(scratch)
    from context import Bench  # imports pyspark; after the environment is set

    workload = importlib.import_module(args.workload)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
    t0 = time.perf_counter()
    try:
        res = workload.run(bench)
    finally:
        bench.close()
    res["metrics"]["peak_rss_mb"] = bench.peak_rss_mb
    parts = ", ".join(f"{k} {v:.2f}" for k, v in res["setup_parts"].items())
    reps = ", ".join(f"{t:.2f}" for t in res["setup_reps"])
    print(f"run wall time {time.perf_counter() - t0:.1f} s; set-up parts (s): {parts}; "
          f"set-up repetitions (s): {reps}",
          file=sys.stderr)
    if args.trace:
        res["per_layer"] = bench.per_layer(res)
        bench.write_trace(os.path.join(ROOT, ".lakebench", "traces"), res)
    report(args.workload, args.seed, res, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

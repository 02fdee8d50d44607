"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from any directory):
    python3 perfbench/run.py --workload build_bulk --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics (after one JSON line of spans). Everything the run
writes lives under ``.perfbench_work/`` in the repository root and is removed
at exit; Spark's own logging goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = ROOT / "BENCHMARK.json"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=os.cpu_count() or 1,
        help="local[N] core count (default: every core)",
    )
    return ap.parse_args(argv)


def report(result, trace: bool, peak_rss_mb: float) -> dict:
    """The result line: every metric BENCHMARK.json names for this mode,
    with its unit. Per-layer metrics of layers the workload never calls
    read 0; a missing end-to-end metric is an error."""
    spec = json.loads(SPEC.read_text())
    if trace:
        metrics = {
            m["name"]: {"value": float(result.layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        values = {
            "op_p50_ms": statistics.median(result.op_ms),
            "peak_rss_mb": peak_rss_mb,
            "setup_s": result.setup_s,
        }
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    attempted = len(result.op_ms)
    return {
        "correct": attempted > 0 and result.failed == 0,
        "attempted": attempted,
        "failed": result.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "raptor_spark").is_dir():
        print(f"raptor_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import sysmon
    from perfbench.session import start_session, stop_session
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    rss = sysmon.PeakRss().start()
    spark = None
    try:
        started = time.perf_counter()
        spark = start_session(args.cores, workdir)
        result = WORKLOADS[args.workload](
            Context(spark, str(workdir), started), args.seed, args.seconds, bool(args.trace)
        )
    finally:
        if spark is not None:
            stop_session(spark)
        peak = rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"peak memory MB by process: {rss.peak_split}", file=sys.stderr)
    print(f"operation ms: {[round(ms, 1) for ms in result.op_ms]}", file=sys.stderr)
    for problem in result.problems[:20]:
        print(f"incorrect: {problem}", file=sys.stderr)
    line = report(result, bool(args.trace), peak)
    if args.trace:
        print(json.dumps({"workload": args.workload, "spans": result.spans}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

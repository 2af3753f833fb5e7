"""Benchmark entry point for gear5_spark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Runs one workload on a fresh ``local[nproc]`` session, checks every
output against an independent reference, prints each metric by name with
its unit and sample count, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload traced and
reports the per-layer metrics instead. Exits 1 on a wrong result and 2
when the engine sources are not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "tail", "lake_reads")

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "cold_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("gear5_spark/__init__.py", "gear5_spark/pipeline/runner.py", "gen_fixtures.py")
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import harness
    import workloads

    run_dir = os.path.join(ROOT, harness.WORK_DIR, f"run-{os.getpid()}")
    ctx = harness.Context(args, ROOT, run_dir)
    try:
        ctx.start_session()
        outcome = getattr(workloads, args.workload)(ctx)
        if ctx.tracer is not None:
            spans_path = os.path.join(
                os.path.dirname(run_dir), f"spans-{args.workload}-s{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump(ctx.tracer.dump(), fh)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, value, unit, n in outcome.named:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{args.workload}  {name:<28} {shown:>12} {unit:<6} (n={n})")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in outcome.layers.items()}
    else:
        metrics = {k: {"value": outcome.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        print(f"{args.workload}  {k:<28} {m['value']:>12.6g} {m['unit']}")
    correct = outcome.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

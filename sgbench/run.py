"""sgbench: the sparkgrep benchmark.

Run from the repository root:

    python3 sgbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 sgbench/run.py --workload all --seed 1      # every workload in turn

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end metrics, with
``--trace 1`` the per-layer metrics (the same names on every workload); a traced run also writes its spans to
``.sgbench/trace-<workload>-seed<seed>.json``. The line before it is a
JSON detail record (sample counts, failure reasons). The exit code is 1
when a result disagrees with the oracle other than as the known re-add
defect predicts, and 2 when the program is not found.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

WORKLOADS = ("serve", "nrt")  # as in workloads.WORKLOADS; that module needs the program


def run_one(args, root: str) -> int:
    from sgbench import workloads

    ctx = workloads.run(args.workload, args.seed, float(args.seconds), bool(args.trace), root)
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    values = ctx.per_layer if args.trace else ctx.metrics
    metrics = {
        k: {"value": float(values[k]), "unit": unit}
        for k, unit in units.items()
        if k in values and math.isfinite(values[k])
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "samples": ctx.samples,
        "unexpected_failures": ctx.out.unexpected,
        "known_defect_failures": ctx.out.known,
        "missing_metrics": sorted(set(units) - set(metrics)),
    }
    if args.trace:
        detail["end_to_end_traced"] = ctx.metrics
    # correct: every metric present and finite, and no unexplained failure
    correct = not ctx.out.unexpected and not detail["missing_metrics"]
    result = {"correct": correct, "attempted": ctx.out.attempted, "failed": ctx.out.failed, "metrics": metrics}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process (one Spark session per process)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode not in (0, 1) or not lines:
            print(f"workload {w} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": w, **res}, sort_keys=True))
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged, sort_keys=True), flush=True)
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "data_prepper_spark")):
        print("sgbench: run from the repository root (data_prepper_spark/ not found)", file=sys.stderr)
        return 2
    # import the benchmark as the package ``sgbench`` from the repository
    # root, not its modules from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    if args.workload == "all":
        return run_all(args)
    return run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())

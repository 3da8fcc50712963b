"""Tracing overhead: traced minus untraced end-to-end values, per seed.

    python3 perfbench/overhead.py --workload replicate --seeds 1 2 3 [--seconds 10]

Run from the repository root. For each seed it runs the benchmark once
untraced and once traced (same seed, so the same inputs), and prints
per metric the median over the seeds of (traced − untraced), absolute
and as a share of the untraced value. Differences within the
benchmark's run-to-run spread mean the tracing cost is not
measurable at this size.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _e2e(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"run failed (trace={trace}, seed={seed}): {proc.stderr[-2000:]}")
    if trace:
        # the traced run's end-to-end values are on its detail line
        return json.loads(lines[-2])["e2e_traced"]
    return {k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    diffs: dict[str, list[tuple[float, float]]] = {}
    for seed in args.seeds:
        plain = _e2e(args.workload, seed, args.seconds, 0)
        traced = _e2e(args.workload, seed, args.seconds, 1)
        for name, v in plain.items():
            if name in traced:
                diffs.setdefault(name, []).append((traced[name] - v, (traced[name] - v) / v))
    out = {
        name: {
            "median_diff": statistics.median(d for d, _r in ds),
            "median_share": statistics.median(r for _d, r in ds),
        }
        for name, ds in diffs.items()
    }
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "traced_minus_untraced": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

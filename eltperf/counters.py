"""Split a workload's per-layer counters into exact and inexact.

    python3 eltperf/counters.py --workload clone_prune --seed 1 --seconds 10

Runs two traced runs of the same workload with the same seed and compares
every per-layer metric that is a count, a byte total or a ratio of those
(not a time, and not the tracer's own overhead). A counter is exact when
both runs report the same value; only exact counters may carry a count
claim. The split is merged into ``eltperf/counters_exact.json`` under the
workload's name.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "counters_exact.json")


def traced_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True, timeout=600).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: {result['failed']} failed operations")
    return result["metrics"]


def split(a: dict, b: dict) -> dict:
    counters = sorted(k for k, v in a.items() if v["unit"] != "s" and not k.startswith("trace."))
    return {
        "exact": [k for k in counters if a[k]["value"] == b[k]["value"]],
        "inexact": {k: [a[k]["value"], b[k]["value"]] for k in counters if a[k]["value"] != b[k]["value"]},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    first = traced_run(args.workload, args.seed, args.seconds)
    second = traced_run(args.workload, args.seed, args.seconds)
    table = json.load(open(OUT)) if os.path.exists(OUT) else {}
    table[args.workload] = dict(split(first, second), seed=args.seed)
    with open(OUT, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    s = table[args.workload]
    print(f"{args.workload}: {len(s['exact'])} exact, {len(s['inexact'])} inexact -> {os.path.relpath(OUT, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

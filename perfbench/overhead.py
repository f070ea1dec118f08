"""Tracing overhead: the traced-minus-untraced difference of every end-to-end
metric, on the same seeds.

    python3 perfbench/overhead.py --workload cdc_trickle --seconds 8 --seeds 1 2 3

Each seed runs twice (``--trace 0``, then ``--trace 1``); the traced run's
end-to-end values come from the trace file it writes. Prints one JSON object:
per metric, the median difference and the median untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import model as M  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    if trace:
        with open(os.path.join(ROOT, ".bench_out", f"trace-{workload}-s{seed}.json")) as f:
            return json.load(f)["end_to_end"]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    pairs = [
        (run(args.workload, s, args.seconds, 0), run(args.workload, s, args.seconds, 1))
        for s in args.seeds
    ]
    report = {
        k: {
            "untraced_median": M.median([u[k] for u, _ in pairs]),
            "traced_minus_untraced_median": M.median([t[k] - u[k] for u, t in pairs]),
        }
        for k in pairs[0][0]
    }
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

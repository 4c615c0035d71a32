"""Run one workload on several seeds and print each end-to-end metric's
median and quartile spread (``statistics.quantiles(n=4)``, Q3 - Q1 as a
share of the median), the figure the benchmark's bounds are set against.

    python3 hostbench/spread.py --workload beir_batch --seeds 1 2 3 4 5 --seconds 8
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", f"{args.seconds:g}", "--trace", "0"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:20s} median {med:12.4f}  spread {(q3 - q1) / med:.4f}  n={len(vs)}")


if __name__ == "__main__":
    main()

"""Run the benchmark once per seed and print, for each end-to-end metric,
the median and the interquartile range as a share of the median.

    python3 perfbench/spread.py --workload enrich --seeds 1 2 3 4 5 --seconds 10
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
        header_line, result_line = out.stdout.strip().splitlines()[-2:]
        header, result = json.loads(header_line)["header"], json.loads(result_line)
        print(json.dumps({"seed": seed, "run_s": header.get("run_s"), "passes": header.get("pass_s"),
                          "yardstick": header.get("yard_s"), **result}), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        # the header's scalar figures (raw throughput and the like) too
        for k, v in header.items():
            if isinstance(v, float) and k not in ("seconds", "run_s"):
                values.setdefault(f"header.{k}", []).append(v)
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {med:.4g}  iqr/median {(q3 - q1) / med:.4f}  n={len(vs)}")


if __name__ == "__main__":
    main()

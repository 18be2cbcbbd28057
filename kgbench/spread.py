"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 kgbench/spread.py --workload extract-mixed --seeds 1-10

Runs ``kgbench/run.py`` once per seed (sequentially, ``--trace 0``),
echoing each run's per-pass log line, and prints, per metric, the median and the quartile spread — the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median — next to the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values = {}
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            check=True,
        )
        for line in out.stderr.splitlines():  # the run's per-pass figures
            if line.startswith("kgbench [") and " job_s " in line:
                print("  " + line, flush=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:18s} median={med:.5g} spread={spread:.4f} "
              f"bound={m['bound']} ok={spread <= m['bound'] / 3}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

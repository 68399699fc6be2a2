"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --runs 10 [--first-seed 1]

Runs ``run.py`` once per seed (seeds first-seed .. first-seed+runs-1, one
process at a time) and prints, for each end-to-end metric, the median, the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, and that
spread against the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            print(f"seed {seed}: exit {proc.returncode}, result {res}")
            print(proc.stdout[-2000:], proc.stderr[-2000:], sep="\n")
            continue
        row = {k: v["value"] for k, v in res["metrics"].items()}
        samples = [ln.strip() for ln in lines if ln.strip().startswith("op samples")]
        print(f"seed {seed}: wall {walls[-1]:.1f} s " + " ".join(
            f"{k}={v:.4g}" for k, v in row.items()), *samples[:1], flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            print(f"{m['name']}: too few values")
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:<14} median {med:.4g} {m['unit']}  spread {spread:.3f}  "
              f"bound {m['bound']}  ({'ok' if spread <= m['bound'] / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())

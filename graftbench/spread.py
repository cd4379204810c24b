#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 graftbench/spread.py --workload <name> --seeds 1-10 [--seconds 8] [--trace 0]

For every metric: the median over the runs and the inter-quartile distance
as a share of the median (``statistics.quantiles(values, n=4)``), the
figure a run-to-run regression bound has to absorb.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values, walls = {}, []
    for s in seeds(args.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, runner, "--workload", args.workload,
                            "--seed", str(s), "--seconds", args.seconds,
                            "--trace", args.trace], capture_output=True, text=True)
        walls.append(time.time() - t0)
        if r.returncode != 0:
            sys.exit(f"seed {s} failed:\n{r.stderr[-3000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {walls[-1]:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {stats.median(walls):.1f}s, max {max(walls):.1f}s")
    for k, vs in values.items():
        if len(vs) >= 2 and stats.median(vs):
            print(f"{k:40s} median {stats.median(vs):12.4f}  spread {stats.spread(vs):.3f}")


if __name__ == "__main__":
    main()

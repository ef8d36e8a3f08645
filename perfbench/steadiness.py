#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), as the benchmark's acceptance
rule computes it.

    python3 perfbench/steadiness.py --workload serve_read_write --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    first, last = (int(x) for x in args.seeds.split("-"))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(first, last + 1):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit("seed %d failed:\n%s" % (seed, out.stderr[-3000:]))
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print("seed %d: %.0f s, correct=%s attempted=%d failed=%d" % (
            seed, time.time() - t0, res["correct"], res["attempted"], res["failed"]), flush=True)
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print("  " + " ".join("%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-24s median %12.4f  spread %.4f  bound %.2f  %s" % (
            m["name"], med, spread, m["bound"], "ok" if spread <= m["bound"] / 3 else "WIDE"))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Interleaved A/B runs of the benchmark between two checkouts.

    python3 tools/ab.py --parent <root> --change <root> \\
        --workloads serve_read_write,batch_registry --seeds 21-25 [--seconds 20] [--trace 0] [--out ab.json]

For every workload and seed it runs `perfbench/run.py` once in each root,
the two runs of a pair back to back with the same seed, and alternates which
root goes first from pair to pair, so a drift of the host falls on both
sides. It only calls `perfbench/run.py`; each root builds and runs its own
sources.

It prints, per workload and end-to-end metric of the change root's
BENCHMARK.json (its per-layer metrics with `--trace 1`): the median and
interquartile range (IQR) of each side, the change/parent ratio of the
medians, and in how many pairs the change was better in the metric's
direction. `--out` also writes every run's metrics as
JSON. It exits non-zero if any run exits non-zero or reports
`"correct": false`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    """`21-25` or `21,23,30`."""
    if "-" in spec:
        first, last = (int(x) for x in spec.split("-"))
        return list(range(first, last + 1))
    return [int(x) for x in spec.split(",")]


def run(root, workload, seed, seconds, trace):
    """One run in `root`: (exit status, parsed result or None, seconds)."""
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    res = None
    lines = out.stdout.strip().splitlines()
    if lines:
        try:
            res = json.loads(lines[-1])
        except ValueError:
            pass
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
    return out.returncode, res, time.time() - t0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="root of the parent checkout")
    ap.add_argument("--change", required=True, help="root of the changed checkout")
    ap.add_argument("--workloads", required=True, help="comma-separated workload names")
    ap.add_argument("--seeds", required=True, help="first-last, or a comma-separated list")
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured window (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's metrics to this JSON file")
    args = ap.parse_args()

    roots = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    # --trace 1 runs report the per-layer metrics instead of the end-to-end ones
    shown = spec["end_to_end"] if args.trace == 0 else spec.get("per_layer", [])
    better = {m["name"]: m["better"] for m in shown}

    ok = True
    runs = []  # {workload, seed, side, metrics}
    for workload in args.workloads.split(","):
        for i, seed in enumerate(seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                code, res, took = run(roots[side], workload, seed, seconds, args.trace)
                correct = bool(res and res.get("correct"))
                print("%s seed %d %-6s %4.0f s exit=%d correct=%s attempted=%s failed=%s" % (
                    workload, seed, side, took, code, correct,
                    res and res.get("attempted"), res and res.get("failed")), flush=True)
                if code != 0 or not correct:
                    ok = False
                if res:
                    runs.append({"workload": workload, "seed": seed, "side": side,
                                 "metrics": {k: v["value"] for k, v in res["metrics"].items()}})

    for workload in args.workloads.split(","):
        print("\n== %s ==" % workload)
        print("%-24s %12s %10s %12s %10s %7s %s" % (
            "metric", "parent", "IQR", "change", "IQR", "ratio", "better"))
        by = {(r["seed"], r["side"]): r["metrics"] for r in runs if r["workload"] == workload}
        pairs = sorted({s for (s, _) in by if (s, "parent") in by and (s, "change") in by})
        for name in better:
            p = [by[(s, "parent")][name] for s in pairs if name in by[(s, "parent")]]
            c = [by[(s, "change")][name] for s in pairs if name in by[(s, "change")]]
            if not p or len(p) != len(c):
                continue
            pm, cm = statistics.median(p), statistics.median(c)
            pq, cq = quartiles(p), quartiles(c)
            up = better[name] == "higher"
            wins = sum(1 for a, b in zip(p, c) if (b > a if up else b < a))
            print("%-24s %12.4g %10.3g %12.4g %10.3g %7.3f %d of %d" % (
                name, pm, pq[1] - pq[0], cm, cq[1] - cq[0],
                cm / pm if pm else float("nan"), wins, len(p)))

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    if not ok:
        print("\nab: a run failed or reported correct=false", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()

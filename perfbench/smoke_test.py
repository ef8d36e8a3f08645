#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny scale.

    python3 perfbench/smoke_test.py

For every workload in BENCHMARK.json it checks that:
  - a plain run prints every named metric with its unit and, as its last
    line, the result object with every end-to-end metric;
  - a traced run prints every per-layer metric;
  - a run with one store or result corrupted fails its output check, and
    the failed check counts as a failed operation.
It also checks that run.py refuses to run, without printing a result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metrics each workload prints by name, with their units
NAMED = {
    "serve_read_write": {
        "setup_s": "s", "requests_per_s": "1/s", "request_latency_p50_ms": "ms",
        "request_latency_tail_ms": "ms", "commit_latency_p50_ms": "ms",
        "commit_latency_tail_ms": "ms", "failed_share": "share", "peak_rss_mb": "MB"},
    "batch_registry": {
        "setup_s": "s", "registry_seq_s": "s", "registry_conc_s": "s",
        "query_latency_p50_ms": "ms", "query_latency_tail_ms": "ms",
        "failed_share": "share", "peak_rss_mb": "MB"},
}


def run(workload, cwd=ROOT, **extra):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--smoke", "1"]
    for k, v in extra.items():
        cmd += ["--" + k, str(v)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(out):
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res
    assert res["attempted"] >= 1 and isinstance(res["failed"], int), res
    return lines, res


def check_units(metrics, spec):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    assert got == want, "metrics differ from BENCHMARK.json: %s" % (set(got) ^ set(want))
    for k, v in metrics.items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in (x["name"] for x in spec["workloads"]):
        lines, res = result(run(w, trace=0))
        assert res["correct"] and res["failed"] == 0, (w, res)
        check_units(res["metrics"], spec["end_to_end"])
        printed = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
        for name, unit in NAMED[w].items():
            assert printed.get(name) == unit, "%s: metric %s not printed in %s" % (w, name, unit)
        for m in spec["end_to_end"]:
            if m["name"] != "success_share":
                assert res["metrics"][m["name"]]["value"] > 0, (w, m["name"])
        print("ok   %s: every named metric printed with its unit" % w, flush=True)

        _, res = result(run(w, trace=1))
        check_units(res["metrics"], spec["per_layer"])
        print("ok   %s: traced run prints every per-layer metric" % w, flush=True)

        _, res = result(run(w, trace=0, corrupt=1))
        assert not res["correct"] and res["failed"] >= 1, "%s: corrupted output passed its check" % w
        print("ok   %s: a corrupted result fails its check" % w, flush=True)

    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_scratch"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = run(spec["workloads"][0]["name"], cwd=bare)
        assert out.returncode != 0 and not out.stdout.strip(), (out.returncode, out.stdout[-500:])
        print("ok   without the engine's sources run.py exits %d and prints no result" % out.returncode)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()

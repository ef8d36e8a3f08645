#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): serve_read_write, batch_registry.

The first run compiles the engine (src/main/scala) and the harness
(perfbench/src) with the Scala compiler that ships in $SPARK_HOME/jars, into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the classes while
the sources are unchanged. Each run gets a fresh scratch area under
.bench_scratch, removed when the run ends.

Output: one "metric <name> <value> <unit>" line per metric the workload
names, then, as the last line, one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1.

Extra flags: --smoke 1 runs at tiny scale (the smoke test uses it);
--corrupt 1 corrupts one store or result before the checks, which must then
fail.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_read_write", "batch_registry")
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# a fixed heap: the JVM does not resize it, so peak RSS and GC work do
# not depend on heap-sizing decisions
HEAP = "1536m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        die("engine sources src/main/scala not found under " + ROOT)
    if not harness:
        die("harness sources not found under " + HERE)
    return engine + harness


def wait(pid, timeout_s):
    """Wait for `pid`, killing its process group after `timeout_s`.
    Returns (exit status, peak RSS in MB)."""
    deadline = time.time() + timeout_s
    while True:
        done, status, usage = os.wait4(pid, os.WNOHANG)
        if done:
            return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0
        if time.time() > deadline:
            os.killpg(pid, signal.SIGKILL)
            _, status, usage = os.wait4(pid, 0)
            return -9, usage.ru_maxrss / 1024.0
        time.sleep(0.05)


def spawn(cmd, log_path, timeout_s):
    """Run `cmd` in its own process group with output to `log_path`."""
    with open(log_path, "wb") as log:
        pid = os.fork()
        if pid == 0:
            os.setpgid(0, 0)
            os.dup2(log.fileno(), 1)
            os.dup2(log.fileno(), 2)
            try:
                os.execvp(cmd[0], cmd)
            finally:
                os._exit(127)
    try:
        return wait(pid, timeout_s)
    except BaseException:
        try:
            os.killpg(pid, signal.SIGKILL)
            os.wait4(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
        raise


def build(jars):
    """Compile engine + harness once per source content; returns the class dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(out_root, "perfbench-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(out_root, exist_ok=True)
    tmp = classes + ".tmp-%d" % os.getpid()
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    log = tmp + ".log"
    code, _ = spawn(cmd, log, BUILD_TIMEOUT_S)
    if code != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed")
    os.remove(log)
    try:
        os.rename(tmp, classes)
    except OSError:
        # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def run_harness(classes, jars, scratch, args):
    """One harness JVM; returns (result dict, peak RSS MB)."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    out = os.path.join(scratch, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--scratch", scratch, "--data", os.path.join(HERE, "data"), "--out", out,
        "--smoke", str(args.smoke), "--corrupt", str(args.corrupt)]
    log = os.path.join(scratch, "harness.log")
    code, rss = spawn(cmd, log, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        die("harness exited with %s" % code)
    with open(out) as fh:
        return json.load(fh), rss


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at " + ROOT)
    with open(spec_path) as fh:
        spec = json.load(fh)
    jars = spark_jars()
    classes = build(jars)

    scratch = os.path.join(ROOT, ".bench_scratch", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        res, rss = run_harness(classes, jars, scratch, args)
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(os.path.join(scratch, "result.json.spans.jsonl"),
                        os.path.join(out_dir, "%s-seed%d.spans.jsonl" % (args.workload, args.seed)))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for p in res["problems"]:
        print("perfbench: check failed: " + p, file=sys.stderr)
    for name, m in list(res["e2e"].items()) + list(res["report"].items()):
        print("metric %s %r %s" % (name, m["value"], m["unit"]))
    correct = bool(res["correct"])
    attempted = max(int(res["attempted"]), 1)
    failed = int(res["failed"])
    print("metric failed_share %r share" % (failed / attempted))
    print("metric peak_rss_mb %r MB" % rss)
    measured = dict(res["e2e"])
    measured["success_share"] = {"value": (attempted - failed) / attempted, "unit": "share"}
    measured["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    if args.trace:
        measured = dict(res["layers"])
        for name, m in res["e2e"].items():
            measured["traced." + name] = m
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    known = {m["name"] for m in wanted}
    extra = sorted(set(measured) - known)
    if extra:
        die("metrics missing from BENCHMARK.json: " + ", ".join(extra))
    metrics = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None:
            # a layer this workload does not exercise reads 0; a missing
            # end-to-end metric means the run measured nothing
            if not args.trace:
                correct = False
            got = {"value": 0.0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Per streaming member and batch id, what each micro-batch cost Spark.

    python3 tools/batchlog.py <event-log-dir-or-file>

Reads an uncompressed Spark event log and prints one row per (member,
batch id): input rows, jobs, stages, tasks, task run ms against task CPU ms,
the span from the first job's submission to the last job's end, and the
state-store commits (the state operators' store instances). A job belongs
to the batch whose `sql.streaming.queryId` and `streaming.sql.batchId` its
properties carry, which includes the jobs a `foreachBatch` sink runs on the
stream thread. Jobs of no streaming batch (readers, checks) are left out.
Members are listed in the order their queries started and labelled by the
query's name, else by the first 8 characters of its id. The last line
divides the totals by the number of writer batches: the most batches with
input rows that any one member ran.

Capture a log from a benchmark run without editing the harness (SparkConf
reads `spark.*` JVM system properties):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir> \\
      -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload serve_read_write --seed 5 --seconds 20

`<dir>` must exist; Spark writes `eventlog_v2_<app-id>/events_*` under it.
"""
import argparse
import collections
import glob
import json
import os
import sys

STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def event_files(path):
    if os.path.isfile(path):
        return [path]
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus")))
    if not files:
        sys.exit(f"batchlog: no event log under {path}")
    return files


def load(files):
    """Streaming query start order, per-batch jobs, stages, tasks and progress."""
    queries = []          # (id, name) in start order
    jobs = {}             # job id -> {key, stages, submit, end}
    submitted = set()     # stage ids that ran (skipped stages never submit)
    tasks = collections.defaultdict(lambda: [0, 0, 0.0])  # stage id -> [n, run ms, cpu ms]
    progress = {}         # (query id, batch id) -> progress
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == STARTED:
                    queries.append((e["id"], e.get("name")))
                elif kind == PROGRESS:
                    p = e["progress"]
                    progress[(p["id"], p["batchId"])] = p
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if "sql.streaming.queryId" not in props or "streaming.sql.batchId" not in props:
                        continue
                    key = (props["sql.streaming.queryId"], int(props["streaming.sql.batchId"]))
                    jobs[e["Job ID"]] = {"key": key, "stages": e["Stage IDs"],
                                         "submit": e["Submission Time"], "end": None}
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    t = tasks[e["Stage ID"]]
                    t[0] += 1
                    t[1] += m.get("Executor Run Time", 0)
                    t[2] += m.get("Executor CPU Time", 0) / 1e6
    return queries, jobs, submitted, tasks, progress


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="event log file, or a directory holding one")
    args = ap.parse_args()

    queries, jobs, submitted, tasks, progress = load(event_files(args.log))
    member = {}
    for qid, qname in queries:
        member.setdefault(qid, qname or qid[:8])

    rows = collections.OrderedDict()
    for jid in sorted(jobs):
        j = jobs[jid]
        r = rows.setdefault(j["key"], {"jobs": 0, "stages": 0, "tasks": 0, "run": 0, "cpu": 0.0,
                                       "first": j["submit"], "last": j["end"] or j["submit"]})
        r["jobs"] += 1
        for s in j["stages"]:
            if s in submitted:
                r["stages"] += 1
                n, run, cpu = tasks.get(s, (0, 0, 0.0))
                r["tasks"] += n
                r["run"] += run
                r["cpu"] += cpu
        r["first"] = min(r["first"], j["submit"])
        r["last"] = max(r["last"], j["end"] or j["submit"])
    for key, p in progress.items():
        rows.setdefault(key, {"jobs": 0, "stages": 0, "tasks": 0, "run": 0, "cpu": 0.0,
                              "first": 0, "last": 0})

    order = {qid: i for i, (qid, _) in enumerate(queries)}
    header = ("member", "batch", "rows", "jobs", "stages", "tasks", "run_ms", "cpu_ms", "span_ms", "state_commits")
    print("%-14s %6s %7s %5s %6s %6s %8s %8s %8s %13s" % header)
    totals = collections.Counter()
    data_batches = collections.Counter()
    for key in sorted(rows, key=lambda k: (order.get(k[0], len(order)), k[1])):
        qid, batch = key
        r = rows[key]
        p = progress.get(key, {})
        n_rows = sum(src.get("numInputRows", 0) for src in p["sources"]) if p else "-"
        commits = sum(so.get("numStateStoreInstances", so.get("numShufflePartitions", 0))
                      for so in p.get("stateOperators", []))
        if isinstance(n_rows, int) and n_rows > 0:
            data_batches[qid] += 1
        span = r["last"] - r["first"]
        print("%-14s %6d %7s %5d %6d %6d %8d %8.0f %8d %13d" % (
            member.get(qid, qid[:8]), batch, n_rows, r["jobs"], r["stages"], r["tasks"],
            r["run"], r["cpu"], span, commits))
        totals.update({"jobs": r["jobs"], "stages": r["stages"], "tasks": r["tasks"],
                       "run": r["run"], "cpu": r["cpu"], "commits": commits})
    writer_batches = max(data_batches.values(), default=0)
    if writer_batches:
        per = {k: v / writer_batches for k, v in totals.items()}
        print("per writer batch (%d): jobs %.1f, stages %.1f, tasks %.1f, run ms %.0f, cpu ms %.0f, "
              "state commits %.1f" % (writer_batches, per["jobs"], per["stages"], per["tasks"],
                                      per["run"], per["cpu"], per["commits"]))


if __name__ == "__main__":
    main()

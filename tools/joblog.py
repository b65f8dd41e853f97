#!/usr/bin/env python3
"""Per-job timeline of a Spark event log.

Usage:
  python3 tools/joblog.py EVENT_LOG [--group PREFIX] [--spans]

EVENT_LOG is an uncompressed Spark event log file, or a rolling-log
directory (eventlog_v2_*) whose events_<n>_* files are read in order of
n, written by a session started with
  spark.eventLog.enabled=true  spark.eventLog.compress=false
  spark.eventLog.dir=<dir>
which any JVM picks up as system properties, e.g.
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:/tmp/ev"

One line per job, in submission order:
  job      Spark job id
  at_ms    submission time, from the first job's
  gap_ms   driver time since the previous job ended (negative: overlap)
  dur_ms   submission to completion
  tasks    tasks run (skipped stages run none)
  run_ms   executor run time summed over the job's tasks
  group    job group description (perfbench's traced spans name it)
  site     call site of the job's result stage

--group PREFIX keeps the jobs whose job group id starts with PREFIX;
--spans adds a per-description summary (jobs, gap, duration, run time).
"""
import argparse
import json
import os
import sys
from collections import OrderedDict


def events(path):
    files = [path]
    if os.path.isdir(path):
        logs = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f)
                 for f in sorted(logs, key=lambda f: int(f.split("_")[1]))]
    for f in files:
        if f.endswith((".lz4", ".lzf", ".snappy", ".zstd")):
            sys.exit(f"joblog: {f} is compressed; "
                     "log with spark.eventLog.compress=false")
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def jobs(path):
    """Job records in submission order, with task counts and run time."""
    out = OrderedDict()
    stage_job = {}
    for e in events(path):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or []
            result = max(stages, key=lambda s: s["Stage ID"], default={})
            j = out[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"],
                "end": None, "tasks": 0, "run_ms": 0,
                "group_id": props.get("spark.jobGroup.id") or "",
                "group": props.get("spark.job.description") or "",
                "site": result.get("Stage Name", "")}
            for st in e.get("Stage IDs") or []:
                stage_job[st] = j
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in out:
            out[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            j = stage_job[e["Stage ID"]]
            j["tasks"] += 1
            j["run_ms"] += (e.get("Task Metrics") or {}).get(
                "Executor Run Time", 0)
    return list(out.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--group", default=None,
                    help="keep jobs whose job group id has this prefix")
    ap.add_argument("--spans", action="store_true",
                    help="add a per-description summary")
    a = ap.parse_args()
    js = [j for j in jobs(a.log)
          if a.group is None or j["group_id"].startswith(a.group)]
    if not js:
        sys.exit("joblog: no jobs")
    t0 = js[0]["start"]
    print(f"{'job':>5} {'at_ms':>8} {'gap_ms':>7} {'dur_ms':>7} "
          f"{'tasks':>5} {'run_ms':>7}  group | site")
    prev_end = None
    for j in js:
        end = j["end"] if j["end"] is not None else j["start"]
        j["dur"] = end - j["start"]
        j["gap"] = 0 if prev_end is None else j["start"] - prev_end
        prev_end = end if prev_end is None else max(prev_end, end)
        print(f"{j['id']:>5} {j['start'] - t0:>8} {j['gap']:>7} "
              f"{j['dur']:>7} {j['tasks']:>5} {j['run_ms']:>7}  "
              f"{j['group']} | {j['site']}")
    print(f"{len(js)} jobs: gap {sum(j['gap'] for j in js)} ms, "
          f"duration {sum(j['dur'] for j in js)} ms, "
          f"executor run {sum(j['run_ms'] for j in js)} ms")
    if a.spans:
        by = OrderedDict()
        for j in js:
            s = by.setdefault(j["group"], [0, 0, 0, 0])
            s[0] += 1
            s[1] += j["gap"]
            s[2] += j["dur"]
            s[3] += j["run_ms"]
        print(f"\n{'jobs':>5} {'gap_ms':>7} {'dur_ms':>7} {'run_ms':>7}  group")
        for g, (n, gap, dur, run) in by.items():
            print(f"{n:>5} {gap:>7} {dur:>7} {run:>7}  {g}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Per-job cost breakdown of a Spark event log.

    python3 tools/job_timing.py EVENT_LOG [--last N] [--by-stage]

Reads an uncompressed Spark event log (one JSON event per line; record
one by adding `-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=file:<dir>` to `JAVA_TOOL_OPTIONS`) and, over the
last N finished jobs (all by default), prints the median per job and the
sum over those jobs of each phase:

    submit->launch   job submitted to its first task launched
    deserialize      executor deserialize time (task binary, broadcasts)
    run              executor run time
    result ser       result serialization time
    result fetch     driver fetching indirect task results
    job total        job submitted to job completed
    result bytes     task result size

A job's task phases are summed over its tasks. `--by-stage` groups the
jobs by the name of their last stage, the call site that submitted them
(e.g. `runJob at ParquetWrite.scala:66`), and prints each group's job
count and per-job medians, the largest group first. EVENT_LOG may be a
directory, in which case its newest log is read (Spark 4 writes rolling
logs: a directory `eventlog_v2_<app>` of `events_<n>_<app>` files).

Exit codes: 0 printed, 2 no finished job found or the log is unreadable.
"""

import argparse
import json
import os
import statistics
import sys

PHASES = [
    ("submit->launch", "ms"), ("deserialize", "ms"), ("run", "ms"),
    ("result ser", "ms"), ("result fetch", "ms"), ("job total", "ms"),
    ("result bytes", "B"),
]


def read_jobs(lines):
    """{job id: {phase: value}} for every finished job in the event lines."""
    jobs, stage_job, tasks = {}, {}, {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a truncated last line of a log still being written
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            infos = ev.get("Stage Infos") or [{}]
            last = max(infos, key=lambda i: i.get("Stage ID", -1))
            jobs[jid] = {"submit": ev["Submission Time"], "stage": last.get("Stage Name", "?")}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is not None:
                tasks.setdefault(jid, []).append(ev)
    out = {}
    for jid, j in jobs.items():
        ts = tasks.get(jid, [])
        if "end" not in j or not ts:
            continue
        info = [t.get("Task Info", {}) for t in ts]
        metrics = [t.get("Task Metrics") or {} for t in ts]

        def total(key):
            return sum(m.get(key, 0) for m in metrics)

        fetch = sum(i["Finish Time"] - i["Getting Result Time"] for i in info
                    if i.get("Getting Result Time", 0) > 0)
        out[jid] = {
            "submit->launch": min(i["Launch Time"] for i in info) - j["submit"],
            "deserialize": total("Executor Deserialize Time"),
            "run": total("Executor Run Time"),
            "result ser": total("Result Serialization Time"),
            "result fetch": fetch,
            "job total": j["end"] - j["submit"],
            "result bytes": total("Result Size"),
            "stage": j["stage"],
        }
    return out


def summarize(jobs, last=0):
    """Summary lines for the last `last` jobs by id (all when 0)."""
    ids = sorted(jobs)
    if last:
        ids = ids[-last:]
    lines = ["%d jobs (ids %d..%d)" % (len(ids), ids[0], ids[-1])]
    lines.append("%-15s %12s %14s" % ("phase", "median/job", "sum"))
    for name, unit in PHASES:
        vals = [jobs[i][name] for i in ids]
        lines.append("%-15s %9.1f %-2s %11.0f %s" % (
            name, statistics.median(vals), unit, sum(vals), unit))
    return lines


def by_stage(jobs, last=0):
    """Per-stage-name lines for the last `last` jobs by id (all when 0):
    job count and the median per job of each phase, largest group first."""
    ids = sorted(jobs)
    if last:
        ids = ids[-last:]
    groups = {}
    for i in ids:
        groups.setdefault(jobs[i]["stage"], []).append(jobs[i])
    lines = ["%5s " % "jobs" + " ".join("%14s" % name for name, _ in PHASES) + "  stage"]
    for stage, js in sorted(groups.items(), key=lambda g: (-len(g[1]), g[0])):
        lines.append("%5d " % len(js) + " ".join(
            "%14.1f" % statistics.median(j[name] for j in js) for name, _ in PHASES)
            + "  " + stage)
    return lines


def log_files(path):
    """The event files of `path`: the file itself, or the newest log in a
    directory; a rolling log (Spark's `eventlog_v2_*` directory) is its
    `events_<n>_*` files in order."""
    if not os.path.isdir(path):
        return [path]
    entries = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    events = [f for f in entries if os.path.basename(f).startswith("events_")]
    if events:
        return sorted(events, key=lambda f: int(os.path.basename(f).split("_")[1]))
    if not entries:
        return []
    return log_files(max(entries, key=os.path.getmtime))


def lines_of(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("event_log")
    ap.add_argument("--last", type=int, default=0, help="only the last N jobs (default all)")
    ap.add_argument("--by-stage", action="store_true",
                    help="medians per group of jobs with the same last stage name")
    args = ap.parse_args(argv)
    paths = log_files(args.event_log)
    try:
        jobs = read_jobs(lines_of(paths))
    except OSError as e:
        print("cannot read event log %s: %s" % (args.event_log, e))
        return 2
    if not jobs:
        print("no finished job in %s" % args.event_log)
        return 2
    print("\n".join((by_stage if args.by_stage else summarize)(jobs, args.last)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Print a per-SQL-execution job timeline from a Spark event log.

    python3 tools/evlog_timeline.py <event log file | eventlog_v2_* dir>

The log must be uncompressed (spark.eventLog.compress=false). A rolling log
(an eventlog_v2_* directory) is read part by part in index order.

For each SQL execution, in start order, it prints the execution's call site
(the Spark method and the first frame outside Spark, as Spark's own short
call site reads), its job description when one was set, its duration and
its jobs, each job with its duration, the number of stages that ran, the
number of tasks that ended and the leaf RDD kinds of its last stage (the
stage's RDDs none of whose parents are in that stage: FileScanRDD,
ShuffledRowRDD, ParallelCollectionRDD …, with a count when one kind leads
more than one leaf). AQE runs each query stage as a job of its own whose
call site reads "… at CompletableFuture.java"; the leaf kinds tell them
apart. Jobs outside any SQL execution
(RDD actions such as localCheckpoint) follow, one line each. Last comes the
sum of jobs per call site, most first: a job counts for the call site of its
SQL execution, or for its own call site (its result stage's name) when it
has none. A job whose execution id is a nested execution counts for that
nested execution.

One way to take such a log of any JVM that builds a SparkSession from
system properties:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:///tmp/evlog -Dspark.eventLog.compress=false" <command>
"""
import argparse
import collections
import json
import os
import re
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
FRAME = re.compile(r"^\s*([\w$.<>]+)\.([\w$<>]+)\((.*)\)\s*$")
LIBRARY = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")


def short_site(details):
    """The short call site of a long one (a stack, innermost frame first)."""
    method = None
    for line in (details or "").splitlines():
        m = FRAME.match(line)
        if not m:
            continue
        cls, meth, loc = m.groups()
        if not cls.startswith(LIBRARY):
            return f"{method or meth} at {loc}"
        method = meth
    return None


def leaf_kinds(rdds):
    """The leaf RDD kinds of a stage's RDD infos, e.g. "FileScanRDD x2"."""
    ids = {r["RDD ID"] for r in rdds}
    kinds = collections.Counter(r.get("Name", "?") for r in rdds
                                if not ids.intersection(r.get("Parent IDs") or []))
    return ", ".join(k if n == 1 else f"{k} x{n}" for k, n in sorted(kinds.items())) or "?"


def one_line(text):
    return " ".join((text or "").split())


def log_files(path):
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    if not parts:
        sys.exit(f"{path}: no events_<n>_* part files")
    return [p for _, p in sorted(parts)]


def events(paths):
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def read(paths):
    execs = {}  # id -> {site, desc, start, end}
    jobs = {}  # id -> {exec, start, end, site}
    stage_job = {}
    stages_ran = collections.Counter()
    tasks = collections.Counter()
    for ev in events(paths):
        kind = ev.get("Event")
        if kind == SQL_START:
            desc = one_line(ev.get("description"))
            site = short_site(ev.get("details")) or desc or "?"
            execs[ev["executionId"]] = {"site": site, "start": ev["time"], "end": None,
                                        "desc": "" if desc == site else desc}
        elif kind == SQL_END:
            if ev["executionId"] in execs:
                execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            infos = ev.get("Stage Infos") or []
            # the result stage has the highest id; its name is the call site
            result = max(infos, key=lambda s: s["Stage ID"], default={})
            jobs[ev["Job ID"]] = {"exec": int(eid) if eid is not None else None,
                                  "start": ev["Submission Time"], "end": None,
                                  "site": result.get("Stage Name", "?"),
                                  "leaves": leaf_kinds(result.get("RDD Info") or [])}
            for sid in ev.get("Stage IDs") or []:
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                stages_ran[stage_job[sid]] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid in stage_job:
                tasks[stage_job[sid]] += 1
    return execs, jobs, stages_ran, tasks


def secs(start, end):
    return "   ?   " if end is None else f"{(end - start) / 1000:7.3f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log", help="an event log file or an eventlog_v2_* directory")
    args = ap.parse_args()
    execs, jobs, stages_ran, tasks = read(log_files(args.log))

    by_exec = collections.defaultdict(list)
    for jid in sorted(jobs):
        by_exec[jobs[jid]["exec"]].append(jid)

    def job_line(jid, site=False):
        j = jobs[jid]
        line = (f"  job {jid:5d} {secs(j['start'], j['end'])} s "
                f"{stages_ran[jid]:3d} stages {tasks[jid]:5d} tasks  [{j['leaves']}]")
        return line + (f"  {j['site']}" if site else "")

    for eid in sorted(execs, key=lambda e: (execs[e]["start"], e)):
        js = by_exec.get(eid, [])
        x = execs[eid]
        desc = f"  [{x['desc']}]" if x["desc"] else ""
        print(f"exec {eid:5d} {secs(x['start'], x['end'])} s {len(js):3d} jobs  {x['site']}{desc}")
        for jid in js:
            print(job_line(jid))
    orphans = [jid for e, js in by_exec.items() if e is None or e not in execs for jid in js]
    if orphans:
        print("jobs outside any SQL execution:")
        for jid in sorted(orphans):
            print(job_line(jid, site=True))

    per_site = collections.Counter()
    for jid, j in jobs.items():
        x = execs.get(j["exec"]) if j["exec"] is not None else None
        per_site[x["site"] if x else j["site"]] += 1
    print(f"jobs per call site ({len(jobs)} jobs, {len(execs)} SQL executions):")
    for site, n in sorted(per_site.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {site}")


if __name__ == "__main__":
    main()

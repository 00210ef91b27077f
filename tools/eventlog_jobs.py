#!/usr/bin/env python3
"""Print one line per Spark job of an event log.

Usage: eventlog_jobs.py <event-log file or dir>

A dir is read as every event-log file in it (and in its `eventlog_v2_*`
rolling sub-dirs), name-sorted. Plain logs are read as they are; `.zstd`
/ `.zst` logs are decompressed with the `zstd` CLI, which must be on
PATH. Each line gives the job's id, its duration, the tasks of each of
its stages, its `perfbench-span-N` job tag, and the `graft` source
frame of the SQL execution it ran in (from the execution's call-site
details; a job outside any SQL execution, such as a parallel file
listing, falls back to its stage's call site). A last block lists the
SQL executions that wrote files, with their written-file count.

Fails loudly (exit 2) on a missing path, an empty log, a log without a
single job, an unsupported compression codec, or a missing `zstd`.

To record a log of a benchmark run (the event log goes to <dir>):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>" \\
        python3 perfbench/run.py --workload upsert_hybrid --seed 1 --seconds 10 --trace 1
    python3 tools/eventlog_jobs.py <dir>
"""
import json
import os
import shutil
import subprocess
import sys

SPAN_PREFIX = "perfbench-span-"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_PLAN_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
WRITTEN_FILES = "number of written files"
OTHER_CODECS = (".lz4", ".lzf", ".snappy")


def fail(msg):
    print(f"eventlog_jobs: {msg}", file=sys.stderr)
    sys.exit(2)


def log_files(path):
    """The event-log files under `path`, in reading order."""
    if not os.path.exists(path):
        fail(f"{path}: no such file or directory")
    if os.path.isfile(path):
        return [path]
    out = []
    for name in sorted(os.listdir(path)):
        p = os.path.join(path, name)
        if os.path.isdir(p) and name.startswith("eventlog_v2_"):
            out += [os.path.join(p, n) for n in sorted(os.listdir(p))
                    if n.startswith("events_")]
        elif os.path.isfile(p) and not name.startswith("."):
            out.append(p)
    if not out:
        fail(f"{path}: no event-log file in the directory")
    return out


def read_lines(path):
    """The text lines of one log file, decompressed if need be."""
    if os.path.getsize(path) == 0:
        fail(f"{path}: empty event log")
    base = path[:-len(".inprogress")] if path.endswith(".inprogress") else path
    if base.endswith(OTHER_CODECS):
        fail(f"{path}: only plain and zstd event logs are supported")
    if base.endswith((".zstd", ".zst")):
        if shutil.which("zstd") is None:
            fail(f"{path}: the zstd CLI is needed to read a .zstd log and is not on PATH")
        proc = subprocess.run(["zstd", "-dc", path], capture_output=True)
        # a log still being written lacks its last frame's end: keep what
        # decompressed, but fail if nothing did
        if proc.returncode != 0 and not proc.stdout:
            fail(f"{path}: zstd failed: {proc.stderr.decode().strip()}")
        text = proc.stdout.decode("utf-8", errors="replace")
    else:
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        fail(f"{path}: empty event log")
    return lines


def graft_frame(details):
    """The first `graft.` frame outside the benchmark of a call-site
    string, else its first `graft.` frame, else '-'."""
    frames = [ln.strip() for ln in (details or "").splitlines()]
    graft = [f for f in frames if f.startswith("graft.")]
    lib = [f for f in graft if not f.startswith("graft.perfbench.")]
    return (lib or graft or ["-"])[0]


def metric_ids(plan, out):
    """accumulator id -> metric name over a SparkPlanInfo tree."""
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        metric_ids(c, out)


def main():
    if len(sys.argv) != 2:
        fail("usage: eventlog_jobs.py <event-log file or dir>")
    jobs, ends, exec_frame, accum_names, exec_files = {}, {}, {}, {}, {}
    for path in log_files(sys.argv[1]):
        for ln in read_lines(path):
            try:
                ev = json.loads(ln)
            except json.JSONDecodeError:
                continue  # a truncated last line of a live log
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = ev
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev
            elif kind == SQL_START:
                exec_frame[ev["executionId"]] = graft_frame(ev.get("details"))
                metric_ids(ev.get("sparkPlanInfo", {}), accum_names)
            elif kind == SQL_PLAN_UPDATE:
                metric_ids(ev.get("sparkPlanInfo", {}), accum_names)
            elif kind == DRIVER_ACCUMS:
                for acc_id, value in ev.get("accumUpdates", []):
                    if accum_names.get(acc_id) == WRITTEN_FILES:
                        eid = ev["executionId"]
                        exec_files[eid] = exec_files.get(eid, 0) + value
    if not jobs:
        fail(f"{sys.argv[1]}: no job in the event log")
    print("job  ms  tasks/stage  span  exec  frame")
    for jid in sorted(jobs):
        ev = jobs[jid]
        props = ev.get("Properties") or {}
        end = ends.get(jid)
        ms = str(end["Completion Time"] - ev["Submission Time"]) if end else "?"
        stages = sorted(ev.get("Stage Infos", []), key=lambda s: s["Stage ID"])
        tasks = "+".join(str(s["Number of Tasks"]) for s in stages) or "0"
        tags = [t for t in (props.get("spark.job.tags") or "").split(",")
                if t.startswith(SPAN_PREFIX)]
        eid = props.get("spark.sql.execution.id")
        if eid is not None and int(eid) in exec_frame:
            frame = exec_frame[int(eid)]
        else:
            frame = graft_frame(stages[-1].get("Details") if stages else None)
        print(f"{jid}  {ms}  {tasks}  {','.join(tags) or '-'}  "
              f"{eid if eid is not None else '-'}  {frame}")
    if exec_files:
        print("exec  files_written  frame")
        for eid in sorted(exec_files):
            print(f"{eid}  {exec_files[eid]}  {exec_frame.get(eid, '-')}")


if __name__ == "__main__":
    main()

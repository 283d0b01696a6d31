#!/usr/bin/env python3
"""Print a Spark event log as a per-micro-batch timeline.

Usage:
    python3 tools/batch_timeline.py EVENTLOG [--all]

EVENTLOG is an uncompressed event log: a file, a rolling-log directory
(`eventlog_v2_*`, its `events_<n>_*` files read in order), or a
directory holding exactly one of either. Write one by starting the JVM
with `-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=DIR`.

For each streaming micro-batch (query name, batch id) it prints:
  - the `durationMs` phases of its progress event;
  - its SQL executions (root, or nested under the root they name) and
    the AQE plan updates each posted;
  - its jobs and their stages, each stage's wait from submit to its
    first task launch, and per task the launch offset from the stage's
    submit, the run time and the closure deserialize time;
  - the part of `triggerExecution` that no task's run covers.
Times are milliseconds from the trigger's start. The first 6 batches
of each query run are printed (every batch with `--all`); the medians
at the end cover every warm data batch (batch id >= 1, rows > 0).
"""
import json
import os
import re
import statistics
import sys
from collections import defaultdict
from datetime import datetime

SQL = "org.apache.spark.sql.execution.ui."
STREAMING = "org.apache.spark.sql.streaming.StreamingQueryListener$"
SHOWN_PER_QUERY = 6


def log_files(path):
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    events = [n for n in names if n.startswith("events_")]
    if events:
        return [os.path.join(path, n) for n in
                sorted(events, key=lambda n: int(n.split("_")[1]))]
    inner = [n for n in names if not n.startswith(".")]
    if len(inner) != 1:
        sys.exit(f"{path}: expected one event log, found {sorted(inner)}")
    return log_files(os.path.join(path, inner[0]))


def epoch_ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def batch_of(description):
    """(runId, batch id) from a streaming job description, or None."""
    m = re.search(r"^runId = (\S+)$.*^batch = (\d+)$", description or "", re.M | re.S)
    return (m.group(1), int(m.group(2))) if m else None


class Batch:
    def __init__(self):
        self.progress = None
        self.executions = []   # SQL execution start events
        self.jobs = []         # job ids


def read(path):
    batches = defaultdict(Batch)
    aqe = defaultdict(int)
    jobs, stages, tasks = {}, {}, defaultdict(list)
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == SQL + "SparkListenerSQLExecutionStart":
                    key = batch_of(e.get("description"))
                    if key:
                        batches[key].executions.append(e)
                elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    aqe[e["executionId"]] += 1
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    run = props.get("spark.jobGroup.id")
                    bid = props.get("streaming.sql.batchId")
                    jobs[e["Job ID"]] = {"submit": e["Submission Time"],
                                         "stages": e["Stage IDs"]}
                    if run is not None and bid is not None:
                        batches[(run, int(bid))].jobs.append(e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    s = e["Stage Info"]
                    stages[s["Stage ID"]] = {"submit": s["Submission Time"],
                                             "tasks": s["Number of Tasks"]}
                elif kind == "SparkListenerTaskEnd":
                    i, m = e["Task Info"], e.get("Task Metrics") or {}
                    tasks[e["Stage ID"]].append({
                        "type": e["Task Type"], "launch": i["Launch Time"],
                        "finish": i["Finish Time"],
                        "run": m.get("Executor Run Time", 0),
                        "deser": m.get("Executor Deserialize Time", 0)})
                elif kind == STREAMING + "QueryProgressEvent":
                    p = e["progress"]
                    batches[(p["runId"], p["batchId"])].progress = p
    return batches, aqe, jobs, stages, tasks


def uncovered(start, end, intervals):
    """Milliseconds of [start, end] that no interval covers."""
    covered, at = 0, start
    for a, b in sorted(intervals):
        a, b = max(a, at), min(b, end)
        if b > a:
            covered += b - a
            at = b
    return (end - start) - covered


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 1:
        sys.exit(__doc__)
    show_all = "--all" in sys.argv
    batches, aqe, jobs, stages, tasks = read(args[0])

    warm = defaultdict(list)
    shown = defaultdict(int)
    done = [(k, b) for k, b in batches.items() if b.progress]
    done.sort(key=lambda kb: epoch_ms(kb[1].progress["timestamp"]))
    for (run, bid), b in done:
        p = b.progress
        t0 = epoch_ms(p["timestamp"])
        d = p["durationMs"]
        rows = p.get("numInputRows", sum(s["numInputRows"] for s in p["sources"]))
        trigger = d.get("triggerExecution", 0)
        stage_ids = [s for j in b.jobs for s in jobs[j]["stages"] if s in stages]
        all_tasks = [t for s in stage_ids for t in tasks[s]]
        idle = uncovered(t0, t0 + trigger, [(t["launch"], t["finish"]) for t in all_tasks])
        n_aqe = sum(aqe[e["executionId"]] for e in b.executions)

        if bid >= 1 and rows > 0:
            warm["trigger ms"].append(trigger)
            for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
                warm[f"{k} ms"].append(d.get(k, 0))
            warm["jobs"].append(len(b.jobs))
            warm["SQL executions"].append(len(b.executions))
            warm["AQE updates"].append(n_aqe)
            warm["ms outside any task"].append(idle)
            for s in stage_ids:
                ts = tasks[s]
                if ts:
                    kind = "map" if ts[0]["type"] == "ShuffleMapTask" else "result"
                    warm[f"{kind} stage submit->launch ms"].append(
                        min(t["launch"] for t in ts) - stages[s]["submit"])
                    warm[f"{kind} task deserialize ms"].extend(t["deser"] for t in ts)
                    warm[f"{kind} task run ms"].extend(t["run"] for t in ts)

        shown[run] += 1
        if not show_all and shown[run] > SHOWN_PER_QUERY:
            continue
        phases = ", ".join(f"{k} {v}" for k, v in sorted(d.items())
                           if k != "triggerExecution" and v)
        print(f"{p['name']} batch {bid}: {rows} rows, trigger {trigger} ms "
              f"({phases}); {idle:.0f} ms outside any task")
        for e in b.executions:
            root = e.get("rootExecutionId", e["executionId"])
            kind = "root" if root == e["executionId"] else f"nested in {root}"
            print(f"  SQL execution {e['executionId']} ({kind}) at "
                  f"+{e['time'] - t0:.0f}, {aqe[e['executionId']]} AQE updates")
        for j in b.jobs:
            job = jobs[j]
            print(f"  job {j} +{job['submit'] - t0:.0f} .. "
                  f"+{job.get('end', job['submit']) - t0:.0f}")
            for s in job["stages"]:
                if s not in stages:
                    continue   # skipped: its map output already exists
                st = stages[s]
                ts = sorted(tasks[s], key=lambda t: t["launch"])
                first = ts[0]["launch"] - st["submit"] if ts else 0
                kind = ts[0]["type"] if ts else "?"
                print(f"    stage {s} ({kind}, {st['tasks']} tasks) submitted "
                      f"+{st['submit'] - t0:.0f}, first launch after {first} ms")
                for t in ts:
                    print(f"      task launch +{t['launch'] - st['submit']}, "
                          f"run {t['run']}, deserialize {t['deser']}")

    print()
    n = len(warm["jobs"])
    print(f"medians over {n} warm data batches (batch id >= 1, rows > 0):")
    for k, xs in warm.items():
        print(f"  {k:32s} {med(xs):8.1f}   (n={len(xs)})")


if __name__ == "__main__":
    main()

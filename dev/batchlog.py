#!/usr/bin/env python3
"""Per-micro-batch breakdown of a Spark event log.

For every streaming micro-batch the log holds, print:
  - its StreamingQueryProgress phases (durationMs: triggerExecution,
    latestOffset, queryPlanning, addBatch, walCommit, commitOffsets);
  - prep: the driver time from the start of the batch's SQL execution
    (which opens the addBatch phase) to the submission of its first job;
  - nested: the part of prep spent inside nested SQL executions, which is
    where a foreachBatch sink plans its own write of the batch;
  - the wall time of each stage the batch ran (submission to completion).
A summary then gives the medians per plan shape (the stateful and
join operators of the batch's plan), so the jobs of a mixed workload
separate without naming them.

Record a log with event logging on and uncompressed; SparkConf reads any
`spark.*` system property, so the program needs no change:

  mkdir -p /tmp/ev
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev" \
    python3 perfbench/run.py --workload job_lifecycle --seed 7 --seconds 14 --trace 0
  python3 dev/batchlog.py /tmp/ev            # newest log in the directory

Batches that read no input rows are left out.

Standard library only.
"""
import json
import os
import re
import statistics
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
PHASES = ("triggerExecution", "latestOffset", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")
# plan nodes that tell the jobs of a workload apart
MARKERS = ("StateStoreSave", "EventTimeWatermark", "StreamingSymmetricHashJoin",
           "StreamingDeduplicate", "FlatMapGroupsWithState", "TransformWithState",
           "SessionWindowStateStoreSave", "BroadcastHashJoin", "MapPartitions")
# the job description a micro-batch runs under: [name]\nid = …\nrunId = …\nbatch = n
BATCH_RE = re.compile(
    r"id = ([0-9a-f-]+)\s*\nrunId = ([0-9a-f-]+)\s*\nbatch = (\d+)")


def log_files(path):
    """The event files of one application: `path` itself, the parts of a
    rolling log directory (`eventlog_v2_<app>/events_<n>_<app>`, Spark 4's
    default) in order, or those of the newest log in a directory."""
    if not os.path.isdir(path):
        return [path]
    names = [f for f in os.listdir(path)
             if not f.startswith(".") and not f.endswith(".crc")]
    parts = [f for f in names if re.match(r"events_\d+_", f)]
    if parts:
        return [os.path.join(path, f) for f in
                sorted(parts, key=lambda f: int(f.split("_")[1]))]
    if not names:
        sys.exit(f"no event log in {path}")
    return log_files(max((os.path.join(path, f) for f in names),
                         key=os.path.getmtime))


def plan_nodes(info):
    stack, names = [info], set()
    while stack:
        n = stack.pop()
        names.add(n.get("nodeName", ""))
        stack.extend(n.get("children", []))
    return names


def events(paths):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a torn last line of an in-progress log


def read(paths):
    execs, jobs, stages, progress = {}, {}, {}, {}
    for e in events(paths):
        kind = e.get("Event")
        if kind == SQL_START:
            execs[e["executionId"]] = {
                "start": e["time"], "end": None,
                "root": e.get("rootExecutionId", e["executionId"]),
                "desc": e.get("description", ""),
                "nodes": plan_nodes(e.get("sparkPlanInfo", {}))}
        elif kind == SQL_END and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "exec": int(eid) if eid is not None else None,
                "stages": e.get("Stage IDs", [])}
        elif kind == "SparkListenerStageCompleted":
            s = e["Stage Info"]
            if "Submission Time" in s and "Completion Time" in s:
                stages[s["Stage ID"]] = (s["Completion Time"]
                                         - s["Submission Time"])
        elif kind == PROGRESS:
            p = e["progress"]
            progress[(p["runId"], p["batchId"])] = p
    return execs, jobs, stages, progress


def batches(execs, jobs, stages, progress):
    jobs_of = {}
    for jid, j in jobs.items():
        if j["exec"] in execs:
            jobs_of.setdefault(execs[j["exec"]]["root"], []).append(jid)
    children = {}
    for eid, x in execs.items():
        if x["root"] != eid:
            children.setdefault(x["root"], []).append(x)
    out = []
    for eid, x in sorted(execs.items()):
        m = BATCH_RE.search(x["desc"] or "")
        if x["root"] != eid or not m:
            continue
        query, run_id, batch = m.group(1), m.group(2), int(m.group(3))
        p = progress.get((run_id, batch))
        js = sorted(jobs_of.get(eid, []), key=lambda j: jobs[j]["submit"])
        first = jobs[js[0]]["submit"] if js else None
        nested = None
        if first is not None:
            nested = sum(max(0, min(c["end"] or first, first) - c["start"])
                         for c in children.get(eid, []))
        shape = "+".join(mk for mk in MARKERS if mk in x["nodes"]) or "stateless"
        out.append({
            "query": query[:8],
            "run": run_id[:8], "batch": batch, "shape": shape,
            # the log's progress JSON carries rows per source only
            "rows": sum(src.get("numInputRows", 0)
                        for src in p.get("sources", [])) if p else None,
            "phases": {k: (p or {}).get("durationMs", {}).get(k)
                       for k in PHASES},
            "prep_ms": first - x["start"] if first is not None else None,
            "nested_ms": nested,
            "jobs": len(js),
            "stages_ms": {sid: stages[sid] for j in js
                          for sid in jobs[j]["stages"] if sid in stages}})
    return out


def fmt(v):
    return "-" if v is None else str(v)


def median(xs):
    xs = [v for v in xs if v is not None]
    return round(statistics.median(xs), 1) if xs else None


def main():
    if len(sys.argv) != 2 or sys.argv[1].startswith("-"):
        sys.exit("usage: batchlog.py <event log file, or a directory "
                 "(newest log)>")
    rows = [b for b in batches(*read(log_files(sys.argv[1])))
            if b["rows"]]
    cols = ("trigger", "latOff", "plan", "addBatch", "wal", "commit")
    print("query    batch   rows " + " ".join(f"{c:>8}" for c in cols) +
          "     prep   nested jobs shape / stages (ms)")
    for b in rows:
        ph = [fmt(b["phases"][k]) for k in PHASES]
        stg = " ".join(f"s{s}:{ms}" for s, ms in b["stages_ms"].items())
        print(f"{b['query']} {b['batch']:5d} {fmt(b['rows']):>6} " +
              " ".join(f"{v:>8}" for v in ph) +
              f" {fmt(b['prep_ms']):>8} {fmt(b['nested_ms']):>8} "
              f"{b['jobs']:4d} {b['shape']} {stg}")
    print("\nmedians per shape (ms)")
    print(f"{'shape':45} {'n':>4} {'trigger':>8} {'addBatch':>8} "
          f"{'prep':>8} {'nested':>8} {'stages':>8}")
    for shape in sorted({b["shape"] for b in rows}):
        bs = [b for b in rows if b["shape"] == shape]
        print(f"{shape:45} {len(bs):4d} "
              f"{fmt(median(b['phases']['triggerExecution'] for b in bs)):>8} "
              f"{fmt(median(b['phases']['addBatch'] for b in bs)):>8} "
              f"{fmt(median(b['prep_ms'] for b in bs)):>8} "
              f"{fmt(median(b['nested_ms'] for b in bs)):>8} "
              f"{fmt(median(sum(b['stages_ms'].values()) for b in bs)):>8}")


if __name__ == "__main__":
    main()

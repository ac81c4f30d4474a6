#!/usr/bin/env python3
"""Per-job timeline of a Spark event log.

One line per job, in submission order: start (seconds after the first
job's submission), duration, the driver gap before the job (the time
since the previous job ended, or since the first submission), the
number of tasks that ran, the SQL execution id, and the call site. A
summary line follows: jobs, tasks, the wall time some job ran (busy),
the summed driver gaps, and the job-busy ratio (busy time over the span
from the first submission to the last completion).

Event logs are turned on with JVM properties only, for example

    java -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev ...

Usage:
    python3 tools/eventlog_jobs.py LOG [--jobs FIRST-LAST] [--grep RE]

LOG is a plain event log, a `.zstd` log (decompressed through the
`zstd` binary), or a rolling-log directory (`eventlog_v2_*`, whose
`events_*` files are read in order). `--jobs` keeps a range of job ids
(one benchmark iteration, say); `--grep` keeps jobs whose call site
matches a regular expression. The summary covers the kept jobs only.
"""
import argparse
import json
import os
import re
import subprocess
import sys


def _lines(path):
    if os.path.isdir(path):
        parts = [os.path.join(path, f) for f in os.listdir(path)
                 if f.startswith("events_")]
        # events_<index>_<appId>[.codec]: order by the rolling index
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        for p in parts:
            yield from _lines(p)
        return
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        yield from out.decode("utf-8").splitlines()
        return
    if re.search(r"\.(lz4|lzf|snappy)$", path):
        sys.exit(f"{path}: only plain and zstd event logs are supported")
    with open(path, encoding="utf-8") as fh:
        yield from fh


def read_jobs(path):
    """Jobs keyed by id: submit/end ms, stage ids, execution id, call site,
    and the number of task ends seen for their stages."""
    jobs, stage_job, tasks = {}, {}, {}
    for line in _lines(path):
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            site = props.get("callSite.short") or (
                stages[-1].get("Stage Name", "") if stages else "")
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid, "submit": ev["Submission Time"], "end": None,
                "exec": props.get("spark.sql.execution.id", ""),
                "site": site, "result": ""}
            for sid in ev.get("Stage IDs") or []:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"]
                j["result"] = (ev.get("Job Result") or {}).get("Result", "")
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is not None:
                tasks[jid] = tasks.get(jid, 0) + 1
    for jid, j in jobs.items():
        j["tasks"] = tasks.get(jid, 0)
    return [jobs[k] for k in sorted(jobs, key=lambda k: (jobs[k]["submit"], k))]


def busy_ms(jobs):
    """Wall time covered by at least one running job."""
    spans = sorted((j["submit"], j["end"]) for j in jobs if j["end"] is not None)
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--jobs", help="FIRST-LAST job ids, inclusive")
    ap.add_argument("--grep")
    a = ap.parse_args()
    jobs = read_jobs(a.log)
    if a.jobs:
        first, last = (int(x) for x in a.jobs.split("-"))
        jobs = [j for j in jobs if first <= j["id"] <= last]
    if a.grep:
        jobs = [j for j in jobs if re.search(a.grep, j["site"])]
    if not jobs:
        print("no jobs")
        return 1
    t0 = jobs[0]["submit"]
    print(f"{'job':>5} {'start_s':>8} {'dur_ms':>7} {'gap_ms':>7} "
          f"{'tasks':>5} {'sql':>5}  call site")
    prev_end, gaps = t0, 0
    for j in jobs:
        dur = "" if j["end"] is None else j["end"] - j["submit"]
        gap = max(0, j["submit"] - prev_end)
        gaps += gap
        if j["end"] is not None:
            prev_end = max(prev_end, j["end"])
        flag = "" if j["result"] in ("", "JobSucceeded") else f"  [{j['result']}]"
        print(f"{j['id']:>5} {(j['submit'] - t0) / 1000:>8.3f} {dur:>7} "
              f"{gap:>7} {j['tasks']:>5} {j['exec']:>5}  {j['site']}{flag}")
    ends = [j["end"] for j in jobs if j["end"] is not None]
    span = (max(ends) - t0) if ends else 0
    busy = busy_ms(jobs)
    ratio = busy / span if span else 0.0
    print(f"jobs={len(jobs)} tasks={sum(j['tasks'] for j in jobs)} "
          f"span_ms={span} busy_ms={busy} gap_ms={gaps} job_busy_ratio={ratio:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

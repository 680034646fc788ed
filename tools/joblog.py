#!/usr/bin/env python3
"""Per-job table of a Spark event log: job id, streaming batch, SQL execution, stages run, tasks run, label.

    python3 tools/joblog.py <event-log> [--jobs FIRST-LAST] [--batch N]

The log is plain JSON lines or `.zstd` (decompressed with the `zstd` CLI).
Capture one without touching code, e.g.
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev"
Stages a job skips (shuffle output reused) run no tasks and are not counted.
A job's label is its `spark.job.description` (the curation chain stamps
`graft.chain <stage>`), else its call site; inside a `foreachBatch` every
call site reads the same, so the description and the SQL execution id are
what tell the jobs of one trigger apart. `--batch N` keeps the jobs of
streaming batch N only, and the totals then sum per label as well.
"""
import argparse
import json
import subprocess
from collections import defaultdict


def events(path):
    if path.endswith(".zstd") or path.endswith(".zst"):
        text = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
    else:
        with open(path, "rb") as f:
            text = f.read()
    return [json.loads(line) for line in text.decode().splitlines() if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--jobs", help="inclusive job id range, e.g. 12-15")
    ap.add_argument("--batch", help="streaming batch id, e.g. 1")
    a = ap.parse_args()
    lo, hi = map(int, a.jobs.split("-")) if a.jobs else (0, 1 << 62)
    jobs, stage_job, tasks = {}, {}, defaultdict(int)
    for e in events(a.log):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos", [])
            site = props.get("callSite.short") or (infos[-1]["Stage Name"] if infos else "")
            jobs[e["Job ID"]] = (props.get("streaming.sql.batchId", "-"),
                                 props.get("spark.sql.execution.id", "-"),
                                 props.get("spark.job.description") or site)
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]] += 1
    per_job = defaultdict(lambda: [0, 0])
    for sid, n in tasks.items():
        if sid in stage_job:
            per_job[stage_job[sid]][0] += 1
            per_job[stage_job[sid]][1] += n
    print(f"{'job':>5} {'batch':>5} {'exec':>5} {'stages':>6} {'tasks':>6}  label")
    shown = [j for j in sorted(jobs) if lo <= j <= hi
             and (a.batch is None or jobs[j][0] == a.batch)]
    for j in shown:
        s, t = per_job[j]
        print(f"{j:>5} {jobs[j][0]:>5} {jobs[j][1]:>5} {s:>6} {t:>6}  {jobs[j][2]}")
    if a.batch is not None:
        by_label = defaultdict(lambda: [0, 0, 0])
        for j in shown:
            by_label[jobs[j][2]][0] += 1
            by_label[jobs[j][2]][1] += per_job[j][0]
            by_label[jobs[j][2]][2] += per_job[j][1]
        print(f"{'jobs':>5} {'':>5} {'':>5} {'stages':>6} {'tasks':>6}  per label")
        for label, (n, s, t) in sorted(by_label.items()):
            print(f"{n:>5} {'':>5} {'':>5} {s:>6} {t:>6}  {label}")
    print(f"{'all':>5} {'':>5} {'':>5} {sum(per_job[j][0] for j in shown):>6} "
          f"{sum(per_job[j][1] for j in shown):>6}  {len(shown)} jobs")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Per-job table of a Spark event log: job id, streaming batch, stages run, tasks run.

    python3 tools/joblog.py <event-log> [--jobs FIRST-LAST]

The log is plain JSON lines or `.zstd` (decompressed with the `zstd` CLI).
Capture one without touching code, e.g.
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev"
Stages a job skips (shuffle output reused) run no tasks and are not counted.
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
    a = ap.parse_args()
    lo, hi = map(int, a.jobs.split("-")) if a.jobs else (0, 1 << 62)
    jobs, stage_job, tasks = {}, {}, defaultdict(int)
    for e in events(a.log):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos", [])
            site = props.get("callSite.short") or (infos[-1]["Stage Name"] if infos else "")
            jobs[e["Job ID"]] = (props.get("streaming.sql.batchId", "-"), site)
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]] += 1
    per_job = defaultdict(lambda: [0, 0])
    for sid, n in tasks.items():
        if sid in stage_job:
            per_job[stage_job[sid]][0] += 1
            per_job[stage_job[sid]][1] += n
    print(f"{'job':>5} {'batch':>5} {'stages':>6} {'tasks':>6}  call site")
    shown = [j for j in sorted(jobs) if lo <= j <= hi]
    for j in shown:
        s, t = per_job[j]
        print(f"{j:>5} {jobs[j][0]:>5} {s:>6} {t:>6}  {jobs[j][1]}")
    print(f"{'all':>5} {'':>5} {sum(per_job[j][0] for j in shown):>6} "
          f"{sum(per_job[j][1] for j in shown):>6}  {len(shown)} jobs")


if __name__ == "__main__":
    main()

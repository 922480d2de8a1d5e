#!/usr/bin/env python3
"""Spark jobs and job time per call of one cold perfbench harness run.

    python3 tools/jobs_by_call.py [--calls q1,q2,...] [--seed N] [--detail]

Runs the perfbench harness (built from this checkout, as
perfbench/run.py builds it) once on a fresh local[4] JVM, with the
given declared queries as a board_cold call list, in order; without
--calls, on perfbench's serve_warm set-up list (plans.SERVE), so the
set-up calls that serve_warm's traces leave out of per_call are
measured. The JVM runs with Spark's event log on
(-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false, the
log written to the run directory; Spark 4 rolls it into event files). The script then reads the log's
SparkListenerJobStart/JobEnd events and prints, per call (job group
pb-<i>), its jobs and the summed job time (submission to completion,
ms); --detail adds one line per job description under each call.
Each call's outputs are checked against perfbench/expected.json as the
benchmark checks them. Nothing under perfbench/ is changed; the run
directory is removed at the end."""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "perfbench"))
from bench import jvm, plans  # noqa: E402

CPUS = 4
TIMEOUT_S = 1800
EVENT_LOG_FLAGS = ["-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false"]


def run_harness(cp, calls, seed, run_dir):
    """One harness JVM over `calls`; returns (its record, event log files)."""
    events = run_dir / "events"
    events.mkdir()
    plan = [("fixture", jvm.BENCH / "fixture"), ("out", run_dir / "out.json"),
            ("cpus", CPUS), ("tmp", run_dir / "tmp"), ("workload", "board_cold"),
            ("seed", seed), ("trace", 0)] + [("call", c) for c in calls]
    plan_file = run_dir / "plan.txt"
    plan_file.write_text("".join(f"{k} {v}\n" for k, v in plan))
    cmd = jvm.java_command(cp, plan_file, run_dir / "tmp", run_dir / "spark-local")
    cmd[1:1] = EVENT_LOG_FLAGS + [f"-Dspark.eventLog.dir={events.as_uri()}"]
    with open(run_dir / "harness.log", "wb") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                            cwd=run_dir, timeout=TIMEOUT_S).returncode
    if rc != 0:
        sys.stderr.write((run_dir / "harness.log").read_text(errors="replace")[-4000:])
        sys.exit(f"harness exited with {rc}")
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    logs = sorted((p for p in events.rglob("events_*") if p.is_file()),
                  key=lambda p: int(p.name.split("_")[1]))
    if not logs:
        sys.exit(f"no event log under {events}")
    return json.loads((run_dir / "out.json").read_text()), logs


def jobs_of(event_logs):
    """{job id: (job group, description, ms)} from an event log's files."""
    start, end = {}, {}
    for path in event_logs:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    start[e["Job ID"]] = (props.get("spark.jobGroup.id"),
                                          props.get("spark.job.description"),
                                          e["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    end[e["Job ID"]] = e["Completion Time"]
    return {j: (g, d, end.get(j, t) - t) for j, (g, d, t) in start.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--calls", help="comma-separated declared queries (default: plans.SERVE)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--detail", action="store_true", help="one line per job description")
    args = ap.parse_args()
    calls = args.calls.split(",") if args.calls else list(plans.SERVE)
    cp = jvm.classpath(jvm.STATE / "build.log")
    run_dir = jvm.STATE / f"jobs-{os.getpid()}-{time.time_ns()}"
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True)
    try:
        rec, logs = run_harness(cp, calls, args.seed, run_dir)
        jobs = jobs_of(logs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected = json.loads((jvm.BENCH / "expected.json").read_text())
    by_call = defaultdict(list)
    for g, d, ms in jobs.values():
        by_call[g].append((d, ms))
    print(f"{'call':<34} {'s':>7} {'jobs':>5} {'job_ms':>8}  check")
    tot_jobs = tot_ms = 0
    for c in rec["calls"]:
        js = by_call.get(f"pb-{c['i']}", [])
        ms = sum(m for _, m in js)
        tot_jobs += len(js)
        tot_ms += ms
        if c["error"]:
            check = "FAIL " + c["error"][:60]
        else:
            check = "ok" if c["digest"] == expected.get(c["name"], {}).get("digest") else "WRONG"
        print(f"{c['name']:<34} {c['t1'] - c['t0']:7.2f} {len(js):5d} {ms:8d}  {check}")
        if args.detail:
            per = defaultdict(lambda: [0, 0])
            for d, m in js:
                per[d][0] += 1
                per[d][1] += m
            for d, (n, m) in sorted(per.items(), key=lambda kv: -kv[1][1]):
                print(f"    {n:4d} {m:8d}  {d}")
    other = sum(1 for g, _, _ in jobs.values() if not (g or "").startswith("pb-"))
    print(f"{'total':<34} {'':>7} {tot_jobs:5d} {tot_ms:8d}  ({other} jobs outside the calls)")


if __name__ == "__main__":
    main()

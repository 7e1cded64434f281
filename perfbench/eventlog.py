"""Parser for an uncompressed Spark event log (JSON lines).

Turns the log of one application into jobs, each with its job group,
wall interval, stages and task totals, and sums those per set of job
groups. A job is a checkpoint job when the SQL execution that launched
it is a ``Dataset.localCheckpoint`` / ``Dataset.checkpoint`` call, the
operations ``operators/ckpt.py`` issues.

Usage: ``python perfbench/eventlog.py <event log file or directory>``
prints the totals over all jobs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

_CKPT_CALLS = (".Dataset.localCheckpoint(", ".Dataset.checkpoint(")


def event_files(path: str) -> list[str]:
    """A plain log file, or a rolling-log directory (events_<n>_<app>)."""
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def parse(path: str) -> dict:
    """Returns {"jobs": [...], "stages": {stage id: {...}}}. Times are
    epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    ckpt_execs: set[str] = set()
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart"):
                    top = ev.get("details", "").split("\n", 1)[0]
                    if any(c in top for c in _CKPT_CALLS):
                        ckpt_execs.add(str(ev["executionId"]))
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job_id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "exec_id": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": [],
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, _new_stage())
                    if sid in stage_job:
                        jobs[stage_job[sid]]["stages"].append(sid)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], _new_stage()), ev)
    for j in jobs.values():
        j["ckpt"] = j["exec_id"] in ckpt_execs
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": sorted(jobs.values(), key=lambda j: j["job_id"]), "stages": stages}


def _new_stage() -> dict:
    return {
        "task_run_ms": [],
        "task_cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "scan_tasks": 0,
    }


def _add_task(st: dict, ev: dict) -> None:
    m = ev.get("Task Metrics")
    if not m:
        return
    st["task_run_ms"].append(m.get("Executor Run Time", 0))
    st["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    inp = m.get("Input Metrics") or {}
    st["input_bytes"] += inp.get("Bytes Read", 0)
    if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
        st["scan_tasks"] += 1


def totals(parsed: dict, groups=None) -> dict:
    """Sums over the jobs whose group is in ``groups`` (all jobs when
    None). ``stage_skew`` is the median, over stages with at least two
    tasks, of max task time / median task time."""
    jobs = [j for j in parsed["jobs"] if groups is None or j["group"] in groups]
    sids = [sid for j in jobs for sid in j["stages"]]
    sts = [parsed["stages"][sid] for sid in sids if sid in parsed["stages"]]
    skews = []
    for st in sts:
        runs = st["task_run_ms"]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    ckpt = [j for j in jobs if j["ckpt"]]
    return {
        "jobs": len(jobs),
        "stages": len(sids),
        "tasks": sum(len(st["task_run_ms"]) for st in sts),
        "task_run_s": sum(sum(st["task_run_ms"]) for st in sts) / 1000.0,
        "task_cpu_s": sum(st["task_cpu_ns"] for st in sts) / 1e9,
        "gc_s": sum(st["gc_ms"] for st in sts) / 1000.0,
        "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
        "shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in sts),
        "spill_bytes": sum(st["spill_bytes"] for st in sts),
        "input_bytes": sum(st["input_bytes"] for st in sts),
        "scan_tasks": sum(st["scan_tasks"] for st in sts),
        "stage_skew": statistics.median(skews) if skews else 1.0,
        "ckpt_jobs": len(ckpt),
        "ckpt_job_s": sum(j["end"] - j["start"] for j in ckpt),
    }


if __name__ == "__main__":
    print(json.dumps(totals(parse(sys.argv[1])), indent=1))

"""Per-op layer figures from a Spark event log.

The traced run switches the event log on (uncompressed, one file). After
the session stops, every job is attributed to the op call whose wall-clock
window contains the job's submission time, and every task to the call
whose window contains its launch time. Windows, not job groups, decide:
jobs that overlay submits from its own threads lose the caller's job
group, which is counted as `ungrouped_jobs`.
"""

from __future__ import annotations

import bisect
import json
from pathlib import Path

MB = 1024 * 1024


def read(events_dir: Path):
    """-> (jobs, tasks). jobs: id -> [submit_ms, end_ms, group];
    tasks: [(launch_ms, cpu_ns, run_ms, gc_ms, shuffle_write_b, spill_b)]."""
    files = [p for p in events_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {len(files)}")
    jobs: dict[int, list] = {}
    tasks = []
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = [ev["Submission Time"], None, group]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append((
                    ev["Task Info"]["Launch Time"],
                    m.get("Executor CPU Time", 0),
                    m.get("Executor Run Time", 0),
                    m.get("JVM GC Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                ))
    return jobs, tasks


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def attribute(calls, jobs, tasks) -> list[dict]:
    """calls: dicts with t0_ms, t2_ms, group (disjoint windows). Returns one
    dict of layer figures per call, in the same order."""
    order = sorted(range(len(calls)), key=lambda i: calls[i]["t0_ms"])
    starts = [calls[i]["t0_ms"] for i in order]

    def owner(ts):
        k = bisect.bisect_right(starts, ts) - 1
        if k >= 0 and ts <= calls[order[k]]["t2_ms"]:
            return order[k]
        return None

    out = [{"jobs": 0, "tasks": 0, "ungrouped_jobs": 0, "exec_cpu_s": 0.0,
            "exec_run_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
           for _ in calls]
    spans = [[] for _ in calls]
    for submit, end, group in jobs.values():
        i = owner(submit)
        if i is None:
            continue
        out[i]["jobs"] += 1
        out[i]["ungrouped_jobs"] += group != calls[i]["group"]
        spans[i].append((submit, end if end is not None else calls[i]["t2_ms"]))
    for launch, cpu_ns, run_ms, gc_ms, sw, spill in tasks:
        i = owner(launch)
        if i is None:
            continue
        o = out[i]
        o["tasks"] += 1
        o["exec_cpu_s"] += cpu_ns / 1e9
        o["exec_run_s"] += run_ms / 1e3
        o["gc_s"] += gc_ms / 1e3
        o["shuffle_write_mb"] += sw / MB
        o["spill_mb"] += spill / MB
    for i, c in enumerate(calls):
        window = c["t2_ms"] - c["t0_ms"]
        out[i]["no_job_s"] = (window - _covered(spans[i], c["t0_ms"], c["t2_ms"])) / 1e3
    return out

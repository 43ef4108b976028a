#!/usr/bin/env python3
"""Benchmark of rayjoin_spark's spatial queries.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Runs one workload (or `all`, each in its own process) as a closed loop with
one client: one driver process on local[4] issues one query at a time.
A run starts a Spark session, builds the inputs SETUPS times (setup_s is the
session start plus their median), runs the workload's untimed warm-up
rounds, then timed rounds until --seconds have passed. Every answer of every round is
checked against closed-form geometry (closedform.py, checks.py).

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics; --trace 1
switches on the Spark event log and reports the per-layer metrics instead
(see README.md). Scratch files live in .perfbench_work/ under the checkout
and are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("queries", "overlay")
ALL_OPS = ("lsi", "pip", "overlay", "nearest", "knn")
OP_LAYER_METRICS = (
    ("wall_s", "s"), ("call_s", "s"), ("plan_s", "s"), ("first_s", "s"),
    ("jobs", "count"), ("tasks", "count"), ("no_job_s", "s"),
    ("exec_cpu_s", "s"), ("exec_run_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("rows", "count"),
    ("ungrouped_jobs", "count"),
)
SETUP_LAYER_METRICS = ("sources.inputs_s", "layers.build_edges_s", "pip.index_build_s")
SETUPS = 2
CPUS = 4
DRIVER_MEMORY = "2g"
#: C1 only. With C2 the compiler threads were still taking two of the four
#: vCPUs a minute into a run, and how much CPU they take from the timed calls
#: differs from run to run; C1 finishes its compiles early (see README.md)
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def start_session(work: Path, trace: bool):
    from rayjoin_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData {JIT_OPTS}"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            # zstd (the default codec) needs a module this host lacks, and
            # Spark 4 rolls event logs into a directory by default
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def drive(spark, workload_cls, seed: int, seconds: float, trace: bool) -> dict:
    sc = spark.sparkContext
    wl = workload_cls(spark, seed)
    setups = []
    for i in range(SETUPS):
        if i:
            spark.catalog.clearCache()
        setups.append(wl.setup())
    wl.expect()

    calls = []

    def one_call(op: str, rep: int, phase: str) -> dict:
        pinned = set(sc._jsc.getPersistentRDDs().keySet())
        group = f"perfbench.{op}.{rep}"
        sc.setJobGroup(group, op)
        t0_ms = time.time() * 1000
        p0 = time.perf_counter()
        frames = wl.call(op, rep)
        p1 = time.perf_counter()
        if trace:
            # plan each frame now: the collect below reuses that plan, so
            # this splits the wall time without adding to it
            for f in frames:
                f._jdf.queryExecution().executedPlan()
        p_plan = time.perf_counter()
        pdfs = [f.toPandas() for f in frames]
        p2 = time.perf_counter()
        t2_ms = time.time() * 1000
        sc.setJobGroup("perfbench.idle", "outside op calls")
        c = {"op": op, "rep": rep, "phase": phase, "group": group,
             "t0_ms": t0_ms, "t2_ms": t2_ms, "wall_s": p2 - p0, "call_s": p1 - p0,
             "plan_s": p_plan - p1}
        c["rows"] = sum(len(p) for p in pdfs)
        c["verdict"] = wl.check(op, rep, pdfs)
        wl.release(op)
        # knn_points persists its corpus and leaves it so; drop whatever
        # the call left persisted, so that every repetition starts alike
        rdds = sc._jsc.getPersistentRDDs()
        for rid in set(rdds.keySet()) - pinned:
            rdds.get(rid).unpersist(False)
        calls.append(c)
        return c

    rep = 0
    rounds = []

    def one_round(phase):
        nonlocal rep
        walls = [one_call(op, rep, phase)["wall_s"] for op in wl.ops]
        rep += 1
        # let Spark's cleaner drop the round's shuffles, broadcasts and
        # checkpoints now rather than during a later timed call
        gc.collect()
        sc._jvm.System.gc()
        if phase == "measured":
            rounds.append(sum(walls))

    for _ in range(wl.warmup_rounds):
        one_round("warm")
    t_start = time.perf_counter()
    while not rounds or time.perf_counter() - t_start < seconds:
        one_round("measured")
    extra = wl.stats() if trace else {}
    return {"workload": wl, "setups": setups, "calls": calls, "rounds": rounds,
            "stats": extra, "peak_rss_mb": peak_rss_mb(spark)}


def layer_metrics(res: dict, session_s: float, events_dir: Path) -> dict:
    import eventlog

    calls = res["calls"]
    figures = eventlog.attribute(calls, *eventlog.read(events_dir))
    for c, f in zip(calls, figures):
        c.update(f)
    out = {}
    for op in ALL_OPS:
        mine = [c for c in calls if c["op"] == op]
        measured = [c for c in mine if c["phase"] == "measured"]
        for name, unit in OP_LAYER_METRICS:
            if name == "first_s":
                v = mine[0]["wall_s"] if mine else 0.0
            else:
                v = _median([c[name] for c in measured])
            out[f"{op}.{name}"] = (v, unit)
    out["session.start_s"] = (session_s, "s")
    for k in SETUP_LAYER_METRICS:
        out[k] = (_median([s.get(k, 0.0) for s in res["setups"]]), "s")
    stats = res["stats"]
    out["lsi.candidates"] = (stats.get("lsi.candidates", 0), "count")
    out["lsi.hit_ratio"] = (stats.get("lsi.hit_ratio", 0.0), "ratio")
    out["trace.query_s"] = (_median(res["rounds"]), "s")
    out["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    return out


def end_to_end_metrics(res: dict, session_s: float) -> dict:
    setup = _median([sum(s.values()) for s in res["setups"]])
    return {
        "setup_s": (session_s + setup, "s"),
        "query_s": (_median(res["rounds"]), "s"),
    }


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS

    work = ROOT / ".perfbench_work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        spark, session_s = start_session(work, trace)
        try:
            res = drive(spark, WORKLOADS[name], seed, seconds, trace)
        finally:
            stop_session(spark)
        if trace:
            metrics = layer_metrics(res, session_s, work / "events")
        else:
            metrics = end_to_end_metrics(res, session_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    calls = res["calls"]
    for c in calls:
        v = c["verdict"]
        if not v.ok:
            print(f"{name} {c['op']} rep {c['rep']}: {v.status.upper()}: {v.detail}")
    for op in res["workload"].ops:
        mine = [c for c in calls if c["op"] == op]
        v = mine[-1]["verdict"]
        print(f"{name} {op} (last rep): {v.status}: {v.detail}")
        walls = [c["wall_s"] for c in mine if c["phase"] == "measured"]
        print(f"{name} {op}: median {_median(walls):.3f} s over {len(walls)} timed reps "
              f"(first call {mine[0]['wall_s']:.3f} s)")
    for k, (v, unit) in metrics.items():
        print(f"{name} {k} = {v:.6g} {unit}")
    attempted = len(calls)
    failed = sum(c["verdict"].status == "fault" for c in calls)
    print(f"{name}: attempted {attempted}, failed {failed}")
    return {
        "correct": not any(c["verdict"].status == "wrong" for c in calls),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


def run_all(args) -> int:
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0:
            print(f"perfbench: workload {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    try:
        sys.path[:0] = [str(HERE), str(ROOT)]
        import rayjoin_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import rayjoin_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

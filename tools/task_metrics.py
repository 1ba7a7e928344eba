"""Event-log task metrics for one registry query at one SF.

The scaling censuses record WALL time; diagnosing a >1.3 exponent
needs the engine's own task metrics — if shuffle bytes scale linearly
while wall time doesn't, the exponent is spill/pressure onset on this
box's fixed heap, not plan growth (the r9 graph-family diagnosis,
SCALE.md round-9). Round 9 gathered these with a throwaway script;
this is the committed version.

Runs the query in ITS OWN SparkSession with spark.eventLog enabled,
then parses SparkListenerTaskEnd events: total shuffle read/write
bytes, memory/disk spill, executor run/CPU time, peak memory. Also
reports ``jit_compile_ms``, the JVM's JIT compile time across the
measured run (CompilationMXBean), which no task metric covers.

Usage:
    python -m tools.task_metrics --sf testdata/sf30z \
        --query neardup_eval_capped [--out FILE.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--per-stage", action="store_true",
        help="also print the top stages by (spill, shuffle write) — "
        "localizes WHICH join/sort a whole-query spill lives in",
    )
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra session conf k=v, repeatable (ADVICE r11: the old "
        "single comma-joined string silently truncated any conf value "
        "containing a comma); a comma-joined list is still accepted "
        "per flag for backward compatibility when no value needs a "
        "comma. Lets a config A/B be judged on engine metrics instead "
        "of wall-clock (round 11: this box's 32-way contention makes "
        "wall ±50% noisy)",
    )
    ap.add_argument(
        "--warmups", type=int, default=0,
        help="run the query N extra times FIRST and report only the "
        "final run's tasks (cold runs fold codegen/broadcast-fetch/"
        "Python-worker boot into executor_run_ms; round-11 measured "
        "multimodal_features run_ms 60.8s cold vs ~2s warm)",
    )
    args = ap.parse_args()

    from data_engineering_course_project_2023_spark.plans import registry
    from data_engineering_course_project_2023_spark.session import get_spark

    extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
    }
    for flag in args.conf:
        # one k=v per flag is the safe form; split a comma-joined flag
        # only when it parses as k=v pairs throughout (legacy form)
        parts = flag.split(",") if all(
            "=" in p for p in flag.split(",")
        ) else [flag]
        for kv in filter(None, parts):
            k, _, v = kv.partition("=")
            extra[k] = v

    evdir = tempfile.mkdtemp(prefix="spark_ev_")
    extra["spark.eventLog.dir"] = "file:" + evdir
    spark = get_spark(
        app_name=f"task_metrics:{args.query}",
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up runs land in stages we exclude below. The boundary is
    # derived from ALL jobs' stage ids via the event log's JobStart
    # events, not statusTracker.getJobIdsForGroup(None) (ADVICE r11:
    # the None group only enumerates group-less jobs, so a caller that
    # sets a job group would leak its warm-up stages into the measured
    # metrics). We mark the warm-ups with a dedicated job group and,
    # after the run, take min_stage = 1 + max stage id of any job whose
    # group property matches.
    _WARM_GROUP = "task_metrics_warmup"
    for _ in range(args.warmups):
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", _WARM_GROUP)
        try:
            registry.run_query(args.query, spark, args.sf).count()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # JIT compile time of the measured run: the JVM's cumulative
    # compiler-thread time, which task metrics and spans never see
    # (with --warmups 0 this is the cold run's compile cost).
    jvm = spark.sparkContext._jvm
    compiler = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    jit0 = compiler.getTotalCompilationTime()
    t0 = time.monotonic()
    n = registry.run_query(args.query, spark, args.sf).count()
    wall = round(time.monotonic() - t0, 3)
    jit_ms = compiler.getTotalCompilationTime() - jit0
    spark.stop()  # flushes the event log

    tot = {
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "memory_spill_bytes": 0,
        "disk_spill_bytes": 0,
        "executor_run_ms": 0,
        "executor_cpu_ms": 0,
        "jit_compile_ms": jit_ms,
        "input_bytes": 0,
        "input_records": 0,
        "tasks": 0,
    }
    # Spark 4 may write a rolling event-log DIRECTORY
    # (eventlog_v2_<app>/events_*) — walk files recursively.
    paths = [
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(evdir)
        for fn in files
        if not fn.startswith("appstatus_")
    ]
    # pass 1: warm-up boundary = 1 + max stage id of any job started
    # under the warm-up job group (stage ids are allocated
    # monotonically and runs are sequential, so every measured stage
    # id is above it).
    min_stage = 0
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerJobStart":
                    continue
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == "task_metrics_warmup":
                    ids = ev.get("Stage IDs") or []
                    min_stage = max(min_stage, max(ids, default=-1) + 1)

    stages: dict = {}
    stage_names: dict = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerStageSubmitted":
                    si = ev.get("Stage Info") or {}
                    stage_names[si.get("Stage ID")] = (
                        si.get("Stage Name", "")[:80]
                    )
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                sid = ev.get("Stage ID")
                if sid is not None and sid < min_stage:
                    continue  # warm-up run's stages
                tot["tasks"] += 1
                st = stages.setdefault(
                    sid, {"spill": 0, "dspill": 0, "sw": 0, "run_ms": 0}
                )
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                im = m.get("Input Metrics") or {}
                # source re-scan detector (round 11): bytes/records the
                # scan stages actually pulled — the ground truth for
                # "does this plan re-read its input N times", which the
                # formatted plan's scan-node count can overstate when
                # runtime exchange reuse kicks in.
                tot["input_bytes"] += int(im.get("Bytes Read", 0))
                tot["input_records"] += int(im.get("Records Read", 0))
                tot["shuffle_read_bytes"] += int(
                    sr.get("Remote Bytes Read", 0)
                ) + int(sr.get("Local Bytes Read", 0))
                wb = int(sw.get("Shuffle Bytes Written", 0))
                tot["shuffle_write_bytes"] += wb
                ms = int(m.get("Memory Bytes Spilled", 0))
                ds = int(m.get("Disk Bytes Spilled", 0))
                rt = int(m.get("Executor Run Time", 0))
                tot["memory_spill_bytes"] += ms
                tot["disk_spill_bytes"] += ds
                tot["executor_run_ms"] += rt
                tot["executor_cpu_ms"] += int(
                    m.get("Executor CPU Time", 0)
                ) // 1_000_000  # ns -> ms
                st["spill"] += ms
                st["dspill"] += ds
                st["sw"] += wb
                st["run_ms"] += rt

    if args.per_stage:
        top = sorted(
            stages.items(),
            key=lambda kv: (kv[1]["spill"], kv[1]["sw"]),
            reverse=True,
        )[:8]
        for sid, st in top:
            print(
                f"  stage {sid}: spill={st['spill']/1e9:.1f}G "
                f"disk={st['dspill']/1e9:.1f}G sw={st['sw']/1e9:.2f}G "
                f"run={st['run_ms']/1000:.0f}s  {stage_names.get(sid, '')}"
            )

    doc = {
        "query": args.query,
        "sf_dir": args.sf,
        "wall_sec": wall,
        "result_rows": int(n),
        **{
            k: (round(v / 1e9, 3) if k.endswith("_bytes") else v)
            for k, v in tot.items()
        },
        "units": "bytes fields are GB (1e9)",
    }
    line = json.dumps(doc)
    print(line)
    if args.out:
        with open(args.out, "a") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()

"""Profile registry queries: plan shape, engine metrics and wall time.

    python -m tools.query_profile --sf testdata/sf0.1 \
        [--queries a,b] [--conf k=v ...] [--warmups N] [--plans DIR] \
        [--out PROFILE.json]

One ``get_spark`` session with the event log on runs every query in
turn: ``--warmups`` runs under job group ``<query>#warmup``, then one
measured run under job group ``<query>``, so the jobs a query runs
while constructing its frame belong to it too. A run builds the
frame and writes it to the ``noop`` sink, an action that reads every
column, so Catalyst cannot prune work whose columns a ``count()``
would not read (a ``count()`` of ``pagerank_trade`` skips all its
rounds); an ``Observation`` on the written frame counts its rows. Per
query the document holds:

- ``wall_s`` (build + write), ``build_s``, ``result_rows`` and
  ``jit_compile_ms`` (JVM JIT compile time across the measured run);
- ``initial`` / ``final``: `metrics.plan_summary` of the frame's
  initial physical plan and of the write's executed final plan;
- from the event log, parsed once after ``spark.stop()``: jobs,
  ``job_descriptions`` (job count per ``spark.job.description``, in
  first-seen order, so a kernel that labels its phases shows which
  branch ran), stages, TaskEnd totals and the top 8 stages by (spill,
  shuffle write) of the measured group; warm-up stages are excluded;
- ``error`` instead of the above when the query raises.

``--plans DIR`` also writes each frame's formatted explain to
``DIR/<query>.txt``. The document is keyed by git SHA and core count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections.abc import Iterable, Iterator

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARMUP = "#warmup"
TOP_STAGES = 8
TASK_TOTALS = (
    "tasks", "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "memory_spill_bytes", "disk_spill_bytes",
    "executor_run_ms", "executor_cpu_ms",
)


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every event-log file under ``log_dir`` (Spark may
    write a rolling log directory), in file-name order."""
    paths = sorted(
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(log_dir)
        for fn in files
        if not fn.startswith("appstatus_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def attribute(events: Iterable[dict]) -> dict[str, dict]:
    """Fold events into per-job-group engine totals. A stage belongs to
    the group of the first job that lists it (a later job lists it again
    only as skipped); TaskEnds of stages no grouped job listed are
    dropped. Each group gets ``jobs``, ``job_descriptions`` (job count
    per job description), ``stages`` (stages that ran tasks), the
    ``TASK_TOTALS`` sums and ``top_stages`` (the same sums per stage,
    for the top 8 by memory spill, then shuffle write)."""
    stage_group: dict[int, str] = {}
    stage_names: dict[int, str] = {}
    groups: dict[str, dict] = {}
    per_stage: dict[str, dict[int, dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            groups.setdefault(g, {"jobs": 0, "job_descriptions": {},
                                  **dict.fromkeys(TASK_TOTALS, 0)})
            groups[g]["jobs"] += 1
            descs = groups[g]["job_descriptions"]
            desc = props.get("spark.job.description", "")
            descs[desc] = descs.get(desc, 0) + 1
            per_stage.setdefault(g, {})
            for sid in ev.get("Stage IDs") or []:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            si = ev.get("Stage Info") or {}
            stage_names[si.get("Stage ID")] = si.get("Stage Name", "")[:80]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            g = stage_group.get(ev.get("Stage ID"))
            if not m or g is None:
                continue
            sr = m.get("Shuffle Read Metrics") or {}
            im = m.get("Input Metrics") or {}
            task = {
                "tasks": 1,
                "input_bytes": im.get("Bytes Read", 0),
                "input_records": im.get("Records Read", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0),
                "memory_spill_bytes": m.get("Memory Bytes Spilled", 0),
                "disk_spill_bytes": m.get("Disk Bytes Spilled", 0),
                "executor_run_ms": m.get("Executor Run Time", 0),
                "executor_cpu_ms": m.get("Executor CPU Time", 0) // 1_000_000,
            }
            st = per_stage[g].setdefault(
                ev["Stage ID"], dict.fromkeys(TASK_TOTALS, 0)
            )
            for k, v in task.items():
                groups[g][k] += v
                st[k] += v

    for g, stages in per_stage.items():
        top = sorted(
            stages.items(),
            key=lambda kv: (kv[1]["memory_spill_bytes"], kv[1]["shuffle_write_bytes"]),
            reverse=True,
        )[:TOP_STAGES]
        groups[g]["stages"] = len(stages)
        groups[g]["top_stages"] = [
            {"stage": sid, "name": stage_names.get(sid, ""), **st} for sid, st in top
        ]
    return groups


class LastPlan:
    """A ``QueryExecutionListener`` (a py4j callback) keeping the
    executed plan of the session's last successful action: a write's
    ``QueryExecution`` is built inside the writer and is not reachable
    from the frame."""

    plan = None

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (JVM name)
        self.plan = qe.executedPlan()

    def onFailure(self, func, qe, exc):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def noop_write(df) -> int:
    """Write ``df`` to the ``noop`` sink (every column is computed) and
    return its row count, observed during the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rows = Observation("profile")
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return rows.get["n"]


def profile_query(spark, name: str, sf: str, warmups: int, plans: str | None,
                  last: LastPlan) -> dict:
    """Warm-ups, then one measured build + noop write of ``name`` under
    its own job group; wall time, rows, JIT time and both plan
    summaries."""
    from data_engineering_course_project_2023_spark.plans import metrics, registry

    sc = spark.sparkContext
    compiler = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    try:
        for _ in range(warmups):
            sc.setJobGroup(name + WARMUP, f"profile: {name} warm-up")
            noop_write(registry.run_query(name, spark, sf))
        sc.setJobGroup(name, f"profile: {name}")
        jit0 = compiler.getTotalCompilationTime()
        t0 = time.perf_counter()
        df = registry.run_query(name, spark, sf)
        t1 = time.perf_counter()
        rows = noop_write(df)
        t2 = time.perf_counter()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # delivers onSuccess
        out = {
            "wall_s": round(t2 - t0, 3),
            "build_s": round(t1 - t0, 3),
            "result_rows": rows,
            "jit_compile_ms": compiler.getTotalCompilationTime() - jit0,
            "initial": metrics.plan_summary(metrics.physical_plan(df)),
            "final": metrics.plan_summary(last.plan),
        }
        if plans:
            mode = sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            with open(os.path.join(plans, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(mode))
        return out
    except Exception as e:  # scale guards etc. — record, keep going
        return {"error": f"{type(e).__name__}: {e}"[:300]}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True, help="scale-factor data directory")
    ap.add_argument("--queries", default="all", help="comma list, or all")
    ap.add_argument("--conf", action="append", default=[],
                    help="session conf k=v, repeatable")
    ap.add_argument("--warmups", type=int, default=0,
                    help="unmeasured runs of each query before its measured run")
    ap.add_argument("--plans", default=None,
                    help="write each query's formatted explain to DIR/<query>.txt")
    ap.add_argument("--out", default=None, help="also write the document here")
    args = ap.parse_args()

    from pyspark.java_gateway import ensure_callback_server_started

    from data_engineering_course_project_2023_spark.plans import registry
    from data_engineering_course_project_2023_spark.session import get_spark

    names = list(registry.REGISTRY) if args.queries == "all" else [
        n for n in args.queries.split(",") if n
    ]
    unknown = [n for n in names if n not in registry.REGISTRY]
    if unknown:
        ap.error(f"not in registry: {unknown}")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    conf = dict(kv.partition("=")[::2] for kv in args.conf)
    log_dir = tempfile.mkdtemp(prefix="spark_profile_ev_")
    spark = get_spark(app_name="profile", extra_conf={
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file:" + log_dir,
    })
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    ensure_callback_server_started(spark.sparkContext._gateway)
    last = LastPlan()
    spark._jsparkSession.listenerManager().register(last)
    queries = {
        n: profile_query(spark, n, args.sf, args.warmups, args.plans, last)
        for n in names
    }
    spark.stop()  # flushes the event log
    try:
        engine = attribute(read_events(log_dir))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for n, q in queries.items():
        if "error" not in q:
            q.update(engine.get(n, {}))

    doc = {
        "git_sha": git_sha(),
        "cores": cores,
        "sf_dir": args.sf,
        "conf": conf,
        "warmups": args.warmups,
        "queries": queries,
    }
    text = json.dumps(doc, indent=1)
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")


if __name__ == "__main__":
    main()

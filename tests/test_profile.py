"""tools/query_profile.py: event-log attribution and an end-to-end run,
and no tool module shadowing a standard-library module."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tools.query_profile import WARMUP, attribute, noop_write

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_tool_module_shadows_the_stdlib():
    """A script run by path puts ``tools/`` first on ``sys.path``, so a
    tool named like a standard-library module would shadow it for
    everything the script imports (``profile`` is imported by pyspark)."""
    names = {
        os.path.splitext(f)[0]
        for f in os.listdir(os.path.join(REPO, "tools"))
        if f.endswith(".py")
    }
    assert not names & sys.stdlib_module_names, names & sys.stdlib_module_names


def _job(job_id, group, stages, desc=None):
    props = {} if group is None else {"spark.jobGroup.id": group}
    if desc is not None:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, records):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Input Metrics": {"Records Read": records,
                                               "Bytes Read": 1},
                             "Executor CPU Time": 2_000_000}}


def test_attribute_assigns_each_task_to_one_group_and_drops_warmups():
    """Each TaskEnd reads a distinct power of two, so a group's
    input_records is the exact set of tasks it received."""
    q, warm = "q", "q" + WARMUP
    tasks = {  # stage -> task count
        0: 2, 1: 1,   # warm-up run of q
        2: 1, 3: 2,   # measured q, job 1
        4: 1,         # measured q, job 2 (re-lists stage 3 as skipped)
        5: 2,         # query r
        6: 1,         # a job outside any group
    }
    events = [
        _job(0, warm, [0, 1]), _job(1, q, [2, 3]), _job(2, q, [3, 4]),
        _job(3, "r", [5]), _job(4, None, [6]),
    ]
    owner = {0: warm, 1: warm, 2: q, 3: q, 4: q, 5: "r", 6: None}
    expect = {warm: 0, q: 0, "r": 0}
    bit = 0
    for stage, n in tasks.items():
        for _ in range(n):
            events.append(_task(stage, 1 << bit))
            if owner[stage] is not None:
                expect[owner[stage]] |= 1 << bit
            bit += 1
    events.append({"Event": "SparkListenerTaskEnd", "Stage ID": 2})  # no metrics

    got = attribute(events)

    assert {g: got[g]["input_records"] for g in expect} == expect
    assert sum(got[g]["tasks"] for g in got) == sum(tasks.values()) - tasks[6]
    assert got[q]["jobs"] == 2 and got[q]["stages"] == 3 and got[q]["tasks"] == 4
    assert got[q]["executor_cpu_ms"] == 8
    assert {s["stage"] for s in got[q]["top_stages"]} == {2, 3, 4}
    assert got[warm]["tasks"] == 3


def test_attribute_lists_job_descriptions_per_group():
    """A group's document counts its jobs per description, in the order
    first seen, so a profile names the phases and branch a kernel ran."""
    events = [
        _job(0, "q", [0], "profile: q"),
        _job(1, "q", [1], "connected_components: edges"),
        _job(2, "q", [2], "connected_components: round 0"),
        _job(3, "q", [3], "connected_components: round 1"),
        _job(4, "q", [4], "profile: q"),
        _job(5, "r", [5], "connected_components: local-finish (n=6)"),
        _job(6, "r", [6]),
    ]
    got = attribute(events)
    assert list(got["q"]["job_descriptions"].items()) == [
        ("profile: q", 2), ("connected_components: edges", 1),
        ("connected_components: round 0", 1),
        ("connected_components: round 1", 1),
    ]
    assert got["r"]["job_descriptions"] == {
        "connected_components: local-finish (n=6)": 1, "": 1,
    }


def test_profile_cli_smoke(tmp_path):
    out = tmp_path / "profile.json"
    queries = ["star_revenue_by_region_year", "copair_components"]
    proc = subprocess.run(
        [sys.executable, "-m", "tools.query_profile", "--sf", SF_SMOKE,
         "--queries", ",".join(queries), "--warmups", "1",
         "--plans", str(tmp_path / "plans"), "--out", str(out)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    doc = json.loads(out.read_text())
    assert set(doc) == {"git_sha", "cores", "sf_dir", "conf", "warmups", "queries"}
    assert doc["warmups"] == 1 and list(doc["queries"]) == queries
    for name in queries:
        q = doc["queries"][name]
        assert "error" not in q, q
        assert q["tasks"] > 0 and q["jobs"] > 0 and q["result_rows"] > 0
        assert (tmp_path / "plans" / f"{name}.txt").exists()
    # the warm-up built the run's co-order graph, so the measured run
    # reads it from memory and finishes its small graph on the driver
    cc = doc["queries"]["copair_components"]["job_descriptions"]
    assert any(d.startswith("connected_components: local-finish") for d in cc), cc
    assert not any(": round " in d for d in cc), cc
    star = doc["queries"]["star_revenue_by_region_year"]["initial"]
    assert star["nodes"]["BroadcastHashJoin"] == 4
    assert star["nodes"]["BroadcastExchange"] == 4
    assert star["nodes"]["Exchange"] == 1
    assert star["scans"]["lineitem"] == 1


def test_noop_write_runs_what_a_count_prunes(spark):
    """The profiled action reads every column. ``pagerank_trade``'s
    last round left-joins its node frame to a per-``dst`` aggregate
    whose columns a ``count()`` never reads, so Catalyst prunes the
    rounds from a count; the ``noop`` write runs them and observes the
    same row count."""
    from data_engineering_course_project_2023_spark.plans import registry

    sc = spark.sparkContext
    df = registry.run_query("pagerank_trade", spark, SF_SMOKE)

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    counted, count_jobs = jobs("profile-count", df.count)
    written, write_jobs = jobs("profile-noop", lambda: noop_write(df))
    assert written == counted > 0
    assert write_jobs > count_jobs

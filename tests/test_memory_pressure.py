"""Memory-pressure resilience pin (VERDICT_r7 #7): the sf1 census OOM
showed the harness had never run memory-constrained (1 GB default
driver heap). This pin runs the heaviest shuffle queries at sf1 in a
SUBPROCESS with a deliberately small heap (SPARK_GRAFT_DRIVER_MEM=4g —
the env knob session.py honors) under the memory-bound ops profile
(local[8]: at a fixed heap, concurrent-task count IS the per-task
memory knob — the local-mode spelling of lowering executor cores),
asserting completion-with-spill rather than OOM. MEASURED while
building this pin (recorded in NOTES.md): at 4g the same set OOMs the
JVM under local[32] — 32 concurrent hash-agg/join tasks' unmanaged
(user-space) allocations exceed the heap before the managed pool's
spill accounting can react, with any memory.fraction. Spill bytes are
parsed from the event log and recorded next to the shuffle budgets."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, "testdata", "sf1")
HEAVY = [
    "fuzzy_part_pairs",
    "part_golden_records",
    "ngram_jaccard",
    "prefix_jaccard",
    "knn_graph",
]

_SCRIPT = r"""
import glob, json, os, sys, tempfile
sys.path.insert(0, %(repo)r)
from data_engineering_course_project_2023_spark.session import get_spark
from data_engineering_course_project_2023_spark.plans import registry

evdir = tempfile.mkdtemp(prefix="mempin_ev")
spark = get_spark(
    app_name="memory_pressure_pin",
    master="local[8]",  # memory-bound profile: fewer concurrent tasks
    extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file:" + evdir,
    },
)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.driver.memory") == "4g"
out = {}
for name in %(names)s:
    n = registry.run_query(name, spark, %(sf)r).count()
    out[name] = {"rows": n}
spark.stop()  # flush the event log
mem = disk = 0
paths = [
    os.path.join(r, fn)
    for r, _, fns in os.walk(evdir)
    for fn in fns
    if "appstatus" not in fn
]
for path in paths:
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            tm = ev.get("Task Metrics")
            if ev.get("Event") == "SparkListenerTaskEnd" and tm:
                mem += tm.get("Memory Bytes Spilled", 0)
                disk += tm.get("Disk Bytes Spilled", 0)
out["_spill"] = {"memoryBytesSpilled": mem, "diskBytesSpilled": disk}
print("MEMPIN " + json.dumps(out))
"""


def test_heavy_queries_complete_in_4g_heap():
    if not os.path.isdir(SF1):
        pytest.skip("self-generated sf1 absent (tools/gen_sf.py)")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="4g")
    script = _SCRIPT % {"names": repr(HEAVY), "sf": SF1, "repo": REPO}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("MEMPIN ")]
    assert line, proc.stdout[-2000:]
    rec = json.loads(line[-1][len("MEMPIN "):])
    for name in HEAVY:
        assert rec[name]["rows"] > 0, rec
    # surfacing, not gating: spill may legitimately be 0 if operators
    # stay inside the squeezed pool — the pin is completion-not-OOM
    print("memory-pressure record:", json.dumps(rec["_spill"]))

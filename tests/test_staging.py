"""stage_parquet contract tests.

Every stage a run writes lives under one run root,
``gettempdir()/spark_graft_stage/<run>``, where ``<run>`` is
``dedup._session_tag``. These tests pin:

1. reuse within a run: the same (name, input files, params) reads the
   existing stage verbatim, and the decision comes from the on-disk
   ``_SUCCESS`` probe; a publish leaves no temp residue;
2. no cross-run reuse: a different run stages afresh under its own root
   and never touches the other run's stage;
3. interleaved params on one stage name keep every stage readable;
4. the per-call re-probe: a stage removed under a live run is restaged,
   and a partial stage left by a crashed writer is replaced;
5. in-memory frames (no input files) get a fresh stage per call, so two
   consumers of one name never delete each other's files;
6. exit cleanup: a process that exits normally removes its run root;
7. crash leaks stay bounded: creating a run root removes sibling roots
   older than ``_DEAD_ROOT_AGE_S`` and leaves fresh ones alone.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest

from data_engineering_course_project_2023_spark.operators import dedup

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id int, txt string"
    )


@pytest.fixture()
def parent(tmp_path, monkeypatch):
    """Point gettempdir() at this test's directory, so its run roots
    are its own."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path / "spark_graft_stage"


def _fp(tmp_path, name="in.parquet"):
    # A stable fake file-identity tuple: identity is what the key
    # hashes, not the frame's real inputs.
    return ((str(tmp_path / name), 123456789, 42),)


def _stages(parent, name="stage"):
    return sorted(
        p for p in glob.glob(str(parent / "*" / f"{name}-*"))
        if not p.endswith(".tmp")
    )


def test_stage_reuse_and_atomic_publish(spark, frame, tmp_path, parent):
    files = _fp(tmp_path)
    out1 = dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    assert out1.count() == 3
    dirs = _stages(parent)
    assert len(dirs) == 1
    assert os.path.dirname(dirs[0]) == str(parent / dedup._session_tag(spark))
    assert os.path.exists(os.path.join(dirs[0], "_SUCCESS"))
    assert not glob.glob(str(parent / "*" / "*.tmp"))
    mtime = os.stat(dirs[0]).st_mtime_ns

    # Same key in the same run: the stage is read, not rewritten.
    out2 = dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    assert out2.count() == 3
    assert os.stat(dirs[0]).st_mtime_ns == mtime


def test_no_cross_run_reuse(spark, frame, tmp_path, parent, monkeypatch):
    """A different run never inherits a finished stage: it pays its own
    staging under its own root, and leaves the first run's alone (the
    two runs may be live at once)."""
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    run1 = _stages(parent)
    assert len(run1) == 1
    mtime1 = os.stat(run1[0]).st_mtime_ns

    monkeypatch.setattr(dedup, "_session_tag", lambda _s: "other-run-42")
    out = dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    assert out.count() == 3
    run2 = _stages(parent)
    assert len(run2) == 2 and run1[0] in run2
    assert any(p.startswith(str(parent / "other-run-42")) for p in run2)
    assert os.stat(run1[0]).st_mtime_ns == mtime1


def test_atexit_cleanup_removes_this_runs_stages(tmp_path):
    """A process that stages a frame and exits normally leaves no run
    root behind: the real exit hook, not a hand call."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from data_engineering_course_project_2023_spark.operators import dedup
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
frame = spark.createDataFrame([(1, "a")], "id int, txt string")
fp = (("/nonexistent/in.parquet", 1, 1),)
assert dedup.stage_parquet(frame, "stage", fp, ("p", 1)).count() == 1
assert dedup.stage_parquet(frame, "mem", (), ("p", 1)).count() == 1
print("ROOT", dedup._run_root(spark))
"""
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        env=env, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    root = out.stdout.split("ROOT ", 1)[1].split()[0]
    assert root.startswith(str(tmp_path / "spark_graft_stage"))
    assert os.path.isdir(tmp_path / "spark_graft_stage")
    assert not os.path.exists(root)


def test_dead_sibling_roots_are_swept(spark, frame, tmp_path, parent):
    """Creating a run root removes sibling roots older than the fixed
    age (runs killed before their exit hook) and keeps fresh ones (runs
    that may still be live)."""
    dead, live = parent / "dead-run", parent / "live-run"
    for d in (dead, live):
        (d / "ngram_shingles-0").mkdir(parents=True)
    old = time.time() - dedup._DEAD_ROOT_AGE_S - 60
    os.utime(dead, (old, old))
    dedup.stage_parquet(frame, "stage", _fp(tmp_path), params=("p", 1))
    assert not dead.exists()
    assert (live / "ngram_shingles-0").is_dir()
    assert len(_stages(parent)) == 1


def test_in_process_siblings_survive_and_stay_readable(
    spark, frame, tmp_path, parent
):
    """Two param sets interleaved on one stage name within one run (the
    registry sweep shape): the first set's stage stays, and a third
    call with the first key reads it verbatim."""
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    p1 = _stages(parent)[0]
    dedup.stage_parquet(frame, "stage", files, params=("p", 2))
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    assert len(_stages(parent)) == 2
    mtime = os.stat(p1).st_mtime_ns
    out = dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    assert out.count() == 3
    assert os.stat(p1).st_mtime_ns == mtime


def test_concurrently_gcd_stage_is_restaged(spark, frame, tmp_path, parent):
    """A stage removed under a live run — or its whole run root — is
    detected by the per-call _SUCCESS probe and rebuilt, never served
    as a dead path."""
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    p1 = _stages(parent)[0]
    shutil.rmtree(p1)
    assert dedup.stage_parquet(frame, "stage", files, params=("p", 1)).count() == 3
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    shutil.rmtree(os.path.dirname(p1))
    assert dedup.stage_parquet(frame, "stage", files, params=("p", 1)).count() == 3
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))


def test_partial_stage_is_replaced(spark, frame, tmp_path, parent):
    files = _fp(tmp_path)
    done = dedup.stage_parquet(frame, "stage", files, params=("p", 1)).count()
    path = _stages(parent)[0]
    # A crashed writer leaves the directory without _SUCCESS: the next
    # call must rebuild, not read the partial or fail the rename forever.
    os.remove(os.path.join(path, "_SUCCESS"))
    out = dedup.stage_parquet(frame, "stage", files, params=("p", 1))
    assert out.count() == done == 3
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


@pytest.mark.parametrize("query", ["neardup_eval", "neardup_eval_capped"])
def test_neardup_eval_on_in_memory_documents_matches_oracle(spark, query):
    """Both eval queries stage the truth and the pred side under one
    shingle stage name. On in-memory documents each stage must be its
    own, or the second write deletes the files the first reader holds."""
    from data_engineering_course_project_2023_spark.plans import llmops, registry
    from tests.parity import compare

    on_disk = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    docs = spark.createDataFrame(on_disk.collect(), on_disk.schema)
    assert docs.inputFiles() == []
    out = getattr(llmops, query)({"documents": docs})
    problems = compare(out, registry.REGISTRY[query].oracle, SF_SMOKE)
    assert not problems, problems

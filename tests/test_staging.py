"""stage_parquet contract tests (ADVICE r10 items 1-4).

The staging layer is load-bearing for the whole capped-similarity
family (shingle/tf stages feed every pair generator), and round 10
showed its failure modes are cross-process and invisible to oracle
parity (a stale or racing stage produces CONFIDENT wrong pair counts).
These tests pin the four hardening properties added in round 11:

1. atomic publish: stages appear via temp-dir + os.rename, so a
   completed stage is never deleted/rewritten in place and a rename
   loser falls back to the winner's identical stage;
2. stale-sibling GC: a fingerprint miss removes prior-RUN `{dir}-*`
   fingerprint dirs (regenerated inputs don't leak unbounded disk) —
   but never dirs staged by THIS process (`_STAGE_LIVE`), because one
   session's registry sweep interleaves param sets on a shared
   stage_dir and re-reads earlier fingerprints (the round-11 inherited
   PATH_NOT_FOUND);
3. format versioning: _STAGE_FORMAT_VERSION participates in the
   fingerprint, so stages written by older staging code are not served
   to newer code;
4. no trust in in-memory state: every call re-probes _SUCCESS, so a
   stage GC'd by a concurrent process is restaged, not served dead.

Round 12 adds the per-RUN isolation property (VERDICT r11 #1): the
stage path embeds the Spark applicationId, so a stage is only ever
reused WITHIN the run that wrote it — a fresh bench/census/driver run
always pays its own staging (no cross-run persisted intermediates),
and sweeps the prior run's directories on first touch.
"""

from __future__ import annotations

import glob
import os

import pytest

from data_engineering_course_project_2023_spark.operators import dedup


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id int, txt string"
    )


@pytest.fixture(autouse=True)
def _preserve_stage_live():
    """These tests clear/mutate the module-global _STAGE_LIVE to
    simulate fresh runs. Snapshot and restore it so stages registered
    by OTHER tests in the same session (e.g. oracle parity's shingle
    stage) keep their atexit-cleanup registration — round 12 found the
    full suite leaking exactly those directories."""
    saved = set(dedup._STAGE_LIVE)
    yield
    dedup._STAGE_LIVE |= saved


def _fp(tmp_path, name="in.parquet"):
    # A stable fake file-identity tuple (the staged frame here is
    # in-memory; identity is what the fingerprint hashes, not reality).
    return ((str(tmp_path / name), 123456789, 42),)


def test_stage_reuse_and_atomic_publish(spark, frame, tmp_path):
    base = str(tmp_path / "stage")
    files = _fp(tmp_path)
    out1 = dedup.stage_parquet(frame, base, files, params=("p", 1))
    assert out1.count() == 3
    dirs = glob.glob(base + "-*")
    assert len(dirs) == 1 and not dirs[0].endswith(".tmp")
    assert os.path.exists(os.path.join(dirs[0], "_SUCCESS"))
    # No temp residue after a successful publish.
    assert not glob.glob(base + "-*.tmp")
    mtime = os.stat(dirs[0]).st_mtime_ns

    # Second call with the same fingerprint IN THE SAME RUN reuses the
    # stage verbatim (no rewrite — the dir's mtime is untouched). The
    # live set is cleared to prove the decision comes from the on-disk
    # _SUCCESS probe, not in-memory state.
    dedup._STAGE_LIVE.clear()
    out2 = dedup.stage_parquet(frame, base, files, params=("p", 1))
    assert out2.count() == 3
    assert os.stat(dirs[0]).st_mtime_ns == mtime


def test_no_cross_run_reuse(spark, frame, tmp_path, monkeypatch):
    """VERDICT r11 #1: a DIFFERENT run (new applicationId) must never
    inherit a prior run's finished stage — it stages afresh under its
    own path, so every bench run pays its own staging cost inside its
    own timed window. It must also never DELETE the other run's
    directory (the two runs may be concurrent — measured this round:
    a parity suite and a bench GC'ing each other's live stages)."""
    base = str(tmp_path / "stage")
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, base, files, params=("p", 1))
    run1 = glob.glob(base + "-*")
    assert len(run1) == 1
    mtime1 = os.stat(run1[0]).st_mtime_ns

    # Same inputs, same params, new run → fresh stage under a new
    # path; the first run's stage is left for ITS atexit cleanup.
    monkeypatch.setattr(dedup, "_session_tag", lambda _s: "other-run-42")
    dedup._STAGE_LIVE.clear()
    out = dedup.stage_parquet(frame, base, files, params=("p", 1))
    assert out.count() == 3
    run2 = sorted(glob.glob(base + "-*"))
    assert len(run2) == 2 and run1[0] in run2
    assert os.stat(run1[0]).st_mtime_ns == mtime1  # untouched


def test_atexit_cleanup_removes_this_runs_stages(spark, frame, tmp_path):
    """Each run removes its own staged directories at interpreter exit
    (the cleanup hook over _STAGE_LIVE) — per-run isolation without
    unbounded /tmp growth across bench/census invocations."""
    base = str(tmp_path / "stage")
    dedup.stage_parquet(frame, base, _fp(tmp_path), params=("p", 1))
    staged = glob.glob(base + "-*")
    assert len(staged) == 1 and staged[0] in dedup._STAGE_LIVE
    # Run the hook over THIS test's stage only: stages that earlier
    # tests registered are still in use and must survive.
    others = dedup._STAGE_LIVE - {staged[0]}
    alive = {p for p in others if os.path.exists(p)}
    dedup._STAGE_LIVE.intersection_update(staged)
    try:
        dedup._cleanup_live_stages()
    finally:
        dedup._STAGE_LIVE.clear()
        dedup._STAGE_LIVE.update(others)
    assert not os.path.exists(staged[0])
    assert all(os.path.exists(p) for p in alive)


def test_fingerprint_miss_gcs_stale_siblings(spark, frame, tmp_path):
    base = str(tmp_path / "stage")
    dedup.stage_parquet(frame, base, _fp(tmp_path), params=("p", 1))
    old = glob.glob(base + "-*")
    assert len(old) == 1
    # A LATER RUN (fresh process → empty live set) with new params →
    # new fingerprint → the prior run's stale dir is removed.
    dedup._STAGE_LIVE.clear()
    dedup.stage_parquet(frame, base, _fp(tmp_path), params=("p", 2))
    now = glob.glob(base + "-*")
    assert len(now) == 1 and now[0] != old[0]


def test_in_process_siblings_survive_and_stay_readable(spark, frame, tmp_path):
    """The round-11 inherited regression: two param sets interleaved on
    one stage_dir within one process (the registry sweep shape). The
    first set's stage must NOT be GC'd by the second's fingerprint
    miss, and a third call re-using the first fingerprint must read it
    verbatim instead of dying on a deleted path."""
    base = str(tmp_path / "stage")
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, base, files, params=("p", 1))
    p1 = glob.glob(base + "-*")[0]
    dedup.stage_parquet(frame, base, files, params=("p", 2))
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))  # not GC'd
    assert len(glob.glob(base + "-*")) == 2
    mtime = os.stat(p1).st_mtime_ns
    out = dedup.stage_parquet(frame, base, files, params=("p", 1))
    assert out.count() == 3
    assert os.stat(p1).st_mtime_ns == mtime  # reused, not rewritten


def test_concurrently_gcd_stage_is_restaged(spark, frame, tmp_path):
    """Property 4: a stage this process already staged but that a
    concurrent process's GC deleted is detected by the per-call
    _SUCCESS probe and rebuilt — never served as a dead path."""
    import shutil

    base = str(tmp_path / "stage")
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, base, files, params=("p", 1))
    p1 = glob.glob(base + "-*")[0]
    shutil.rmtree(p1)  # concurrent process GC'd it
    out = dedup.stage_parquet(frame, base, files, params=("p", 1))
    assert out.count() == 3
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))


def test_partial_stage_is_replaced(spark, frame, tmp_path):
    base = str(tmp_path / "stage")
    files = _fp(tmp_path)
    done_count = dedup.stage_parquet(frame, base, files, params=("p", 1)).count()
    path = glob.glob(base + "-*")[0]
    # Simulate a crashed writer: strip _SUCCESS → partial dir at the
    # exact fingerprint path. The next call must rebuild, not fail the
    # rename forever or read the partial.
    os.remove(os.path.join(path, "_SUCCESS"))
    dedup._STAGE_LIVE.clear()
    out = dedup.stage_parquet(frame, base, files, params=("p", 1))
    assert out.count() == done_count == 3
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_format_version_in_fingerprint(spark, frame, tmp_path, monkeypatch):
    base = str(tmp_path / "stage")
    files = _fp(tmp_path)
    dedup.stage_parquet(frame, base, files, params=("p", 1))
    v1 = glob.glob(base + "-*")
    # A format-version bump ships as new code → new process: model it
    # with a cleared live set so the old-version dir is GC-eligible.
    monkeypatch.setattr(dedup, "_STAGE_FORMAT_VERSION", 999)
    dedup._STAGE_LIVE.clear()
    dedup.stage_parquet(frame, base, files, params=("p", 1))
    v2 = glob.glob(base + "-*")
    # Same inputs+params, bumped version → different path (and the old
    # one was GC'd as stale).
    assert len(v2) == 1 and v2 != v1

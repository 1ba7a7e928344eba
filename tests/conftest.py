from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_course_project_2023_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
# Overridable so the parity suite can sweep a bigger SF than the
# driver's gate (e.g. SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1
# python -m pytest tests/test_oracle_parity.py) — catches tie-break /
# scale-dependent nondeterminism the small SF can't expose.
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registry_sweep(spark):
    """{check: {query: offenders}} from one build of every registry query
    at SF_CORRECT; the whole-registry hygiene tests each assert one check."""
    from .registry_sweep import sweep

    return sweep(spark, SF_CORRECT)


# Self-generated Zipf axis (Heaps-law vocab growth + injected
# near-dups) — the axis every capped-similarity recall pin was measured
# on. It does NOT persist between rounds (only /root/testdata does), and
# round 9 caught its pins silently shrinking their assertion set
# whenever the directory was absent ("measured 46/46" claims drifting
# with no CI signal). This fixture closes that: a missing axis is
# REGENERATED (~40 s, deterministic seed 7 — byte-identical to the one
# the pins were measured on) and a failed generation fails the test
# loudly. Tests must depend on this fixture instead of os.path.isdir.
ZIPF_SF01Z = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "testdata", "sf0.1z",
)


@pytest.fixture(scope="session")
def sf01z_dir():
    if not os.path.isdir(os.path.join(ZIPF_SF01Z)) or not os.path.exists(
        os.path.join(ZIPF_SF01Z, "documents.parquet")
    ):
        import subprocess

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        print(
            f"\n[conftest] sf0.1z absent — regenerating via tools/gen_sf.py "
            f"--sf 0.1 --vocab zipf -> {ZIPF_SF01Z}",
            flush=True,
        )
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "gen_sf.py"),
             "--sf", "0.1", "--vocab", "zipf", "--out", ZIPF_SF01Z],
            cwd=repo, capture_output=True, text=True, timeout=600,
        )
        if proc.returncode != 0:
            pytest.fail(
                "sf0.1z regeneration failed (recall pins cannot run "
                "without their Zipf leg):\n" + proc.stdout + proc.stderr
            )
    return ZIPF_SF01Z

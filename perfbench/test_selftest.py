"""Self-test of the benchmark at toy size (4000 papers, sf0.001).

Run from the repository root:  python3 -m pytest perfbench/test_selftest.py -q

It checks that every metric named in BENCHMARK.json is printed with its
unit, that an injected wrong result is counted as failed, that the
traced runs' span files cover every layer, and that the benchmark
refuses to run without the repository beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("arxiv", "registry_mix")
LAYERS = {
    "session", "sources", "arxiv_clean", "arxiv_enrich", "arxiv_star",
    "arxiv_graph", "orchestrate", "arxiv_analytics", "registry",
    "analytics", "dedup", "relational",
}


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--toy", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    doc_path = lines[-2].rsplit("result document ", 1)[1]
    with open(doc_path) as f:
        return last, json.load(f)


@pytest.fixture(scope="module")
def untraced():
    return {
        w: _result(_run(w, 0, *(("--inject-wrong",) if w == "arxiv" else ())))
        for w in WORKLOADS
    }


@pytest.fixture(scope="module")
def traced():
    return {w: _result(_run(w, 1)) for w in WORKLOADS}


def _check_printed(last: dict, kind: str) -> None:
    units = _declared(kind)
    assert set(last["metrics"]) == set(units)
    for name, unit in units.items():
        m = last["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], (int, float)), name
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["attempted"] >= 1


def test_end_to_end_metrics_printed_with_units(untraced):
    for w, (last, doc) in untraced.items():
        _check_printed(last, "end_to_end")
        assert doc["workload"] == w
        assert doc["host"]["nproc"] >= 1 and doc["host"]["calib_s"] > 0
        assert doc["env"]["SPARK_GRAFT_CPUS"] == str(doc["host"]["nproc"])


def test_per_layer_metrics_printed_with_units(traced):
    for last, _doc in traced.values():
        _check_printed(last, "per_layer")


def test_clean_runs_have_no_failures(untraced, traced):
    last, doc = untraced["registry_mix"]
    assert last["failed"] == 0 and last["correct"], doc["failures"]
    for last, doc in traced.values():
        assert last["failed"] == 0 and last["correct"], doc["failures"]


def test_injected_wrong_result_is_counted(untraced):
    last, doc = untraced["arxiv"]
    assert last["failed"] == 1 and last["correct"] is False
    assert doc["failed_frac"] == 1 / last["attempted"]
    assert "mismatch" in doc["failures"][0]["error"]


def test_spans_cover_every_layer(traced):
    layers, counted = set(), False
    for _last, doc in traced.values():
        with open(doc["spans_file"]) as f:
            spans = [json.loads(line) for line in f]
        layers |= {s["layer"] for s in spans}
        counted |= any(s["counters"]["jobs"] > 0 for s in spans)
        ops = [s for s in spans if s["trace_id"].startswith("op-")]
        assert ops and all(s["end"] >= s["start"] for s in spans)
    assert LAYERS <= layers, LAYERS - layers
    assert counted, "no engine counters were attributed to any span"


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("arxiv", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

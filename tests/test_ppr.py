"""A10b personalized PageRank: restart mass must stay in the seed
nation's reachable neighborhood — suppliers unreachable from the seed
set get NO mass (and are dropped), which is the one behavior global
PageRank cannot exhibit. Oracle parity runs in test_oracle_parity via
the registry; this pins the semantics on a hand-computable fixture,
the empty and seedless graphs against the oracles, and the number of
jobs the shared kernel runs while the frame is built."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineering_course_project_2023_spark.plans import analytics, registry
from tests.parity import compare

_SCHEMAS = {
    "orders": "o_orderkey bigint, o_custkey bigint",
    "lineitem": "l_orderkey bigint, l_suppkey bigint",
    "customer": "c_custkey bigint, c_nationkey bigint",
}


def _rows(orders, lineitem, customer):
    return {"orders": orders, "lineitem": lineitem, "customer": customer}


# cust 1 (nation 7 = the seed nation) orders from supp 11;
# cust 2 (nation 3) orders from supp 12. Disconnected halves.
SEEDED = _rows([(100, 1), (200, 2)], [(100, 11), (200, 12)], [(1, 7), (2, 3)])
# the same graph with no customer in the seed nation
SEEDLESS = _rows([(100, 1), (200, 2)], [(100, 11), (200, 12)], [(1, 3), (2, 3)])
# no orders and no line items: no edges, no nodes
EMPTY = _rows([], [], [(1, 7)])
# test_cluster_ops::test_pagerank_fixed_point_semantics's trade graph
FIXED_POINT = _rows(
    [(100, 1), (200, 2)], [(100, 11), (100, 12), (200, 11)], []
)


def _tables(spark, rows=SEEDED):
    return {
        t: spark.createDataFrame(r, _SCHEMAS[t]) for t, r in rows.items()
    }


def test_mass_stays_in_seed_component(spark):
    out = analytics.ppr_trade(_tables(spark))
    rows = {r["node"]: r for r in out.collect()}
    supp = analytics._SUPP_OFFSET
    # only the seed customer and its supplier carry mass
    assert set(rows) == {1, supp + 11}
    # exact integer trajectory: seed holds base = 15% of 1e12 every
    # round; its sink supplier ends at 85% of that after round 3
    assert rows[1]["ppr_units"] == 150_000_000_000
    assert rows[1]["node_type"] == "customer"
    assert rows[supp + 11]["ppr_units"] == 127_500_000_000
    assert rows[supp + 11]["node_type"] == "supplier"


@pytest.mark.parametrize(
    "query, rows, n",
    [("pagerank_trade", SEEDED, 4), ("ppr_trade", SEEDED, 2),
     ("ppr_trade", SEEDLESS, 0),
     ("pagerank_trade", EMPTY, 0), ("ppr_trade", EMPTY, 0)],
    ids=["pagerank-seeded", "ppr-seeded", "ppr-seedless",
         "pagerank-empty", "ppr-empty"],
)
def test_trade_pagerank_matches_oracle(spark, tmp_path, query, rows, n):
    """Both queries match their DuckDB oracles on the seeded graph, and
    on the graphs with zero seeds: no nation-7 customer for ppr_trade,
    no edges at all for both. With zero seeds the oracle's ``// 0`` is
    NULL and it returns no rows, so the engine must return none
    either."""
    for t, r in rows.items():
        cols = [c.split()[0] for c in _SCHEMAS[t].split(", ")]
        pq.write_table(
            pa.table({
                c: pa.array([x[i] for x in r], pa.int64())
                for i, c in enumerate(cols)
            }),
            str(tmp_path / f"{t}.parquet"),
        )
    df = registry.run_query(query, spark, str(tmp_path))
    problems = compare(df, registry.REGISTRY[query].oracle, str(tmp_path))
    assert not problems, problems
    assert df.count() == n


def _build_jobs(spark, monkeypatch, build, rows, iters):
    """Spark jobs run while ``build`` constructs its frame, before any
    action on it, with the kernel unrolling ``iters`` rounds."""
    monkeypatch.setattr(analytics, "PR_ITERS", iters)
    tables = _tables(spark, rows)
    sc = spark.sparkContext
    group = f"pagerank-build-{build.__name__}-{iters}"
    sc.setJobGroup(group, group)
    try:
        build(tables)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "build, rows, jobs",
    [(analytics.pagerank_trade, FIXED_POINT, 9),
     (analytics.ppr_trade, SEEDED, 11)],
    ids=["pagerank_trade", "ppr_trade"],
)
def test_build_runs_two_checkpoints_and_no_round_jobs(
    spark, monkeypatch, build, rows, jobs
):
    """Building either query runs only the kernel's two checkpoint
    actions (their query stages plus the checkpoints): the seed count
    rides the node checkpoint, so no count() job runs, and the rounds
    unroll into the returned plan, so one more round adds no job.
    Under AQE that is 9 jobs, and 11 for ppr_trade, whose seed join
    adds two; the per-query loops with their own count() ran 15 and
    17."""
    n = analytics.PR_ITERS
    assert _build_jobs(spark, monkeypatch, build, rows, n) == jobs
    assert _build_jobs(spark, monkeypatch, build, rows, n + 1) == jobs

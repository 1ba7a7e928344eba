"""Round-11 analytics-leg pins (VERDICT_r10 #3): the reference's
declared analytical workload (docs/neo4j_analytical_ideas.md) over the
generated arXiv axis, CI-sized (n=4000) through the IDENTICAL census
path (tools/arxiv_census.analytics_leg + duckdb_analytics) the 2.5 M
run uses — so the at-scale invariant spellings can't drift from what
CI checks.

Every invariant is an exact integer: top-k sets are unique via strict
total orders, PageRank is integer-exact (bit-identical to the unrolled
DuckDB twin), communities compare label-free structure through a
python union-find oracle."""

from __future__ import annotations

import os

import pytest

from data_engineering_course_project_2023_spark.plans import pipeline
from tools.arxiv_census import (
    analytics_leg,
    duckdb_analytics,
    _union_find_stats,
)
from tools.gen_arxiv import generate_arxiv

N = 4000


@pytest.fixture(scope="module")
def axis_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("arxiv_ana_axis"))
    generate_arxiv(N, d, seed=13)
    return d


@pytest.fixture(scope="module")
def run_root(spark, axis_dir, tmp_path_factory):
    """Materialized chain run tree — the frames the analytics leg
    reads, built through the same orchestration layer as the census."""
    from data_engineering_course_project_2023_spark.plans import orchestrate

    root = str(tmp_path_factory.mktemp("arxiv_ana_run"))
    sources = {
        t: spark.read.parquet(os.path.join(axis_dir, f"{t}.parquet"))
        for t in pipeline.SOURCES
    }
    orchestrate.run_stages(spark, pipeline.stages(), root, sources)
    return root


def test_analytics_invariants_vs_duckdb(spark, axis_dir, run_root):
    got, secs = analytics_leg(spark, run_root, axis_dir)
    exp = duckdb_analytics(axis_dir)
    assert set(got) == set(exp)
    mismatches = {
        k: (got[k], exp[k]) for k in sorted(got) if got[k] != exp[k]
    }
    assert not mismatches, mismatches
    # the leg is not vacuous at this scale: every family produced work
    assert got["ana_most_cited_sum"] > 0
    assert got["ana_pr_total_units"] > 0
    assert got["ana_comm_n"] > 0
    assert got["ana_inst_pairs"] > 0
    assert got["ana_spec_rows"] > 100
    assert set(secs) == {
        "most_cited", "most_referenced", "pubs_per_year",
        "prolific_authors", "author_specialization", "popular_topics",
        "topic_evolution", "citation_pagerank", "collab_communities",
        "institutional_collab",
    }


@pytest.mark.parametrize("bound", [0, float("inf")])
def test_collab_communities_at_both_bounds(spark, axis_dir, run_root,
                                           monkeypatch, bound):
    """collab_communities on the distributed loop (bound 0) and on the
    driver finish (bound ∞) over the BINARY author keys: each has the
    census twin's component-size structure."""
    from collections import Counter

    from data_engineering_course_project_2023_spark.operators import dedup
    from data_engineering_course_project_2023_spark.plans import (
        arxiv_analytics as A,
    )

    monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", bound)
    collab = spark.read.parquet(os.path.join(run_root, "collab"))
    rows = A.collab_communities(collab).collect()
    sizes = Counter(r["component"] for r in rows).values()
    got = {
        "ana_comm_n": len(sizes),
        "ana_comm_max_size": max(sizes),
        "ana_comm_sizesq_sum": sum(s * s for s in sizes),
    }
    exp = duckdb_analytics(axis_dir)
    assert got == {k: exp[k] for k in got}
    assert got["ana_comm_n"] > 0


def test_union_find_structure():
    """The communities oracle itself: two triangles + an isolated edge
    + a chain — component structure independent of edge order."""
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),          # triangle, size 3
        ("x", "y"),                                  # pair, size 2
        ("p", "q"), ("q", "r"), ("r", "s"),          # chain, size 4
    ]
    expect = {
        "ana_comm_n": 3,
        "ana_comm_max_size": 4,
        "ana_comm_sizesq_sum": 9 + 4 + 16,
    }
    assert _union_find_stats(edges) == expect
    assert _union_find_stats(list(reversed(edges))) == expect


def test_topk_tiebreak_is_total(spark, axis_dir, run_root):
    """most_cited's k-set is unique under citationCount ties: re-running
    with a different shuffle partitioning yields the same digest."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import (
        arxiv_analytics as A,
    )

    enriched = spark.read.parquet(os.path.join(run_root, "enriched"))
    def digest(df):
        return df.agg(
            F.sum(F.regexp_replace("arxiv", r"\.", "").cast("long"))
        ).first()[0]

    d1 = digest(A.most_cited(enriched, 50))
    d2 = digest(A.most_cited(enriched.repartition(7), 50))
    assert d1 == d2

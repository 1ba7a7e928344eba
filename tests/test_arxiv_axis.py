"""Round-9 arXiv-axis pins (VERDICT_r8 #2): the generated corpus +
full-chain invariants, CI-sized (n=4000; the 2.5 M census lives in
tools/arxiv_census.py → BENCH_ARXIV.json / CORRECTNESS_ARXIV.json).

These tests exist so the at-scale census's ground rules can't drift
silently: the generator's edge-row injection (null dois, malformed GMT
dates, duplicate category tokens) and the DuckDB-twin spellings of
silver survivorship and the co-authorship pair multiset are pinned on
a corpus small enough for every CI run."""

from __future__ import annotations

import os

import duckdb
import pytest

from data_engineering_course_project_2023_spark.plans.pipeline import SOURCES
from tools.arxiv_census import _HITS_CTE
from tools.gen_arxiv import generate_arxiv

N = 4000


@pytest.fixture(scope="module")
def axis_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("arxiv_axis"))
    generate_arxiv(N, d, seed=11)
    return d


@pytest.fixture(scope="module")
def duck(axis_dir):
    con = duckdb.connect()
    for t in SOURCES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(axis_dir, t + '.parquet')}'"
        )
    yield con
    con.close()


def test_generator_edge_rows(duck):
    """The FIXTURES.md edge classes exist at every generated scale."""
    n_null_doi = duck.execute(
        "SELECT count(*) FROM arxiv_raw WHERE doi IS NULL"
    ).fetchone()[0]
    assert 0 < n_null_doi < N * 0.2  # scan-predicate drops are real
    n_bad_date = duck.execute(
        "SELECT count(*) FROM arxiv_raw WHERE update_date"
        " NOT SIMILAR TO '[A-Za-z]{3}, .*GMT'"
    ).fetchone()[0]
    assert n_bad_date > 0  # malformed-GMT passthrough path is exercised
    n_dup_cat = duck.execute(
        "SELECT count(*) FROM (SELECT id FROM"
        " (SELECT id, unnest(string_split(categories,' ')) tok FROM arxiv_raw)"
        " GROUP BY id HAVING count(*) > count(DISTINCT tok))"
    ).fetchone()[0]
    assert n_dup_cat > 0  # P5 dedup has work to do
    # fallback-only rows: reachable by doi, not by arxiv id
    n_fb = duck.execute(
        "SELECT count(*) FROM s2_papers WHERE arxiv_id IS NULL"
        " AND s2_doi IS NOT NULL"
    ).fetchone()[0]
    assert n_fb > 0


def test_chain_invariants_vs_duckdb(spark, axis_dir, duck, tmp_path):
    """silver survivorship + enrichment fallback + pair multiset: the
    same three twins the at-scale census checks, end-to-end through
    the stage parquet run_stages materializes."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import (
        orchestrate,
        pipeline,
    )

    sources = {
        t: spark.read.parquet(os.path.join(axis_dir, f"{t}.parquet"))
        for t in SOURCES
    }
    root = str(tmp_path)
    orchestrate.run_stages(spark, pipeline.stages(), root, sources)
    rd = lambda st: spark.read.parquet(os.path.join(root, st))  # noqa: E731

    exp_silver = duck.execute(
        "SELECT count(*) FROM arxiv_raw"
        " WHERE doi IS NOT NULL AND id IS NOT NULL"
    ).fetchone()[0]
    assert rd("silver").count() == exp_silver

    exp_enriched = duck.execute(
        _HITS_CTE + "SELECT count(*) FROM hits"
    ).fetchone()[0]
    assert rd("enriched").count() == exp_enriched

    cnt, wsum, wmax = duck.execute(
        _HITS_CTE + """, pairs AS (
          SELECT x.name AS n1, y.name AS n2, count(*) AS c
          FROM ab x JOIN ab y ON x.pid = y.pid AND x.name < y.name
          GROUP BY 1, 2)
        SELECT count(*), sum(c), max(c) FROM pairs"""
    ).fetchone()
    agg = rd("collab").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("collab_count").alias("s"),
        F.max("collab_count").alias("mx"),
    ).first()
    assert (agg["cnt"], agg["s"], agg["mx"]) == (cnt, wsum, wmax)

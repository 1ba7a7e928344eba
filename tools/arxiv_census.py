"""At-scale census of the reference-parity arXiv chain: runs the
stages of ``plans/pipeline.py`` on a generated arXiv axis
(tools/gen_arxiv.py: Zipf author/category skew and mega-collaboration
papers) through ``orchestrate`` and checks the result against DuckDB.

- **per-stage timing**: incremental :func:`orchestrate.run_stages`
  calls, each building exactly one new stage (earlier stages skip on
  their atomic _SUCCESS markers), so each delta is one stage's wall
  time including its parquet materialization;
- **scheduler leg**: :func:`orchestrate.run_scheduled` builds a second
  logical run date cold under its own ``run=<date>`` subtree, then the
  same trigger re-fires to pin the idempotent skip path;
- **cross-engine value checks**: DuckDB twins recompute the chain
  invariants from the same parquet — silver survivorship (scan
  predicate, utils.py:27), malformed-GMT passthrough
  (databases.py:62-64), category dedup (utils.py:45-46), enrichment
  fallback survivorship (api.py:199-241), AUTHORED_BY edge cardinality
  and the co-authorship pair-weight multiset (count / Σweight / max
  weight / heavy-pair count) under the mega-collab skew.

Artifacts: BENCH_ARXIV.json (stage + scheduler timings, rows, skew
witnesses) and CORRECTNESS_ARXIV.json (named check → match).

Usage:
  python -m tools.arxiv_census --data testdata/arxiv25 \
      --root /tmp/arxiv_runs --out-bench BENCH_ARXIV.json \
      --out-correct CORRECTNESS_ARXIV.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_course_project_2023_spark.plans.analytics import (  # noqa: E402
    PR_ITERS,
    pagerank_ctes,
)
from data_engineering_course_project_2023_spark.plans.pipeline import (  # noqa: E402
    SOURCES as TABLES,
    stages as build_stages,
)

ANCHOR = "2023-01-02"  # weekly anchor, mirrors download_dataset_stage_1.py:24

# ---------------------------------------------------------------------------
# DuckDB twins. `hits` replays the fallback-join survivorship
# (enrich_s2_with_fallback): primary lookup by arxiv id, miss retried by
# doi, both-miss dropped; lookup keys are unique so the left joins do
# not fan out. `ab` is the distinct (paper, author) edge set AUTHORED_BY
# materializes (keyed by the surrogate id engine-side — 1:1 with the
# raw id, so cardinalities and pair weights are representation-free).
# ---------------------------------------------------------------------------
_HITS_CTE = """
WITH kept AS (
  SELECT id, doi, update_date, categories FROM arxiv_raw
  WHERE doi IS NOT NULL AND id IS NOT NULL
),
hits AS (
  SELECT k.id AS arxiv, COALESCE(p1.paperId, p2.paperId) AS pid
  FROM kept k
  LEFT JOIN s2_papers p1 ON k.id = p1.arxiv_id
  LEFT JOIN s2_papers p2 ON k.doi = p2.s2_doi
  WHERE COALESCE(p1.paperId, p2.paperId) IS NOT NULL
),
ab AS (
  SELECT DISTINCT h.pid, a.name
  FROM hits h JOIN s2_authors a ON a.paperId = h.pid
)
"""


def duckdb_checks(data: str) -> dict[str, object]:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'"
        )
    out: dict[str, object] = {}
    out["silver_rows"] = con.execute(
        "SELECT count(*) FROM arxiv_raw"
        " WHERE doi IS NOT NULL AND id IS NOT NULL"
    ).fetchone()[0]
    out["malformed_dates_kept"] = con.execute(
        "SELECT count(*) FROM arxiv_raw"
        " WHERE doi IS NOT NULL AND id IS NOT NULL"
        " AND update_date NOT SIMILAR TO '[A-Za-z]{3}, .*GMT'"
    ).fetchone()[0]
    out["category_token_sum"] = con.execute(
        "SELECT sum(nd) FROM (SELECT count(DISTINCT tok) AS nd"
        " FROM (SELECT id, unnest(string_split(categories, ' ')) AS tok"
        "       FROM arxiv_raw WHERE doi IS NOT NULL AND id IS NOT NULL)"
        " GROUP BY id)"
    ).fetchone()[0]
    out["enriched_rows"] = con.execute(
        _HITS_CTE + "SELECT count(*) FROM hits"
    ).fetchone()[0]
    out["authored_by_edges"] = con.execute(
        _HITS_CTE + "SELECT count(*) FROM ab"
    ).fetchone()[0]
    cnt, s, mx, heavy = con.execute(
        _HITS_CTE
        + """, pairs AS (
  SELECT x.name AS n1, y.name AS n2, count(*) AS c
  FROM ab x JOIN ab y ON x.pid = y.pid AND x.name < y.name
  GROUP BY 1, 2
)
SELECT count(*), sum(c), max(c),
       count(*) FILTER (WHERE c >= 2) FROM pairs"""
    ).fetchone()
    out["collab_pairs"] = cnt
    out["collab_weight_sum"] = s
    out["collab_weight_max"] = mx
    out["collab_heavy_pairs"] = heavy
    # skew witnesses for SCALE.md (not compared — descriptive)
    out["_max_authors_per_paper"] = con.execute(
        "SELECT max(c) FROM (SELECT paperId, count(*) c"
        " FROM s2_authors GROUP BY 1)"
    ).fetchone()[0]
    out["_top_author_papers"] = con.execute(
        "SELECT max(c) FROM (SELECT name, count(DISTINCT paperId) c"
        " FROM s2_authors GROUP BY 1)"
    ).fetchone()[0]
    con.close()
    return out


# ---------------------------------------------------------------------------
# Analytics leg: the reference's declared analytical workload
# (docs/neo4j_analytical_ideas.md:1-21) run on the materialized chain,
# each query reduced to integer invariants that DuckDB twins recompute
# from the same parquet (PageRank: unrolled integer-exact iterations;
# communities: python union-find over the twin's heavy-pair edge list,
# comparing component-size structure only).
# ---------------------------------------------------------------------------

_ANA_BASE = """
WITH kept AS (
  SELECT id, doi, categories FROM arxiv_raw
  WHERE doi IS NOT NULL AND id IS NOT NULL
),
hits AS (
  SELECT k.id AS arxiv, k.doi, k.categories,
         COALESCE(p1.paperId, p2.paperId) AS pid
  FROM kept k
  LEFT JOIN s2_papers p1 ON k.id = p1.arxiv_id
  LEFT JOIN s2_papers p2 ON k.doi = p2.s2_doi
  WHERE COALESCE(p1.paperId, p2.paperId) IS NOT NULL
),
enr AS (
  SELECT h.arxiv, h.doi, h.pid, h.categories, s.year, s.citationCount
  FROM hits h JOIN s2_papers s ON s.paperId = h.pid
),
ab AS (
  SELECT DISTINCT h.pid, a.name
  FROM hits h JOIN s2_authors a ON a.paperId = h.pid
)
"""


def _ana_topics_cte() -> str:
    from data_engineering_course_project_2023_spark.plans.arxiv_clean import (
        _case_prefix,
    )
    return f""", topics AS (
  SELECT pid, year, unnest(list_distinct(list_transform(
    list_distinct(list_filter(string_split(categories, ' '),
                              x -> x <> '')),
    t -> CASE {_case_prefix()} ELSE t END))) AS topic
  FROM enr
)"""


# citation PageRank over in-corpus papers: the analytics.pagerank_ctes
# twin of arxiv_analytics.citation_pagerank
_ANA_PAGERANK = """, pids AS (
  SELECT DISTINCT pid FROM hits
), """ + pagerank_ctes("""
  SELECT DISTINCT c.otherPaperId AS src, c.paperId AS dst
  FROM s2_citations c
  JOIN pids a ON c.otherPaperId = a.pid
  JOIN pids b ON c.paperId = b.pid""")


def _union_find_stats(pairs) -> dict[str, int]:
    """Oracle-side communities: union-find over an edge list, comparing
    STRUCTURE only (labels are representation-dependent: the engine
    canonicalizes by min surrogate key, the twin by min author name)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes: dict = {}
    for x in parent:
        r = find(x)
        sizes[r] = sizes.get(r, 0) + 1
    return {
        "ana_comm_n": len(sizes),
        "ana_comm_max_size": max(sizes.values()) if sizes else 0,
        "ana_comm_sizesq_sum": sum(s * s for s in sizes.values()),
    }


def duckdb_analytics(data: str) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'"
        )
    out: dict[str, int] = {}
    q = lambda sql: con.execute(sql).fetchone()  # noqa: E731

    s, d = q(_ANA_BASE + """
SELECT SUM(citationCount),
       SUM(CAST(replace(arxiv, '.', '') AS BIGINT))
FROM (SELECT arxiv, citationCount FROM enr
      ORDER BY citationCount DESC, arxiv ASC LIMIT 100)""")
    out["ana_most_cited_sum"], out["ana_most_cited_digest"] = s, d

    s, d = q(_ANA_BASE + r""", refs AS (
  SELECT unnest(c."references") AS r
  FROM enr e JOIN crossref c ON e.doi = c.doi
), refcnt AS (
  SELECT r.DOI AS cited_doi, COUNT(*) AS n FROM refs GROUP BY 1
)
SELECT SUM(n),
       SUM(CAST(regexp_extract(cited_doi, 'j\.(\d+)$', 1) AS BIGINT))
FROM (SELECT * FROM refcnt ORDER BY n DESC, cited_doi ASC LIMIT 100)""")
    out["ana_most_ref_sum"], out["ana_most_ref_digest"] = s, d

    y, sq = q(_ANA_BASE + """
SELECT COUNT(*), SUM(n * n)
FROM (SELECT year, COUNT(*) AS n FROM enr GROUP BY 1)""")
    out["ana_trend_years"], out["ana_trend_sumsq"] = y, sq

    s, c = q(_ANA_BASE + """
SELECT SUM(n), MIN(n)
FROM (SELECT name, COUNT(*) AS n FROM ab GROUP BY 1
      ORDER BY n DESC, name ASC LIMIT 100)""")
    out["ana_prolific_sum"], out["ana_prolific_cut"] = s, c

    n, p = q(_ANA_BASE + _ana_topics_cte() + """
, spec AS (
  SELECT name, topic, COUNT(*) AS n
  FROM (SELECT DISTINCT a.name, t.topic, t.pid
        FROM ab a JOIN topics t ON a.pid = t.pid)
  GROUP BY 1, 2
), dom AS (
  SELECT name, topic FROM (
    SELECT name, topic,
           row_number() OVER (PARTITION BY name
                              ORDER BY n DESC, topic ASC) AS rn
    FROM spec) WHERE rn = 1
)
SELECT COUNT(*), COUNT(*) FILTER (WHERE topic = 'Physics') FROM dom""")
    out["ana_spec_rows"], out["ana_spec_physics"] = n, p

    r, mx, s = q(_ANA_BASE + _ana_topics_cte() + """
SELECT COUNT(*), MAX(n), SUM(n)
FROM (SELECT topic, COUNT(*) AS n FROM topics GROUP BY 1)""")
    out["ana_topics_rows"] = r
    out["ana_topics_max"], out["ana_topics_sum"] = mx, s

    p, sq = q(_ANA_BASE + _ana_topics_cte() + """
SELECT COUNT(*), SUM(n * n)
FROM (SELECT year, topic, COUNT(*) AS n FROM topics GROUP BY 1, 2)""")
    out["ana_evo_pairs"], out["ana_evo_sumsq"] = p, sq

    pr_cte = _ANA_BASE + _ANA_PAGERANK
    t, mx = q(pr_cte + f"SELECT SUM(pr), MAX(pr) FROM pr{PR_ITERS}")
    (d,) = q(pr_cte + f"""
SELECT SUM(CAST(substr(node, 3) AS BIGINT))
FROM (SELECT node FROM pr{PR_ITERS}
      ORDER BY pr DESC, node ASC LIMIT 20)""")
    out["ana_pr_total_units"], out["ana_pr_max_units"] = t, mx
    out["ana_pr_top20_digest"] = d

    heavy = con.execute(_ANA_BASE + """
SELECT n1, n2 FROM (
  SELECT x.name AS n1, y.name AS n2, COUNT(*) AS c
  FROM ab x JOIN ab y ON x.pid = y.pid AND x.name < y.name
  GROUP BY 1, 2) WHERE c >= 2""").fetchall()
    out.update(_union_find_stats(heavy))

    n, s, mx = q(_ANA_BASE + """
, pa AS (
  SELECT DISTINCT pid, uni FROM (
    SELECT a.paperId AS pid, unnest(a.affiliations) AS uni
    FROM s2_authors a JOIN (SELECT DISTINCT pid FROM hits) p
      ON a.paperId = p.pid)
), ip AS (
  SELECT x.uni AS u1, y.uni AS u2, COUNT(*) AS c
  FROM pa x JOIN pa y ON x.pid = y.pid AND x.uni < y.uni
  GROUP BY 1, 2
)
SELECT COUNT(*), SUM(c), MAX(c) FROM ip""")
    out["ana_inst_pairs"], out["ana_inst_weight_sum"] = n, s
    out["ana_inst_weight_max"] = mx
    con.close()
    return {k: int(v) for k, v in out.items()}


def analytics_leg(spark, run_root: str, data: str):
    """Run the arxiv_analytics plans against the materialized chain,
    reducing each to the same named invariants the DuckDB twins
    compute. Returns (invariants, per-query seconds)."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import (
        arxiv_analytics as A,
    )

    enriched = spark.read.parquet(os.path.join(run_root, "enriched"))
    collab = spark.read.parquet(os.path.join(run_root, "collab"))
    s2c = spark.read.parquet(os.path.join(data, "s2_citations.parquet"))
    got: dict[str, int] = {}
    secs: dict[str, float] = {}

    def run(name, fn):
        t0 = time.monotonic()
        got.update({k: int(v) for k, v in fn().items()})
        secs[name] = round(time.monotonic() - t0, 3)
        print(f"  analytics {name}: {secs[name]} s", flush=True)

    def _most_cited():
        r = A.most_cited(enriched).agg(
            F.sum("citation_count").alias("s"),
            F.sum(F.regexp_replace("arxiv", r"\.", "").cast("long")).alias("d"),
        ).first()
        return {"ana_most_cited_sum": r["s"], "ana_most_cited_digest": r["d"]}

    def _most_ref():
        r = A.most_referenced(enriched).agg(
            F.sum("n_referencing").alias("s"),
            F.sum(
                F.regexp_extract("cited_doi", r"j\.(\d+)$", 1).cast("long")
            ).alias("d"),
        ).first()
        return {"ana_most_ref_sum": r["s"], "ana_most_ref_digest": r["d"]}

    def _trend():
        r = A.pubs_per_year(enriched).agg(
            F.count(F.lit(1)).alias("y"),
            F.sum(F.col("n_pubs") * F.col("n_pubs")).alias("sq"),
        ).first()
        return {"ana_trend_years": r["y"], "ana_trend_sumsq": r["sq"]}

    def _prolific():
        r = A.prolific_authors(enriched).agg(
            F.sum("n_papers").alias("s"), F.min("n_papers").alias("c")
        ).first()
        return {"ana_prolific_sum": r["s"], "ana_prolific_cut": r["c"]}

    def _spec():
        r = A.author_specialization(enriched).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("specialization") == "Physics").cast("long")
            ).alias("p"),
        ).first()
        return {"ana_spec_rows": r["n"], "ana_spec_physics": r["p"]}

    def _topics():
        r = A.popular_topics(enriched).agg(
            F.count(F.lit(1)).alias("r"),
            F.max("n_pubs").alias("mx"),
            F.sum("n_pubs").alias("s"),
        ).first()
        return {"ana_topics_rows": r["r"], "ana_topics_max": r["mx"],
                "ana_topics_sum": r["s"]}

    def _evo():
        r = A.topic_evolution(enriched).agg(
            F.count(F.lit(1)).alias("p"),
            F.sum(F.col("n_pubs") * F.col("n_pubs")).alias("sq"),
        ).first()
        return {"ana_evo_pairs": r["p"], "ana_evo_sumsq": r["sq"]}

    def _pagerank():
        pr = A.citation_pagerank(enriched, s2c).localCheckpoint()
        r = pr.agg(F.sum("pr_units").alias("t"),
                   F.max("pr_units").alias("mx")).first()
        d = (
            pr.orderBy(F.col("pr_units").desc(), F.col("paper_id").asc())
            .limit(20)
            .agg(F.sum(F.expr(
                "CAST(substring(paper_id, 3) AS BIGINT)")).alias("d"))
            .first()["d"]
        )
        return {"ana_pr_total_units": r["t"], "ana_pr_max_units": r["mx"],
                "ana_pr_top20_digest": d}

    def _communities():
        sizes = (
            A.collab_communities(collab)
            .groupBy("component")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        r = sizes.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("sz").alias("mx"),
            F.sum(F.col("sz") * F.col("sz")).alias("sq"),
        ).first()
        return {"ana_comm_n": r["n"], "ana_comm_max_size": r["mx"],
                "ana_comm_sizesq_sum": r["sq"]}

    def _institutional():
        r = A.institutional_collab_pairs(enriched).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_papers").alias("s"),
            F.max("n_papers").alias("mx"),
        ).first()
        return {"ana_inst_pairs": r["n"], "ana_inst_weight_sum": r["s"],
                "ana_inst_weight_max": r["mx"]}

    run("most_cited", _most_cited)
    run("most_referenced", _most_ref)
    run("pubs_per_year", _trend)
    run("prolific_authors", _prolific)
    run("author_specialization", _spec)
    run("popular_topics", _topics)
    run("topic_evolution", _evo)
    run("citation_pagerank", _pagerank)
    run("collab_communities", _communities)
    run("institutional_collab", _institutional)
    return got, secs


def dwh_load(spark, run_root: str, derby_dir: str,
             land: bool = True) -> dict:
    """Land the gold layer in the serving sink and audit what landed.

    The reference exists to populate a DWH + graph DB
    (populate_DWH.py:25-51 — one INSERT loop per star table;
    databases.py:148-333 — MERGE nodes then CREATE relationships). This
    leg pushes the full star schema (fact + 8 dims), the AUTHORED_BY
    edge frame, and its two endpoint node tables through
    ``writers.write_jdbc`` into embedded Derby (a local stand-in for
    Postgres/Neo4j — the same JDBC writer path, a real transactional
    store, durable on disk), then audits the LANDED tables read back
    over JDBC:

    - row-count parity (written == read back) per table;
    - zero-orphan referential audit on the landed data: every
      authored_by endpoint resolves in its landed node table, every
      snowflaked pid (publish_sn / references / pub_version) resolves
      in landed dim_publication, fact↔dim_publication ids 1:1, and
      every non-null author affiliation key resolves in
      dim_author_affiliation.

    Derby has no ARRAY type, so array columns are serialized
    comma-joined (the same convention the driver-facing queries use
    for array outputs — lossless for the audit keys, which are
    scalars)."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.functions.expr import (
        surrogate_key,
    )
    from data_engineering_course_project_2023_spark.plans import (
        arxiv_graph,
        arxiv_star,
    )
    from data_engineering_course_project_2023_spark.sources.writers import (
        write_jdbc,
    )

    enriched = spark.read.parquet(os.path.join(run_root, "enriched"))
    star = arxiv_star.build_star(enriched)
    nodes = arxiv_graph.build_nodes(enriched)
    edges = arxiv_graph.build_edges(enriched, nodes)
    to_land = {
        **star,
        "graph_author": nodes["Author"],
        "graph_paper": nodes["Paper"],
        "authored_by": edges["AUTHORED_BY"],
    }
    url = f"jdbc:derby:{derby_dir};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    load_secs: dict[str, float] = {}
    written: dict[str, int] = {}
    t_all = time.monotonic()
    for name, frame in to_land.items():
        for fld in frame.schema.fields:
            if fld.dataType.simpleString().startswith("array"):
                frame = frame.withColumn(
                    fld.name, F.concat_ws(",", F.col(fld.name))
                )
        if land:
            t0 = time.monotonic()
            # 4 connections: embedded Derby serializes page latches
            # anyway; against a real warehouse this is the
            # connection-cap knob.
            write_jdbc(frame, name, url, mode="overwrite",
                       batchsize=20_000, num_partitions=4,
                       properties=props)
            load_secs[name] = round(time.monotonic() - t0, 3)
        written[name] = frame.count()
        print(f"  dwh {name}: {written[name]} rows"
              + (f" in {load_secs[name]} s" if land else " (audit-only)"),
              flush=True)
    total = round(time.monotonic() - t_all, 3)

    def rb(table: str):
        # pushDownPredicate=false: the audits are full-scan anti-joins
        # and counts; letting Spark push string-equality filters into
        # Derby trips ERROR 42818 (CLOB vs CHAR comparison — Derby maps
        # StringType columns to CLOB, and pushed literals arrive CHAR).
        return spark.read.format("jdbc").options(
            url=url, dbtable=table, pushDownPredicate="false", **props
        ).load()

    parity = {
        name: {"written": written[name], "read_back": rb(name).count()}
        for name in to_land
    }
    for name, p in parity.items():
        p["match"] = p["written"] == p["read_back"]

    ab = rb("authored_by")
    fact = rb("publication_fact")
    dpub = rb("dim_publication")
    empty_hash = surrogate_key(F.lit(""))
    orphans = {
        "authored_by_paper": ab.join(
            rb("graph_paper").select(F.col("id").alias("paper_id")),
            "paper_id", "left_anti").count(),
        "authored_by_author": ab.join(
            rb("graph_author").select("author_id"),
            "author_id", "left_anti").count(),
        "publish_sn_pid": rb("dim_publish_sn").join(
            dpub.select("pid"), "pid", "left_anti").count(),
        "references_pid": rb("dim_references").join(
            dpub.select("pid"), "pid", "left_anti").count(),
        "pub_version_pid": rb("dim_pub_version").join(
            dpub.select("pid"), "pid", "left_anti").count(),
        "fact_vs_dim_publication": fact.select("id").join(
            dpub.select("id"), "id", "left_anti").count(),
        "dim_publication_vs_fact": dpub.select("id").join(
            fact.select("id"), "id", "left_anti").count(),
        # null affiliation keys as surrogate_key('') by construction — not a
        # dim row; audit only real affiliation keys
        "authors_affiliation": rb("dim_authors")
        .filter(F.col("aff_id") != empty_hash)
        .join(rb("dim_author_affiliation").select("aff_id"),
              "aff_id", "left_anti").count(),
    }
    return {
        "dwh_load_total_sec": total,
        "dwh_load_secs": load_secs,
        "dwh_rows_landed": int(sum(written.values())),
        "dwh_count_parity": parity,
        "dwh_orphans": {k: int(v) for k, v in orphans.items()},
        "dwh_zero_orphans": all(v == 0 for v in orphans.values()),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--root", default="/tmp/arxiv_census_runs")
    ap.add_argument("--out-bench", default="BENCH_ARXIV.json")
    ap.add_argument("--out-correct", default="CORRECTNESS_ARXIV.json")
    ap.add_argument("--keep-root", action="store_true")
    ap.add_argument(
        "--dwh", action="store_true",
        help="after the chain census, land fact + 8 "
        "dims + AUTHORED_BY (+ endpoint node tables) through the JDBC "
        "sink into embedded Derby and run the zero-orphan audit "
        "against the landed tables",
    )
    ap.add_argument(
        "--analytics", action="store_true",
        help="run the reference's declared analytical "
        "workload (neo4j_analytical_ideas.md — most-cited, trends, "
        "prolific, specialization, topics, evolution, citation "
        "PageRank, collab communities, institutional collab) against "
        "the materialized chain, value-checked via DuckDB twins",
    )
    ap.add_argument("--derby-dir", default="/tmp/arxiv_dwh_derby")
    ap.add_argument(
        "--dwh-audit-only", action="store_true",
        help="audit an ALREADY-LANDED derby dir (rerun after an "
        "audit-phase failure without re-inserting 34M rows); written "
        "counts recomputed from the run-tree frames",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import orchestrate
    from data_engineering_course_project_2023_spark.session import get_spark

    spark = get_spark(app_name="arxiv_census")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.keep_root and os.path.exists(args.root):
        shutil.rmtree(args.root)

    sources = {
        t: spark.read.parquet(os.path.join(args.data, f"{t}.parquet"))
        for t in TABLES
    }
    n_papers = sources["arxiv_raw"].count()
    stages = build_stages()

    # ---- per-stage timing: each incremental call builds ONE new stage
    run_root = os.path.join(args.root, f"run={ANCHOR}")
    stage_secs: dict[str, float] = {}
    for i in range(1, len(stages) + 1):
        t0 = time.monotonic()
        orchestrate.run_stages(spark, stages[:i], run_root, sources)
        stage_secs[stages[i - 1].name] = round(time.monotonic() - t0, 3)
        print(f"  stage {stages[i-1].name}: {stage_secs[stages[i-1].name]} s",
              flush=True)

    # ---- scheduler leg: second due run builds cold under its own root
    now = "2023-01-17"  # two weekly runs due; first is pre-built above
    t0 = time.monotonic()
    rep = orchestrate.run_scheduled(
        spark, stages, args.root, ANCHOR, 7, now, lambda _d: sources
    )
    cold = round(time.monotonic() - t0, 3)
    assert rep[ANCHOR]["status"] == "run-skipped", rep[ANCHOR]
    t0 = time.monotonic()
    rep2 = orchestrate.run_scheduled(
        spark, stages, args.root, ANCHOR, 7, now, lambda _d: sources
    )
    skip = round(time.monotonic() - t0, 3)
    assert all(v["status"] == "run-skipped" for v in rep2.values()), rep2

    # ---- Spark-side invariants from the materialized run tree
    rd = lambda st: spark.read.parquet(os.path.join(run_root, st))  # noqa: E731
    silver = rd("silver")
    got: dict[str, object] = {}
    got["silver_rows"] = silver.count()
    got["malformed_dates_kept"] = silver.filter(
        ~F.col("update_date").rlike(r"^\d{4}-")
    ).count()
    got["category_token_sum"] = silver.select(
        F.sum(F.size(F.split("categories", " "))).alias("s")
    ).first()["s"]
    got["enriched_rows"] = rd("enriched").count()
    got["authored_by_edges"] = rd("authored_by").count()
    coll = rd("collab")
    agg = coll.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("collab_count").alias("s"),
        F.max("collab_count").alias("mx"),
        F.sum((F.col("collab_count") >= 2).cast("long")).alias("heavy"),
    ).first()
    got["collab_pairs"] = agg["cnt"]
    got["collab_weight_sum"] = agg["s"]
    got["collab_weight_max"] = agg["mx"]
    got["collab_heavy_pairs"] = agg["heavy"]

    dwh = None
    if args.dwh or args.dwh_audit_only:
        land = not args.dwh_audit_only
        print("landing gold layer in Derby (DWH leg)..." if land
              else "auditing landed Derby DWH...", flush=True)
        if land and os.path.exists(args.derby_dir):
            shutil.rmtree(args.derby_dir)
        dwh = dwh_load(spark, run_root, args.derby_dir, land=land)
        print(json.dumps({k: dwh[k] for k in
                          ("dwh_load_total_sec", "dwh_rows_landed",
                           "dwh_zero_orphans")}), flush=True)

    ana_secs = None
    if args.analytics:
        print("running analytics leg (Spark)...", flush=True)
        ana_got, ana_secs = analytics_leg(spark, run_root, args.data)
        got.update(ana_got)

    print("running DuckDB twins...", flush=True)
    t0 = time.monotonic()
    exp = duckdb_checks(args.data)
    if args.analytics:
        print("running analytics DuckDB twins...", flush=True)
        exp.update(duckdb_analytics(args.data))
    duck_secs = round(time.monotonic() - t0, 3)

    correct = {}
    for k in got:
        correct[k] = {
            "spark": int(got[k]),
            "oracle": int(exp[k]),
            "match": int(got[k]) == int(exp[k]),
        }
    with open(args.out_correct, "w") as f:
        json.dump(correct, f, indent=2)

    bench = {
        "metric": "arxiv_chain_total",
        "value": round(sum(stage_secs.values()), 3),
        "unit": "sec",
        "stages": stage_secs,
        "run_scheduled_cold": cold,
        "run_scheduled_skip": skip,
        "duckdb_twin_secs": duck_secs,
        "n_papers": int(n_papers),
        "rows": {k: int(v["spark"]) for k, v in correct.items()},
        "skew": {
            "max_authors_per_paper": int(exp["_max_authors_per_paper"]),
            "top_author_papers": int(exp["_top_author_papers"]),
        },
        "data": args.data,
    }
    if ana_secs is not None:
        bench["analytics_secs"] = ana_secs
        bench["analytics_total_sec"] = round(sum(ana_secs.values()), 3)
    if dwh is not None:
        bench["dwh"] = dwh
    with open(args.out_bench, "w") as f:
        json.dump(bench, f, indent=2)
    print(json.dumps(bench))
    bad = [k for k, v in correct.items() if not v["match"]]
    if dwh is not None:
        if not dwh["dwh_zero_orphans"]:
            bad.append("dwh_orphans")
        bad.extend(
            f"dwh_parity_{n}" for n, p in dwh["dwh_count_parity"].items()
            if not p["match"]
        )
    print("MISMATCHES:" if bad else "all checks match:", bad or len(correct))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

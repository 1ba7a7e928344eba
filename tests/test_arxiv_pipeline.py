"""Reference-parity semantics tests for the arXiv pipeline (SURVEY §5:
null authors, unparseable dates, unmapped categories, both-null drops,
co-authorship pair semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_course_project_2023_spark.plans import (
    arxiv_clean,
    arxiv_graph,
    arxiv_star,
)

from . import fixtures


def test_clean_semantics(spark):
    out = arxiv_clean.clean_publications(fixtures.arxiv_raw(spark))
    rows = {r["arxiv"]: r for r in out.collect()}

    # scan predicate: doi-null row dropped (utils.py:27)
    assert set(rows) == {"0704.0001", "0704.0002"}

    r1, r2 = rows["0704.0001"], rows["0704.0002"]
    # P5 dedup+sort, P6 remap with pass-through (utils.py:45-62)
    assert r1["categories"] == "cs.AI weird.cat"
    assert r1["general_categories"] == "Computer Science weird.cat"
    # P4: authors split to structs; null → [] (utils.py:75-76)
    assert [a["name"] for a in r1["authors"]] == ["Alice A", "Bob B"]
    assert r2["authors"] == []
    # P7: ISO on success, original verbatim on failure (databases.py:62-64)
    assert r1["update_date"] == "2007-04-02T19:18:42"
    assert r2["update_date"] == "not parseable"
    # P8: whitespace collapse (databases.py:66-74)
    assert r1["comments"] == "a b c"
    # P9: null → Unknown (databases.py:138-141)
    assert r1["license"] == "Unknown" and r1["journal_ref"] == "Unknown"
    # P11: authors_parsed restructuring (databases.py:124-127)
    assert r1["authors_parsed"][0].asDict() == {
        "first_name": "Alice", "last_name": "A",
    }
    # P2: surrogate key deterministic across runs
    out2 = arxiv_clean.clean_publications(fixtures.arxiv_raw(spark))
    assert out2.filter(F.col("arxiv") == "0704.0001").first()["id"] == r1["id"]


def test_star_schema(spark):
    star = arxiv_star.build_star(fixtures.enriched(spark))
    assert set(star) == {
        "publication_fact", "dim_author_affiliation", "dim_authors",
        "dim_publication", "dim_publish_sn", "dim_license", "dim_publisher",
        "dim_references", "dim_pub_version",
    }
    # fact: one row per publication
    assert star["publication_fact"].count() == 2
    # publisher dedup across papers (N5)
    assert star["dim_publisher"].count() == 1
    # authors deduped by (name, affiliation)
    authors = star["dim_authors"].collect()
    assert len(authors) == 3  # Alice, Bob, Dana
    # bridge tables explode correctly (N2/N4)
    assert star["dim_references"].count() == 2
    assert star["dim_publish_sn"].count() == 1
    # version date parsed (P7 path inside dim build)
    v = star["dim_pub_version"].first()
    assert v["vid"] == "v1" and v["created_time"] is not None
    # FK integrity: every dim_publication.id exists in fact
    fact_ids = {r["id"] for r in star["publication_fact"].collect()}
    pub_ids = {r["id"] for r in star["dim_publication"].collect()}
    assert pub_ids <= fact_ids


def test_graph_and_collaboration(spark):
    e = fixtures.enriched(spark)
    nodes = arxiv_graph.build_nodes(e)
    edges = arxiv_graph.build_edges(e, nodes)
    # entity dedup: Alice appears on both papers but is ONE node (N5)
    assert nodes["Author"].count() == 3
    # AUTHORED_BY: 2 + 2 edges
    assert edges["AUTHORED_BY"].count() == 4
    # J4 canonical pairs: (Alice,Bob) from P1, (Alice,Dana) from P2 —
    # self-pairs excluded, pair key ordered
    collab = arxiv_graph.collaboration_graph(edges["AUTHORED_BY"]).collect()
    assert len(collab) == 2
    assert all(r["author_a"] < r["author_b"] for r in collab)
    assert all(r["collab_count"] == 1 for r in collab)


def test_enrichment_fallback_and_fanout(spark):
    from data_engineering_course_project_2023_spark.plans import arxiv_enrich

    silver = spark.createDataFrame(
        [("k1", "A1", "d1"), ("k2", "A2", "d2"), ("k3", "A3", None)],
        "id string, arxiv string, doi string",
    )
    s2 = spark.createDataFrame(
        [
            ("p1", "A1", None, "t1", 2000),     # hit by arxiv
            ("p2", "zz", "d2", "t2", 2001),     # hit only via doi fallback
        ],
        "paperId string, arxiv_id string, s2_doi string, s2_title string, year int",
    ).selectExpr(
        "paperId", "arxiv_id", "s2_doi", "s2_title", "'v' AS venue", "year",
        "0 AS referenceCount", "0 AS citationCount",
        "0 AS influentialCitationCount", "true AS isOpenAccess",
        "named_struct('name','j','volume','1','pages','1') AS journal",
        "'2001-01-01' AS publicationDate",
    )
    out = arxiv_enrich.enrich_s2_with_fallback(silver, s2)
    got = {r["arxiv"]: r["paperId"] for r in out.collect()}
    # k1 via primary, k2 via fallback, k3 dropped (J6+J9)
    assert got == {"A1": "p1", "A2": "p2"}


def test_full_pipeline_composition(spark, tmp_path):
    """Stage 2→6 from a JSONL file on disk: the package's stage list
    materialized by run_stages, bronze scan included."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import (
        orchestrate,
        pipeline,
    )
    from data_engineering_course_project_2023_spark.schemas import ARXIV_RAW
    from data_engineering_course_project_2023_spark.sources.readers import read_jsonl
    from data_engineering_course_project_2023_spark.sources.writers import write_jsonl

    raw = fixtures.arxiv_raw(spark)
    path = str(tmp_path / "bronze")
    write_jsonl(raw, path)

    e = fixtures.enriched(spark)
    crossref = e.select(
        "doi", "publisher", F.col("type"), F.col("issue"),
        F.lit(5).alias("score"), "license_start", "license_url",
        "license_content_version", "license_delay", "journal_name",
        F.col("article_number"), F.col("language"),
        F.col("short_container_title"), F.col("container_title"),
        F.col("is_referenced_by_count"), F.col("deposited"),
        "ISSN_type", "references",
    )
    s2 = e.select(
        F.concat(F.lit("p-"), "arxiv").alias("paperId"),
        F.col("arxiv").alias("arxiv_id"), F.col("doi").alias("s2_doi"),
        F.col("title").alias("s2_title"), F.lit("v").alias("venue"),
        F.lit(2007).alias("year"), "referenceCount", "citationCount",
        "influentialCitationCount", F.lit(True).alias("isOpenAccess"),
        F.named_struct(
            F.lit("name"), F.col("journal_name"),
            F.lit("volume"), F.lit("1"), F.lit("pages"), F.lit("1"),
        ).alias("journal"),
        F.lit("2007-04-02").alias("publicationDate"),
    )
    s2a = e.select(
        F.concat(F.lit("p-"), "arxiv").alias("paperId"),
        F.explode("s2_authors_data").alias("a"),
    ).select(
        "paperId", F.col("a.name").alias("name"),
        F.col("a.affiliations").alias("affiliations"),
    )
    empty_rel = spark.createDataFrame(
        [], "paperId string, otherPaperId string"
    )
    sources = {
        # stage-2 entry like the reference: scan + scan-time predicate
        # on doi/id (utils.py:27)
        "arxiv_raw": read_jsonl(
            spark, path, ARXIV_RAW, required_non_null=["doi", "id"]
        ),
        "crossref": crossref, "s2_papers": s2, "s2_authors": s2a,
        "s2_citations": empty_rel, "s2_references": empty_rel,
    }
    root = str(tmp_path / "run")
    orchestrate.run_stages(spark, pipeline.stages(), root, sources)

    def rd(stage):
        return spark.read.parquet(f"{root}/{stage}")

    # bronze had 3 rows; 1 dropped by scan predicate → 2 silver rows
    assert rd("silver").count() == 2
    # both silver rows enrich (arxiv ids match)
    assert rd("enriched").count() == 2
    fact = rd("star_fact")
    assert fact.count() == 2
    assert set(fact.columns) == {
        "id", "reference_count", "score", "doi", "start_date",
    }
    # S2 authors: (Alice, Bob) on P1 and (Alice, Dana) on P2 — one
    # canonical pair per paper
    assert rd("collab").count() == 2

"""Gold property graph (SURVEY §7 step 5): the reference's Neo4j layer
(``/root/reference/src/utils/databases.py:148-333``) as node + edge
DataFrames, and the analytical queries that layer served
(``docs/neo4j_analytical_ideas.md``) as DataFrame aggregations.

Graph-as-frames: each node label is a DataFrame keyed by a deterministic
id; each relationship is an edge frame (src, dst, props). Cypher MATCH +
CREATE pairs (J1–J3) are equi-joins; the collaboration graph (J4) comes
from the pair kernel (``analytics.pair_stream``). At scale this is the
GraphFrames layout — no graph database, no Bolt bottleneck,
partition-parallel bulk load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import surrogate_key
from .analytics import pair_stream


def build_nodes(enriched: DataFrame) -> dict[str, DataFrame]:
    """Node frames per label (databases.py:149-273: Paper, Author,
    Journal, License, Reference, Version, ISSN, PublicationMetrics…)."""
    papers = enriched.select(
        F.col("id"), "arxiv", "doi", "title", "general_categories"
    )
    authors = (
        enriched.select(F.explode_outer("s2_authors_data").alias("a"))
        .select(F.col("a.name").alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        # N5: first-seen UUID per name → deterministic md5 key
        .select(surrogate_key("name").alias("author_id"), "name")
    )
    journals = (
        enriched.select(F.col("journal_name").alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        .select(surrogate_key("name").alias("journal_id"), "name")
    )
    metrics = enriched.select(
        F.col("doi"),
        F.col("citationCount"),
        F.col("influentialCitationCount"),
        F.col("referenceCount"),
    ).filter(F.col("doi").isNotNull())
    return {
        "Paper": papers,
        "Author": authors,
        "Journal": journals,
        "PublicationMetrics": metrics,
    }


def authored_by(enriched: DataFrame) -> DataFrame:
    """J1 AUTHORED_BY edges (paper_id, author_id), distinct. The author
    key is ``surrogate_key(name)`` computed on the exploded row, the
    same key ``build_nodes``' Author table holds, so no join against
    that table is needed (10k-paper census stage: 3 jobs, 5 joined)."""
    return (
        enriched.select("id", F.explode_outer("s2_authors_data").alias("a"))
        .select("id", F.col("a.name").alias("name"))
        .filter(F.col("name").isNotNull())
        .select(
            F.col("id").alias("paper_id"),
            surrogate_key("name").alias("author_id"),
        )
        .distinct()
    )


def build_edges(enriched: DataFrame, nodes: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Edge frames (databases.py:275-332). J1: :func:`authored_by`;
    J2: paper → cited doi; J3: metrics↔paper on doi."""
    has_reference = (
        enriched.select("id", F.explode_outer("references").alias("r"))
        .filter(F.col("r").isNotNull())
        .select(
            F.col("id").alias("paper_id"), F.col("r.DOI").alias("cited_doi")
        )
    )
    based_on = (
        nodes["PublicationMetrics"]
        .select("doi")
        .join(enriched.select("id", "doi"), "doi")
        .select(F.col("doi"), F.col("id").alias("paper_id"))
    )
    return {
        "AUTHORED_BY": authored_by(enriched),
        "HAS_REFERENCE": has_reference,
        "BASED_ON_PUBLICATION": based_on,
    }


def collaboration_graph(authored_by: DataFrame) -> DataFrame:
    """J4 (create_collaboration_graph.cql:1-5): co-authorship pair
    weights. Cypher MERGE accumulates directed edges both ways; the
    engine's defined semantics is the canonical undirected pair
    (author_a < author_b — SURVEY §4.4), self-pairs excluded.

    Scale: the pair kernel shuffles AUTHORED_BY once into per-paper
    author sets and expands the pairs map-side, one row per pair and
    never an array of a paper's pairs (a 1,200-author paper has 7.2e5);
    the quadratic fan-out per paper stays the skew point.
    """
    return (
        pair_stream(authored_by, ["paper_id"], "author_id", "author_a", "author_b")
        .groupBy("author_a", "author_b")
        .agg(F.count(F.lit(1)).alias("collab_count"))
    )

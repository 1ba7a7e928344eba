"""The reference's declared analytical workload, run on the built gold
layer (``/root/reference/docs/neo4j_analytical_ideas.md:1-21``): every
bullet of that ideas doc — most-influential publications, publication
trends, prolific authors, author specialization, popular topics, topic
evolution, citation network (PageRank), collaboration communities, and
institutional collaboration — as DataFrame plans over the chain's
materialized frames (enriched / collab), not Cypher over Bolt.

These are the queries a reference user runs FIRST after loading the
DWH, so they are the at-scale census's analytics leg
(``tools/arxiv_census.py --analytics``): each runs against the
2.5 M-paper arXiv axis — real Zipf author skew (top author ~147 k
papers) and mega-collaboration fan-out — with DuckDB twins value-
checking engine-representation-free invariants.

Determinism contract: every top-k has a strict total order (metric
DESC, key ASC) so the selected SET is unique cross-engine; PageRank
holds rank mass in integer units (``analytics.integer_pagerank``) so
iterative sums are bit-identical under any partitioning; community checks compare only
label-free structure (component count / sizes), never label values,
because min-label canonicalization differs between the engine's
surrogate keys and the oracle's author names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import connected_components
from .analytics import integer_pagerank, pair_stream
from .arxiv_clean import general_category_expr


def _general_topics(enriched: DataFrame) -> F.Column:
    """Per-paper distinct general-topic array, re-derived from the
    cleaned token string (``categories`` is dedup-sorted and
    space-free per token, so the split is unambiguous — the
    space-JOINED ``general_categories`` string is not, because group
    names contain spaces)."""
    return general_category_expr(F.split(F.col("categories"), " "))


def most_cited(enriched: DataFrame, k: int = 100) -> DataFrame:
    """Most Influential Publications (neo4j_analytical_ideas.md §2):
    top-k papers by S2 citationCount; ties broken by arxiv id so the
    k-set is unique. TakeOrdered — no full sort, no shuffle of the
    fact table."""
    return (
        enriched.select("arxiv", F.col("citationCount").alias("citation_count"))
        .orderBy(F.col("citation_count").desc(), F.col("arxiv").asc())
        .limit(k)
    )


def most_referenced(enriched: DataFrame, k: int = 100) -> DataFrame:
    """Most-referenced publications (ideas doc §2: 'counting how many
    times each publication is referenced by others'): in-degree over
    the HAS_REFERENCE edge list (CrossRef references fan-out). Raw
    occurrence count — a paper listing the same DOI twice contributes
    two references, matching the edge-table cardinality."""
    return (
        enriched.select(F.explode_outer("references").alias("r"))
        .filter(F.col("r").isNotNull())
        .groupBy(F.col("r.DOI").alias("cited_doi"))
        .agg(F.count(F.lit(1)).alias("n_referencing"))
        .orderBy(F.col("n_referencing").desc(), F.col("cited_doi").asc())
        .limit(k)
    )


def pubs_per_year(enriched: DataFrame) -> DataFrame:
    """Publication Trends Over Time (ideas doc §2): publications per
    S2 year. One partial-agg shuffle on a ~16-value key."""
    return (
        enriched.groupBy("year")
        .agg(F.count(F.lit(1)).alias("n_pubs"))
        .orderBy("year")
    )


def _paper_authors(enriched: DataFrame) -> DataFrame:
    """Distinct (id, name) pairs — the AUTHORED_BY cardinality
    (``arxiv_graph.build_edges``), spelled directly from the enriched
    fan-out column so the analytics leg needs only the enriched
    frame."""
    return (
        enriched.select("id", F.explode("s2_authors_data").alias("a"))
        .select("id", F.col("a.name").alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
    )


def prolific_authors(enriched: DataFrame, k: int = 100) -> DataFrame:
    """Most Prolific Authors (ideas doc §3): top-k authors by distinct
    paper count. The Zipf head (top author ~6% of papers) is exactly
    the skew the partial agg absorbs map-side."""
    return (
        _paper_authors(enriched)
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n_papers"))
        .orderBy(F.col("n_papers").desc(), F.col("name").asc())
        .limit(k)
    )


def author_specialization(enriched: DataFrame) -> DataFrame:
    """Author Specializations (ideas doc §3): each author's dominant
    general category (most papers; ties broken by category name so
    rank 1 is unique). Window over the (author × category) counts —
    ~1.6 topic rows per authorship edge, then one row per author."""
    ac = (
        enriched.select(
            "id",
            F.col("s2_authors_data"),
            F.explode(_general_topics(enriched)).alias("topic"),
        )
        .select("id", "topic", F.explode("s2_authors_data").alias("a"))
        .select("id", "topic", F.col("a.name").alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        .groupBy("name", "topic")
        .agg(F.count(F.lit(1)).alias("n_papers"))
    )
    w = Window.partitionBy("name").orderBy(
        F.col("n_papers").desc(), F.col("topic").asc()
    )
    return (
        ac.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("name", F.col("topic").alias("specialization"), "n_papers")
    )


def popular_topics(enriched: DataFrame) -> DataFrame:
    """Popular Research Topics (ideas doc §4): papers per general
    topic (per-paper distinct — a paper with two cs.* categories
    counts Computer Science once)."""
    return (
        enriched.select(F.explode(_general_topics(enriched)).alias("topic"))
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n_pubs"))
        .orderBy(F.col("n_pubs").desc(), F.col("topic").asc())
    )


def topic_evolution(enriched: DataFrame) -> DataFrame:
    """Topic Evolution Over Time (ideas doc §4): (year × topic) paper
    counts — the cube the reference's 'emerging fields' reading
    slices."""
    return (
        enriched.select(
            "year", F.explode(_general_topics(enriched)).alias("topic")
        )
        .groupBy("year", "topic")
        .agg(F.count(F.lit(1)).alias("n_pubs"))
        .orderBy("year", "topic")
    )


def citation_pagerank(
    enriched: DataFrame, s2_citations: DataFrame
) -> DataFrame:
    """Citation Networks / Impact of Publications (ideas doc §5):
    global :func:`analytics.integer_pagerank` over the S2 citation graph
    restricted to enriched papers (edge = citer → cited paper, both
    in-corpus, deduplicated). Citation in-degree is Pareto-skewed (the
    generator concentrates citations on early papers), so each round's
    contribution agg is an AQE skew case."""
    pids = enriched.select(F.col("paperId").alias("pid")).distinct()
    edges = (
        s2_citations
        # s2_citations rows are (cited paperId, citing otherPaperId)
        .select(
            F.col("otherPaperId").alias("src"), F.col("paperId").alias("dst")
        )
        .join(pids.select(F.col("pid").alias("src")), "src")
        .join(pids.select(F.col("pid").alias("dst")), "dst")
        .distinct()
    )
    return integer_pagerank(edges).select(
        F.col("node").alias("paper_id"), F.col("pr").alias("pr_units")
    )


def collab_communities(collab: DataFrame, min_weight: int = 2) -> DataFrame:
    """Author Collaboration Graph → 'clusters of authors who frequently
    work together' (ideas doc §1): connected components over the
    REPEAT-collaboration subgraph (pair weight ≥ min_weight — one
    shared mega-collaboration paper is not a cluster signal).

    Runs the engine's one CC kernel (``dedup.connected_components``)
    on the 16-byte BINARY author keys: the kernel picks the driver
    finish or the distributed loop from the symmetrized edge count it
    observes (562,362 for the 2.5 M-paper census, under
    ``LOCAL_FINISH_EDGES``). Returns (author_id, component), component
    = the component's min author key; census invariants compare
    component-size STRUCTURE only (labels are
    representation-dependent)."""
    heavy = collab.filter(F.col("collab_count") >= min_weight)
    edges = heavy.select(
        F.col("author_a").alias("src"), F.col("author_b").alias("dst")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return connected_components(nodes, edges).select(
        F.col("node").alias("author_id"), F.col("lbl").alias("component")
    )


def institutional_collab_pairs(enriched: DataFrame) -> DataFrame:
    """Institutional Collaboration (ideas doc §1): canonical
    affiliation pairs (uni_a < uni_b) weighted by co-publication count.
    The pair kernel (``analytics.pair_stream``, as in the author collab
    graph) collects each paper's distinct affiliations in one shuffle
    on the paper id and expands the pairs map-side; the
    mega-collaboration papers are the quadratic hot spot (~600
    distinct institutions → ~1.8e5 pairs per paper)."""
    pa = enriched.select("id", F.explode("s2_authors_data").alias("a")).select(
        "id", F.explode("a.affiliations").alias("uni")
    )
    return (
        pair_stream(pa, ["id"], "uni", "uni_a", "uni_b")
        .groupBy("uni_a", "uni_b")
        .agg(F.count(F.lit(1)).alias("n_papers"))
    )


def institutional_collab(enriched: DataFrame, k: int = 100) -> DataFrame:
    """Top-k institution pairs (strict total order for a unique
    k-set)."""
    return institutional_collab_pairs(enriched).orderBy(
        F.col("n_papers").desc(), "uni_a", "uni_b"
    ).limit(k)

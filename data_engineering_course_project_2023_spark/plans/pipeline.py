"""The reference pipeline (SURVEY §3.1) as one stage list: the one
definition of the census chain silver → enriched → star_fact,
dim_authors → authored_by → collab.

Each reference Airflow DAG boundary is a :class:`orchestrate.Stage`,
and :func:`orchestrate.run_stages` materializes every stage to parquet
under a run root, so a later stage reads its upstreams' files, never
their lazy plans. Callers run
``orchestrate.run_stages(spark, stages(), root, sources)`` with one
frame per name in ``SOURCES``.

Stage 1 (Kaggle download/unzip) is out-of-engine (SURVEY §2.1 S8):
the chain starts at the ``arxiv_raw`` scan.
"""

from __future__ import annotations

from . import arxiv_clean, arxiv_enrich, arxiv_graph, arxiv_star
from .orchestrate import Stage

SOURCES = (
    "arxiv_raw", "crossref", "s2_papers", "s2_authors",
    "s2_citations", "s2_references",
)


def stages() -> list[Stage]:
    """The six census stages in topological order."""

    def silver(up):
        return arxiv_clean.clean_publications(up["arxiv_raw"])

    def enriched(up):
        return arxiv_enrich.full_enrichment(
            up["silver"], up["crossref"], up["s2_papers"],
            up["s2_authors"], up["s2_citations"], up["s2_references"],
        )

    def star_fact(up):
        return arxiv_star.build_star(up["enriched"])["publication_fact"]

    def dim_authors(up):
        return arxiv_star.build_star(up["enriched"])["dim_authors"]

    def authored_by(up):
        return arxiv_graph.authored_by(up["enriched"])

    def collab(up):
        return arxiv_graph.collaboration_graph(up["authored_by"])

    return [
        Stage("silver", silver, inputs=("arxiv_raw",)),
        Stage("enriched", enriched, inputs=("silver",) + SOURCES[1:]),
        Stage("star_fact", star_fact, inputs=("enriched",)),
        Stage("dim_authors", dim_authors, inputs=("enriched",)),
        Stage("authored_by", authored_by, inputs=("enriched",)),
        Stage("collab", collab, inputs=("authored_by",)),
    ]

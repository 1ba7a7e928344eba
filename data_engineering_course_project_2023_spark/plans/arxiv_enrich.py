"""Silver-2/3 enrichment: the reference's CrossRef + Semantic Scholar
HTTP stages re-expressed as deterministic joins against lookup tables
(SURVEY §7 step 3; §2.3 J5–J7, J9; §2.2 P10, P13). The reference's P12
id formatting is the registry query ``relational.conditional_id``.

The reference fetches per-row over HTTP (api.py:5-88 CrossRef;
api.py:189-241 S2 batch with arxiv→doi fallback; api.py:243-288 per-paper
fan-out). Enrichment-as-join is the Spark-native framing: the fetch layer
becomes a lookup *table* (built offline or by the live mapInPandas
variant in operators/http_enrich.py), and the merge semantics — key
priority, miss fallback, drop-on-both-miss — become join logic the
optimizer can see and reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_crossref(silver: DataFrame, crossref: DataFrame) -> DataFrame:
    """J5: left join against the CrossRef works table on doi, then P10
    nested-field extraction (journal.{name,pages,volume},
    license[0].start, deposited, ISSN_type[].value/type —
    api.py:21-48).

    Join strategy is left to AQE: the CrossRef works table carries
    about one row per published paper, so it is as big as the fact
    side and a forced broadcast stops fitting as the corpus grows
    (2.5 M-paper census: a forced broadcast made this stage 66 % of the
    chain). AQE broadcasts it when it is small, else shuffles on doi."""
    joined = silver.join(crossref, "doi", "left")
    return joined.withColumn(
        "issn_values",
        F.transform("ISSN_type", lambda x: x.getField("value")),
    ).withColumn(
        "issn_types",
        F.transform("ISSN_type", lambda x: x.getField("type")),
    )


def enrich_s2_with_fallback(
    silver: DataFrame, s2_papers: DataFrame
) -> DataFrame:
    """J6 + J9 (api.py:199-241): primary lookup by arxiv id; misses
    retried by doi; rows missing both dropped.

    Two left joins + coalesce, then the drop — the relational spelling
    of the reference's no_response_indices retry loop. The S2 lookup
    is one row per covered paper — fact-sized, not a dimension — so
    the join strategy is AQE's call, and AQE still broadcasts a small
    S2 slice (2.5 M-paper census: two forced broadcasts serialized a
    2.25 M-row struct table twice per run and dominated the chain).
    """
    by_arxiv = s2_papers.select(
        F.col("arxiv_id").alias("_k1"), F.struct("*").alias("_hit1")
    )
    by_doi = s2_papers.select(
        F.col("s2_doi").alias("_k2"), F.struct("*").alias("_hit2")
    )
    joined = (
        silver.join(by_arxiv, silver.arxiv == F.col("_k1"), "left")
        .join(by_doi, silver.doi == F.col("_k2"), "left")
        .withColumn("_hit", F.coalesce("_hit1", "_hit2"))
        .filter(F.col("_hit").isNotNull())  # J9: drop both-miss rows
    )
    return joined.select(
        silver["*"],
        F.col("_hit.paperId").alias("paperId"),
        F.col("_hit.s2_title").alias("s2_title"),
        F.col("_hit.venue").alias("venue"),
        F.col("_hit.year").alias("year"),
        F.col("_hit.referenceCount").alias("referenceCount"),
        F.col("_hit.citationCount").alias("citationCount"),
        F.col("_hit.influentialCitationCount").alias("influentialCitationCount"),
        F.col("_hit.isOpenAccess").alias("isOpenAccess"),
        F.col("_hit.journal").alias("s2_journal"),
        F.col("_hit.publicationDate").alias("publicationDate"),
    )


def enrich_s2_fanout(
    enriched: DataFrame,
    s2_authors: DataFrame,
    s2_citations: DataFrame,
    s2_references: DataFrame,
) -> DataFrame:
    """J7 + N6 (api.py:243-288): per-paper authors/citations/references
    re-nested as list columns via groupBy + collect_list.

    The three side tables aggregate *before* joining (shuffle on
    paperId, then three joins on the same key — AQE plans them as one
    co-partitioned exchange reuse), rather than exploding the fact rows.
    """

    def nest(side: DataFrame, out: str) -> DataFrame:
        cols = [c for c in side.columns if c != "paperId"]
        return side.groupBy("paperId").agg(
            F.collect_list(F.struct(*cols)).alias(out)
        )

    return (
        enriched.join(nest(s2_authors, "s2_authors_data"), "paperId", "left")
        .join(nest(s2_citations, "s2_citations_data"), "paperId", "left")
        .join(nest(s2_references, "s2_references_data"), "paperId", "left")
    )


def full_enrichment(
    silver: DataFrame,
    crossref: DataFrame,
    s2_papers: DataFrame,
    s2_authors: DataFrame,
    s2_citations: DataFrame,
    s2_references: DataFrame,
) -> DataFrame:
    """Stages 3+5 of the reference chain (SURVEY §3.1) as one lineage:
    silver-1 → crossref join → s2 fallback join → fan-out re-nest."""
    step2 = enrich_crossref(silver, crossref)
    step3 = enrich_s2_with_fallback(step2, s2_papers)
    return enrich_s2_fanout(step3, s2_authors, s2_citations, s2_references)

"""Gold star-schema build (SURVEY §7 step 4): publication_fact + 8
dimensions, mirroring the reference DWH DDL column-for-column
(``/root/reference/src/airflow/dags/check_DWH.py:16-110``) with real
types instead of VARCHAR-everything, and deterministic surrogate keys
instead of SERIAL (SURVEY §1.2).

Scale design: every dim is built explode → distinct → md5 key — all
partial-aggregatable; the fact and bridge tables join back on natural
keys that are already co-partitioned by the explode, and dims are
broadcast on the way back. No driver-side loops, no SERIAL sequence
bottleneck (md5 keys assign map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import surrogate_key


def build_star(enriched: DataFrame) -> dict[str, DataFrame]:
    """Enriched silver-3 → {table_name: DataFrame} star schema.

    Tables (check_DWH.py:16-110): publication_fact,
    dim_author_affiliation, dim_authors, dim_publication, dim_publish_sn,
    dim_license, dim_publisher, dim_references, dim_pub_version.
    """
    e = enriched

    # fact (check_DWH.py:16-24): one row per publication
    publication_fact = e.select(
        F.col("id"),
        F.col("referenceCount").alias("reference_count"),
        F.col("score"),
        F.col("doi"),
        F.col("license_start").alias("start_date"),
    )

    # dim_publisher (check_DWH.py:86-91): distinct publisher names
    dim_publisher = (
        e.select(F.col("publisher").alias("publisher_name"))
        .filter(F.col("publisher_name").isNotNull())
        .distinct()
        .select(surrogate_key("publisher_name").alias("pub_id"), "publisher_name")
    )

    # dim_license (check_DWH.py:76-84)
    dim_license = (
        e.select(
            "license_start",
            F.col("license_url"),
            F.col("license_content_version"),
            F.col("license_delay"),
        )
        .filter(F.col("license_url").isNotNull())
        .distinct()
        .select(
            surrogate_key("license_url", "license_content_version").alias("lid"),
            F.col("license_start"),
            "license_url",
            "license_content_version",
            "license_delay",
        )
    )

    # dim_authors + dim_author_affiliation (check_DWH.py:26-41): explode
    # authors (N1), dedup by name (N5), affiliation side table
    exploded_authors = e.select(
        "id", F.explode_outer("s2_authors_data").alias("a")
    ).select(
        "id",
        F.col("a.name").alias("author_name"),
        F.try_element_at(F.col("a.affiliations"), F.lit(1)).alias("affiliation"),
    )
    dim_author_affiliation = (
        exploded_authors.select("affiliation")
        .filter(F.col("affiliation").isNotNull())
        .distinct()
        .select(
            surrogate_key("affiliation").alias("aff_id"),
            "affiliation",
            F.lit(True).alias("is_current"),
            F.lit(None).cast("timestamp").alias("start_date"),
            F.lit(None).cast("timestamp").alias("end_date"),
        )
    )
    dim_authors = (
        exploded_authors.filter(F.col("author_name").isNotNull())
        .select("author_name", "affiliation")
        .distinct()
        .select(
            surrogate_key("author_name").alias("aid"),
            surrogate_key("affiliation").alias("aff_id"),
            F.split(F.col("author_name"), " ").getItem(0).alias("first_name"),
            F.try_element_at(F.split(F.col("author_name"), " "), F.lit(-1)).alias(
                "family_name"
            ),
        )
    )

    # dim_publication (check_DWH.py:43-64): SCD-2-shaped descriptive dim
    dim_publication = e.select(
        surrogate_key("id", "title").alias("pid"),
        "id",
        "submitter",
        F.col("article_number"),
        "title",
        "journal_ref",
        F.col("general_categories").alias("general_category"),
        F.col("type"),
        F.col("issue"),
        F.col("language"),
        F.col("short_container_title"),
        F.col("container_title"),
        F.col("is_referenced_by_count"),
        F.lit(True).alias("is_current"),
        F.col("deposited").alias("start_date"),
        F.lit(None).cast("timestamp").alias("end_date"),
    )

    # dim_publish_sn (check_DWH.py:66-74): explode ISSN pairs (N4)
    dim_publish_sn = (
        e.select(
            surrogate_key("id", "title").alias("pid"),
            F.explode_outer("ISSN_type").alias("issn"),
        )
        .filter(F.col("issn").isNotNull())
        .select(
            "pid",
            F.col("issn.value").alias("issn_number"),
            F.col("issn.type").alias("issn_type"),
        )
        .distinct()
    )

    # dim_references (check_DWH.py:93-101): explode references (N2)
    dim_references = (
        e.select(
            surrogate_key("id", "title").alias("pid"),
            F.explode_outer("references").alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .select(
            "pid",
            F.col("r.DOI").alias("doi"),
            F.col("r.key").alias("key"),
            F.col("r.doi_asserted_by").alias("doi_asserted_by"),
        )
        .distinct()
    )

    # dim_pub_version (check_DWH.py:103-110): explode versions (N3)
    dim_pub_version = (
        e.select(
            surrogate_key("id", "title").alias("pid"),
            F.posexplode_outer("versions").alias("pos", "v"),
        )
        .filter(F.col("v").isNotNull())
        .select(
            "pid",
            F.col("v.version").alias("vid"),
            F.try_to_timestamp(
                F.regexp_replace(F.col("v.created"), r"^[A-Za-z]{3}, ", ""),
                F.lit("d MMM yyyy HH:mm:ss zzz"),
            ).alias("created_time"),
        )
        .distinct()
    )

    return {
        "publication_fact": publication_fact,
        "dim_author_affiliation": dim_author_affiliation,
        "dim_authors": dim_authors,
        "dim_publication": dim_publication,
        "dim_publish_sn": dim_publish_sn,
        "dim_license": dim_license,
        "dim_publisher": dim_publisher,
        "dim_references": dim_references,
        "dim_pub_version": dim_pub_version,
    }

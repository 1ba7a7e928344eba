"""Declarative data-quality checks (the *validate* half of the
reference's ``clean_and_validate_dataset`` stage — its rules exist only
as intent, e.g. the title-length rule in
``/root/reference/docs/meetings/26-12_meeting.md``; the code never
enforces them).

A check is (name, violation predicate). ``run_checks`` evaluates ALL
checks in ONE pass over the table — each is a conditional count, so the
whole suite is a single scan + single partial-aggregated reduction, no
matter how many rules. Output one row per check: evaluated/violations/
violation_rate — primitive columns, oracle-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def run_checks(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Evaluate violation predicates in one aggregation pass.

    ``checks``: name → Column that is true when the ROW VIOLATES the
    rule (null predicate results count as violations — unknown is not
    a pass).
    """
    aggs = []
    for name, pred in checks.items():
        v = F.sum(
            F.when(F.coalesce(pred, F.lit(True)), 1).otherwise(0)
        ).alias(f"_v_{name}")
        aggs.append(v)
    totals = df.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    per_check = [
        F.struct(
            F.lit(name).alias("check"),
            F.col("_n").alias("n_evaluated"),
            F.col(f"_v_{name}").alias("n_violations"),
            (F.col(f"_v_{name}").cast("double") / F.col("_n").cast("double"))
            .alias("violation_rate"),
        )
        for name in checks
    ]
    return totals.select(
        F.explode(F.array(*per_check)).alias("r")
    ).select("r.check", "r.n_evaluated", "r.n_violations", "r.violation_rate")


# The standard rule set for the documents table (LLM-data intake gates).
def document_checks() -> dict[str, Column]:
    return {
        "doc_id_not_null": F.col("doc_id").isNull(),
        "text_min_length": F.length("text") < 5,
        "lang_in_domain": ~F.col("lang").isin("en", "de", "fr", "es", "zh"),
        "n_chars_consistent": F.col("n_chars") != F.length("text"),
        "source_not_blank": F.trim(F.col("source")) == "",
    }

"""Regenerate QUERIES.md from the live registry:

    python -m tools.gen_query_index
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_course_project_2023_spark.plans import registry  # noqa: E402


def main() -> None:
    lines = [
        "# QUERIES — registry index (auto-generated)",
        "",
        "Regenerate: `python -m tools.gen_query_index`. One row per",
        "registered query — the driver-facing surface",
        "(`__spark_entry__.queries()`); oracle = exact DuckDB twin checked",
        "in `tests/test_oracle_parity.py` and the driver's t2 gate.",
        "Ordering is the registry's declaration order: the flagship",
        "`star_revenue_by_region_year` first, every oracled query before",
        "the rows-only ones (the driver checks only the first 50).",
        "",
        f"{len(registry.REGISTRY)} queries, "
        f"{sum(1 for q in registry.REGISTRY.values() if q.oracle)} oracled, "
        f"{sum(1 for q in registry.REGISTRY.values() if not q.oracle)}"
        " rows-only.",
        "",
        "| # | query | tables | check | description |",
        "|---|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(registry.REGISTRY.items(), 1):
        check = "oracle" if q.oracle else "rows-only"
        lines.append(
            f"| {i} | `{name}` | {', '.join(q.tables)} | {check} | {q.doc} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(registry.REGISTRY)} queries")


if __name__ == "__main__":
    main()

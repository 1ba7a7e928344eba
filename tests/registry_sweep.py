"""Whole-registry plan and schema hygiene in one pass.

`sweep` builds every registry query once and runs each check in
`CHECKS` on that one frame. A check maps a frame to its offending
features (empty when clean); the result is {check: {query: offenders}}.
The checks and their reasons:

- ``nested_loop_or_cartesian``: no query may plan a
  BroadcastNestedLoopJoin or CartesianProduct (at 100 TB either is a
  query that never finishes), except the `NLJ_ALLOWED` scalar-attach
  shapes.
- ``expensive_expr_in_lambda``: no optimized plan may capture a
  string-scanning call inside a higher-order-function lambda (the
  O(len²) shape, see `expensive_in_lambda`).
- ``complex_typed_columns``: every output column is primitive-typed,
  because the driver's pandas canonicalizer cannot hash
  array/map/struct cells, nor the ``bytearray`` cells of a binary
  column.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

from data_engineering_course_project_2023_spark.plans import registry


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# cosine_topk / ivf_topk crossJoin a tiny broadcast frame (1 query
# row / k centroids) — broadcast NLJ over O(1) rows is the standard
# scalar-attach pattern, O(N·k), fine at any scale. copair_components
# builds its plan per iteration (checkpointed) — covered by its own
# oracle test. idle_rich_customers / nation_revenue_share broadcast
# a ONE-ROW global aggregate (the scalar-subquery pattern — the same
# plan Spark produces for an uncorrelated scalar subquery): O(N·1).
NLJ_ALLOWED = {
    "cosine_topk",
    "ivf_topk",
    "copair_components",
    "idle_rich_customers",
    "nation_revenue_share",
    "heavy_hitter_tokens",
    # one-row n_docs scalar broadcast (same pattern as the above)
    "tfidf_top_terms",
    # one-row n_tokens scalar broadcast
    "token_pmi",
    # 5/10-row anchor set broadcast (O(N·|anchors|); label / self
    # exclusion is a non-equi predicate so the NLJ is the honest plan)
    "hard_negatives",
    "retrieval_metrics",
    # iterative: plan built per checkpointed round; pair graph only
    "neardup_clusters",
    # one-row n_docs scalar broadcast feeding the relative df cut
    "doc_cosine_pairs",
    # same scalar broadcast, twice (heavy cut + prefix seed cut)
    "doc_cosine_pairs_capped",
    # composes doc_cosine_pairs_capped -> inherits its scalar NLJ
    "curation_funnel_neardup",
    # one-row corpus-total scalar broadcast for the heavy-hitter cut
    "cms_token_counts",
    # one-row (N1, N2) totals broadcast for the exact-TVD division
    "corpus_drift",
    # one-row n_docs scalar broadcast feeding the relative df cut
    "containment_pairs",
    # same one-row n_docs broadcast inside the capped twin's df cut
    "containment_pairs_capped",
    # three 1-row metric aggregates broadcast-joined into the report
    # (the capped-truth variant of neardup_eval below)
    "neardup_eval_capped",
    # one-row corpus-total scalar broadcast for the surprisal table
    "unigram_surprisal",
    # one-row (Σ√n, Σn) denominator broadcast over the source frame
    "mixture_temperature_weights",
    # one-row corpus-stats broadcast (idf/avgdl) for map-side BM25
    "bm25_topk",
    # same stats row + the 1-row query-vector broadcast
    "hybrid_rrf",
    # three 1-row metric aggregates broadcast-joined into the report
    "neardup_eval",
    # one-row n_users basket-count broadcast for support/lift (the
    # windowed alternative would single-partition the user frame)
    "event_type_lift",
    # |types|² pair enumeration over the DISTINCT event-type dim
    # (a handful of rows both sides; every corpus-sized frame after
    # it moves through keyed equi-joins only)
    "kmv_set_similarity",
}


def nested_loop_or_cartesian(name: str, df) -> list[str]:
    if name in NLJ_ALLOWED:
        return []
    plan = plan_of(df)
    return [
        kw for kw in ("BroadcastNestedLoopJoin", "CartesianProduct") if kw in plan
    ]


# ---------------------------------------------------------------------------
# Lambda-CSE rule (VERDICT_r10 #8). Codegen does not common-
# subexpression-eliminate across a LambdaFunction boundary, so a
# string-scanning expression (split / regexp_* / sentences) captured
# INSIDE a higher-order-function lambda re-evaluates per element —
# O(len²) per document. Round 8 shipped exactly this in shingles()
# (green oracles, 12× slower: 42.5 s vs 3.4 s at sf1z) and it was only
# caught by cross-box reproduction in round 10. The check walks the
# OPTIMIZED plan (CollapseProject runs there, so an aliased-but-single-
# reference spelling that Catalyst inlines back into the lambda is
# still flagged) and fails on any expensive call inside a
# lambdafunction body whose argument is not the lambda's own variable
# (per-element strings are short; scanning them is linear and fine).
# ---------------------------------------------------------------------------

_LAMBDA_EXPENSIVE = re.compile(
    r"(?<![a-z_])(split|regexp_replace|regexp_extract|regexp_extract_all|sentences)\("
)


def _lambda_bodies(plan: str) -> list[str]:
    """Balanced-paren extraction of every lambdafunction(...) body."""
    out, i, key = [], 0, "lambdafunction("
    while True:
        j = plan.find(key, i)
        if j < 0:
            return out
        depth, k = 0, j + len(key) - 1
        while k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        out.append(plan[j + len(key): k])
        i = j + len(key)


def expensive_in_lambda(plan: str) -> list[str]:
    hits = []
    for body in _lambda_bodies(plan):
        for m in _LAMBDA_EXPENSIVE.finditer(body):
            if not body[m.end(): m.end() + 30].startswith("lambda "):
                hits.append(m.group(1))
    return hits


def expensive_expr_in_lambda(name: str, df) -> list[str]:
    return expensive_in_lambda(df._jdf.queryExecution().optimizedPlan().toString())


def complex_typed_columns(name: str, df) -> list[str]:
    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType))
    ]


CHECKS = {
    "nested_loop_or_cartesian": nested_loop_or_cartesian,
    "expensive_expr_in_lambda": expensive_expr_in_lambda,
    "complex_typed_columns": complex_typed_columns,
}


def sweep(spark, sf_dir: str) -> dict[str, dict[str, list[str]]]:
    found: dict[str, dict[str, list[str]]] = {c: {} for c in CHECKS}
    for name in registry.REGISTRY:
        df = registry.run_query(name, spark, sf_dir)
        for check, fn in CHECKS.items():
            bad = fn(name, df)
            if bad:
                found[check][name] = bad
    return found

"""The two benchmark workloads.

Each workload is a closed loop with one client: its operations run one
after another, each starting when the previous one returns. A *pass*
is the workload's fixed sequence of operations; runs measure whole
passes, so every run sees the same operation mix.

- ``arxiv``: one user run of the reference pipeline. The ingest
  operation builds the six census stages (silver → enriched →
  star_fact, dim_authors → authored_by → collab) with
  ``orchestrate.run_stages`` into a fresh run root (the write path);
  then five light ``arxiv_analytics`` queries, each reduced to its
  census invariants, read that root (the read path). A layout change
  that speeds writes but slows reads shows as a trade between the
  ingest operation and the queries.
- ``registry_mix``: a fixed subset of registry queries through
  ``registry.run_query`` — co-order graph consumers, staging
  consumers and a light relational tail — each pass over its own copy
  of the data directory, so the within-run memos keyed by input path
  (``stage_parquet`` stages, ``_PARTITIONS_CACHE``) are paid once per
  pass and shared by its queries.

Every operation's output is checked outside its timed interval: the
arxiv workloads against the DuckDB twins of ``tools/arxiv_census.py``,
the registry mix against each query's DuckDB oracle with the canonical
multiset of ``tests/parity.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from inputs import InputSpec

ARXIV_TABLES = (
    "arxiv_raw", "crossref", "s2_papers", "s2_authors",
    "s2_citations", "s2_references",
)
# stage -> (layer, public function the stage's build calls)
STAGE_LAYERS = {
    "silver": ("arxiv_clean", "clean_publications"),
    "enriched": ("arxiv_enrich", "full_enrichment"),
    "star_fact": ("arxiv_star", "build_star"),
    "dim_authors": ("arxiv_star", "build_star"),
    "authored_by": ("arxiv_graph", "build_edges"),
    "collab": ("arxiv_graph", "collaboration_graph"),
}
# the light read-path queries; the heavy iterative ones (PageRank,
# communities) would double a run's time, and the registry mix covers
# an iterative CC kernel (copair_components)
ANALYTICS_QUERIES = (
    "most_cited", "most_referenced", "pubs_per_year", "popular_topics",
    "topic_evolution",
)
# registry_mix families (name -> layer of the query's plan). A cold pass
# takes ~20 s at sf0.01 on 4 cores, so a run fits the time budget: the
# co-order pair aggregation with the CC kernel as its first consumer
# and a second consumer; minhash on the staged shingle frame; two
# relational tail queries.
GRAPH_QUERIES = ("copair_components", "node_jaccard")
STAGING_QUERIES = ("minhash_pairs",)
TAIL_QUERIES = ("orders_per_year", "popular_segments")
REGISTRY_LAYERS = {
    **dict.fromkeys(GRAPH_QUERIES, "analytics"),
    **dict.fromkeys(STAGING_QUERIES, "dedup"),
    **dict.fromkeys(TAIL_QUERIES, "relational"),
}
SF_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents",
)


@dataclass
class Op:
    """One operation: ``run`` is timed; ``observe`` reduces its result
    to values compared with ``expected`` (extra keys are reported, not
    compared)."""

    key: str
    layer: str
    run: Callable[[], object]
    observe: Callable[[object], dict]
    expected: dict


class Context:
    """What a workload needs from the runner: the current session, the
    tracer, the pinned input directory, its expected values and a
    scratch directory removed when the run ends."""

    def __init__(self, tracer, data: str, expected: dict, scratch: str):
        self.spark = None
        self.tracer = tracer
        self.data = data
        self.expected = expected
        self.scratch = scratch
        os.makedirs(scratch, exist_ok=True)


# --------------------------------------------------------------------
# arxiv workloads
# --------------------------------------------------------------------
def arxiv_expect(d: str) -> dict:
    from tools.arxiv_census import duckdb_analytics, duckdb_checks

    checks = {k: int(v) for k, v in duckdb_checks(d).items() if not k.startswith("_")}
    return {"checks": checks, "analytics": duckdb_analytics(d)}


def _stages(tracer):
    """The census stage list, each build wrapped in a span around its
    call into the layer's public function."""
    from data_engineering_course_project_2023_spark.plans.orchestrate import Stage
    from tools.arxiv_census import build_stages

    def wrap(st):
        layer, fn = STAGE_LAYERS[st.name]

        def build(up):
            with tracer.span(f"{layer}.{fn}", layer):
                return st.build(up)

        return Stage(st.name, build, st.inputs, st.max_retries)

    return [wrap(st) for st in build_stages()]


def build_chain(ctx: Context, root: str) -> str:
    """Materialize the six census stages under ``root``. Traced runs
    build one stage per ``run_stages`` call, as tools/arxiv_census.py
    does, so each stage gets its own span."""
    from data_engineering_course_project_2023_spark.plans import orchestrate

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("sources.read_parquet", "sources"):
        sources = {
            t: spark.read.parquet(os.path.join(ctx.data, f"{t}.parquet"))
            for t in ARXIV_TABLES
        }
    stages = _stages(tracer)
    with tracer.span("orchestrate.run_stages", "orchestrate"):
        if not tracer.enabled:
            orchestrate.run_stages(spark, stages, root, sources)
        else:
            for i, st in enumerate(stages, 1):
                layer = STAGE_LAYERS[st.name][0]
                with tracer.span(f"stage.{st.name}", layer):
                    orchestrate.run_stages(spark, stages[:i], root, sources)
    return root


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, files in os.walk(path) for f in files
    )


def chain_invariants(spark, root: str) -> dict:
    """The census invariants of a materialized run tree (the Spark side
    of tools/arxiv_census.py's DuckDB ``duckdb_checks``), plus the
    bytes of each stage."""
    from pyspark.sql import functions as F

    def rd(st):
        return spark.read.parquet(os.path.join(root, st))

    s = rd("silver").agg(
        F.count(F.lit(1)),
        F.sum((~F.col("update_date").rlike(r"^\d{4}-")).cast("long")),
        F.sum(F.size(F.split("categories", " "))),
    ).first()
    got = {
        "silver_rows": s[0],
        "malformed_dates_kept": s[1] or 0,
        "category_token_sum": s[2],
        "enriched_rows": rd("enriched").count(),
        "authored_by_edges": rd("authored_by").count(),
    }
    agg = rd("collab").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("collab_count").alias("s"),
        F.max("collab_count").alias("mx"),
        F.sum((F.col("collab_count") >= 2).cast("long")).alias("heavy"),
    ).first()
    got.update({
        "collab_pairs": agg["cnt"], "collab_weight_sum": agg["s"],
        "collab_weight_max": agg["mx"], "collab_heavy_pairs": agg["heavy"],
    })
    got = {k: int(v) for k, v in got.items()}
    for st in STAGE_LAYERS:
        got[f"bytes.{st}"] = dir_bytes(os.path.join(root, st))
    return got


# invariant names each analytics query reduces to (tools/arxiv_census.py)
ANALYTICS_KEYS = {
    "most_cited": ("ana_most_cited_sum", "ana_most_cited_digest"),
    "most_referenced": ("ana_most_ref_sum", "ana_most_ref_digest"),
    "pubs_per_year": ("ana_trend_years", "ana_trend_sumsq"),
    "popular_topics": ("ana_topics_rows", "ana_topics_max", "ana_topics_sum"),
    "topic_evolution": ("ana_evo_pairs", "ana_evo_sumsq"),
}


def analytics_query(ctx: Context, name: str) -> dict:
    """Run one arxiv_analytics query over the gold layer and reduce it
    to its census invariants (the spellings of
    tools/arxiv_census.analytics_leg)."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.plans import (
        arxiv_analytics as A,
    )

    spark = ctx.spark
    enriched = spark.read.parquet(os.path.join(ctx.gold, "enriched"))
    count = F.count(F.lit(1))
    if name == "most_cited":
        r = A.most_cited(enriched).agg(
            F.sum("citation_count"),
            F.sum(F.regexp_replace("arxiv", r"\.", "").cast("long"))).first()
    elif name == "most_referenced":
        r = A.most_referenced(enriched).agg(
            F.sum("n_referencing"),
            F.sum(F.regexp_extract("cited_doi", r"j\.(\d+)$", 1).cast("long")),
        ).first()
    elif name == "pubs_per_year":
        r = A.pubs_per_year(enriched).agg(
            count, F.sum(F.col("n_pubs") * F.col("n_pubs"))).first()
    elif name == "popular_topics":
        r = A.popular_topics(enriched).agg(
            count, F.max("n_pubs"), F.sum("n_pubs")).first()
    else:
        r = A.topic_evolution(enriched).agg(
            count, F.sum(F.col("n_pubs") * F.col("n_pubs"))).first()
    return {k: int(v) for k, v in zip(ANALYTICS_KEYS[name], r)}


class ArxivPipeline:
    """One pass is one user run of the reference pipeline: the ingest
    operation builds the six census stages into a fresh run root, then
    the analytics queries read that root."""

    name = "arxiv"
    tables = ARXIV_TABLES

    def __init__(self, papers: int):
        self.papers = papers

    def spec(self) -> InputSpec:
        return InputSpec("arxiv", self.papers,
                         ("tools/gen_arxiv.py", "tools/arxiv_census.py"),
                         arxiv_expect)

    def begin_pass(self, ctx: Context, i: int) -> None:
        ctx.gold = tempfile.mkdtemp(prefix="run-", dir=ctx.scratch)

    def end_pass(self, ctx: Context, i: int) -> dict:
        shutil.rmtree(ctx.gold, ignore_errors=True)
        return {}

    def ops(self, ctx: Context) -> list[Op]:
        def observe_chain(root):
            ctx.gold_facts = chain_invariants(ctx.spark, root)
            return ctx.gold_facts

        exp = ctx.expected["analytics"]
        return [Op("ingest", "orchestrate", lambda: build_chain(ctx, ctx.gold),
                   observe_chain, ctx.expected["checks"])] + [
            Op(q, "arxiv_analytics",
               lambda q=q: analytics_query(ctx, q),
               lambda r: r,
               {k: exp[k] for k in ANALYTICS_KEYS[q]})
            for q in ANALYTICS_QUERIES
        ]


# --------------------------------------------------------------------
# registry mix
# --------------------------------------------------------------------
def fingerprint(df) -> dict:
    """Digest of tests/parity.py's comparison: sorted column names,
    dtype families (when there are rows) and the canonical row
    multiset."""
    from tests.parity import canonical_rows

    cols = sorted(df.columns)
    fams = (
        ["i" if df[c].dtype.kind in "iu" else df[c].dtype.kind for c in cols]
        if len(df) else None
    )
    blob = json.dumps([cols, fams, canonical_rows(df)])
    return {"rows": len(df), "fp": hashlib.sha256(blob.encode()).hexdigest()}


def _oracle_sql(names: tuple[str, ...]) -> dict[str, str]:
    from data_engineering_course_project_2023_spark.plans import registry

    sql = registry.oracles()
    return {n: sql[n] for n in names}


def _stage_root() -> str:
    return os.path.join(tempfile.gettempdir(), "spark_graft_stage")


def _stage_dirs() -> set[str]:
    root = _stage_root()
    if not os.path.isdir(root):
        return set()
    return {
        os.path.join(root, n) for n in os.listdir(root) if not n.endswith(".tmp")
    }


class RegistryMix:
    name = "registry_mix"
    tables = SF_TABLES

    def __init__(self, sf: float, queries: tuple[str, ...]):
        self.sf = sf
        self.queries = queries

    def spec(self) -> InputSpec:
        names = self.queries

        def expect(d: str) -> dict:
            from tests.parity import duck_con

            con = duck_con(d)
            try:
                return {
                    n: fingerprint(con.execute(sql).df())
                    for n, sql in _oracle_sql(names).items()
                }
            finally:
                con.close()

        return InputSpec("sf", self.sf, ("tools/gen_sf.py",), expect,
                         salt=json.dumps(_oracle_sql(names), sort_keys=True))

    def begin_pass(self, ctx: Context, i: int) -> None:
        self.pass_dir = tempfile.mkdtemp(prefix="pass-", dir=ctx.scratch)
        shutil.copytree(ctx.data, self.pass_dir, dirs_exist_ok=True)
        self.stages_before = _stage_dirs()

    def end_pass(self, ctx: Context, i: int) -> dict:
        new = _stage_dirs() - self.stages_before
        staged = sum(dir_bytes(p) for p in new)
        for p in new:
            shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        return {"stage_dirs": len(new), "stage_bytes": staged}

    def ops(self, ctx: Context) -> list[Op]:
        from data_engineering_course_project_2023_spark.plans import registry

        def run(name):
            with ctx.tracer.span("registry.run_query", "registry"):
                df = registry.run_query(name, ctx.spark, self.pass_dir)
            with ctx.tracer.span("registry.action", "registry"):
                return df.toPandas()

        return [
            Op(q, REGISTRY_LAYERS[q], lambda q=q: run(q), fingerprint,
               ctx.expected[q])
            for q in self.queries
        ]

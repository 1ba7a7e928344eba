"""Physical-plan assertions: the plan *shape* is part of the contract
(SURVEY §4 — what Catalyst must be allowed to do for 100 TB viability).
A regression that blocks pushdown or flips a dim join to sort-merge is a
scale bug even while results stay correct."""

from __future__ import annotations

import re

from data_engineering_course_project_2023_spark.plans import arxiv_clean, registry

from .conftest import SF_CORRECT
from .registry_sweep import expensive_in_lambda, plan_of


def test_star_join_broadcasts_all_dims(spark):
    plan = plan_of(registry.run_query("star_revenue_by_region_year", spark, SF_CORRECT))
    assert "SortMergeJoin" not in plan  # every dim must broadcast
    # "(n) Name" counts each node once (the formatted output repeats node
    # names in its detail section); == 4 also rules out a shuffled-hash
    # join standing in for one of the four dim joins
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)) == 4
    # scan must not read unused columns (column pruning through 4 joins)
    assert "l_tax" not in plan and "o_orderpriority" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(registry.run_query("pricing_summary", spark, SF_CORRECT))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate inside the scan
    # only needed columns in ReadSchema
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_clean_is_shuffle_free(spark):
    """Silver-1 cleaning must stay a pure map stage — zero exchanges."""
    from . import fixtures

    plan = plan_of(arxiv_clean.clean_publications(fixtures.arxiv_raw(spark)))
    assert "Exchange" not in plan


def test_authored_by_keys_authors_without_a_join(spark):
    """AUTHORED_BY computes the author key on the exploded row: the
    executed plan has no join (against the Author node table) and one
    aggregation — the distinct, as one Exchange between its partial and
    final HashAggregate."""
    from data_engineering_course_project_2023_spark.plans import arxiv_graph

    from . import fixtures

    df = arxiv_graph.authored_by(fixtures.enriched(spark))
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Join" not in final, final
    assert final.count("HashAggregate(") == 2, final
    assert final.count("Exchange ") == 1, final


def test_collaboration_graph_pairs_authors_without_a_join(spark):
    """The collab stage enumerates author pairs with the pair kernel
    (per-paper author sets, pairs generated map-side): the executed
    plan of the stage's build has no join."""
    from data_engineering_course_project_2023_spark.plans import arxiv_graph

    from . import fixtures

    df = arxiv_graph.collaboration_graph(
        arxiv_graph.authored_by(fixtures.enriched(spark))
    )
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Join" not in final, final
    assert "Generate" in final, final


def test_enrichment_join_broadcasts_lookup(spark):
    plan = plan_of(registry.run_query("enrichment_join", spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_no_query_plans_nested_loop_or_cartesian(registry_sweep):
    """Global plan hygiene: no registry query may plan a
    BroadcastNestedLoopJoin or CartesianProduct — at 100 TB either is a
    query that never finishes. (The range join exists precisely to avoid
    this; this sweep catches regressions anywhere.) Allow-list:
    `registry_sweep.NLJ_ALLOWED`."""
    offenders = registry_sweep["nested_loop_or_cartesian"]
    assert not offenders, offenders


def test_chunking_and_quality_rules_are_map_side(spark):
    """chunk_for_rag / gopher_quality must plan as pure map work: no
    hash-partition exchange anywhere (chunk_for_rag's only exchange is
    the spread() round-robin rebalance)."""
    plan = plan_of(registry.run_query("chunk_for_rag", spark, SF_CORRECT))
    assert "hashpartitioning" not in plan
    plan = plan_of(registry.run_query("gopher_quality", spark, SF_CORRECT))
    assert "Exchange" not in plan


def test_vocab_encode_broadcasts_vocab(spark):
    """The dimension-sized vocabulary must broadcast into the encode
    join — the corpus side never sort-merges."""
    plan = plan_of(registry.run_query("vocab_encode", spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: a fact table written with hive partitions + a FILTERED dim
    join must prune fact partitions at RUNTIME from the dim-side filter
    (the join key's partition values aren't known at compile time). At
    100 TB this is the difference between scanning one month and
    scanning the table — the plan must carry the dynamicpruning
    subquery on the fact scan."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.sources.readers import load_table

    orders = load_table(spark, SF_CORRECT, "orders")
    fact_dir = str(tmp_path / "orders_by_year")
    (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(fact_dir)
    )
    years = spark.createDataFrame(
        [(y, "keep" if y == 1995 else "drop") for y in range(1992, 1999)],
        "o_year int, tag string",
    )
    fact = spark.read.parquet(fact_dir)
    joined = fact.join(years.filter(F.col("tag") == "keep"), "o_year")
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower()
    got_years = {r["o_year"] for r in joined.select("o_year").distinct().collect()}
    assert got_years == {1995}


def test_runtime_bloom_filter_injected_on_selective_join(spark, tmp_path):
    """Runtime filter injection: when a selective build side feeds a
    shuffle join over an un-partitioned fact, Spark should inject a
    bloom filter (or semi-join filter) on the probe side so most fact
    rows drop BEFORE the shuffle — the optimizer-level sibling of the
    explicit novelty Bloom operator. Pinned here so a config regression
    that silently disables runtime filtering fails loudly."""
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.sources.readers import load_table

    li_path = str(tmp_path / "li")
    o_path = str(tmp_path / "o")
    load_table(spark, SF_CORRECT, "lineitem").write.parquet(li_path)
    load_table(spark, SF_CORRECT, "orders").write.parquet(o_path)
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    # force a shuffle join: bloom injection targets non-broadcast probes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(li_path)
        o = spark.read.parquet(o_path).filter(F.col("o_totalprice") > 400000)
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = plan_of(joined)
        assert "bloom" in plan.lower() or "runtimefilter" in plan.lower(), plan[:2000]
        assert joined.count() > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_probe_plan_is_map_only(spark):
    """novel_docs_bloom's PROBE contract: no Join and no aggregation
    anywhere in the plan — the history is consulted only through the
    bitmap literal, so the probe is scan → filter → project (plus the
    documented spread() rebalance). A Join appearing here would mean
    the operator regressed to shuffling the history."""
    plan = plan_of(registry.run_query("novel_docs_bloom", spark, SF_CORRECT))
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "PushedFilters" in plan


def test_epoch_batches_rank_is_distributed(spark):
    """The global-rank spelling must stay two-pass: the only
    single-partition exchange allowed is the 256-row bucket-offset
    cumsum (a dim-table window); the corpus-side row_number window must
    be hash-partitioned on the bucket. A naive global row_number would
    show a second SinglePartition exchange feeding a Window over the
    full doc frame — the one-task serialization this query exists to
    avoid."""
    df = registry.run_query("epoch_batches", spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("SinglePartition") == 1, plan
    assert "hashpartitioning(bucket" in plan, plan


_PLAIN_SWEEP = """
import sys, time; sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[%(cpus)s]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
bad = []
for name, fn in e.queries().items():
    print("START", name, flush=True)
    t0 = time.perf_counter()
    try:
        fn(spark, "/root/testdata/sf0.001").count()
    except Exception as ex:
        bad.append((name, str(ex)[:200]))
    print("DONE", name, round(time.perf_counter() - t0, 2), flush=True)
assert not bad, bad
print("PLAIN_SWEEP_OK")
"""


def _sweep_report(stdout: str) -> str:
    """The last query the sweep started and its five slowest finished
    ones, from the START/DONE lines it printed."""
    started, secs = None, {}
    for line in stdout.splitlines():
        parts = line.split()
        if parts[:1] == ["START"]:
            started = parts[1]
        elif parts[:1] == ["DONE"]:
            secs[parts[1]] = float(parts[2])
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    return f"last started: {started}; slowest: {slowest}; finished: {len(secs)}"


def test_all_queries_run_under_plain_driver_session():
    """Driver-environment robustness: every registry query must run
    under a PLAIN SparkSession in a separate JVM — default confs, no
    session.py tuning (the external harness builds its own session, so
    nothing may depend on AQE/broadcast/Arrow/timezone settings we
    apply locally). Subprocess, not newSession(): builder-applied SQL
    confs leak into every session that shares the context, which would
    make an in-process check vacuous. The sweep imports this tree and
    runs on the suite's core count; a timeout or failure names the
    query that was running and the slowest ones."""
    import os
    import subprocess
    import sys

    from data_engineering_course_project_2023_spark.session import DEFAULT_CPUS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _PLAIN_SWEEP % {"repo": repo, "cpus": DEFAULT_CPUS}
    try:
        out = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=600,
        )
    except subprocess.TimeoutExpired as ex:
        partial = ex.stdout or b""
        if isinstance(partial, bytes):
            partial = partial.decode(errors="replace")
        raise AssertionError(f"timed out after 600 s; {_sweep_report(partial)}")
    assert "PLAIN_SWEEP_OK" in out.stdout, (
        _sweep_report(out.stdout) + "\n" + out.stdout[-2000:] + out.stderr[-2000:]
    )


def test_bm25_plan_is_map_side_plus_takeordered(spark):
    """BM25 contract: no inverted index means no corpus shuffle — the
    only Exchanges belong to the 1-row stats aggregate; top-k is
    TakeOrderedAndProject, never a global Sort."""
    from data_engineering_course_project_2023_spark.plans import registry

    df = registry.run_query("bm25_topk", spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # exactly one shuffle (the 1-row stats aggregate) + its broadcast
    # back to the scan side ("(n) Exchange" counts each node once —
    # formatted output repeats node names in the detail section)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) BroadcastExchange\b", plan)) == 1


def test_skyline_plan_windows_distinct_prices_only(spark):
    """Skyline contract: the dominance test runs as a window over the
    per-price aggregate joined back broadcast-side — no SortMergeJoin,
    no all-pairs join of the part table against itself."""
    from data_engineering_course_project_2023_spark.plans import registry

    df = registry.run_query("skyline_parts", spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sliding_window_plan_single_aggregation(spark):
    """Sliding windows expand map-side (the 3-window explode happens in
    the expand operator inside the scan stage); ONE shuffle feeds the
    final aggregation."""
    from data_engineering_course_project_2023_spark.plans import registry

    df = registry.run_query("sliding_event_counts", spark, SF_CORRECT)
    plan = plan_of(df)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_gdpr_audit_plan_one_pass(spark):
    """Erasure audit contract: evidence comes from the same single scan
    as the deletion filter — one aggregation exchange, no joins."""
    from data_engineering_course_project_2023_spark.plans import registry

    df = registry.run_query("gdpr_erasure_audit", spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("Scan") <= 2  # data scan (+ possible reused subquery)


def test_pii_and_encoding_audits_are_map_only(spark):
    """The scrubbing/encoding audits are pure per-row regexp passes —
    any Exchange in their plans means something broke the map-only
    shape that makes them scan-bound at 100 TB."""
    for name in ("pii_scrub", "encoding_quality"):
        plan = plan_of(registry.run_query(name, spark, SF_CORRECT))
        # spread()'s round-robin rebalance is the one allowed exchange;
        # a hash partitioning would mean an accidental aggregation/join
        assert "hashpartitioning" not in plan, f"{name} gained a shuffle"


def test_boilerplate_strip_reads_only_needed_columns(spark):
    """Column pruning through the posexplode: the scan must not read
    text-adjacent columns the query never touches."""
    plan = plan_of(registry.run_query("boilerplate_strip", spark, SF_CORRECT))
    assert "n_chars" not in plan and '"lang"' not in plan


def test_cbo_column_stats_flip_selective_join_to_broadcast(spark, tmp_path):
    """SURVEY §4 optimizer evidence: ANALYZE TABLE column statistics +
    CBO turn a selective-filter join side into a broadcast. Without
    stats the filtered side is estimated at full table size (SortMerge);
    with stats the selectivity estimate drops it under the broadcast
    threshold. At 100 TB this is the difference between shuffling a
    fact table and shipping a few KB — and it needs no query change,
    only ANALYZE, which is why the engine keeps every plan declarative.
    """
    spark.sql("DROP TABLE IF EXISTS li_cbo")
    spark.sql("DROP TABLE IF EXISTS o_cbo")
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").write.mode(
        "overwrite"
    ).saveAsTable("li_cbo")
    spark.read.parquet("/root/testdata/sf0.01/orders.parquet").write.mode(
        "overwrite"
    ).saveAsTable("o_cbo")
    spark.sql("ANALYZE TABLE li_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE o_cbo COMPUTE STATISTICS FOR ALL COLUMNS")

    keys = (
        "spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    sql = """
      SELECT l.l_orderkey, o.o_totalprice
      FROM li_cbo l JOIN o_cbo o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_totalprice > 550000
    """
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(24 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        without = plan_of(spark.sql(sql))
        assert "SortMergeJoin" in without and "BroadcastHashJoin" not in without

        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        with_stats = plan_of(spark.sql(sql))
        assert "BroadcastHashJoin" in with_stats
        assert "SortMergeJoin" not in with_stats
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS li_cbo")
        spark.sql("DROP TABLE IF EXISTS o_cbo")


def test_jl_projection_is_map_only(spark):
    """The JL sketch is Scan→Project→Generate: the ±1 matrix is a
    folded literal and the contraction runs inside the scan stage —
    ANY Exchange means the sketch stopped being scan-bound."""
    plan = plan_of(registry.run_query("jl_projection", spark, SF_CORRECT))
    assert "Exchange" not in plan
    assert "ReadSchema" in plan and "embedding" in plan


def test_es_sample_window_is_distributed(spark):
    """es_weighted_sample's bottom-k selection must hash-partition on
    source — a global-sort or SinglePartition window would serialize
    the corpus through one task, which is exactly what the per-stratum
    window spelling exists to avoid."""
    df = registry.run_query("es_weighted_sample", spark, SF_CORRECT)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(source" in plan, plan


def test_lambda_detector_fires_on_deliberate_violation(spark):
    """The detector must actually fire on the r8 bug shape — an inline
    element_at(split(text), i+1) captured in a transform lambda — and
    stay quiet on the fixed spelling (split materialized into a column
    that CollapseProject keeps separate because it is referenced more
    than once by a non-cheap consumer)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c",)], "t string")
    bad = df.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: F.element_at(F.split("t", " "), i + 1),
        ).alias("x")
    )
    plan = bad._jdf.queryExecution().optimizedPlan().toString()
    assert expensive_in_lambda(plan), plan

    # per-element split over the lambda variable itself is linear — the
    # detector must NOT flag it.
    ok = df.select(
        F.transform(F.array("t"), lambda s: F.split(s, " ")).alias("x")
    )
    plan_ok = ok._jdf.queryExecution().optimizedPlan().toString()
    assert not expensive_in_lambda(plan_ok), plan_ok


def test_no_expensive_expr_in_lambda(registry_sweep):
    """Global sweep: no registry query's optimized plan may capture a
    string-scanning expression inside a HOF lambda (the O(len²)
    shape; the rule is documented in `registry_sweep`). 237/237
    measured clean at round 11."""
    offenders = registry_sweep["expensive_expr_in_lambda"]
    assert not offenders, offenders


def test_session_scale_confs_pinned(spark):
    """The measured session-shaping configs are part of the performance
    contract (OPTIMIZATION_r11.md): zstd codecs (engine-metric A/B —
    shuffle bytes −59 %, CPU −12..−45 %), shuffled-hash preference
    (SMJ nodes 132→60 registry-wide with zero added Sorts), and AQE as
    the scale-adaptive partitioner. A silent rollback of any of these
    would regress measured wins while every oracle stays green, which
    is exactly the class of change tests must catch.

    The tier-4 JIT thresholds (session.TIER4_JIT_OPTIONS: a cold pass's
    CPU −26..−31 %) are read back from the live JVM through
    HotSpotDiagnosticMXBean, not from the Spark conf: Spark applies
    extraJavaOptions only when it launches the JVM, so only the JVM's
    own value proves the flags took effect."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    jit = {
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
    }
    for k, v in jit.items():
        got = hotspot.getVMOption(k).getValue()
        assert got == v, f"JVM flag {k}={got}, measured value is {v}"
    conf = {
        "spark.io.compression.codec": "zstd",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    }
    for k, v in conf.items():
        assert spark.conf.get(k) == v, f"{k} drifted from measured value {v}"

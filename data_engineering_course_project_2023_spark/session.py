"""SparkSession factory.

One place to encode the scale-oriented defaults so every entry point
(tests, bench, driver) runs with the same plan-shaping configuration.

Design notes for the 100 TB target (tested on local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast selection replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *pre-AQE upper bound*; AQE
  coalesces down using ``advisoryPartitionSizeInBytes``. On a real
  cluster this would be set to ~3× total executor cores.
- Arrow enabled for any Pandas-UDF path (the slow-path escape hatch).
- Ansi mode stays at the Spark 4 default (on); expressions that must be
  failure-tolerant use try_* variants explicitly rather than relying on
  silent-null legacy semantics.
- JIT: the JVM starts with HotSpot's tier-4 (C2) thresholds ×10
  (``TIER4_JIT_OPTIONS``), so C2 compiles only code that stays hot and
  the lukewarm per-job tail (Janino, task serialization, generated
  stage classes) stays at C1. Evidence (4 cores, 10 alternating
  pairs): a cold arxiv pass's CPU fell 46.7 → 32.3 s; the hot
  calibration loop is no slower (NOTES.md, JIT thresholds).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# local[N] is a single JVM: the "driver" heap IS the whole cluster's
# executor memory. Spark's 1 GB default leaves ~30 MB per local[32]
# task slot — an sf1 (10× bench) scan OOMs on shuffle buffers alone,
# which no real deployment would (cluster executors run 8–64 GB).
# Size the local JVM like the machine it models (the env box has
# 128 GiB); harness-owned sessions (the driver's plain builder) are
# unaffected — this applies only to sessions built here.
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
# Tier-4 (C2) thresholds ×10 over the JDK 17 defaults (5000 / 600 /
# 15000 / 40000). Measured on 4 cores (NOTES.md, JIT thresholds): ×1,
# ×5, ×10, ×20 gave cold arxiv passes of 53.4 / 43.6 / 34.7 / 34.6 s
# and cold registry_mix passes of 48.6 / 40.3 / 39.0 / 34.5 s; ×20
# bought no further arxiv gain and a slower first calibration run.
# REJECTED: -XX:TieredStopAtLevel=1 (C1 only) cut the cold arxiv pass
# to 26 s but made the hot calibration loop 10-18x slower (0.34-0.63 s
# became 5.9-6.9 s). Spark applies extraJavaOptions only when it
# launches the JVM; a caller's own value replaces this one.
TIER4_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "data_engineering_course_project_2023_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.driver.extraJavaOptions", TIER4_JIT_OPTIONS)
        # pyspark.ml MinHashLSH's approxSimilarityJoin collects >1 GiB
        # of serialized task results at sf10 (census finding, round 8);
        # the 1g default aborts the job on a 48g driver. Engine-side
        # operators never collect corpus-sized results (plan-sweep
        # pinned) — this guards the ml-library and driver-artifact
        # paths only.
        .config("spark.driver.maxResultSize", "4g")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # pre-AQE shuffle width; AQE coalesces below this
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(DEFAULT_CPUS)),
        )
        # --- shuffle/broadcast block codec (guide §2.3: "measure both") ---
        # zstd vs the lz4 default, measured this round (r11) at sf0.1 on
        # engine metrics (tools/task_metrics --warmups 1, so no JIT in
        # the numbers): shuffle bytes −59 % (copair_counts 17→7 MB,
        # copair_components 20→8 MB), executor CPU −12 % (4.12→3.64 s)
        # to −45 % (containment_pairs_capped 13.6→7.5 s), and the
        # smaller post-shuffle blocks let AQE coalesce to fewer reduce
        # tasks (19→11 / 251→123), cutting per-task overhead. Wall on
        # an 8-query shuffle-heavy subset, ABAB interleaved: 30.2/29.5
        # (zstd) vs 35.2/32.6 s (lz4). At 100 TB the ~2.4× ratio is a
        # direct NIC/disk-bytes win on every shuffle-bound stage.
        .config("spark.io.compression.codec", "zstd")
        # Parquet writes (stages, partitioned sinks) follow guide §6:
        # zstd ~ snappy read speed at a markedly better ratio; staged
        # frames are written once and re-read by several consumers, so
        # smaller files are read-path wins too. Values unaffected.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- scan shaping ---
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- broadcast: dims up to 64 MB go map-side ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- joins: let the planner pick shuffled-hash over sort-merge
        # (guide §3.1) when the per-partition build side fits. Where it
        # bites is the STATICALLY-planned SMJ segments (registry-wide
        # SortMergeJoin nodes 132→60; community_labels initial plan
        # 14 SMJ → 6 SMJ + 8 SHJ, part_golden_records 6→2+4 — committed
        # plans/r11/*_{before,after}.txt), with measured engine-metric
        # wins (community_labels executor CPU −13 %, run −21 %, same
        # shuffle bytes). The iterative pagerank/ppr/hits loops are NOT
        # the beneficiary at sf0.1: their executed final plans convert
        # every join to broadcast under AQE with either setting
        # (plans/r11/pagerank_trade_after_executed.txt,
        # isFinalPlan=true, 0 SMJ / 0 SHJ / 6 BHJ), so their subset-ABAB
        # wall deltas were ambient swing, not join strategy. At scale,
        # once a side outgrows the broadcast threshold, the AQE
        # threshold below re-checks real post-shuffle partition sizes
        # before rewriting a planned SMJ to SHJ; OOM risk is bounded by
        # AQE skew-split + 64 MB advisory partitions capping the
        # per-task build map.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        # --- python interop (Pandas-UDF escape hatch) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python DataSource filter pushdown (httpjson id-range scan)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- quieter local runs ---
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def iterative_shuffle_parts(
    spark: SparkSession, n_rows: int, rows_per_reducer: int = 500_000
):
    """Scoped reducer sizing for ITERATIVE stages (CC / BFS / peeling
    loops): per-round joins move only edge/node-sized data, and on small
    frames per-task scheduling dominates (measured 5.7 s @ 32 reducers
    vs 3.7 s @ 8 at sf0.1), so size reducers to the materialized frame —
    ~rows_per_reducer rows each, floor 8, never above the caller's
    scan-sized setting (a caller at 4 keeps 4). At cluster scale the
    same rule yields thousands.

    Spelled as a session-conf override restored on exit. The explicit
    alternative — .repartition(n, key) on the loop frames — was
    measured and REJECTED: localCheckpoint (required each round for
    lineage truncation) materializes to an ExistingRDD with
    UnknownPartitioning, so the pre-partitioning never survives to the
    next round's join and the added exchanges cost ~15% (5.6 s vs
    4.9 s on copair_components at sf0.1). The conf set happens INSIDE
    the try, so an exception can never strand the session override.
    Caveat: session confs are session-global at plan time; queries in
    one session must not be PLANNED concurrently with the loop body
    (this engine plans registry queries sequentially; use a separate
    SparkSession per thread for concurrent planning).
    """
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    iter_parts = min(conf_parts, max(8, -(-n_rows // rows_per_reducer)))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(iter_parts))
        yield iter_parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(conf_parts))


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Run the enclosed jobs under ``spark.job.description`` = ``text``,
    the per-job label the event log records and a query profile lists;
    the caller's description (or none) is restored on exit."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription(text)
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Column,
    max_rounds: int,
    size_rows: int | None = None,
    label: str = "fixpoint",
) -> tuple[DataFrame, bool]:
    """Iterate ``state = step(state)`` until the aggregate ``probe``
    repeats, at most ``max_rounds`` times; return (final state,
    converged). The one checkpoint loop of the iterative graph family.

    The probe must be MONOTONE over the rounds and repeat only when the
    state is unchanged, so a repeated value means every further round
    would be a no-op: a cumulative count of label moves that only rises
    (``connected_components``), or a surviving-edge count that only
    shrinks (``kcore_nodes``). A sum of the labels themselves is not
    type-agnostic: it fails analysis on BINARY node ids. Each
    round is ONE action: ``step``, then ``observe(probe)``, then
    ``localCheckpoint()`` — the probe rides the checkpoint job, and the
    checkpoint truncates lineage so the plan never doubles per round
    (observe vs a second probe job: NOTES.md, round 3). The seed is
    checkpointed and probed the same way, before the reducer scope.

    Rounds run inside :func:`iterative_shuffle_parts`, sized by
    ``size_rows`` (a count the caller observed on a checkpoint it
    already runs) or, when None, by the seed's row count, observed on
    the seed job — no job ever runs only to size the scope.

    Round k's jobs run under the description ``"{label}: round {k}"``
    (the seed is round 0).
    """
    spark = state.sparkSession
    seed = Observation()
    with job_description(spark, f"{label}: round 0"):
        state = state.observe(
            seed, probe.alias("p"), F.count(F.lit(1)).alias("n")
        ).localCheckpoint()
    prev = seed.get["p"]
    n_rows = seed.get["n"] if size_rows is None else size_rows
    with iterative_shuffle_parts(spark, n_rows):
        for k in range(1, max_rounds + 1):
            obs = Observation()
            with job_description(spark, f"{label}: round {k}"):
                state = step(state).observe(obs, probe.alias("p")).localCheckpoint()
            cur = obs.get["p"]
            if cur == prev:
                return state, True
            prev = cur
    return state, False

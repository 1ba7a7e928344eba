"""Sink-side operators (SURVEY §2.1 S5, S6, S9, S10).

- S5 JSONL sink (ref: src/utils/utils.py:175) — ``df.write.json``;
  non-ASCII is preserved by default (Spark writes UTF-8, not \\u escapes).
- S6 partitioned write (ref: src/utils/utils.py:158-176) — the
  reference's 4 contiguous chunks become ``repartition(n)``; at scale,
  ``partitionBy`` on a natural column replaces fixed part counts.
- S9/S10 warehouse sink (ref: src/airflow/dags/populate_DWH.py:25-51,
  check_DWH.py:132-171) — templated-INSERT anti-pattern replaced by
  DataFrame writes; ``saveAsTable``/``insertInto`` in a metastore
  deployment, parquet dir locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5: write records as JSON-lines (UTF-8, one object per line)."""
    df.write.mode(mode).json(path)


def write_parquet_parts(
    df: DataFrame,
    path: str,
    num_parts: int | None = None,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S6: partitioned parquet write.

    ``partition_by`` (hive-style directory partitioning, prunable at
    read) is the scale path; ``num_parts`` reproduces the reference's
    fixed part count for small outputs.
    """
    writer = df
    if num_parts:
        writer = df.repartition(num_parts)
    w = writer.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jdbc(
    df: DataFrame,
    table: str,
    url: str,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """S9 live warehouse sink: per-table JDBC append, the DataFrame
    spelling of the reference's psycopg2 templated-INSERT loader
    (ref: src/airflow/dags/populate_DWH.py:25-51 — one INSERT per table,
    append semantics, fixed column order).

    Scale knobs exposed because they ARE the sink's scale story:
    ``batchsize`` rows per JDBC batch-INSERT round trip, and
    ``num_partitions`` caps concurrent connections (each partition
    opens one) — a 1000-executor write would otherwise open a
    connection per task and fall over the database, so the coalesce
    happens here, not at the call site.

    No live database ships in this container, so the seam is
    interface-tested (options land on the writer; a bogus URL raises
    from the JVM driver lookup, proving the path is wired).
    """
    writer = df.coalesce(num_partitions) if num_partitions else df
    (
        writer.write.mode(mode)
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**(properties or {}))
        .save()
    )


def compact_parquet(
    spark,
    src_dir: str,
    dest_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet directory
    into ceil(input_bytes / target_bytes) files (default 128 MB — the
    advisory scan-partition size). The small-files problem is the #1
    operational degradation of long-running ingest at scale: a 100 TB
    table accreted in 10k-row micro-batches pays per-file open/footer
    costs and floods the driver's file index. Sizing from actual bytes
    (not a fixed count) keeps the same call correct at any scale.
    Returns the part count written."""
    import math

    from py4j.java_gateway import java_import

    df = spark.read.parquet(src_dir)
    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    path = jvm.Path(src_dir)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total = sum(
        f.getLen()
        for f in fs.listStatus(path)
        if f.getPath().getName().endswith(".parquet")
    )
    n_parts = max(1, math.ceil(total / target_bytes))
    df.repartition(n_parts).write.mode("overwrite").parquet(dest_dir)
    return n_parts


def write_sorted_ranges(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_parts: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered export: repartitionByRange gives globally
    range-disjoint files, sortWithinPartitions orders rows inside each
    — together a total ordering on disk without a single-reducer global
    sort. Downstream scans with a predicate on the sort column touch
    one file's range (min/max footer stats prune the rest), and
    merge-style consumers can stream the files in order."""
    (
        df.repartitionByRange(num_parts, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Training-corpus shard export: the materialization step at the end
    of a curation pipeline, built so a 1000-node trainer can consume the
    output without a coordinator.

    - Shard assignment is CONTENT-DETERMINISTIC — pmod(md5(id), n) — not
      partition-index based, so re-running the export (or backfilling a
      subset) routes every document to the same shard regardless of how
      the input happened to be partitioned. coalesce/repartition-index
      schemes silently reshuffle docs between shards on every re-run.
    - One hash-repartition co-locates each shard, partitionBy writes
      hive-style ``shard=NNN`` dirs (a trainer rank reads its own dir;
      partition pruning keeps ranks from scanning each other's data).
    - ``maxRecordsPerFile`` bounds file size inside a shard so loader
      workers get parallel splits without tiny-file explosion.

    Returns the per-shard manifest (shard, n_rows, n_chars) — the stats
    a data-loader needs for length-aware scheduling — computed with one
    extra agg over the same frame.
    """
    from pyspark.sql import functions as F

    sharded = df.withColumn(
        "shard",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(n_shards),
        ).cast("int"),
    )
    writer = sharded.repartition(n_shards, "shard").write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("shard").parquet(path)
    agg_cols = [F.count(F.lit(1)).alias("n_rows")]
    if "text" in df.columns:
        agg_cols.append(F.sum(F.length("text")).alias("n_chars"))
    return sharded.groupBy("shard").agg(*agg_cols)


def zorder_code(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two pre-scaled integer columns in
    [0, 2^bits): spread each value's bits to even positions with the
    classic mask cascade, OR them offset by one. Pure JVM bit ops —
    whole-stage-codegen friendly, no UDF."""
    from pyspark.sql import functions as F

    if bits > 16:
        raise ValueError("zorder_code supports up to 16 bits per dim")

    def spread_bits(x):
        x = x.cast("long")
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
        return x

    return spread_bits(a).bitwiseOR(F.shiftleft(spread_bits(b), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_parts: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered export: co-locate rows that are close in BOTH
    ``col_a`` and ``col_b`` so parquet min/max footer stats prune
    2-dimensional predicates — the data-layout optimization a
    single-column sort (write_sorted_ranges) cannot give (it prunes one
    dimension and scatters the other). This is the same layout Delta's
    OPTIMIZE ZORDER BY produces; here it is one Catalyst plan:

    1. one tiny agg computes each column's min/max (at 100 TB: catalog
       stats), broadcast back as a 1-row scalar attach;
    2. both columns scale linearly into [0, 2^bits) and interleave into
       a Morton code — map-side bit arithmetic, codegen'd, no UDF;
    3. ``repartitionByRange`` on the code gives range-disjoint files
       along the space-filling curve; ``sortWithinPartitions`` orders
       rows inside each so row groups inherit tight min/max on BOTH
       source columns.

    The helper columns never reach disk. Skew note: repartitionByRange
    samples the code distribution, so hot rectangles spread across
    files instead of hot-spotting one reducer."""
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = "__zlo_a", "__zhi_a", "__zlo_b", "__zhi_b"
    stats = df.agg(
        F.min(col_a).alias(lo_a),
        F.max(col_a).alias(hi_a),
        F.min(col_b).alias(lo_b),
        F.max(col_b).alias(hi_b),
    )
    top = (1 << bits) - 1

    def scaled(col, lo, hi):
        span = F.col(hi).cast("double") - F.col(lo).cast("double")
        frac = F.when(span > 0,
                      (F.col(col).cast("double") - F.col(lo).cast("double"))
                      / span).otherwise(F.lit(0.0))
        return F.least(F.lit(top), F.floor(frac * top).cast("long"))

    (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "__zcode",
            zorder_code(scaled(col_a, lo_a, hi_a),
                        scaled(col_b, lo_b, hi_b), bits),
        )
        .drop(lo_a, hi_a, lo_b, hi_b)
        .repartitionByRange(num_parts, "__zcode")
        .sortWithinPartitions("__zcode")
        .drop("__zcode")
        .write.mode(mode)
        .parquet(path)
    )

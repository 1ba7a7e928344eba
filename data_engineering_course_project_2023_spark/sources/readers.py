"""Scan-side operators (SURVEY §2.1).

Reference behaviors re-expressed declaratively so Catalyst pushes work
into the scan:

- S1 JSON-lines scan  (ref: src/utils/utils.py:17-34) — schema-pinned
  ``spark.read.json``; no inference, single pass.
- S2 row-range subset (ref: src/utils/utils.py:22-30) — offset/limit on a
  deterministic ordering.
- S3 scan-time predicate (ref: src/utils/utils.py:27) — ordinary
  ``filter``; pushdown gets it into the scan for free.
- S7 re-scan staged parts (ref: src/utils/databases.py:369-383) — a glob
  path replaces the reference's sequential per-part loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import DRIVER_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — a metadata-only footer
    read (no data IO), so safe at any scale."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver parquet table.

    Plain ``spark.read.parquet`` — predicate pushdown, column pruning and
    partition-splitting (``spark.sql.files.maxPartitionBytes``) all apply;
    at 100 TB the same call scans a multi-file partitioned layout
    unchanged.

    Nanosecond-precision timestamps (which Spark's vectorized reader
    rejects) are read as int64 nanos and floored to micros — exactly the
    truncation DuckDB/Arrow consumers apply — so cross-engine values
    agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_ts_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c,
            F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Scan the driver tables into a dict of DataFrames."""
    return {
        name: load_table(spark, sf_dir, name)
        for name in (names or DRIVER_TABLES.keys())
    }


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    required_non_null: list[str] | None = None,
) -> DataFrame:
    """S1+S3: schema-pinned JSONL scan with scan-time predicate.

    The reference streams the file line-by-line keeping only rows with
    non-null key columns (utils.py:27); here the filter is declarative and
    Catalyst pushes it down (for parquet all the way into row groups).
    """
    df = spark.read.schema(schema).json(path)
    if required_non_null:
        cond = None
        for c in required_non_null:
            this = F.col(c).isNotNull()
            cond = this if cond is None else (cond & this)
        df = df.filter(cond)
    return df


def scan_subset(df: DataFrame, order_by: str, start_row: int, rows: int) -> DataFrame:
    """S2: read ``rows`` rows starting at ``start_row``.

    The reference does this imperatively while streaming the file
    (utils.py:22-30). Relationally the subset is only well-defined against
    an ordering, so we require an explicit sort key and use Spark's
    native offset/limit (both push into ``CollectLimitExec``).
    """
    return df.orderBy(order_by).offset(start_row).limit(rows)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Media-file ingest via Spark's built-in ``binaryFile`` source:
    (path, modificationTime, length, content) with the raw bytes in
    ``content`` — the entry point for the multimodal pipeline
    (operators/multimodal.py consumes these rows as opaque blobs).

    Pushed-down pruning: ``pathGlobFilter`` keeps non-matching files
    unopened, and a ``length`` predicate prunes on the file-status
    metadata WITHOUT reading content — pass max_bytes to skip oversized
    media at list time. Each file is one row (the format is not
    splittable); at 100 TB the unit of parallelism is the file, so
    shard media into object-store-friendly sizes upstream, not into a
    few giant archives."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df

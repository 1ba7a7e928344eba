"""Explicit schemas per layer.

The reference infers schemas from JSON at every stage
(``/root/reference/src/utils/utils.py:34``); production paths here pin an
explicit ``StructType`` so scans never pay inference and plans are stable
(SURVEY.md §1.2). Two schema families:

1. Driver-provided benchmark tables (TESTDATA.md / FIXTURES.md §A).
2. The reference-shaped arXiv bronze input (FIXTURES.md §B), the raw
   JSONL ``pipeline.py`` reads. Later layers are parquet and are read
   with parquet's own schema.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# The driver parquet files store timestamps with isAdjustedToUTC=false,
# which Spark 4 reads as TIMESTAMP_NTZ (wall-clock, no zone) — matching
# DuckDB's naive TIMESTAMP semantics exactly. events.ts is micros NTZ in
# the current driver drop; earlier drops stored it as TIMESTAMP(NANOS),
# which Spark can't read natively — readers keep a fallback that rebuilds
# nanos columns via timestamp_micros() and casts back to NTZ (the session
# is pinned to UTC, so the wall-clock values are identical either way).

# ---------------------------------------------------------------------------
# 1. Driver benchmark tables (parquet already carries these; kept for
#    validation and for readers that take schema-pinned JSON/CSV input).
# ---------------------------------------------------------------------------

REGION = StructType(
    [
        StructField("r_regionkey", IntegerType()),
        StructField("r_name", StringType()),
    ]
)

NATION = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)

CUSTOMER = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)

SUPPLIER = StructType(
    [
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]
)

PART = StructType(
    [
        StructField("p_partkey", LongType()),
        StructField("p_name", StringType()),
        StructField("p_brand", StringType()),
        StructField("p_type", StringType()),
        StructField("p_size", IntegerType()),
        StructField("p_retailprice", DoubleType()),
    ]
)

ORDERS = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampNTZType()),
        StructField("o_orderpriority", StringType()),
    ]
)

LINEITEM = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampNTZType()),
    ]
)

EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

DRIVER_TABLES: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---------------------------------------------------------------------------
# 2. arXiv reference-shaped bronze input (FIXTURES.md §B; reference citations in
#    each comment point at /root/reference).
# ---------------------------------------------------------------------------

# Bronze: raw Kaggle arXiv JSONL, one publication per line
# (reference scan: src/utils/utils.py:17-34).
ARXIV_RAW = StructType(
    [
        StructField("id", StringType()),
        StructField("submitter", StringType()),
        StructField("authors", StringType()),  # comma-separated names
        StructField("title", StringType()),
        StructField("comments", StringType()),
        StructField("journal-ref", StringType()),
        StructField("doi", StringType()),
        StructField("report-no", StringType()),
        StructField("categories", StringType()),  # space-separated tokens
        StructField("license", StringType()),
        StructField("abstract", StringType()),
        StructField(
            "versions",
            ArrayType(
                StructType(
                    [
                        StructField("created", StringType()),  # GMT string
                        StructField("version", StringType()),
                    ]
                )
            ),
        ),
        StructField("update_date", StringType()),
        # [last, first, suffix] triples (src/utils/databases.py:125-127)
        StructField("authors_parsed", ArrayType(ArrayType(StringType()))),
    ]
)

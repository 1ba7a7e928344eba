"""Message-bus source seam: Kafka-shaped envelopes over pluggable
backends.

The reference ingests continuously from a log tail (``/root/reference/
src/logstash/pipeline/logstash.conf:1-13``); a production deployment of
this engine would ingest from a message bus. Spark's Kafka source
yields a fixed envelope schema — ``key, value, topic, partition,
offset, timestamp`` — so every downstream transform in this engine is
written against that envelope, never against a concrete source. Three
backends produce it:

- ``kafka_envelopes``     — the real thing (``format("kafka")``; the
  connector jar isn't shipped in this container, so this path raises a
  clear error at query start if the package is absent);
- ``file_topic_envelopes`` — JSONL files under ``<root>/<topic>/``
  directories, the bus-replay/backfill layout (fully testable here);
- ``rate_envelopes``      — the built-in rate source, for load tests.

Downstream: ``decode_json_values`` parses ``value`` into a typed struct
(from_json — bad records get a null struct routed to dead-letter, the
same discipline as loganalytics.parse_log_lines).

Scale: the file backend parallelizes by file and resumes via
checkpoint + file index (the file-source equivalent of committed
offsets — hence ``offset`` is null there); a real Kafka topic
parallelizes by partition. Either way the envelope contract downstream
is identical, so switching backends is a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def kafka_envelopes(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Real Kafka backend. Requires the spark-sql-kafka package on the
    classpath (not shipped in this container — the stream fails at
    start() with Spark's data-source-not-found error, which is the
    intended signal)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )


def file_topic_envelopes(
    spark: SparkSession, root: str, topic: str
) -> DataFrame:
    """JSONL-files-as-topic backend: each line of ``<root>/<topic>/*``
    is one message value. Offsets are null — the checkpointed file
    index is the file-source's committed-offset equivalent."""
    lines = spark.readStream.text(f"{root}/{topic}")
    return lines.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value"),
        F.lit(topic).alias("topic"),
        F.lit(0).alias("partition"),
        F.lit(None).cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )


def rate_envelopes(
    spark: SparkSession, rows_per_second: int = 100
) -> DataFrame:
    """Rate-source backend for load/soak tests: synthetic monotonic
    messages in the same envelope."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.lit("rate").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("value").alias("offset"),
        F.col("timestamp"),
    )


def decode_json_values(
    envelopes: DataFrame, value_schema: T.StructType
) -> DataFrame:
    """Envelope → typed columns via from_json, keeping every message
    (parse_log_lines' no-silent-drop rule). PERMISSIVE from_json turns
    malformed JSON into an all-null struct, so ``is_dead`` marks rows
    where no schema field survived — route those to a dead-letter sink,
    process the rest."""
    payload = F.from_json("value", value_schema)
    no_field = F.lit(True)
    for f in value_schema.fields:
        no_field = no_field & payload[f.name].isNull()
    return (
        envelopes.withColumn("payload", payload)
        .withColumn("is_dead", payload.isNull() | no_field)
        .select(
            "topic", "partition", "offset", "timestamp",
            "payload.*", "is_dead",
        )
    )

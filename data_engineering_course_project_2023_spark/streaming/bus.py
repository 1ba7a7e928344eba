"""Message-bus source seam: Kafka-shaped envelopes.

The reference ingests continuously from a log tail (its
``src/logstash/pipeline/logstash.conf:1-13``). Every downstream transform
here is written against the fixed envelope schema of Spark's Kafka
source — ``key, value, topic, partition, offset, timestamp`` — never
against a concrete source, so a bus backend is a one-function change.
The backend shipped is ``file_topic_envelopes``: JSONL files under
``<root>/<topic>/`` directories, the bus-replay/backfill layout.

Downstream: ``decode_json_values`` parses ``value`` into a typed struct
(from_json — bad records get a null struct routed to dead-letter, the
same discipline as loganalytics.parse_log_lines).

Scale: the file backend parallelizes by file and resumes via
checkpoint + file index (the file-source equivalent of committed
offsets — hence ``offset`` is null there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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

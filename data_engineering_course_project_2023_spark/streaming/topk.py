"""Streaming heavy-hitters: a continuously-maintained top-k token
snapshot over a document ingest stream.

Streaming top-k is the canonical "not expressible in append mode"
aggregation: a row that leaves the top-k must disappear from the
result, so the sink needs either complete-mode rewrites or a
foreachBatch snapshot. The scale-honest shape used here:

    readStream(docs) → explode(tokens) → groupBy(token).count()
      → foreachBatch: orderBy(count desc, token asc).limit(k)
                      → overwrite snapshot

The running (token, count) state is the streaming agg's state store —
bounded by vocabulary size, not stream length (the same reason the
batch vocab rank in vocab_encode is dimension-sized). The top-k cut
runs per micro-batch on the UPDATED aggregate, and the snapshot
overwrite makes the sink idempotent under micro-batch replay. At
100 TB/day ingest the groupBy state would move to a sketch
(count-min + heap, plans/approx.cms_token_counts is the batch
analog); the exact version is correct at any scale where the
vocabulary fits the state store, which for natural-language tokens
it does.

Batch twin: :func:`topk_tokens_batch` — same expression tree minus the
watermark/sink; stream == batch pinned in pytest through a
checkpointed availableNow run with a mid-stream restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import tokens


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Shared stream/batch transform: running count per token."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def topk_cut(counts: DataFrame, k: int = 20) -> DataFrame:
    """Deterministic top-k: count desc, token asc tiebreak."""
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(k)


def topk_tokens_batch(docs: DataFrame, k: int = 20) -> DataFrame:
    return topk_cut(token_counts(docs), k)


def topk_snapshot_stream(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    k: int = 20,
):
    """Start the snapshot-maintaining query: each micro-batch rewrites
    ``out_dir`` with the current top-k (complete-mode aggregate into a
    foreachBatch overwrite — idempotent under replay). Returns the
    StreamingQuery."""
    agg = token_counts(docs_stream)

    def _snapshot(batch_df: DataFrame, batch_id: int) -> None:
        (
            topk_cut(batch_df, k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    return (
        agg.writeStream.outputMode("complete")
        .foreachBatch(_snapshot)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

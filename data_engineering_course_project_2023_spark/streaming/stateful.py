"""Custom stateful streaming operator (SURVEY §2.6 extension):
per-user running aggregates via ``applyInPandasWithState``.

Demonstrates the arbitrary-state API the engine offers beyond built-in
windows: state = one row per user (event count, value sum, last-seen
ts), updated per micro-batch, emitted on every update. The batch twin
(`running_user_totals_batch`) computes the identical final state with a
plain groupBy — the equality test pins the streaming semantics exactly
like the window twins do.

Scale: state size is O(distinct users); the state store shards by the
grouping key across executors. A production variant adds
``GroupStateTimeout`` to expire idle users and bound the store.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_user_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        # sum cents as ints: deterministic regardless of batch order.
        # Round HALF_UP away from zero like the batch twin's F.round —
        # pandas .round() is half-even, which flips exact-.5 cents.
        cents = pdf["value"].mul(100)
        total += int(np.copysign(np.floor(cents.abs() + 0.5), cents).sum())
    state.update((n, float(total)))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total / 100.0],
        }
    )


def running_user_totals_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming: per-user running totals with explicit state."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch twin: the state an infinite-watermark stream would hold
    after consuming the same input (exact cents math to match)."""
    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
            ).alias("total_value"),
        )
    )

"""Custom stateful streaming operator (SURVEY.md §2.10):
``applyInPandasWithState`` running per-key aggregates that survive
across micro-batches — the Spark-native replacement for hand-rolled
incremental state (the reference has none; its "state" is whatever
rows already sit in Postgres).

``running_user_totals_stream`` keeps (n_events, total_value) per user
in GroupState while a bounded parquet stream drains with
Trigger.AvailableNow, emitting one row per (user, batch) update. The
same operator shape scales to sessionization, CDC folding, or online
feature aggregation at cluster scale: state is hash-partitioned by
key, checkpointed, and recovered on restart.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.tables import read_event_stream
from . import settle

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [round(total, 2)]})


def final_user_state(updates: DataFrame) -> DataFrame:
    """Reduce the per-batch update log to the final state per user.

    n_events is monotonically increasing across a user's updates, so
    the row with the max n_events IS the final state; taking
    column-wise max instead would pair values from different updates
    (and pick a non-final total when event values can be negative)."""
    return (updates.groupBy("user_id")
            .agg(F.max_by("total_value", "n_events").alias("total_value"),
                 F.max("n_events").alias("n_events"))
            .select("user_id", "n_events", "total_value"))


def running_user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stateful operator over the events table as a bounded
    stream; returns the final per-user totals as a batch DataFrame."""
    updated = (
        read_event_stream(spark, sf_dir).groupBy("user_id")
        .applyInPandasWithState(
            _update, OUTPUT_SCHEMA, STATE_SCHEMA,
            "update", GroupStateTimeout.NoTimeout)
    )
    # keep the last update per user (a user may emit once per batch)
    return final_user_state(settle(updated, "stateful", "update"))

"""Streaming deduplication (SURVEY.md §2.10 + §2.13 crossover): the
drop-repeated-records shape every streaming ingest needs, through real
Structured Streaming state.

Two variants:

* ``run_dedup_stream`` — unbounded-key ``dropDuplicates`` on the key
  columns.  State grows with the distinct-key cardinality; correct for
  bounded key domains (entity ids, enum pairs).  With
  ``Trigger.AvailableNow`` over a bounded source the emitted set is
  exactly the batch ``SELECT DISTINCT`` on the keys, so the entry is
  fully SQL-oracle-checkable.
* ``run_dedup_within_watermark_stream`` —
  ``dropDuplicatesWithinWatermark``: state for a key is evicted once
  the watermark passes its event time + delay, so state is bounded by
  (arrival rate × watermark window) regardless of key cardinality —
  the form that survives an unbounded 100 TB/day firehose.  Exactness
  caveat: a duplicate arriving after its first occurrence's state was
  evicted is re-emitted, so this variant equals DISTINCT only when all
  duplicates of a key land within the watermark delay (true for the
  bounded test corpus, where everything arrives in one micro-batch).

Both emit only the key columns (append mode): which physical row
"wins" inside a micro-batch is not deterministic, the key set is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import read_event_stream
from . import settle

_KEYS = ["user_id", "event_type"]


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates over (user_id, event_type) — the
    settled AvailableNow key set equals batch SELECT DISTINCT, so the
    streaming dedup state machinery is fully oracle-checked."""
    stream = read_event_stream(spark, sf_dir).select(*_KEYS)
    return settle(stream.dropDuplicates(_KEYS), "streamdedup", "append")


def run_dedup_within_watermark_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours",
) -> DataFrame:
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark):
    per-key state evicted behind the watermark — the unbounded-firehose
    form; equals DISTINCT on the bounded test source (all duplicates
    arrive inside the delay window)."""
    stream = (read_event_stream(spark, sf_dir)
              .select("ts", *_KEYS)
              .withWatermark("ts", watermark))
    deduped = (stream.dropDuplicatesWithinWatermark(_KEYS)
               .select(*_KEYS))
    return settle(deduped, "streamdedupwm", "append")

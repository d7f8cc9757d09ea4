"""Stream-stream joins (SURVEY.md §2.10): the event-correlation shape
(click ⋈ preceding views of the same user within a time bound) through
a real Structured Streaming inner interval join.

Spark buffers both sides in keyed state; the event-time range condition
plus the watermark bound how much state is retained (views older than
``lookback`` + watermark past the stream's max event time are evicted).
With ``Trigger.AvailableNow`` over a bounded file source the emitted
set equals the batch time-bounded self-join, so the entry is fully
SQL-oracle-checkable — the streaming engine's join/state machinery is
what is actually under test.

At 100 TB the shape is the standard symmetric hash join partitioned by
``user_id``: state per key bounded by the interval width, late rows
dropped by the watermark; skewed users are the operational risk
(AQE does not apply inside micro-batches — pre-salt hot keys upstream
if one user dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_event_ts, read_event_stream
from . import settle


def run_interval_join_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "60 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner interval join (click ⋈ same-user views in
    the preceding hour) through real Structured Streaming state — the
    bounded AvailableNow run settles to exactly the batch time-bounded
    self-join, so the oracle is plain SQL.

    For every 'click' event, the 'view' events of the same user with
    ``c.ts - lookback <= v.ts <= c.ts``; returns the settled pairs with
    the gap in seconds."""

    def side(event_type: str, prefix: str) -> DataFrame:
        return (read_event_stream(spark, sf_dir)
                .where(F.col("event_type") == event_type)
                .select(F.col("event_id").alias(f"{prefix}_id"),
                        F.col("user_id").alias(f"{prefix}_user"),
                        F.col("ts").alias(f"{prefix}_ts"))
                .withWatermark(f"{prefix}_ts", watermark))

    clicks = side("click", "click")
    views = side("view", "view")
    joined = clicks.join(
        views,
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(
            f"INTERVAL {lookback}")),
        "inner")
    return settle(joined, "intervaljoin", "append").select(
        F.col("click_id"), F.col("view_id"),
        F.col("click_user").alias("user_id"),
        (F.unix_timestamp("click_ts") - F.unix_timestamp("view_ts"))
        .cast("long").alias("gap_sec"),
    )


def run_interval_join_stream_outer(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "60 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — unmatched clicks emit
    NULL view columns only once the watermark proves no match can
    arrive (the state-eviction path the inner variant never
    exercises); a sentinel batch pushes the watermark over the bounded
    lake so the settled set equals the batch LEFT JOIN.

    The proof needs event time to advance past the last real click, so
    the bounded lake is staged into a temp dir together with a far-future
    sentinel row per side (user_id -1, filtered from the output); the
    sentinel batch pushes the watermark over every real row and
    flushes the unmatched-left state.  ``maxFilesPerTrigger=1`` keeps
    the sentinel in its own micro-batch — watermarks only advance on
    batch boundaries.

    The outer-join state machinery (join buffer + null-side emission
    on watermark) is therefore fully SQL-oracle-checked.  This is the
    one stream that does not start from ``read_event_stream``: it
    reads the staged directory one file per trigger.
    Unbounded-production note: a live feed pushes the watermark by
    itself; the sentinel is purely the bounded-replay harness."""
    import os
    import shutil
    import tempfile

    from ..session import ensure_session_confs

    ensure_session_confs(spark)

    stage = tempfile.mkdtemp(prefix="sgraft_outer_join_")
    lake_file = os.path.join(sf_dir, "events.parquet")
    shutil.copy(lake_file, os.path.join(stage, "a_events.parquet"))

    # Sentinels are derived from the RAW read so their ts column uses
    # the lake's physical representation (TIMESTAMP(NANOS) arrives as
    # long under nanosAsLong; foreign lakes carry real timestamps) —
    # a hand-built micros sentinel would silently decode 1000x off
    # after the nanos normalization.
    from pyspark.sql import types as T

    raw = spark.read.parquet(os.path.join(stage, "a_events.parquet"))
    mx = raw.agg(F.max("ts")).first()[0]
    if isinstance(raw.schema["ts"].dataType, T.LongType):
        future = F.lit(int(mx) + 10 * 86400 * 10**9)   # +10 days in nanos
    else:
        future = F.lit(mx) + F.expr("INTERVAL 10 DAYS")
    one = raw.limit(1)

    def _sentinel(event_id: int, event_type: str) -> DataFrame:
        cols = []
        for f in raw.schema.fields:
            if f.name == "event_id":
                cols.append(F.lit(event_id).cast(f.dataType).alias(f.name))
            elif f.name == "ts":
                cols.append(future.alias("ts"))
            elif f.name == "user_id":
                cols.append(F.lit(-1).cast(f.dataType).alias(f.name))
            elif f.name == "event_type":
                cols.append(F.lit(event_type).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return one.select(*cols)

    sent_path = os.path.join(stage, "z_sentinel.parquet")
    _sentinel(-1, "click").unionByName(_sentinel(-2, "view")) \
        .coalesce(1).write.mode("overwrite").parquet(sent_path)
    # the file stream orders same-mtime files by path; make the intent
    # explicit — the sentinel batch must come LAST or every real row
    # would arrive behind the jumped watermark and be dropped
    future_mtime = None
    for root, _dirs, files in os.walk(sent_path):
        for fn in files:
            p = os.path.join(root, fn)
            st = os.stat(p)
            future_mtime = (st.st_atime, st.st_mtime + 60)
            os.utime(p, future_mtime)

    schema = raw.schema

    def side(event_type: str, prefix: str) -> DataFrame:
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .option("recursiveFileLookup", "true")
             .parquet(stage))
        s = normalize_event_ts(s)
        return (s.where(F.col("event_type") == event_type)
                .select(F.col("event_id").alias(f"{prefix}_id"),
                        F.col("user_id").alias(f"{prefix}_user"),
                        F.col("ts").alias(f"{prefix}_ts"))
                .withWatermark(f"{prefix}_ts", watermark))

    clicks = side("click", "click")
    views = side("view", "view")
    joined = clicks.join(
        views,
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(
            f"INTERVAL {lookback}")),
        "left_outer")
    try:
        settled = settle(joined, "intervaljoinouter", "append")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return (settled
            .where(F.col("click_user") >= 0)
            .select(
                F.col("click_id"), F.col("view_id"),
                F.col("click_user").alias("user_id"),
                (F.unix_timestamp("click_ts") - F.unix_timestamp("view_ts"))
                .cast("long").alias("gap_sec")))

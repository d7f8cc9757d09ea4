"""Stream-static enrichment (SURVEY.md §2.10): join a live stream
against a BATCH-computed dimension/statistics table — the standard
"enrich the firehose with reference data" topology (the streaming
analog of the reference DAG's Postgres-side weather ⋈ cities join,
codes/weather_etl_pipeline.py join_data task).

A stream-static equi-join is stateless on the stream side: Spark
re-plans the static side per micro-batch and (here) broadcasts it, so
there is no streaming state store at all — unlike stream-stream joins.
That is exactly the 100 TB/day posture: the firehose never shuffles,
the kilobyte-scale stats table rides to every task.

The demonstration pipeline is the z-score anomaly gate: per-type
mean/σ are computed in BATCH from decimal-summed power sums (identical
to ``plans.extensions.events_anomaly_zscore``), the event stream joins
them, and only |z| >= 2 outliers are appended.  With
``Trigger.AvailableNow`` over the bounded lake the settled sink equals
the batch query bit-for-bit, so the registry entry is fully
SQL-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_event_stream, read_parquet_table
from . import settle


def run_static_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (the topology missing
    between the stream-stream joins and the batch joins): the event
    stream joins a batch-computed per-type stats dimension with NO
    state store — Spark re-resolves the static side per micro-batch
    and broadcasts it.  Settled AvailableNow output equals the batch
    z-score gate, so the oracle is the same SQL as
    ``events_anomaly_zscore``."""
    events = read_parquet_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
         .alias("s2"))
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    st = stats.select("event_type", mean.alias("mu"),
                      F.sqrt(var).alias("sigma"))

    stream = read_event_stream(spark, sf_dir)
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    flagged = (stream.join(F.broadcast(st), "event_type")
               .select("event_id", "event_type", "value",
                       F.round(z, 4).alias("zscore"))
               .where(F.abs(F.col("zscore")) >= 2.0))
    return settle(flagged, "enrich", "append")

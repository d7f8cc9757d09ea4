"""Structured Streaming posture (SURVEY.md §2.10).

The reference's "incremental" behavior is a daily Airflow re-run with
duplicate-appending sinks; the engine replaces that with Structured
Streaming: bounded re-processing via ``Trigger.AvailableNow`` and
event-time windows + watermarks for late data.  Every streaming query
reads the lake through ``sources.tables.read_event_stream`` and runs
to completion through ``settle``.
"""

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

# One live memory-sink table per streaming entry point ("prefix"): a
# memory sink pins its full result in driver memory and its temp-view
# registration lives for the session, so repeated invocations (bench
# passes, registry sweeps, long-lived notebook sessions) accumulate
# state without bound. Each entry point drops ITS OWN previous sink
# before starting a new query. Result-lifecycle contract: the returned
# DataFrame reads the sink table and stays valid until the SAME entry
# point runs again on the session — materialize before re-invoking.
_LIVE_SINKS: dict[str, str] = {}


def _rotate_sink(spark: SparkSession, prefix: str, qname: str) -> str:
    """Register ``qname`` as ``prefix``'s live sink, dropping the
    previous one (bounds per-session sink state at one per entry
    point)."""
    old = _LIVE_SINKS.get(prefix)
    if old is not None:
        try:
            spark.catalog.dropTempView(old)
        except Exception:  # view already gone — nothing to bound
            pass
    _LIVE_SINKS[prefix] = qname
    return qname


def settle(df: DataFrame, prefix: str, mode: str) -> DataFrame:
    """Run the streaming frame ``df`` to completion
    (``Trigger.AvailableNow``) into a memory sink in output ``mode``
    and return the sink table as a batch DataFrame.  The sink replaces
    ``prefix``'s previous one (see ``_LIVE_SINKS``).

    Each query checkpoints into its own ``tempfile.mkdtemp()``
    directory, removed once the query has stopped: the result lives in
    the memory sink, and a uuid-named query can never resume, so
    nothing reads the checkpoint after termination.  A session-wide
    ``spark.sql.streaming.checkpointLocation`` is therefore never
    written to (it would keep one directory per run)."""
    spark = df.sparkSession
    qname = _rotate_sink(spark, prefix, f"{prefix}_{uuid.uuid4().hex[:8]}")
    ckpt = tempfile.mkdtemp(prefix=f"cw_stream_{prefix}_")
    query = None
    try:
        query = (df.writeStream.outputMode(mode)
                 .format("memory").queryName(qname)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True)
                 .start())
        query.awaitTermination()
    finally:
        if query is not None and query.isActive:  # pragma: no cover
            query.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname)


from .windows import run_tumbling_count_stream, sessionize  # noqa: E402

__all__ = ["run_tumbling_count_stream", "sessionize", "settle"]

"""HTTP JSON ingestion (SURVEY.md §2.1 S1, §2.12 O4 and the S2 probe).

The reference fetches one city's weather per run with requests +
an Airflow HttpSensor (codes/weather_etl_pipeline.py:51-53, :282-286).
Spark has no built-in HTTP source, so the engine provides:

- ``probe`` — bounded-retry availability check (the sensor, O4's retry
  policy folded in), stdlib urllib only;
- ``http_json_source`` — N endpoints → DataFrame. Up to
  ``DRIVER_FETCH_MAX_URLS`` endpoints the driver fetches serially;
  above it the fetch fans out across executors via ``mapInPandas``
  (each Arrow batch of URLs is fetched inside the partition), the scale
  path: ingest parallelism == partition count, rate limiting stays
  per-executor.  Either way each URL is fetched exactly once, when
  ``http_json_source`` is called; later actions on the result read the
  fetched rows and never call the fetcher again.

Every function takes an injectable ``fetcher`` so tests (and offline
runs) never touch the network; the default uses stdlib urllib.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

Fetcher = Callable[[str], dict]

# above this many URLs the fetch fans out across executors
DRIVER_FETCH_MAX_URLS = 64


def _default_fetcher(url: str, timeout_s: float = 10.0) -> dict:
    with urllib.request.urlopen(url, timeout=timeout_s) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def probe(url: str, retries: int = 3, delay_s: float = 3.0,
          fetcher: Fetcher | None = None) -> bool:
    """S2 sensor semantics with O4's bounded retry (reference: 1 retry,
    3 s delay). Returns True when the endpoint answers; fails *fast*
    after the retry budget — the engine deliberately does not replicate
    the reference's silent error swallowing (O6)."""
    f = fetcher or _default_fetcher
    for attempt in range(retries + 1):
        try:
            f(url)
            return True
        except Exception:  # noqa: BLE001
            if attempt == retries:
                return False
            time.sleep(delay_s)
    return False


def http_json_source(
    spark: SparkSession,
    urls: list[str],
    schema: T.StructType,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """Materialize JSON documents from ``urls`` as a DataFrame with an
    explicit schema (no inference — SURVEY.md §1.2).

    ≤ ``DRIVER_FETCH_MAX_URLS`` urls: driver-side fetch (the reference
    shape, one city per run). Above it: fetching runs inside
    ``mapInPandas`` partitions, each a range of url indices —
    executor-parallel ingest with no driver bottleneck.

    Fetch-once contract: both paths fetch every URL exactly once, at
    call time.  The executor path parses the bodies and
    ``localCheckpoint(eager=True)``s the result, so the returned frame
    reads checkpointed blocks: every later action (quality gates,
    counts, each sink) sees the same payloads, and a live API is not
    asked again per action.  The price is lineage: if an executor
    holding checkpoint blocks is lost, a later action fails instead of
    silently re-fetching — the right failure for a source that is not
    idempotent (a re-fetch could return a different payload than the
    rows already written)."""
    f = fetcher or _default_fetcher
    if len(urls) <= DRIVER_FETCH_MAX_URLS:
        docs = [f(u) for u in urls]
        return spark.createDataFrame(docs, schema=schema)

    # the partitions are index ranges into ``urls`` (shipped with the
    # task), so spreading the fetch needs no shuffle
    idx = spark.range(len(urls), numPartitions=min(len(urls) // 8 + 1, 256))
    out_schema = T.StructType([T.StructField("body", T.StringType())])

    def fetch_batch(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame(
                {"body": [json.dumps(f(urls[i])) for i in pdf["id"]]})

    bodies = idx.mapInPandas(fetch_batch, out_schema)
    return (bodies.select(F.from_json(F.col("body"), schema).alias("doc"))
            .select("doc.*")
            .localCheckpoint(eager=True))

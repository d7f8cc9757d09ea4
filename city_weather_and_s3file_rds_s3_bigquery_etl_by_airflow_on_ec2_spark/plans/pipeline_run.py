"""End-to-end reference pipeline with sinks (SURVEY.md §3.1 mapped to
one Spark application).

The reference topology `start >> api_sensor >> fetch >> {load_weather,
load_csv} >> join >> save_s3 >> load_bq >> end` becomes: probe →
http_json_source → flatten/convert → broadcast join with the lookup →
quality gates → three sinks (single-object CSV = the S3 artifact,
parquet warehouse = the BigQuery stand-in, optional JDBC). The
XCom/task boundaries disappear into DataFrame lineage; the two
"parallel loads" are just two independent subtrees of one plan.

Fetch once, materialize once: like the reference, which fetches each
city once per run and loads that one payload everywhere, a run calls
the weather API once per URL (plus the probe) — ``http_json_source``
fetches at call time — and computes the joined day once
(``localCheckpoint(eager=True)``).  The quality gates, the row count,
the CSV and the warehouse append all read those checkpointed rows, so
they cannot disagree with each other, and ``PipelineResult.final_df``
is that same frame.

Idempotency (O7): the warehouse sink uses ``merge_append`` on the
natural key (city, time_of_record), so re-running a day — the
reference's duplicate-multiplying failure mode — is a no-op here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import expect_no_nulls, expect_nonempty
from ..sources import warehouse
from ..sources.files import write_single_csv
from ..sources.http import Fetcher, http_json_source, probe
from .reference_pipeline import (
    OWM_SCHEMA,
    city_lookup,
    flatten_weather,
    join_weather_lookup,
)


@dataclass
class PipelineResult:
    final_df: DataFrame
    rows_joined: int
    csv_path: str | None = None
    warehouse_rows_written: int = 0
    warnings: list[str] = field(default_factory=list)


def run_weather_pipeline(
    spark: SparkSession,
    api_urls: list[str],
    out_dir: str,
    fetcher: Fetcher | None = None,
    lookup_df: DataFrame | None = None,
) -> PipelineResult:
    """Execute the full reference dataflow; returns handles + counts.

    ``fetcher`` is injectable (tests run offline)."""
    if api_urls and not probe(api_urls[0], retries=3, delay_s=0.0,
                              fetcher=fetcher):
        raise RuntimeError("weather API unavailable (sensor failed)")

    raw = http_json_source(spark, api_urls, OWM_SCHEMA, fetcher=fetcher)
    weather = flatten_weather(raw)
    lookup = lookup_df if lookup_df is not None else city_lookup(spark)

    # every consumer below reads this one materialization; without it
    # each action re-plans the lookup scan and the broadcast join
    final = join_weather_lookup(weather, lookup).localCheckpoint(eager=True)
    expect_nonempty(final, "joined weather data")
    expect_no_nulls(final, ["city", "time_of_record"])

    rows = final.count()
    csv_path = write_single_csv(final, f"{out_dir}/final_weather_data.csv")
    written = warehouse.merge_append(
        final, f"{out_dir}/warehouse/final_weather_data",
        key_cols=["city", "time_of_record"])
    return PipelineResult(final_df=final, rows_joined=rows,
                          csv_path=csv_path, warehouse_rows_written=written)

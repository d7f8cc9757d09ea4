"""End-to-end pipeline run (SURVEY.md §3.1) and quality-gate tests."""

from __future__ import annotations

import glob

import pytest

from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.quality import (
    DataQualityError,
    expect_nonempty,
    expect_unique_key,
    expect_values_in,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.pipeline_run import (
    run_weather_pipeline,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.reference_pipeline import (
    CITY_LOOKUP_SCHEMA,
    GOLDEN_OWM_PAYLOAD,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources import (
    warehouse,
)

from .conftest import CountingFetcher


def fetcher(url: str) -> dict:
    if "down" in url:
        raise ConnectionError("api down")
    return GOLDEN_OWM_PAYLOAD


def test_pipeline_end_to_end(spark, tmp_path):
    res = run_weather_pipeline(
        spark, ["http://api/weather?q=houston"], str(tmp_path), fetcher=fetcher)
    assert res.rows_joined == 1
    assert res.warehouse_rows_written == 1
    csv = open(res.csv_path).read().splitlines()
    assert csv[0].startswith("city,description,temperature_fahrenheit")
    assert csv[1].startswith("Houston,clear sky,55.148,53.654")

    # re-run same day: reference would duplicate (O7); engine no-ops
    res2 = run_weather_pipeline(
        spark, ["http://api/weather?q=houston"], str(tmp_path), fetcher=fetcher)
    assert res2.warehouse_rows_written == 0
    wh = spark.read.parquet(f"{tmp_path}/warehouse/final_weather_data")
    assert wh.count() == 1

    # the reference-faithful blind append duplicates, as documented
    warehouse.append(res2.final_df, f"{tmp_path}/warehouse/final_weather_data")
    assert spark.read.parquet(
        f"{tmp_path}/warehouse/final_weather_data").count() == 2


def test_pipeline_executor_path_fetches_once(spark, tmp_path):
    """80 URLs (above the 64-URL driver threshold) take the executor-side
    fetch.  A day calls the API once per URL plus the probe, and the
    row count, the CSV and the warehouse all come from that one fetch;
    a replay fetches again but writes nothing."""
    cities = [f"City{i:02d}" for i in range(80)]
    covered = cities[::3]
    lookup = spark.createDataFrame(
        [(c, "Texas", 1000 + i, 1.5) for i, c in enumerate(covered)],
        CITY_LOOKUP_SCHEMA)
    urls = [f"http://api/weather?city={c}" for c in cities]
    fetcher = CountingFetcher(tmp_path / "calls")
    out = str(tmp_path / "out")

    res = run_weather_pipeline(spark, urls, out, fetcher=fetcher,
                               lookup_df=lookup)
    assert fetcher.calls == 80 + 1
    assert res.rows_joined == len(covered)
    assert res.warehouse_rows_written == len(covered)
    wh_path = f"{out}/warehouse/final_weather_data"
    wh = spark.read.parquet(wh_path)
    wh_files = glob.glob(f"{wh_path}/*.parquet")
    csv_rows = spark.read.schema(wh.schema).option("header", True) \
        .csv(res.csv_path).collect()
    wh_rows = wh.collect()
    assert len(csv_rows) == len(covered)
    assert sorted(csv_rows) == sorted(wh_rows)
    assert sorted(res.final_df.collect()) == sorted(wh_rows)
    assert {r.city for r in wh_rows} == set(covered)

    replay = run_weather_pipeline(spark, urls, out, fetcher=fetcher,
                                  lookup_df=lookup)
    assert fetcher.calls == 2 * (80 + 1)
    assert replay.rows_joined == len(covered)
    assert replay.warehouse_rows_written == 0
    assert glob.glob(f"{wh_path}/*.parquet") == wh_files
    assert spark.read.parquet(wh_path).count() == len(covered)


def test_pipeline_sensor_failure(spark, tmp_path):
    with pytest.raises(RuntimeError, match="sensor"):
        run_weather_pipeline(spark, ["http://down/x"], str(tmp_path),
                             fetcher=fetcher)


def test_quality_gates(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    assert expect_nonempty(df) is df
    with pytest.raises(DataQualityError, match="at least one row"):
        expect_nonempty(df.where("k > 99"))
    with pytest.raises(DataQualityError, match="duplicate key"):
        expect_unique_key(df, ["k"])
    expect_unique_key(df, ["k", "v"])
    expect_values_in(df, "v", ["a", "b"])
    with pytest.raises(DataQualityError, match="unexpected value"):
        expect_values_in(df, "v", ["a"])


def test_engine_query_runs_registry_operators(spark):
    """Engine.query(name) is the user-facing one-call surface for every
    registry operator; unknown names fail with a pointer to the list."""
    import pytest

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.engine import (
        Engine,
    )

    from .conftest import SF_SMALL

    eng = Engine(sf_dir=SF_SMALL, spark=spark)
    names = Engine.operators()
    assert len(names) >= 230 and "flagship_weather_join" in names
    out = eng.query("q1_pricing_summary").collect()
    assert len(out) > 0
    with pytest.raises(KeyError, match="operators"):
        eng.query("no_such_operator")

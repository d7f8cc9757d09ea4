"""The `etl_daily` workload: the reference weather pipeline
(`plans.pipeline_run.run_weather_pipeline`) run once per simulated day.

Inputs are generated here from the workload seed:

- a fleet of ``FLEET`` cities, above `http_json_source`'s 64-URL
  threshold, so fetching runs executor-side in `mapInPandas`;
- an in-process fetcher that answers each URL with a seeded
  OpenWeatherMap-shaped payload for (city, day), no network;
- a lookup CSV (with the reference's BOM header) covering
  ``LOOKUP_COVERAGE`` of the fleet plus cities outside it, read through
  `sources.files.read_csv_positional`, so the inner join drops rows.

Every ``REPLAY_EVERY``-th operation replays an earlier day, which must
write 0 warehouse rows.  A benchmark run holds two operations, the cold
day and one timed new day, so the replay runs in the self-test.  Each
day's CSV is checked against rows recomputed in plain Python; the
warehouse must hold exactly the distinct (city, time_of_record) keys of
the days run.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import os
import random
import sys
from decimal import ROUND_HALF_UP, Decimal
from urllib.parse import parse_qs, urlsplit

import pyarrow.parquet as pq

FLEET = 72
LOOKUP_COVERAGE = 0.75
LOOKUP_EXTRA = 12
REPLAY_EVERY = 3
BASE_DT = 1742203868  # the reference's documented Houston run
URL = "https://api.openweathermap.invalid/data/2.5/weather?id={cid}&day={day}"
SYLLABLES = ("ash", "bel", "cor", "dun", "el", "fair", "glen", "har", "ing",
             "kel", "lan", "mor", "nor", "ox", "pem", "quin", "ros", "sal",
             "tor", "val", "wes", "york")
STATES = ("Texas", "Ohio", "Utah", "Maine", "Iowa", "Idaho", "Oregon",
          "Nevada", "Kansas", "Alaska")
SKIES = ("clear sky", "few clouds", "scattered clouds", "broken clouds",
         "light rain", "mist", "overcast clouds")


class CheckError(AssertionError):
    """An output that disagrees with the computation made apart."""


def city_names(seed: int, n: int) -> list[str]:
    rng = random.Random(f"fleet:{seed}")
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        k = rng.randint(2, 3)
        name = "".join(rng.choice(SYLLABLES) for _ in range(k)).title()
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


class Fleet:
    """The seeded cities, their lookup rows and their daily payloads."""

    def __init__(self, seed: int, n: int = FLEET) -> None:
        self.seed = seed
        names = city_names(seed, n + LOOKUP_EXTRA)
        self.cities = names[:n]
        rng = random.Random(f"static:{seed}")
        self.tz = {c: rng.randrange(-10, 11) * 3600 for c in names}
        covered = rng.sample(self.cities, round(n * LOOKUP_COVERAGE))
        self.lookup = {
            c: (rng.choice(STATES), rng.randrange(5_000, 3_000_000),
                round(rng.uniform(5.0, 700.0), 1))
            for c in covered + names[n:]}

    def urls(self, day: int) -> list[str]:
        return [URL.format(cid=i, day=day) for i in range(len(self.cities))]

    def payload(self, cid: int, day: int) -> dict:
        city = self.cities[cid]
        r = random.Random(f"wx:{self.seed}:{cid}:{day}")
        temp = round(r.uniform(250.0, 315.0), 2)
        t_dt = BASE_DT + 86_400 * day + r.randrange(0, 3_600)
        return {
            "coord": {"lon": round(r.uniform(-120, -70), 4),
                      "lat": round(r.uniform(25, 49), 4)},
            "weather": [{"id": 800, "main": "Sky",
                         "description": r.choice(SKIES), "icon": "01d"}],
            "base": "stations",
            "main": {"temp": temp,
                     "feels_like": round(temp - r.uniform(0, 4), 2),
                     "temp_min": round(temp - r.uniform(0, 3), 2),
                     "temp_max": round(temp + r.uniform(0, 3), 2),
                     "pressure": r.randrange(980, 1040),
                     "humidity": r.randrange(10, 100),
                     "sea_level": 1013, "grnd_level": 1010},
            "visibility": 10_000,
            "wind": {"speed": round(r.uniform(0, 15), 2),
                     "deg": r.randrange(0, 360)},
            "clouds": {"all": r.randrange(0, 100)},
            "dt": t_dt,
            "sys": {"type": 1, "id": cid, "country": "US",
                    "sunrise": t_dt - r.randrange(3_600, 30_000),
                    "sunset": t_dt + r.randrange(3_600, 30_000)},
            "timezone": self.tz[city],
            "id": cid,
            "name": city,
            "cod": 200,
        }

    def write_lookup_csv(self, path: str) -> None:
        with open(path, "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f)
            # the reference file's BOM and odd-case header; columns
            # bind by position, so neither may matter
            w.writerow(["\ufeffCity", "State", "census_2020",
                        "Land_Area_sq_mile_2020"])
            for c, (state, census, area) in self.lookup.items():
                w.writerow([c, state, census, area])

    # -------------------------------------------------- expected output

    def expected_rows(self, day: int) -> set[tuple]:
        """The day's joined rows, recomputed in plain Python."""
        out = set()
        for cid, city in enumerate(self.cities):
            if city not in self.lookup:
                continue
            p = self.payload(cid, day)
            m, tz = p["main"], p["timezone"]
            state, census, area = self.lookup[city]
            out.add((
                city, p["weather"][0]["description"],
                fahrenheit(m["temp"]), fahrenheit(m["feels_like"]),
                fahrenheit(m["temp_min"]), fahrenheit(m["temp_max"]),
                m["pressure"], m["humidity"], p["wind"]["speed"],
                local_time(p["dt"], tz), local_time(p["sys"]["sunrise"], tz),
                local_time(p["sys"]["sunset"], tz),
                state, census, area))
        return out


def fahrenheit(kelvin: float) -> float:
    """round((K - 273.15) * 9/5 + 32, 3), half-up on the shortest
    decimal form of the double, as Spark's ``round`` does."""
    f = (kelvin - 273.15) * (9.0 / 5.0) + 32.0
    return float(Decimal(repr(f)).quantize(Decimal("0.001"),
                                           rounding=ROUND_HALF_UP))


def local_time(epoch_s: int, tz_s: int) -> dt.datetime:
    """Local wall clock as a naive timestamp: ``dt`` + ``timezone``."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=epoch_s + tz_s)


class Fetcher:
    """The benchmark's stand-in for the weather API.  It runs inside
    Spark's Python workers; with ``count_dir`` set every call appends
    one line to a per-process file there, so the calls can be counted
    across processes."""

    def __init__(self, fleet: Fleet, count_dir: str | None = None) -> None:
        self.fleet = fleet
        self.count_dir = count_dir

    def __call__(self, url: str) -> dict:
        q = parse_qs(urlsplit(url).query)
        if self.count_dir:
            path = os.path.join(self.count_dir, f"fetch-{os.getpid()}.log")
            with open(path, "a") as f:
                f.write(url + "\n")
        return self.fleet.payload(int(q["id"][0]), int(q["day"][0]))


def count_fetches(count_dir: str) -> int:
    n = 0
    for path in glob.glob(os.path.join(count_dir, "fetch-*.log")):
        with open(path) as f:
            n += sum(1 for _ in f)
    return n


def _parse_ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).replace(
        tzinfo=None)


def read_day_csv(path: str) -> list[tuple]:
    """The CSV the pipeline wrote, parsed back into typed tuples."""
    out = []
    with open(path, newline="", encoding="utf-8") as f:
        rows = csv.reader(f)
        next(rows)
        for r in rows:
            out.append((r[0], r[1], float(r[2]), float(r[3]), float(r[4]),
                     float(r[5]), int(r[6]), int(r[7]), float(r[8]),
                     _parse_ts(r[9]), _parse_ts(r[10]), _parse_ts(r[11]),
                     r[12], int(r[13]), float(r[14])))
    return out


def warehouse_keys(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=["city", "time_of_record"])
    return [(c, ts.replace(tzinfo=None)) for c, ts in
            zip(t.column("city").to_pylist(),
                t.column("time_of_record").to_pylist())]


def warehouse_stats(path: str) -> tuple[int, int]:
    """(parquet files, total bytes) of the warehouse table."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class EtlWorkload:
    """One operation is one simulated day of the reference pipeline."""

    def __init__(self, seed: int, work: str, tracer,
                 count_fetches_to: str | None = None,
                 fleet: int = FLEET) -> None:
        self.fleet = Fleet(seed, fleet)
        self.work = work
        self.tracer = tracer
        self.out_dir = os.path.join(work, "etl_out")
        self.wh = os.path.join(self.out_dir, "warehouse", "final_weather_data")
        self.lookup_csv = os.path.join(work, "us_cities.csv")
        self.fleet.write_lookup_csv(self.lookup_csv)
        self.fetcher = Fetcher(self.fleet, count_fetches_to)
        self.ops = 0
        self.days_run: list[int] = []
        self.written: list[int] = []

    def register(self, spark) -> None:
        from pyspark import cloudpickle

        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.reference_pipeline import (  # noqa: E501
            CITY_LOOKUP_SCHEMA,
        )
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.files import (  # noqa: E501
            read_csv_positional,
        )
        # Spark's Python workers cannot import this directory: ship the
        # fetcher's module by value
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        self.spark = spark
        if self.tracer.enabled:
            self.tracer.wrap_pipeline()
        self.lookup = read_csv_positional(spark, self.lookup_csv,
                                          CITY_LOOKUP_SCHEMA)

    def next_day(self) -> tuple[int, bool]:
        """The schedule: every REPLAY_EVERY-th operation (2, 5, ...)
        replays an earlier day drawn from the seed; the others run new
        days 0, 1, 2, ..."""
        k = self.ops
        if k % REPLAY_EVERY == REPLAY_EVERY - 1:
            rng = random.Random(f"replay:{self.fleet.seed}:{k}")
            return rng.choice(sorted(set(self.days_run))), True
        return k - k // REPLAY_EVERY, False

    def run_op(self) -> dict:
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.pipeline_run import (  # noqa: E501
            run_weather_pipeline,
        )
        day, replay = self.next_day()
        with self.tracer.span("pipeline_run"):
            res = run_weather_pipeline(self.spark, self.fleet.urls(day),
                                       self.out_dir, fetcher=self.fetcher,
                                       lookup_df=self.lookup)
        self.ops += 1
        self.days_run.append(day)
        self.written.append(res.warehouse_rows_written)
        return {"day": day, "replay": replay,
                "rows_joined": res.rows_joined,
                "written": res.warehouse_rows_written,
                "csv": res.csv_path}

    def check_op(self, out: dict) -> None:
        """Check one day right after it ran (its CSV is overwritten by
        the next day)."""
        day = out["day"]
        want = self.fleet.expected_rows(day)
        got = read_day_csv(out["csv"])
        if len(got) != len(want) or set(got) != want:
            raise CheckError(
                f"day {day}: CSV differs from the recomputed rows: "
                f"{len(got)} rows, {len(want)} expected, "
                f"{len(set(got) - want)} unexpected")
        if out["rows_joined"] != len(want):
            raise CheckError(f"day {day}: {out['rows_joined']} rows joined, "
                             f"expected {len(want)}")
        if out["replay"]:
            if out["written"] != 0:
                raise CheckError(f"replay of day {day} wrote "
                                 f"{out['written']} rows")
        elif out["written"] != len(want):
            raise CheckError(f"day {day} wrote {out['written']} rows, "
                             f"expected {len(want)}")

    def check_end(self) -> None:
        keys = warehouse_keys(self.wh)
        want = set()
        for day in set(self.days_run):
            want |= {(r[0], r[9]) for r in self.fleet.expected_rows(day)}
        if len(keys) != len(set(keys)):
            raise CheckError("warehouse holds a duplicated "
                             "(city, time_of_record) key")
        if set(keys) != want:
            raise CheckError(f"warehouse holds {len(set(keys))} keys, the "
                             f"days run give {len(want)}")

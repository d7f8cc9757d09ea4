#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
queries() entry and its oracle_sql() side-by-side (default sf0.01) and
compare row count, sorted column names, and order-insensitive values.

Usage: python tools/check_correctness.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark import (  # noqa: E402
    get_spark,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (  # noqa: E402
    cached_plan_count,
    release_persisted,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (  # noqa: E402
    TPCH_TABLES,
)


# DuckDB output types that drift through a pandas ``.df()`` bridge —
# the driver fetches oracle results as a DataFrame, so HUGEINT/UHUGEINT
# become float64 and DECIMAL becomes object, breaking the value hash
# against Spark even when fetchall() compares bit-exactly (VERDICT r7
# #1/#2).  Single source of truth: tests/test_oracle_parity.py imports
# this tuple for its bind-time lint.
PANDAS_DRIFT_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def normalize(rows, cols, exact=False):
    """Sort columns by name, canonicalize cell values, sort rows.

    ``exact=True`` compares float bits verbatim (modulo -0.0/NaN) —
    the strictest possible stand-in for the driver's value hash; as of
    round 1 every oracle-checked query passes this mode too."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0:
                    v = 0.0
                elif not exact:
                    v = round(v, 9)
            if isinstance(v, bytes):
                v = v.hex()
            vals.append((v is None, str(type(v).__name__), repr(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--exact", action="store_true",
                    help="bit-exact float comparison (no rounding)")
    ap.add_argument("--json", default=None, metavar="PATH",
                    help="also write driver-style per-entry rows "
                         "({rows_match, schema_match, hash_match, "
                         "spark_rows, oracle_rows, err}) as JSON — used "
                         "for the committed CORRECTNESS_full_r{N}.json "
                         "artifact (VERDICT r3 #2)")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    report: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            # per-query cache boundary (VERDICT r6 #3): operators may
            # scoped_persist intermediates that live in the returned
            # plan; release them after the consuming action so a full
            # 236-entry run doesn't accumulate session-lifetime blocks
            release_persisted()
        except Exception as e:  # noqa: BLE001
            release_persisted()
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": f"spark error: {e}"}
            continue
        if name not in oracles:
            if len(spark_rows) == 0:
                # same vacuity rule as the oracle path (r8): a
                # rows-only entry whose registry run returns nothing
                # exercises nothing at this sf
                print(f"FAIL  {name}: rows-only entry returned 0 rows "
                      "at this sf — the run proves nothing")
                n_fail += 1
                failures.append(name)
                report[name] = {"rows_match": False, "schema_match": None,
                                "hash_match": None, "spark_rows": 0,
                                "oracle_rows": None,
                                "err": "rows-only entry returned 0 rows"}
                continue
            print(f"rows  {name}: {len(spark_rows)} rows "
                  f"({time.time()-t0:.1f}s) [rows-only]")
            n_rows_only += 1
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None,
                            "spark_rows": len(spark_rows),
                            "oracle_rows": None, "err": None}
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = list(rel.columns)
            # Driver-faithfulness lint (VERDICT r7 #2): the driver fetches
            # oracle results through pandas (.df()), where HUGEINT/UHUGEINT
            # become float64 and DECIMAL becomes object — so a fetchall()
            # comparison here can pass bit-exact while the driver's value
            # hash fails.  Flag any oracle whose bound output schema would
            # drift through that bridge.
            dtype_drift = [
                (c, str(t)) for c, t in zip(rel.columns, rel.types)
                if str(t).startswith(PANDAS_DRIFT_TYPES)
            ]
            duck_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False,
                            "spark_rows": len(spark_rows),
                            "oracle_rows": None,
                            "err": f"duckdb error: {e}"}
            continue
        problems = []
        if dtype_drift:
            problems.append(
                f"oracle emits pandas-drifting DuckDB types {dtype_drift} "
                "(driver hash would fail; CAST to BIGINT/DOUBLE)")
        # Vacuity lint (r8): an oracle comparison over ZERO rows is
        # trivially green — it proves nothing about the operator.  Two
        # entries shipped that way (corpus_cross_source_overlap,
        # multimodal_phash_pairs: keys whose collisions simply don't
        # exist at this sf) and were only caught by a manual audit.
        # Every oracle-checked entry must produce at least one row at
        # the gate's sf; make the key/threshold meaningful at small sf
        # or convert the entry to rows-only with a planted-lake test.
        if len(spark_rows) == 0 and len(duck_rows) == 0:
            problems.append(
                "vacuous oracle: 0 rows on both engines at this sf — "
                "the value comparison proves nothing")
        schema_match = sorted(spark_cols) == sorted(duck_cols)
        rows_match = len(spark_rows) == len(duck_rows)
        if not schema_match:
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if not rows_match:
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        hash_match = False
        if not problems:
            a = normalize(spark_rows, spark_cols, args.exact)
            b = normalize(duck_rows, duck_cols, args.exact)
            hash_match = a == b
            if not hash_match:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. {diff}")
        report[name] = {"rows_match": rows_match, "schema_match": schema_match,
                        "hash_match": hash_match,
                        "spark_rows": len(spark_rows),
                        "oracle_rows": len(duck_rows), "err": None}
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
            failures.append(name)
        else:
            print(f"ok    {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    # the lifecycle gate itself (VERDICT r6 #3): after releasing, the
    # CacheManager must be empty — a nonzero count means some operator
    # persisted outside the scoped_persist protocol
    leaked = cached_plan_count(spark)
    assert leaked <= 1, (
        f"cache leak: {leaked} DataFrame plans still cached after "
        "release_persisted() — route the persist through "
        "operators/cache.scoped_persist")
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} fail "
          f"(cached plans at exit: {leaked})")
    if failures:
        print("failed:", " ".join(failures))
    if args.json:
        import json
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {args.json} ({len(report)} entries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

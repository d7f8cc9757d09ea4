#!/usr/bin/env python
"""Pre-flight audit of the NEXT driver correctness window (VERDICT r7
items #3/#8): replay every entry in ``_DRIVER_WINDOW_FIRST`` — the 50
registry entries the driver will hash next round — through BOTH halves
of the driver's comparison *before* the round closes, so the window
lands green instead of discovering the next oracle-contract seam bug.

Two checks per entry, both required:

1. **Bit-exact values** (``check_correctness.normalize(exact=True)``):
   Spark ``collect()`` vs DuckDB ``fetchall()`` — row count, sorted
   column names, float bits verbatim.

2. **Pandas-bridge dtype symmetry**: the driver compares the two
   results through pandas, so what must agree is the PANDAS dtype each
   side lands on — Spark ``toPandas()`` vs DuckDB ``.df()`` — not the
   engine schemas.  Empirical calibration against the r1–r7 driver
   verdicts:

   - ``streaming_interval_join_outer`` hashed GREEN in the r7 window
     with 1960 NULL BIGINTs: a nullable int column becomes float64 on
     BOTH bridges, so symmetric int→float widening is driver-safe.
   - ``recursive_cte_date_spine`` hashed GREEN with Spark
     object(datetime.date) vs DuckDB datetime64[us]: temporal/object
     kind mixing is driver-safe (the driver canonicalizes temporals).
   - The three r7 FAILs (uncast integer SUMs) were ASYMMETRIC:
     DuckDB HUGEINT → float64 ("4979.0") against Spark's non-null
     int64 ("4979").  DECIMAL → object is the same class.

   The audit therefore flags only kind-CLASS asymmetry per column:
   {int,uint} vs {float} vs everything-else(object/temporal/bool).
   Because check 1 already proved the values (and hence the null
   sets) identical, any class asymmetry left is a pure type-mapping
   seam — exactly the driver-hash failure signature.

Usage::

    python tools/audit_driver_window.py [--sf DIR] [name ...]
    python tools/audit_driver_window.py --propose [--changed NAME ...]

Exit 0 = every window entry passes both checks (safe to commit the
rotation); nonzero otherwise.

``--propose`` (VERDICT r8 #6) derives the NEXT round's 50-entry window
from the committed ``CORRECTNESS_r*.json`` artifacts instead of a
hand-picked list, applying the standing rotation policy in priority
order:

1. entries whose fn or oracle changed this round (``--changed``, named
   by the builder — the tool cannot diff semantics) re-enter so the
   hard signal proves the change;
2. never-driver-hashed entries, oracle-checked before rows-only, in
   registry order (clears the coverage backlog first);
3. remaining slots go to previously-hashed entries, oldest-hashed
   round first (registry order tiebreak) — staleness-derived, not
   hand-maintained arithmetic (ADVICE r8).

The output is a ready-to-paste Python tuple body for
``_DRIVER_WINDOW_FIRST``; the normal audit should then be run over the
new window before committing.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# explicit tools/ entry so `from check_correctness import ...` works when
# this module is imported rather than run as a script
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark import (  # noqa: E402
    get_spark,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (  # noqa: E402
    release_persisted,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (  # noqa: E402
    _DRIVER_WINDOW_FIRST,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (  # noqa: E402
    TPCH_TABLES,
)
from check_correctness import normalize  # noqa: E402


WINDOW_SIZE = 50


def propose_window(changed: list[str]) -> list[str]:
    """Derive the next driver window per the standing rotation policy
    (module docstring).  Reads CORRECTNESS_r*.json from the repo root;
    pure metadata — no Spark session."""
    import glob
    import json

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (
        REGISTRY,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_hashed: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root,
                                              "CORRECTNESS_r[0-9]*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        for name in json.load(open(path)):
            if name in REGISTRY:
                last_hashed[name] = max(last_hashed.get(name, 0), rnd)

    names = list(REGISTRY)
    unknown = sorted(set(changed) - set(names))
    if unknown:
        raise SystemExit(f"--changed names not in registry: {unknown}")

    window: list[str] = []

    def take(pool: list[str]) -> None:
        for n in pool:
            if len(window) >= WINDOW_SIZE:
                return
            if n not in window:
                window.append(n)

    # 1. changed-this-round entries re-enter first
    take([n for n in names if n in set(changed)])
    # 2. never-hashed: oracle-checked before rows-only, registry order
    never = [n for n in names if n not in last_hashed]
    take([n for n in never if REGISTRY[n].oracle is not None])
    take([n for n in never if REGISTRY[n].oracle is None])
    # 3. stalest previously-hashed (oldest round first, registry order)
    stale = sorted((n for n in names if n in last_hashed),
                   key=lambda n: (last_hashed[n], names.index(n)))
    take(stale)
    return window


def _print_proposal(window: list[str], changed: list[str]) -> None:
    import glob
    import json
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hashed = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r[0-9]*.json")):
        hashed |= set(json.load(open(path)))
    n_changed = sum(1 for n in window if n in set(changed))
    n_never = sum(1 for n in window
                  if n not in hashed and n not in set(changed))
    n_stale = len(window) - n_changed - n_never
    print(f"# proposed window: {len(window)} entries = {n_changed} "
          f"changed-this-round + {n_never} never-hashed + {n_stale} "
          "stale re-entries (oldest-hashed first)")
    line = "    "
    for n in window:
        tok = f'"{n}", '
        if len(line) + len(tok) > 76:
            print(line.rstrip())
            line = "    "
        line += tok
    print(line.rstrip().rstrip(","))


def _kind_class(kind: str) -> str:
    """Collapse numpy dtype kinds into driver-hash equivalence classes
    (see module docstring for the green/fail calibration evidence)."""
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    return "other"  # O/M/m/b — canonicalized by the driver, proven green


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--propose", action="store_true",
                    help="derive the next window from CORRECTNESS_r*.json "
                         "staleness instead of auditing the current one")
    ap.add_argument("--changed", nargs="*", default=[],
                    help="entries whose fn/oracle changed this round "
                         "(re-enter the window first)")
    ap.add_argument("names", nargs="*",
                    help="subset of window entries (default: all 50)")
    args = ap.parse_args()

    if args.propose:
        window = propose_window(args.changed)
        _print_proposal(window, args.changed)
        return 0

    spark = get_spark("audit_driver_window")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(_DRIVER_WINDOW_FIRST)
    failures = []
    for name in names:
        probs = []
        has_oracle = name in oracles
        try:
            sdf = qs[name](spark, args.sf)
            spark_cols = sdf.columns
            # VERDICT r9 #2: the driver canonicalizes EVERY window entry
            # (rows-only included) through pandas, which cannot hash
            # binary/array/map cells — catch the pq_encode class here,
            # before the window ships, not in the driver artifact.
            # ADVICE r10 #2: shared recursive predicate (structs whose
            # field tree contains array/map/binary crash the same way).
            from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (  # noqa: E501
                pandas_unhashable_cols,
            )
            unhashable = pandas_unhashable_cols(sdf.schema)
            if unhashable:
                release_persisted()
                print(f"FAIL  {name}: pandas-unhashable driver columns "
                      f"{unhashable} — project injective STRINGs")
                failures.append(name)
                continue
            spark_rows = [tuple(r) for r in sdf.collect()]
            # toPandas is a second full materialization — only pay it
            # for oracle-backed entries that get a bridge-dtype check
            spark_pdf = sdf.toPandas() if has_oracle else None
            release_persisted()
        except Exception as e:  # noqa: BLE001
            release_persisted()
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if len(spark_rows) == 0:
            # vacuity rule (r8, same as check_correctness.py): a window
            # slot spent on a 0-row result proves nothing — the hash of
            # an empty set is trivially green (this tool blessed
            # corpus_cross_source_overlap's empty result before the
            # rule existed).
            print(f"FAIL  {name}: 0 rows at this sf — vacuous window "
                  "entry")
            failures.append(name)
            continue
        if not has_oracle:
            # rows-only entries get no driver hash — nothing to audit
            print(f"rows  {name}: {len(spark_rows)} rows [rows-only]")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = list(rel.columns)
            duck_rows = rel.fetchall()
            duck_pdf = rel.df()  # re-executes the same relation
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        # half 1: bit-exact values
        if sorted(spark_cols) != sorted(duck_cols):
            probs.append(f"cols spark={sorted(spark_cols)} "
                         f"duck={sorted(duck_cols)}")
        elif len(spark_rows) != len(duck_rows):
            probs.append(f"rowcount spark={len(spark_rows)} "
                         f"duck={len(duck_rows)}")
        elif (normalize(spark_rows, spark_cols, exact=True)
                != normalize(duck_rows, duck_cols, exact=True)):
            probs.append("values differ (bit-exact mode)")
        # half 2: pandas-bridge dtype symmetry (executed — catches the
        # HUGEINT/DECIMAL mapping asymmetries AND any data-dependent
        # drift the bind-time lint cannot see)
        for col in duck_cols:
            if col not in spark_pdf.columns:
                continue  # column mismatch already reported above
            sk = _kind_class(spark_pdf[col].dtype.kind)
            dk = _kind_class(duck_pdf[col].dtype.kind)
            if sk != dk:
                probs.append(
                    f"pandas-bridge asymmetry on '{col}': Spark "
                    f"toPandas {spark_pdf[col].dtype} ({sk}) vs DuckDB "
                    f".df() {duck_pdf[col].dtype} ({dk}) — driver hash "
                    "would disagree")
        if probs:
            print(f"FAIL  {name}: " + "; ".join(probs))
            failures.append(name)
        else:
            print(f"ok    {name}: {len(spark_rows)} rows, bridge dtypes "
                  "symmetric")
    n = len(names)
    print(f"\n{n - len(failures)}/{n} window entries driver-ready")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""The `lake` workload: the relational headline queries (`LAKE_SQL`) and
the LLM-corpus ones (`LLM_CORPUS`) on the lake.

One operation is one pass over all of them, in an order drawn from the
workload seed.  Every query is built through the engine's registry, run
to its terminal action, and followed by `release_persisted()` (the
`Engine.release` protocol), so each pass pays what a fresh query pays.

Outputs are checked apart from the program: each oracle-backed query's
result is compared order-insensitively with its registry oracle SQL run
in DuckDB over the same parquet files, and `dedup_minhash_lsh` (no
oracle) is checked by property against shingle-set Jaccard distances
recomputed here in plain Python.
"""

from __future__ import annotations

import hashlib
import os
import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow.parquet as pq

from lake import TABLES

LAKE_SQL = (
    "flagship_weather_join", "q1_pricing_summary", "join_inner_3way_topk",
    "join_5way_star", "join_asof_events_orders", "window_topk_per_group",
    "events_tumbling_hour", "events_sessionize", "streaming_tumbling_hour",
    "etl_scd2_apply",
)
LLM_CORPUS = (
    "dedup_minhash_lsh", "dedup_token_jaccard", "corpus_dsir_weights",
    "corpus_loader_pipeline", "ann_cosine_topk", "text_token_stats",
)
MINHASH = "dedup_minhash_lsh"
MINHASH_MAX_DISTANCE = 0.5
SHINGLE = 3


class CheckError(AssertionError):
    """An output that disagrees with the computation made apart."""


# ----------------------------------------------------------- oracle side


def duck_connect(lake: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(lake, t + '.parquet')}')")
    return con


def _norm_expr(col: str, dtype: str) -> str:
    """One canonical, engine-neutral text form per cell: floats rounded
    to 9 places with -0.0 folded into 0.0, instants as naive UTC."""
    c = f'"{col}"'
    if dtype in ("DOUBLE", "FLOAT", "REAL") or dtype.startswith("DECIMAL"):
        return (f"CAST(CASE WHEN CAST({c} AS DOUBLE) = 0 THEN 0.0 "
                f"ELSE round(CAST({c} AS DOUBLE), 9) END AS VARCHAR)")
    if dtype.startswith("TIMESTAMP") or dtype == "DATE":
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def oracle_result(con: duckdb.DuckDBPyConnection, oracle_sql: str,
                  cache_dir: str):
    """The oracle's rows as Arrow, computed once per (lake, SQL text)
    and kept under ``cache_dir``: the lake never changes, and a changed
    oracle gets a new key."""
    key = hashlib.sha1(oracle_sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{key}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    table = con.sql(oracle_sql).fetch_arrow_table()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return table


def compare_with_oracle(con: duckdb.DuckDBPyConnection, name: str,
                        result, oracle) -> None:
    """Raise :class:`CheckError` unless ``result`` (an Arrow table of
    the engine's output) equals ``oracle`` (Arrow) as a multiset."""
    con.register("engine_out", result)
    con.register("oracle_out", oracle)
    try:
        types = {}
        for view in ("engine_out", "oracle_out"):
            rel = con.sql(f"SELECT * FROM {view}")
            types[view] = dict(zip(rel.columns, map(str, rel.types)))
        e_types, o_types = types["engine_out"], types["oracle_out"]
        if sorted(o_types) != sorted(e_types):
            raise CheckError(f"{name}: columns {sorted(e_types)} != "
                             f"oracle {sorted(o_types)}")
        cols = sorted(o_types)
        e_sel = ", ".join(_norm_expr(c, e_types[c]) for c in cols)
        o_sel = ", ".join(_norm_expr(c, o_types[c]) for c in cols)
        if result.num_rows != oracle.num_rows:
            raise CheckError(f"{name}: {result.num_rows} rows != oracle "
                             f"{oracle.num_rows}")
        if result.num_rows == 0:
            raise CheckError(f"{name}: empty on both engines proves nothing")
        diff = con.sql(
            f"SELECT count(*) FROM ("
            f"(SELECT {e_sel} FROM engine_out EXCEPT ALL "
            f" SELECT {o_sel} FROM oracle_out) UNION ALL "
            f"(SELECT {o_sel} FROM oracle_out EXCEPT ALL "
            f" SELECT {e_sel} FROM engine_out))").fetchone()[0]
        if diff:
            raise CheckError(f"{name}: {diff} rows differ from the oracle")
    finally:
        con.unregister("engine_out")
        con.unregister("oracle_out")


def _half_up(x: float, places: int) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def shingle_sets(lake: str) -> dict[int, set[str]]:
    docs = pq.read_table(os.path.join(lake, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    out = {}
    for i, text in zip(docs["doc_id"], docs["text"]):
        toks = (text or "").split()
        if len(toks) >= SHINGLE:
            out[i] = {" ".join(toks[k:k + SHINGLE])
                      for k in range(len(toks) - SHINGLE + 1)}
    return out


def check_minhash(result, sets: dict[int, set[str]]) -> None:
    """Property check of the LSH near-duplicate pairs: ids ordered and
    distinct, no pair twice, every reported distance the exact
    3-token-shingle Jaccard distance (rounded half-up to 4 places, as
    the operator reports it) and within the 0.5 threshold."""
    rows = result.to_pydict()
    a, b, d = rows["id_a"], rows["id_b"], rows["jaccard_distance"]
    if not a:
        raise CheckError(f"{MINHASH}: no pairs found; the lake plants some")
    if len(set(zip(a, b))) != len(a):
        raise CheckError(f"{MINHASH}: a pair is reported twice")
    for x, y, dist in zip(a, b, d):
        if not x < y:
            raise CheckError(f"{MINHASH}: pair ({x}, {y}) is not ordered")
        sa, sb = sets[x], sets[y]
        exact = _half_up(1.0 - len(sa & sb) / len(sa | sb), 4)
        if dist != exact or dist > MINHASH_MAX_DISTANCE:
            raise CheckError(f"{MINHASH}: pair ({x}, {y}) reports {dist}, "
                             f"exact distance is {exact}")


# ----------------------------------------------------------- engine side


class LakeWorkload:
    """A pass over ``names`` on ``lake``; see the module docstring."""

    def __init__(self, names: tuple[str, ...], lake: str, seed: int,
                 tracer) -> None:
        self.names = names
        self.lake = lake
        self.rng = random.Random(seed)
        self.tracer = tracer

    def register(self, spark) -> None:
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (  # noqa: E501
            register_views,
        )
        self.spark = spark
        register_views(spark, self.lake)

    def run_op(self) -> dict[str, object]:
        """One pass in a fresh seeded order.  Each query's terminal
        action brings its result back as Arrow, returned for checking.
        Every query's caches are released after it, whether it failed
        or not."""
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (  # noqa: E501
            release_persisted,
        )
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (  # noqa: E501
            REGISTRY,
        )
        order = list(self.names)
        self.rng.shuffle(order)
        out: dict[str, object] = {}
        tr = self.tracer
        for name in order:
            with tr.span(f"query.{name}"):
                try:
                    with tr.span("build"):
                        df = REGISTRY[name].fn(self.spark, self.lake)
                    if tr.enabled:
                        tr.note_final_plan(df)
                    with tr.span("action"):
                        out[name] = df.toArrow()
                finally:
                    # a failed query releases its caches too, so none
                    # carries into the next pass
                    tr.before_release(self.spark)
                    with tr.span("release"):
                        release_persisted()
                    tr.after_release(self.spark)
        return out

    def check(self, outputs: dict[str, object], threads: int) -> None:
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (  # noqa: E501
            oracle_sql,
        )
        oracles = oracle_sql()
        con = duck_connect(self.lake, threads)
        cache = self.lake + "-oracle"
        try:
            for name in self.names:
                if name == MINHASH:
                    check_minhash(outputs[name], shingle_sets(self.lake))
                else:
                    compare_with_oracle(
                        con, name, outputs[name],
                        oracle_result(con, oracles[name], cache))
        finally:
            con.close()

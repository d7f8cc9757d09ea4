"""Driver-facing query registry: name → (Spark builder, DuckDB oracle).

Contract (BASELINE.md / __spark_entry__.py): every operator claimed in
SURVEY.md §2 appears here; the driver executes the Spark builder and
the oracle SQL side-by-side at sf0.01 and compares row-count + schema +
order-insensitive value hash. Names and types are aligned expression by
expression; probabilistic operators carry ``oracle=None`` (rows-only
check) and are ground-truthed in tests instead.

Cross-engine alignment rules used throughout (verified empirically in
tools/check_correctness.py):
- every aggregated/computed double rounded identically on both sides;
- DuckDB ``count``/``row_number``/``rank`` return BIGINT — Spark side
  casts where its native type is INT, oracle casts where DuckDB's
  wider type (HUGEINT sums, BIGINT year()) would mismatch;
- LIMIT only behind a total order with a unique tiebreak key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..streaming.dedup import (
    run_dedup_stream,
    run_dedup_within_watermark_stream,
)
from ..streaming.enrich import run_static_enrich_stream
from ..streaming.joins import (
    run_interval_join_stream,
    run_interval_join_stream_outer,
)
from ..streaming.stateful import running_user_totals_stream
from ..streaming.windows import (
    run_offset_window_stream,
    run_session_window_stream,
    run_sliding_count_stream,
    run_tumbling_count_stream,
)
from . import extensions as X
from . import relational as R

_SW = "'the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are'"

_TOKS = "string_split_regex(trim(text), '\\s+')"

# canonical 60-bit documents row fingerprint — DuckDB twin of
# extensions._doc_row_hash, shared by table_checksum and
# corpus_export_manifest
_DOC_RH = (r"('0x' || substr(md5(concat_ws(chr(31),"
           r" CAST(doc_id AS VARCHAR), coalesce(lang, '\N'),"
           r" coalesce(source, '\N'), CAST(n_chars AS VARCHAR),"
           r" md5(text))), 1, 15))::BIGINT")
_STOP_RATIO = (f"(CAST(len(list_filter({_TOKS}, t -> list_contains([{_SW}], lower(t)))) AS DOUBLE)"
               f" / len({_TOKS}))")
_PUNCT_RATIO = ("(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)"
                " / length(text))")


# 16-bit Morton interleave of grid coords gx/gy (layout_zorder_keys
# oracle) — bit i of gx lands at 2i, bit i of gy at 2i+1; mirrors
# sources/layout.zorder_value exactly.
_Z_INTERLEAVE = " | ".join(
    f"(((gx >> {i}) & 1) << {2 * i}) | (((gy >> {i}) & 1) << {2 * i + 1})"
    for i in range(16))


# Shared PageRank graph CTEs (graph_pagerank_step / graph_pagerank):
# the deterministic token-Jaccard edge set (extensions.
# deterministic_jaccard_edges twin), its undirected explode, per-source
# degree, and the node count as DOUBLE.
_PR_GRAPH = f"""
        t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset, b.tokset))),
                        4) >= 0.4
        ), ed AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), deg AS (
            SELECT src, count(*) AS deg FROM ed GROUP BY src
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
        ), r0 AS (
            SELECT doc_id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
            FROM documents
        )"""


def _pagerank_unrolled_sql(k: int) -> str:
    """Unrolled ``k``-iteration PageRank oracle (VERDICT r8 #4 — the
    fixed-iteration-count loop IS SQL-expressible): replays
    operators/graph.pagerank_step's algebra ``k`` times from the
    uniform vector, rounding only the FINAL rank to 9 (the Spark loop
    runs ``round_to=None`` between iterations).

    Bit-exactness contract, mirrored op-for-op from pagerank_step:
    per-destination contribution sums and the dangling mass are
    DECIMAL(28,15)-summed (order-free), every double expression is
    written in Spark's evaluation order — ``(1-d)/n + d*dang/n`` uses
    an explicit ``CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)`` because
    Python's ``1.0 - 0.85`` is 0.15000000000000002, and a 0.15 literal
    would drift the unrounded intermediates — and double/BIGINT
    division promotes identically on both engines."""
    parts = [_PR_GRAPH]
    for i in range(1, k + 1):
        p = f"r{i - 1}"
        parts.append(f""", dang{i} AS (
            SELECT CAST(coalesce(sum(CAST(r AS DECIMAL(28,15))), 0)
                        AS DOUBLE) AS dm
            FROM {p} WHERE doc_id NOT IN (SELECT src FROM deg)
        ), s{i} AS (
            SELECT ed.dst AS dst,
                   sum(CAST(p.r / deg.deg AS DECIMAL(28,15))) AS s
            FROM {p} p JOIN deg ON p.doc_id = deg.src
                       JOIN ed ON p.doc_id = ed.src
            GROUP BY ed.dst
        ), r{i} AS (
            SELECT d.doc_id,
                   ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                        / (SELECT n FROM nn)
                    + CAST(0.85 AS DOUBLE) * (SELECT dm FROM dang{i})
                        / (SELECT n FROM nn))
                   + CAST(0.85 AS DOUBLE)
                     * coalesce(CAST(s{i}.s AS DOUBLE),
                                CAST(0.0 AS DOUBLE)) AS r
            FROM r0 d LEFT JOIN s{i} ON d.doc_id = s{i}.dst
        )""")
    parts.append(f"""
        SELECT doc_id, round(r, 9) AS rank FROM r{k}
        """)
    return "WITH" + "".join(parts)


def _kmeans_unrolled_sql(rounds: int) -> str:
    """Unrolled ``rounds``-iteration Lloyd k-means oracle (VERDICT r8
    #4): replays embedding_kmeans_step's assignment algebra after each
    of ``rounds`` DECIMAL-exact centroid updates, then reports the
    final assignment's per-cluster census — the twin of
    ``operators/clustering.kmeans_train(..., exact_means=True,
    tol=0.0, max_iter=rounds)``.

    Bit-exactness contract: distances fold the zipped dimension list
    sequentially in DOUBLE (list_aggregate 'sum' ≡ Spark F.aggregate —
    the proven step-oracle pattern); centroid updates are
    ``CAST(sum(DECIMAL(28,15)) AS DOUBLE) / count`` (order-free sum,
    then one double division — exactly exact_means); empty clusters
    keep the previous centroid via the per-dim LEFT JOIN coalesce
    (Spark's keep-stale rule); argmin ties break on c_id asc (Spark's
    min(struct(dist2, c_id))); inertia DECIMAL(28,10)-sums the final
    dist2s."""
    def d_a(i: int, cents: str) -> str:
        return f""", d{i} AS (
            SELECT e.vec_id, c.c_id,
                   list_aggregate(list_transform(
                       list_zip(e.v, c.cent),
                       x -> (x[1] - x[2]) * (x[1] - x[2])),
                       'sum') AS dist2
            FROM e CROSS JOIN {cents} c
        ), a{i} AS (
            SELECT vec_id, c_id, dist2 FROM (
                SELECT vec_id, c_id, dist2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist2, c_id) AS rk
                FROM d{i}
            ) WHERE rk = 1
        )"""

    parts = ["""
        e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), ve AS (
            SELECT vec_id, generate_subscripts(v, 1) AS dim,
                   unnest(v) AS x
            FROM e
        ), cd0 AS (
            SELECT vec_id AS c_id, generate_subscripts(v, 1) AS dim,
                   unnest(v) AS x
            FROM e WHERE vec_id < 8
        ), cl0 AS (
            SELECT vec_id AS c_id, v AS cent FROM e WHERE vec_id < 8
        )"""]
    for i in range(1, rounds + 1):
        parts.append(d_a(i, f"cl{i - 1}"))
        parts.append(f""", m{i} AS (
            SELECT a{i}.c_id, ve.dim,
                   CAST(sum(CAST(ve.x AS DECIMAL(28,15))) AS DOUBLE)
                       / count(*) AS m
            FROM a{i} JOIN ve USING (vec_id)
            GROUP BY a{i}.c_id, ve.dim
        ), cd{i} AS (
            SELECT cd.c_id, cd.dim, coalesce(m.m, cd.x) AS x
            FROM cd{i - 1} cd LEFT JOIN m{i} m
              ON cd.c_id = m.c_id AND cd.dim = m.dim
        ), cl{i} AS (
            SELECT c_id, list(x ORDER BY dim) AS cent
            FROM cd{i} GROUP BY c_id
        )""")
    final = rounds + 1
    parts.append(d_a(final, f"cl{rounds}"))
    parts.append(f"""
        SELECT c_id, count(*) AS n_members,
               round(CAST(sum(CAST(dist2 AS DECIMAL(28,10))) AS DOUBLE), 4)
                   AS inertia
        FROM a{final} GROUP BY c_id
        """)
    return "WITH" + "".join(parts)


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # ANSI SQL for DuckDB; None → rows-only
    bench: bool = False         # include in bench.py headline set
    # Opt-out of the r8 zero-row vacuity gate (ADVICE r8): an entry
    # whose CORRECT output is legitimately empty at the gate sf (e.g.
    # an anomaly detector over a clean lake) sets this instead of
    # redesigning its key; the flag obliges a planted-lake test that
    # proves the non-empty behavior, cited in the entry's docstring.
    # No current entry needs it — the mechanism exists so the gate
    # can't force a threshold redesign on a future legitimately-empty
    # entry.
    may_be_empty: bool = False


REGISTRY: dict[str, QuerySpec] = {
    # ---------------- reference parity: scan/project/join/scalar ----------
    "flagship_weather_join": QuerySpec(
        R.flagship_weather_join,
        """
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               p_name AS part_name, p_brand AS brand,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
               l_shipdate - INTERVAL 18000 SECOND AS local_ship_time
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity < 30
        """,
        bench=True,
    ),
    # Promoted rows-only -> oracle in r9 (VERDICT r8 #4): the pipeline
    # is fixture-driven and its correct output is ONE fully-pinned
    # golden row (FIXTURES.md A4; reference README.md:299-344 payload +
    # codes/us_cities.csv lookup), so the strongest possible oracle is
    # the literal row itself — the driver now hash-verifies the whole
    # flatten/convert/join pipeline (P1+F1+F2+J1+P2/P3) against the
    # independently-stated golden values, not just a row count.  The
    # doubles are the HALF_UP-rounded conversion outputs; CAST(... AS
    # DOUBLE) parses the same decimal string both engines print.
    "ref_pipeline_golden": QuerySpec(
        R.ref_pipeline_golden,
        """
        SELECT 'Houston' AS city, 'clear sky' AS description,
               CAST(55.148 AS DOUBLE) AS temperature_fahrenheit,
               CAST(53.654 AS DOUBLE) AS feels_like_fahrenheit,
               CAST(50.198 AS DOUBLE) AS min_temperature_fahrenheit,
               CAST(57.11 AS DOUBLE) AS max_temperature_fahrenheit,
               CAST(1024 AS BIGINT) AS pressure,
               CAST(70 AS BIGINT) AS humidity,
               CAST(0.0 AS DOUBLE) AS wind_speed,
               TIMESTAMP '2025-03-17 04:31:08' AS time_of_record,
               TIMESTAMP '2025-03-17 07:28:35' AS sunrise,
               TIMESTAMP '2025-03-17 19:30:53' AS sunset,
               'Texas' AS state,
               CAST(2304580 AS BIGINT) AS census_2020,
               CAST(640.4 AS DOUBLE) AS land_area_sq_mile_2020
        """,
    ),
    "serial_id_assignment": QuerySpec(
        R.serial_id_assignment,
        """
        SELECT o_orderkey,
               CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS id
        FROM orders
        """,
    ),
    "filter_project_pushdown": QuerySpec(
        R.filter_project_pushdown,
        """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 350000.0
        """,
    ),
    "topk_orders": QuerySpec(
        R.topk_orders,
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """,
    ),
    # ------------------------------ aggregations --------------------------
    "q1_pricing_summary": QuerySpec(
        R.q1_pricing_summary,
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
        bench=True,
    ),
    "agg_stats_by_returnflag": QuerySpec(
        R.agg_stats_by_returnflag,
        """
        SELECT l_returnflag,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(stddev_samp(l_extendedprice), 4) AS std_price,
               count(DISTINCT l_partkey) AS ndv_parts,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "agg_count_distinct": QuerySpec(
        R.agg_count_distinct,
        """
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS ndv_cust,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "agg_approx_distinct": QuerySpec(R.agg_approx_distinct, None),
    "agg_rollup": QuerySpec(
        R.agg_rollup,
        """
        SELECT n_regionkey, n_name, count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS sum_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (n_regionkey, n_name)
        """,
    ),
    "agg_cube": QuerySpec(
        R.agg_cube,
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
    ),
    "agg_grouping_sets": QuerySpec(
        R.agg_grouping_sets,
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
    ),
    "agg_pivot": QuerySpec(
        R.agg_pivot,
        """
        SELECT l_returnflag,
               round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
               round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "agg_median_percentile": QuerySpec(
        R.agg_median_percentile,
        """
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "agg_salted_twophase": QuerySpec(
        R.agg_salted_twophase,
        """
        SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "agg_corr_covar": QuerySpec(
        R.agg_corr_covar,
        """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
               round(var_samp(l_quantity), 6) AS var_qty
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "agg_bool": QuerySpec(
        R.agg_bool,
        """
        SELECT o_orderpriority,
               bool_and(o_totalprice > 1000.0) AS all_above_1k,
               bool_or(o_totalprice > 490000.0) AS any_huge,
               max(o_orderstatus = 'F') AS has_f
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "scalar_date_arith": QuerySpec(
        R.scalar_date_arith,
        """
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) + 30 AS plus_30d,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
                   AS plus_2mo,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               o_orderdate + INTERVAL 36 HOUR AS plus_36h
        FROM orders
        """,
    ),
    "agg_approx_quantile": QuerySpec(R.agg_approx_quantile, None),
    "agg_having": QuerySpec(
        R.agg_having,
        """
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS spend
        FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        """,
    ),
    "scalar_null_safe_eq": QuerySpec(
        R.scalar_null_safe_eq,
        """
        SELECT c_custkey,
               nullif(c_mktsegment, 'MACHINERY') IS NOT DISTINCT FROM 'BUILDING'
                   AS is_building,
               nullif(c_mktsegment, 'MACHINERY') IS NOT DISTINCT FROM NULL
                   AS was_machinery
        FROM customer
        """,
    ),
    # ---------------------------------- joins -----------------------------
    "join_inner_3way_topk": QuerySpec(
        R.join_inner_3way_topk,
        """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        bench=True,
    ),
    "join_5way_star": QuerySpec(
        R.join_5way_star,
        """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY r_name, n_name
        """,
        bench=True,
    ),
    "join_left_outer_agg": QuerySpec(
        R.join_left_outer_agg,
        """
        SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_big_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS big_spend
        FROM customer LEFT JOIN (
            SELECT * FROM orders WHERE o_totalprice > 400000.0
        ) o ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment
        """,
    ),
    "join_semi": QuerySpec(
        R.join_semi,
        """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        """,
    ),
    "join_anti": QuerySpec(
        R.join_anti,
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        """,
    ),
    "join_full_outer": QuerySpec(
        R.join_full_outer,
        """
        SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal,
               coalesce(n_f_orders, 0) AS n_f_orders
        FROM (SELECT * FROM customer WHERE c_acctbal > 9000.0) c
        FULL OUTER JOIN (
            SELECT o_custkey, count(*) AS n_f_orders
            FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        ) o ON c_custkey = o_custkey
        """,
    ),
    "join_cross": QuerySpec(
        R.join_cross,
        """
        SELECT r_name, n_name, (r_regionkey = n_regionkey) AS same_region
        FROM region CROSS JOIN nation
        """,
    ),
    "join_theta_pairs": QuerySpec(
        R.join_theta_pairs,
        """
        SELECT a.n_regionkey AS regionkey, a.n_name AS nation_a,
               b.n_name AS nation_b
        FROM nation a JOIN nation b
          ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        """,
    ),
    "join_asof_events_orders": QuerySpec(
        R.join_asof_events_orders,
        """
        SELECT e.event_id, e.user_id, e.ts, o.last_orderkey
        FROM events e ASOF JOIN (
            SELECT o_custkey AS user_id, o_orderdate,
                   max(o_orderkey) AS last_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        ) o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        """,
        bench=True,
    ),
    "join_composite_adjacent": QuerySpec(
        R.join_composite_adjacent,
        """
        SELECT a.l_orderkey, a.l_linenumber, a.l_quantity AS qty,
               b.l_quantity AS next_qty
        FROM lineitem a LEFT JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND b.l_linenumber = a.l_linenumber + 1
        """,
    ),
    "join_range_events": QuerySpec(
        R.join_range_events,
        """
        SELECT e1.event_id AS err_id, count(e2.event_id) AS n_follow
        FROM (SELECT * FROM events WHERE event_type = 'error') e1
        LEFT JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        GROUP BY e1.event_id
        """,
    ),
    # --------------------------------- windows ----------------------------
    "window_topk_per_group": QuerySpec(
        R.window_topk_per_group,
        """
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders)
        WHERE rk <= 3
        """,
        bench=True,
    ),
    "window_running_sum": QuerySpec(
        R.window_running_sum,
        """
        SELECT l_suppkey, l_orderkey, l_linenumber,
               sum(l_quantity) OVER w AS running_qty,
               count(*) OVER w AS running_cnt
        FROM lineitem
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)
        """,
    ),
    "window_lag_lead": QuerySpec(
        R.window_lag_lead,
        """
        SELECT user_id, event_id,
               date_diff('second', lag(ts) OVER w, ts) AS secs_since_prev,
               lead(event_type) OVER w AS next_type
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
    ),
    "window_rank_ntile": QuerySpec(
        R.window_rank_ntile,
        """
        SELECT p_brand, p_partkey,
               CAST(rank() OVER w AS INTEGER) AS rnk,
               CAST(dense_rank() OVER w AS INTEGER) AS drnk,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile
        FROM part
        WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
        """,
    ),
    "window_range_frame": QuerySpec(
        R.window_range_frame,
        """
        SELECT o_orderkey, o_custkey, o_totalprice,
               count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                              RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
                   AS n_similar
        FROM orders
        """,
    ),
    # ----------------------------- sorts & set ops ------------------------
    "sort_multi_key": QuerySpec(
        R.sort_multi_key,
        """
        SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders
        ORDER BY o_orderstatus, o_orderdate DESC, o_orderkey LIMIT 1000
        """,
    ),
    "set_union_all": QuerySpec(
        R.set_union_all,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9500.0
        UNION ALL
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 480000.0
        """,
    ),
    "set_union_distinct": QuerySpec(
        R.set_union_distinct,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9500.0
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 480000.0
        """,
    ),
    "set_intersect": QuerySpec(
        R.set_intersect,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000.0
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000.0
        """,
    ),
    "set_except": QuerySpec(
        R.set_except,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000.0
        EXCEPT ALL
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000.0
        """,
    ),
    "set_intersect_all": QuerySpec(
        R.set_intersect_all,
        """
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0
        INTERSECT ALL
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        """,
    ),
    "explode_variants": QuerySpec(
        R.explode_variants,
        r"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> length(x) > 5) AS lt
            FROM documents
        )
        SELECT doc_id,
               unnest(CASE WHEN len(lt) = 0 THEN [NULL] ELSE lt END)
                   AS long_tok
        FROM t
        """,
    ),
    "distinct_projection": QuerySpec(
        R.distinct_projection,
        "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    ),
    # ----------------------------- scalar functions -----------------------
    "scalar_string_funcs": QuerySpec(
        R.scalar_string_funcs,
        """
        SELECT c_custkey, upper(c_name) AS name_upper,
               substr(c_name, 1, 9) AS name_prefix,
               CAST(length(c_name) AS BIGINT) AS name_len,
               concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
               replace(c_name, 'Customer', 'C') AS name_short,
               reverse(c_mktsegment) AS seg_rev
        FROM customer
        """,
    ),
    "scalar_date_funcs": QuerySpec(
        R.scalar_date_funcs,
        """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mth,
               CAST(day(o_orderdate) AS INTEGER) AS dom,
               CAST(dayofweek(o_orderdate) AS INTEGER) AS dow_sun0,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                    AS INTEGER) AS days_to_2002,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        FROM orders
        """,
    ),
    "scalar_case_math": QuerySpec(
        R.scalar_case_math,
        """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity < 10 THEN 'low'
                    WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_bucket,
               round(abs(l_discount - 0.05), 4) AS disc_dev,
               CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               round(sqrt(l_quantity), 6) AS qty_sqrt,
               round(pow(1.0 + l_tax, 2), 6) AS tax_sq,
               round(ln(l_extendedprice), 6) AS price_ln,
               l_partkey % 10 AS part_mod
        FROM lineitem
        """,
    ),
    "scalar_json_extract": QuerySpec(
        R.scalar_json_extract,
        """
        SELECT event_type,
               round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
                   AS avg_k,
               count(*) AS n
        FROM events GROUP BY event_type
        """,
    ),
    "scalar_conditional_funcs": QuerySpec(
        R.scalar_conditional_funcs,
        """
        SELECT c_custkey,
               coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_or_other,
               greatest(c_acctbal, 0.0) AS bal_floor0,
               least(c_acctbal, 5000.0) AS bal_cap,
               c_acctbal BETWEEN 0.0 AND 1000.0 AS small_bal
        FROM customer
        """,
    ),
    "scalar_array_funcs": QuerySpec(
        R.scalar_array_funcs,
        r"""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                   FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n,
               array_to_string(toks[1:3], ' ') AS first3,
               list_contains(toks, 'spark') AS mentions_spark,
               array_to_string(list_sort(list_distinct(toks)), ' ') AS vocab,
               array_to_string(list_reverse(toks), ' ') AS rev
        FROM t
        """,
    ),
    "generator_range": QuerySpec(
        R.generator_range,
        """
        SELECT range AS id, range * 7 % 13 AS mod13,
               pow(CAST(range AS DOUBLE), 2) AS sq
        FROM range(0, 1000)
        """,
    ),
    "sample_bernoulli": QuerySpec(
        R.sample_bernoulli,
        """
        SELECT o_orderkey FROM orders
        WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296
              < 429496729
        """,
    ),
    "agg_string_concat": QuerySpec(
        R.agg_string_concat,
        """
        SELECT o_orderpriority,
               array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
                   AS statuses,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "scalar_bitwise": QuerySpec(
        R.scalar_bitwise,
        """
        WITH m AS (
            SELECT l_returnflag,
                   l_partkey & 255 AS low8,
                   l_partkey | 7 AS or7,
                   xor(l_partkey, l_suppkey) AS xored,
                   CAST(l_linenumber << 2 AS BIGINT) AS shl2,
                   l_partkey >> 3 AS shr3
            FROM lineitem
        )
        SELECT l_returnflag,
               bit_and(low8) AS band, bit_or(low8) AS bor,
               bit_xor(xored) AS bxor,
               CAST(sum(shl2) AS BIGINT) AS sum_shl2,
               max(shr3) AS max_shr3, max(or7) AS max_or7
        FROM m GROUP BY l_returnflag
        """,
    ),
    "scalar_format": QuerySpec(
        R.scalar_format,
        """
        SELECT c_custkey,
               printf('%06d-%s', c_custkey, c_mktsegment) AS tag,
               repeat(substr(c_mktsegment, 1, 2), 3) AS rep
        FROM customer
        """,
    ),
    # -------------------------------- subqueries --------------------------
    "subquery_scalar": QuerySpec(
        R.subquery_scalar,
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM orders)
        """,
    ),
    "subquery_in": QuerySpec(
        R.subquery_in,
        """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 490000.0)
        """,
    ),
    "subquery_exists_correlated": QuerySpec(
        R.subquery_exists_correlated,
        """
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F' AND o.o_totalprice > 470000.0)
        """,
    ),
    "subquery_correlated_min": QuerySpec(
        R.subquery_correlated_min,
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice = (
            SELECT min(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey)
        """,
    ),
    "subquery_in_grouped": QuerySpec(
        R.subquery_in_grouped,
        """
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
        """,
    ),
    "subquery_not_in": QuerySpec(
        R.subquery_not_in,
        """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
              AND o_totalprice > 400000.0)
        """,
    ),
    "cte_multi_step": QuerySpec(
        R.cte_multi_step,
        """
        WITH spend AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT *, CAST(row_number() OVER (ORDER BY total_spend DESC, o_custkey)
                           AS INTEGER) AS spend_rank
            FROM spend
        )
        SELECT r.o_custkey AS custkey, c.c_mktsegment, r.total_spend,
               r.n_orders, r.spend_rank
        FROM ranked r JOIN customer c ON r.o_custkey = c.c_custkey
        WHERE r.spend_rank <= 50
        """,
    ),
    # ---------------------------- events & streaming ----------------------
    "events_tumbling_hour": QuerySpec(
        R.events_tumbling_hour,
        """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
        """,
        bench=True,
    ),
    "events_sessionize": QuerySpec(
        R.events_sessionize,
        """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM sess GROUP BY user_id
        """,
        bench=True,
    ),
    "streaming_tumbling_hour": QuerySpec(
        run_tumbling_count_stream,
        """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
        """,
        bench=True,
    ),
    "streaming_date_bin": QuerySpec(
        run_offset_window_stream,
        """
        SELECT time_bucket(INTERVAL '15 minutes', ts,
                           TIMESTAMP '2023-12-31 23:05:00') AS bin_start,
               event_type, count(*) AS n_events,
               round(min(value), 4) AS low,
               round(max(value), 4) AS high
        FROM events GROUP BY 1, 2
        """,
    ),
    "events_anomaly_mad": QuerySpec(
        X.events_anomaly_mad,
        """
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events GROUP BY event_type
        ), mad AS (
            SELECT e.event_type, any_value(m.med) AS med,
                   median(abs(e.value - m.med)) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type
        )
        SELECT event_id, event_type, value,
               round(med, 4) AS med, round(mad, 4) AS mad,
               round((value - med) / (1.4826 * mad), 4) AS robust_z
        FROM events JOIN mad USING (event_type)
        WHERE mad > 0
          AND abs((value - med) / (1.4826 * mad)) > 3.0
        """,
    ),
    "text_token_entropy": QuerySpec(
        X.text_token_entropy,
        f"""
        WITH c AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id,
                         unnest(list_transform({_TOKS}, x -> lower(x)))
                             AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        )
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               round(log2(CAST(sum(c) AS DOUBLE))
                     - CAST(sum(CAST(c * log2(CAST(c AS DOUBLE))
                                     AS DECIMAL(28,12))) AS DOUBLE)
                       / sum(c), 6) AS token_entropy
        FROM c GROUP BY doc_id
        """,
    ),
    "streaming_session_windows": QuerySpec(
        run_session_window_stream,
        """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_id
        HAVING max(ts) + INTERVAL 30 MINUTE
               <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
        """,
    ),
    "events_sliding_window": QuerySpec(
        R.events_sliding_window,
        """
        SELECT TIMESTAMP '1970-01-01'
                   + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - i.i * 900)
                     * INTERVAL 1 SECOND AS window_start,
               count(*) AS n_events
        FROM events CROSS JOIN (SELECT unnest(range(4)) AS i) i
        GROUP BY 1
        """,
    ),
    "streaming_stateful_totals": QuerySpec(
        # custom stateful operator (applyInPandasWithState) — final
        # per-user state must equal the plain batch aggregate
        running_user_totals_stream,
        """
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY user_id
        """,
    ),
    # -------------------------------- dedup -------------------------------
    "dedup_exact": QuerySpec(
        X.dedup_exact,
        """
        SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        FROM documents GROUP BY text
        """,
    ),
    "dedup_content_hash": QuerySpec(
        X.dedup_content_hash,
        """
        SELECT sha256(text) AS content_sha, min(doc_id) AS doc_id,
               count(*) AS dup_count
        FROM documents GROUP BY sha256(text)
        """,
    ),
    "dedup_minhash_lsh": QuerySpec(X.dedup_minhash_lsh, None, bench=True),
    # Oracle promotion of the MinHash-LSH detector (VERDICT r10 #1, the
    # r9 simhash/IVF pattern): same operator code path as
    # dedup_minhash_lsh — minhash_lsh_pairs_native with identical
    # geometry — under the md5 cross-engine hash family
    # (operators/dedup._minhash_hash_exprs): minhash_i(s) = the first
    # 15 hex chars of md5(s || '|' || (42+i)) parsed base-16 (60 bits,
    # BIGINT-safe both engines), band key = ':'-joined decimal pair.
    # The SQL below replays the WHOLE detector: tokenize -> 3-shingle
    # -> 16 minhashes -> 8 AND-amplified bands -> 512-cap QUALIFY ->
    # banded self-join -> exact shingle-set Jaccard verify at <= 0.5.
    "dedup_minhash_lsh_sqltwin": QuerySpec(
        X.dedup_minhash_lsh_sqltwin,
        f"""
        WITH tk AS (
            SELECT doc_id, {_TOKS} AS tk FROM documents
            WHERE len({_TOKS}) >= 3
        ), sh AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')) AS shingles
            FROM tk
        ), sets AS (
            SELECT doc_id, list_distinct(shingles) AS sset FROM sh
        ), sig AS (
            SELECT doc_id,
                   list_transform(generate_series(0, 15),
                       k -> list_min(list_transform(shingles,
                           s -> ('0x' || substr(md5(s || '|' ||
                                                    CAST(42 + k AS VARCHAR)),
                                                1, 15))::BIGINT))) AS sig
            FROM sh
        ), banded AS (
            SELECT doc_id, bi.i AS band_idx,
                   CAST(sig[bi.i * 2 + 1] AS VARCHAR) || ':' ||
                   CAST(sig[bi.i * 2 + 2] AS VARCHAR) AS band_hash
            FROM sig CROSS JOIN
                 (SELECT unnest(generate_series(0, 7)) AS i) bi
        ), capped AS (
            SELECT doc_id, band_idx, band_hash FROM banded
            QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash)
                    <= 512
        ), cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, jaccard_distance FROM (
            SELECT c.id_a, c.id_b,
                   round(1.0 - CAST(len(list_intersect(sa.sset, sb.sset))
                                    AS DOUBLE)
                         / len(list_distinct(list_concat(sa.sset, sb.sset))),
                         4) AS jaccard_distance
            FROM cands c
            JOIN sets sa ON sa.doc_id = c.id_a
            JOIN sets sb ON sb.doc_id = c.id_b)
        WHERE jaccard_distance <= 0.5
        """,
    ),
    # Promoted rows-only -> oracle in r9: the pandas-UDF SimHash is
    # md5-based and therefore engine-neutral — the oracle recomputes
    # the 64-bit signature in SQL (token multiset -> per-bit +/-1
    # weights -> sign bits via HUGEINT shifts summed into UBIGINT),
    # bands it 4 x 16 bits exactly like the Spark side
    # (shiftrightunsigned ≡ UBIGINT >>), and verifies hamming via
    # bit_count(xor).  Docs whose token list is empty get signature 0
    # (the UDF's behavior) via the LEFT JOIN coalesce.
    "dedup_simhash_pairs": QuerySpec(
        X.dedup_simhash_pairs,
        f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), th AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
            FROM toks WHERE tok <> ''
        ), bits AS (
            SELECT doc_id, bs.b AS b,
                   sum(CASE WHEN ((h >> bs.b) & 1::UBIGINT) = 1::UBIGINT
                            THEN 1 ELSE -1 END) AS w
            FROM th CROSS JOIN
                 (SELECT unnest(generate_series(0, 63)) AS b) bs
            GROUP BY doc_id, bs.b
        ), sig0 AS (
            SELECT doc_id,
                   sum(CASE WHEN w > 0 THEN (1::HUGEINT << b)
                            ELSE 0::HUGEINT END)::UBIGINT AS usig
            FROM bits GROUP BY doc_id
        ), sigs AS (
            SELECT d.doc_id, coalesce(s.usig, 0::UBIGINT) AS usig
            FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id
        ), banded AS (
            SELECT doc_id, usig, bi.i AS band_idx,
                   (usig >> (bi.i * 16)) & 65535::UBIGINT AS band_val
            FROM sigs CROSS JOIN
                 (SELECT unnest(generate_series(0, 3)) AS i) bi
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.usig, b.usig)) AS INTEGER) AS hamming
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx
                     AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.usig, b.usig)) <= 12
        """,
    ),
    "dedup_token_jaccard": QuerySpec(
        X.dedup_token_jaccard,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.tokset, b.tokset))),
                         4) AS jaccard
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.4
        """,
        bench=True,
    ),
    "dedup_cluster_assign": QuerySpec(
        X.dedup_cluster_assign,
        f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset, b.tokset))),
                        4) >= 0.4
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS id, doc_id AS root FROM documents
            UNION
            SELECT e.dst AS id, r.root
            FROM reach r JOIN edges e ON e.src = r.id
        )
        SELECT id AS doc_id, min(root) AS cluster_id
        FROM reach GROUP BY id
        """,
    ),
    # same oracle as dedup_cluster_assign: the star algorithm must
    # produce the identical component labeling (equivalence proof)
    "dedup_cluster_assign_star": QuerySpec(
        X.dedup_cluster_assign_star,
        f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset, b.tokset))),
                        4) >= 0.4
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS id, doc_id AS root FROM documents
            UNION
            SELECT e.dst AS id, r.root
            FROM reach r JOIN edges e ON e.src = r.id
        )
        SELECT id AS doc_id, min(root) AS cluster_id
        FROM reach GROUP BY id
        """,
    ),
    # ------------------------------ similarity ----------------------------
    "ann_cosine_topk": QuerySpec(
        X.ann_cosine_topk,
        """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        sims AS (
            SELECT q_id, vec_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q_id <> vec_id
        )
        SELECT q_id, vec_id, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos_sim DESC, vec_id) AS rn
            FROM sims)
        WHERE rn <= 5
        """,
        bench=True,
    ),
    "ann_lsh_topk": QuerySpec(X.ann_lsh_topk, None),
    # Oracle promoted in r12 (VERDICT r11 #2): ann_lsh_topk's
    # capability under operators/similarity.rp_lsh_topk's "knuth"
    # plane family.  The signature stage is PURE INTEGER arithmetic
    # (floor-quantized vectors × Knuth-hash integer hyperplanes), so
    # sign bits and bucket keys are bit-reproducible with no float
    # order-dependence; the re-rank reuses ann_cosine_topk's proven
    # rounded-cosine SQL.  The oracle replays plane generation,
    # quantization, the 64 sign bits, 16 packed bucket keys, the
    # bucket equi-join, the exact re-rank, the per-query top-5 AND the
    # recall-vs-brute-force arithmetic the entry's assert_true floor
    # rides on.
    "ann_lsh_topk_sqltwin": QuerySpec(
        X.ann_lsh_topk_sqltwin,
        """
        WITH dim AS (
            SELECT unnest(range((SELECT max(len(embedding))
                                 FROM embeddings))) AS d
        ), planes AS (
            SELECT p.p // 4 AS table_id, p.p % 4 AS bit_idx, dim.d,
                   ((p.p * 4096 + dim.d) % 2147483648) * 2654435761
                       % 4294967296 % 2001 - 1000 AS c
            FROM (SELECT unnest(range(64)) AS p) p, dim
        ), vecs AS (
            SELECT vec_id,
                   unnest(range(len(embedding))) AS d,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000)
                        AS BIGINT) AS q
            FROM embeddings
        ), bits AS (
            SELECT v.vec_id, p.table_id, p.bit_idx,
                   CASE WHEN sum(v.q * p.c) >= 0
                        THEN (CAST(1 AS BIGINT) << p.bit_idx)
                        ELSE CAST(0 AS BIGINT) END AS bitval
            FROM vecs v JOIN planes p ON v.d = p.d
            GROUP BY v.vec_id, p.table_id, p.bit_idx
        ), buckets AS (
            SELECT vec_id, table_id, CAST(sum(bitval) AS BIGINT) AS bucket
            FROM bits GROUP BY vec_id, table_id
        ), cands AS (
            SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS vec_id
            FROM buckets qb JOIN buckets cb
              ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
            WHERE qb.vec_id < 20 AND qb.vec_id <> cb.vec_id
        ), e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), scored AS (
            SELECT c.q_id, c.vec_id,
                   round(list_dot_product(eq.v, ec.v)
                         / (sqrt(list_dot_product(eq.v, eq.v))
                            * sqrt(list_dot_product(ec.v, ec.v))), 6)
                       AS cos_sim
            FROM cands c
            JOIN e eq ON c.q_id = eq.vec_id
            JOIN e ec ON c.vec_id = ec.vec_id
        ), approx AS (
            SELECT q_id, vec_id, cos_sim FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id
                                             ORDER BY cos_sim DESC,
                                                      vec_id) AS rn
                FROM scored) WHERE rn <= 5
        ), exact AS (
            SELECT q_id, vec_id FROM (
                SELECT q.vec_id AS q_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.v, c.v)
                                 / (sqrt(list_dot_product(q.v, q.v))
                                    * sqrt(list_dot_product(c.v, c.v))), 6)
                                    DESC,
                                    c.vec_id) AS rn
                FROM e q CROSS JOIN e c
                WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
            ) WHERE rn <= 5
        ), recall AS (
            SELECT round(avg(COALESCE(h.n_hit, 0)
                             / CAST(x.n_exact AS DOUBLE)), 4) AS recall_at_k
            FROM (SELECT q_id, count(*) AS n_exact
                  FROM exact GROUP BY q_id) x
            LEFT JOIN (SELECT a.q_id, count(*) AS n_hit
                       FROM exact ex JOIN approx a
                         ON ex.q_id = a.q_id AND ex.vec_id = a.vec_id
                       GROUP BY a.q_id) h ON x.q_id = h.q_id
        )
        SELECT a.q_id, a.vec_id, a.cos_sim, r.recall_at_k
        FROM approx a CROSS JOIN recall r
        """,
    ),
    # Promoted rows-only -> oracle in r9: the coarse-quantizer sample
    # now uses the cross-engine Knuth hash (operators/similarity.py),
    # so centroid selection, nearest-centroid assignment, nprobe=4
    # probing and the pruned exact re-rank all replay in DuckDB.
    # Assignment/probe ranks order by the UNROUNDED cosine (Spark
    # computes them unrounded); only the emitted cos_sim rounds to 6.
    "ann_ivf_topk": QuerySpec(
        X.ann_ivf_topk,
        """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), cents AS (
            SELECT vec_id AS cent_id, v AS cv FROM e
            ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296,
                     vec_id
            LIMIT 64
        ), c_assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT e.vec_id, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv)
                                    / (sqrt(list_dot_product(e.v, e.v))
                                       * sqrt(list_dot_product(c.cv, c.cv)))
                                    DESC,
                                    c.cent_id) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn <= 1
        ), q AS (
            SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20
        ), q_assign AS (
            SELECT q_id, cent_id FROM (
                SELECT q.q_id, c.cent_id,
                       row_number() OVER (
                           PARTITION BY q.q_id
                           ORDER BY list_dot_product(q.qv, c.cv)
                                    / (sqrt(list_dot_product(q.qv, q.qv))
                                       * sqrt(list_dot_product(c.cv, c.cv)))
                                    DESC,
                                    c.cent_id) AS rn
                FROM q CROSS JOIN cents c
            ) WHERE rn <= 4
        ), cands AS (
            SELECT DISTINCT q_id, vec_id
            FROM q_assign JOIN c_assign USING (cent_id)
            WHERE q_id <> vec_id
        ), scored AS (
            SELECT cands.q_id, cands.vec_id,
                   round(list_dot_product(q.qv, e.v)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(e.v, e.v))), 6)
                       AS cos_sim
            FROM cands
            JOIN q ON cands.q_id = q.q_id
            JOIN e ON cands.vec_id = e.vec_id
        )
        SELECT q_id, vec_id, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos_sim DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= 5
        """,
    ),
    "embedding_norm_stats": QuerySpec(
        X.embedding_norm_stats,
        """
        WITH e AS (
            SELECT label,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS l2,
                   CAST(len(embedding) AS BIGINT) AS dim
            FROM embeddings
        )
        SELECT label, round(avg(l2), 6) AS avg_norm,
               round(min(l2), 6) AS min_norm, round(max(l2), 6) AS max_norm,
               max(dim) AS dim, count(*) AS n_vecs
        FROM e GROUP BY label
        """,
    ),
    "embedding_centroid_sim": QuerySpec(
        X.embedding_centroid_sim,
        """
        WITH e AS (
            SELECT vec_id, label,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ), centroids AS (
            SELECT label, pos, avg(x) AS cx FROM e GROUP BY label, pos
        )
        SELECT e.vec_id, e.label, round(sum(e.x * c.cx), 6) AS dot_centroid
        FROM e JOIN centroids c ON e.label = c.label AND e.pos = c.pos
        GROUP BY e.vec_id, e.label
        """,
    ),
    # ----------------------------- text analysis --------------------------
    "text_token_stats": QuerySpec(
        X.text_token_stats,
        f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                     / len({_TOKS}), 4) AS mean_tok_len,
               round({_STOP_RATIO}, 4) AS stop_ratio
        FROM documents
        """,
        bench=True,
    ),
    "text_quality_score": QuerySpec(
        X.text_quality_score,
        f"""
        SELECT doc_id, lang,
               round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                     + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0, 1.0)
                     + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                     4) AS quality
        FROM documents
        """,
    ),
    "text_lang_id": QuerySpec(
        X.text_lang_id,
        f"""
        SELECT doc_id, lang AS lang_true,
               CASE WHEN {_STOP_RATIO} >= 0.08 THEN 'en' ELSE 'other' END
                   AS lang_pred
        FROM documents
        """,
    ),
    "text_fingerprint": QuerySpec(
        X.text_fingerprint,
        """
        WITH n AS (
            SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
            FROM documents
        )
        SELECT doc_id,
               substr(sha256(lower(norm)), 1, 16) AS sha_fp,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, length(norm) + 1),
                                      i -> CAST(ascii(substr(norm, i, 1)) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS roll_fp
        FROM n
        """,
    ),
    "text_redact_pii": QuerySpec(
        X.text_redact_pii,
        r"""
        WITH r AS (
            SELECT doc_id, text,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                               '<EMAIL>', 'g'),
                           '\b\d{13,19}\b', '<CARD>', 'g'),
                       '\b\d{7,12}\b', '<NUM>', 'g') AS clean_text
            FROM documents
        )
        SELECT doc_id, clean_text, clean_text <> text AS was_redacted
        FROM r
        """,
    ),
    "text_chunking": QuerySpec(
        X.text_chunking,
        r"""
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(range(0,
                                greatest(0, (len(toks) - 1) // 24) * 24 + 1,
                                24)) AS st
            FROM t
        )
        SELECT doc_id, CAST(st // 24 AS INTEGER) AS chunk_idx,
               array_to_string(toks[st + 1: st + 32], ' ') AS chunk_text,
               CAST(len(toks[st + 1: st + 32]) AS BIGINT) AS n_chunk_tokens
        FROM s
        """,
    ),
    "text_stratified_topk": QuerySpec(
        X.text_stratified_topk,
        f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                         + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0, 1.0)
                         + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                         4) AS quality
            FROM documents
        )
        SELECT lang, doc_id, quality, CAST(rk AS INTEGER) AS rk FROM (
            SELECT *, row_number() OVER (PARTITION BY lang
                                         ORDER BY quality DESC, doc_id) AS rk
            FROM scored)
        WHERE rk <= 10
        """,
    ),
    "text_contamination_check": QuerySpec(
        X.text_contamination_check,
        r"""
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(0, len(toks) - 2),
                       i -> toks[i + 1] || ' ' || toks[i + 2] || ' '
                            || toks[i + 3]))) AS shingle
            FROM t WHERE len(toks) >= 3
        ), probe AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id = 0
        )
        SELECT s.doc_id, count(*) AS n_shared_shingles
        FROM sh s JOIN probe p ON s.shingle = p.shingle
        WHERE s.doc_id <> 0
        GROUP BY s.doc_id
        """,
    ),
    "text_ngram_profile": QuerySpec(
        X.text_ngram_profile,
        f"""
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
        WHERE length(tok) > 0
        GROUP BY tok ORDER BY freq DESC, tok LIMIT 50
        """,
    ),
    # ------------------------- round-1 widening batch ---------------------
    "agg_collect_sorted": QuerySpec(
        R.agg_collect_sorted,
        """
        SELECT l_returnflag,
               array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
                   AS statuses,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "agg_rollup_grouping": QuerySpec(
        R.agg_rollup_grouping,
        """
        SELECT n_regionkey, n_name, count(*) AS n_cust,
               CAST(GROUPING(n_regionkey) AS INTEGER) AS g_region,
               CAST(GROUPING(n_name) AS INTEGER) AS g_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (n_regionkey, n_name)
        """,
    ),
    "scalar_regexp_funcs": QuerySpec(
        R.scalar_regexp_funcs,
        r"""
        SELECT p_partkey,
               regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
               regexp_matches(p_name, '^[a-z]+ [a-z]+$') AS two_words,
               CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT)
                   AS n_words
        FROM part
        """,
    ),
    "unpivot_lineitem": QuerySpec(
        R.unpivot_lineitem,
        """
        SELECT l_orderkey, l_linenumber, metric, val
        FROM (SELECT l_orderkey, l_linenumber, l_quantity AS qty,
                     l_extendedprice AS price, l_discount AS discount
              FROM lineitem)
        UNPIVOT (val FOR metric IN (qty, price, discount))
        """,
    ),
    "scalar_try_cast": QuerySpec(
        R.scalar_try_cast,
        """
        SELECT o_orderkey,
               TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
               TRY_CAST(o_orderpriority AS INTEGER) AS prio_bad,
               TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS price_rt
        FROM orders
        """,
    ),
    "session_window_bounds": QuerySpec(
        R.session_window_bounds,
        """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_id
        """,
    ),
    "window_analytics": QuerySpec(
        R.window_analytics,
        """
        SELECT o_orderkey, o_orderpriority,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               first_value(o_orderkey) OVER wf AS cheapest_key,
               last_value(o_orderkey) OVER wf AS priciest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey),
               wf AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
        """,
    ),
    "dedup_embedding_cosine": QuerySpec(
        X.dedup_embedding_cosine,
        """
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings)
        SELECT id_a, id_b, cos_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cos_sim >= 0.3
        """,
    ),
    "text_bpe_token_count": QuerySpec(
        X.text_bpe_token_count,
        r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                    AS BIGINT) AS n_bpeish,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_ws_tokens
        FROM documents
        """,
    ),
    # ------------------------- corpus curation (r4) -----------------------
    "corpus_source_quota": QuerySpec(
        X.corpus_source_quota,
        f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                         + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0, 1.0)
                         + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                         4) AS quality,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                                          + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0, 1.0)
                                          + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                                          4) DESC, doc_id) AS rk
            FROM documents
        )
        SELECT source, count(*) AS n_docs,
               -- CAST: SUM(int) is HUGEINT in DuckDB -> float64 via the
               -- driver pandas bridge -> hash mismatch (VERDICT r7 #1).
               CAST(sum(CASE WHEN rk <= 25 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               round(CAST(sum(CASE WHEN rk <= 25
                                   THEN CAST(quality AS DECIMAL(18,4))
                                   ELSE CAST(0.0 AS DECIMAL(18,4)) END)
                          AS DOUBLE)
                     / sum(CASE WHEN rk <= 25 THEN 1 ELSE 0 END),
                     4) AS kept_avg_quality
        FROM ranked GROUP BY source
        """,
    ),
    # scan capped at the first 512 tokens, mirroring the operator's
    # scan_tokens bound (VERDICT r4 #4); n_tokens stays full-length
    "text_repetition_score": QuerySpec(
        X.text_repetition_score,
        f"""
        WITH capped AS (
            SELECT doc_id, {_TOKS} AS toks_full,
                   list_slice({_TOKS}, 1, 512) AS toks
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks_full) AS BIGINT) AS n_tokens,
               round(CAST(len(list_distinct(toks)) AS DOUBLE)
                     / len(toks), 4) AS distinct_ratio,
               round(CAST(list_aggregate(
                         list_transform(list_distinct(toks),
                             t -> len(list_filter(toks, x -> x = t))),
                         'max') AS DOUBLE)
                     / len(toks), 4) AS top_token_ratio
        FROM capped
        """,
    ),
    "embedding_quantize_int8": QuerySpec(
        X.embedding_quantize_int8,
        """
        WITH s AS (
            SELECT vec_id, embedding,
                   nullif(list_aggregate(
                       list_transform(embedding,
                                      x -> abs(CAST(x AS DOUBLE))),
                       'max'), 0.0) / 127.0 AS scale
            FROM embeddings
        )
        SELECT vec_id, scale,
               array_to_string(
                   list_transform(embedding,
                       x -> CAST(coalesce(
                               floor(CAST(x AS DOUBLE) / scale + 0.5),
                               0) AS INTEGER)),
                   ',') AS q_csv
        FROM s
        """,
    ),
    # Oracle entry pins the DETERMINISTIC edge source (the exact
    # blocked-Jaccard verifier the recursive CTE below mirrors); the
    # operator's default edges_fn=None is the production LSH path,
    # whose probabilistic recall no SQL oracle can reproduce
    # (VERDICT r4 #3).
    "dedup_keep_best": QuerySpec(
        X.dedup_keep_best_deterministic,
        f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset, b.tokset))),
                        4) >= 0.4
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS id, doc_id AS root FROM documents
            UNION
            SELECT e.dst AS id, r.root
            FROM reach r JOIN edges e ON e.src = r.id
        ), clusters AS (
            SELECT id AS doc_id, min(root) AS cluster_id
            FROM reach GROUP BY id
        ), scored AS (
            SELECT doc_id,
                   round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                         + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0, 1.0)
                         + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                         4) AS quality
            FROM documents
        ), ranked AS (
            SELECT c.cluster_id, c.doc_id, s.quality,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY s.quality DESC, c.doc_id) AS rk
            FROM clusters c JOIN scored s USING (doc_id)
        )
        SELECT cluster_id, count(*) AS n_members,
               max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
               max(CASE WHEN rk = 1 THEN quality END) AS best_quality
        FROM ranked GROUP BY cluster_id
        """,
    ),
    # ------------------------------ multimodal ----------------------------
    "multimodal_meta": QuerySpec(
        X.multimodal_meta,
        """
        SELECT doc_id, 'image' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS payload_sha
        FROM documents
        """,
    ),
    "multimodal_arrow_meta": QuerySpec(
        X.multimodal_arrow_meta,
        """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT)
                   AS n_frames,
               octet_length(encode(text)) % 2 = 1 AS odd_bytes
        FROM documents
        """,
    ),
    "udf_scalar_iter_tokens": QuerySpec(
        X.udf_scalar_iter_tokens,
        f"""
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
        """,
    ),
    "events_date_bin_downsample": QuerySpec(
        R.events_date_bin_downsample,
        """
        WITH e AS (
            SELECT time_bucket(INTERVAL '15 minutes', ts,
                               TIMESTAMP '2023-12-31 23:05:00') AS bin_start,
                   event_type, value,
                   (epoch_us(ts) - epoch_us(time_bucket(
                        INTERVAL '15 minutes', ts,
                        TIMESTAMP '2023-12-31 23:05:00'))) * 8589934592
                   + event_id AS okey
            FROM events)
        SELECT bin_start, event_type, count(*) AS n_events,
               round(min(value), 4) AS low,
               round(max(value), 4) AS high,
               round(arg_min(value, okey), 4) AS open,
               round(arg_max(value, okey), 4) AS close
        FROM e GROUP BY bin_start, event_type
        """,
    ),
    "multimodal_wav_roundtrip": QuerySpec(
        X.multimodal_wav_roundtrip,
        """
        WITH s AS (
            SELECT user_id,
                   CAST(greatest(-32768.0,
                        least(32767.0, floor(value * 10.0))) AS INTEGER)
                       AS s,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - 1 AS rn
            FROM events)
        SELECT user_id,
               CAST(rn // 64 AS BIGINT) AS frame_idx,
               CAST((rn // 64) * 64 AS BIGINT) AS sample_offset,
               count(*) AS n_samples,
               round(sqrt(avg(CAST(s AS DOUBLE) * s)), 4) AS rms
        FROM s
        GROUP BY user_id, rn // 64
        """,
    ),
    "multimodal_png_roundtrip": QuerySpec(
        X.multimodal_png_roundtrip,
        """
        SELECT doc_id,
               CAST(doc_id % 200 + 1 AS INTEGER) AS width,
               CAST(n_chars % 150 + 1 AS INTEGER) AS height
        FROM documents
        """,
    ),
    "multimodal_decode_features": QuerySpec(
        X.multimodal_decode_features,
        """
        WITH h AS (
            SELECT doc_id, sha256(text) AS hx,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        )
        SELECT doc_id,
               CAST(16 + ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1))
                         % 240 AS INTEGER) AS width,
               CAST(16 + ((strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1))
                         % 240 AS INTEGER) AS height,
               n_bytes
        FROM h
        """,
    ),
    # ----------------------- round-5 widening batch -----------------------
    "text_gopher_quality": QuerySpec(
        X.text_gopher_quality,
        f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_words,
                   round(CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                              AS DOUBLE) / len({_TOKS}), 4) AS mean_word_len,
                   round({_PUNCT_RATIO}, 4) AS symbol_ratio,
                   CAST(len(list_filter({_TOKS},
                        t -> list_contains([{_SW}], lower(t))))
                        AS BIGINT) AS stop_hits
            FROM documents
        )
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_hits,
               (n_words >= 20 AND n_words <= 100000) AS pass_word_count,
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AS pass_mean_word_len,
               (symbol_ratio < 0.1) AS pass_symbol_ratio,
               (stop_hits >= 2) AS pass_stopwords,
               ((n_words >= 20 AND n_words <= 100000)
                AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                AND (symbol_ratio < 0.1)
                AND (stop_hits >= 2)) AS pass_all
        FROM m
        """,
    ),
    "embedding_kmeans_step": QuerySpec(
        X.embedding_kmeans_step,
        """
        WITH c AS (
            SELECT vec_id AS c_id, embedding AS centroid
            FROM embeddings WHERE vec_id < 8
        ), d AS (
            SELECT e.vec_id, c.c_id,
                   list_aggregate(list_transform(
                       list_zip(e.embedding, c.centroid),
                       x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
                       'sum') AS dist2
            FROM embeddings e CROSS JOIN c
        ), a AS (
            SELECT vec_id, c_id, dist2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist2, c_id) AS rk
            FROM d
        )
        SELECT c_id, count(*) AS n_members,
               round(CAST(sum(CAST(dist2 AS DECIMAL(28,10))) AS DOUBLE), 4)
                   AS inertia
        FROM a WHERE rk = 1 GROUP BY c_id
        """,
    ),
    # rows-only: candidate set is hash-dependent (bipartite LSH);
    # ground-truthed against planted cross-side near-dups in tests
    "dedup_incremental_lsh": QuerySpec(X.dedup_incremental_lsh, None),
    # r11: the bipartite continuous-ingest detector under the md5
    # cross-engine family (the dedup_minhash_lsh_sqltwin pattern) —
    # the oracle replays both sides' signatures, the new(>=400) ×
    # corpus(<400) band join, and the cross-side shingle-Jaccard
    # verify.  No bucket cap (the entry passes none).
    "dedup_incremental_lsh_sqltwin": QuerySpec(
        X.dedup_incremental_lsh_sqltwin,
        f"""
        WITH tk AS (
            SELECT doc_id, {_TOKS} AS tk FROM documents
            WHERE len({_TOKS}) >= 3
        ), sh AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')) AS shingles
            FROM tk
        ), sets AS (
            SELECT doc_id, list_distinct(shingles) AS sset FROM sh
        ), sig AS (
            SELECT doc_id,
                   list_transform(generate_series(0, 15),
                       k -> list_min(list_transform(shingles,
                           s -> ('0x' || substr(md5(s || '|' ||
                                                    CAST(42 + k AS VARCHAR)),
                                                1, 15))::BIGINT))) AS sig
            FROM sh
        ), banded AS (
            SELECT doc_id, bi.i AS band_idx,
                   CAST(sig[bi.i * 2 + 1] AS VARCHAR) || ':' ||
                   CAST(sig[bi.i * 2 + 2] AS VARCHAR) AS band_hash
            FROM sig CROSS JOIN
                 (SELECT unnest(generate_series(0, 7)) AS i) bi
        ), cands AS (
            SELECT DISTINCT n.doc_id AS id_a, c.doc_id AS id_b
            FROM (SELECT * FROM banded WHERE doc_id >= 400) n
            JOIN (SELECT * FROM banded WHERE doc_id < 400) c
              ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
             AND n.doc_id <> c.doc_id
        )
        SELECT id_a, id_b, jaccard_distance FROM (
            SELECT c.id_a, c.id_b,
                   round(1.0 - CAST(len(list_intersect(sa.sset, sb.sset))
                                    AS DOUBLE)
                         / len(list_distinct(list_concat(sa.sset, sb.sset))),
                         4) AS jaccard_distance
            FROM cands c
            JOIN sets sa ON sa.doc_id = c.id_a
            JOIN sets sb ON sb.doc_id = c.id_b)
        WHERE jaccard_distance <= 0.5
        """,
    ),
    "embedding_dim_stats": QuerySpec(
        X.embedding_dim_stats,
        """
        WITH e AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )
        SELECT dim, count(*) AS n_vecs,
               round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                     / count(*), 4) AS dim_mean,
               round(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)
                     / count(*)
                     - (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                        / count(*))
                       * (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                          / count(*)), 4) AS dim_var
        FROM e GROUP BY dim
        """,
    ),
    "text_ngram_dup_spans": QuerySpec(
        X.text_ngram_dup_spans,
        f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - 3),
                       i -> array_to_string(list_slice(toks, i, i + 4),
                                            ' '))) AS gram
            FROM t WHERE len(toks) >= 5
        )
        SELECT gram, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences
        FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        """,
    ),
    "streaming_interval_join": QuerySpec(
        run_interval_join_stream,
        """
        SELECT c.event_id AS click_id, v.event_id AS view_id,
               c.user_id AS user_id,
               CAST(floor(epoch(c.ts)) - floor(epoch(v.ts)) AS BIGINT)
                   AS gap_sec
        FROM events c JOIN events v
          ON c.user_id = v.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 60 MINUTE
        """,
    ),
    "streaming_interval_join_outer": QuerySpec(
        run_interval_join_stream_outer,
        """
        SELECT c.event_id AS click_id, v.event_id AS view_id,
               c.user_id AS user_id,
               CAST(floor(epoch(c.ts)) - floor(epoch(v.ts)) AS BIGINT)
                   AS gap_sec
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id
         AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 60 MINUTE
        """,
    ),
    # ---------------- round-5 widening: corpus-pipeline tail ----------
    "text_line_dedup": QuerySpec(
        X.text_line_dedup,
        f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), sp AS (
            SELECT doc_id,
                   unnest(range(0, ((len(toks) - 1) // 10) + 1)) AS span_idx,
                   toks
            FROM t
        ), spans AS (
            SELECT doc_id, span_idx,
                   array_to_string(list_slice(toks, span_idx * 10 + 1,
                                              span_idx * 10 + 10),
                                   ' ') AS span_text
            FROM sp
        ), dup AS (
            SELECT span_text FROM spans
            GROUP BY span_text HAVING count(DISTINCT doc_id) >= 2
        ), kept AS (
            SELECT * FROM spans
            WHERE span_text NOT IN (SELECT span_text FROM dup)
        )
        SELECT doc_id,
               string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text,
               count(*) AS n_spans_kept
        FROM kept GROUP BY doc_id
        """,
    ),
    "corpus_shard_pack": QuerySpec(
        X.corpus_shard_pack,
        f"""
        WITH sized AS (
            SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
        ), run AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY doc_id) AS ps
            FROM sized
        )
        SELECT doc_id, n_tokens,
               CAST(floor((ps - n_tokens) / 2000) AS BIGINT) AS shard_id
        FROM run
        """,
    ),
    "sample_weighted": QuerySpec(
        X.sample_weighted,
        """
        WITH keyed AS (
            SELECT doc_id, n_chars,
                   CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE)
                       / 4294967297.0 AS u
            FROM documents
        )
        SELECT doc_id, n_chars,
               round(pow(u, 1.0 / n_chars), 9) AS sample_key
        FROM keyed
        ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id
        LIMIT 50
        """,
    ),
    "text_tfidf_topk": QuerySpec(
        X.text_tfidf_topk,
        f"""
        WITH t AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
        ), df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * ln((SELECT count(*) FROM documents)
                                    / CAST(df.df AS DOUBLE)), 9) AS tfidf
            FROM tf JOIN df USING (term)
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS BIGINT)
                   AS rk
        FROM scored
        QUALIFY rk <= 3
        """,
    ),
    "text_bigram_pmi": QuerySpec(
        X.text_bigram_pmi,
        f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), p AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(range(1, len(toks))) AS u(i)
            WHERE len(toks) >= 2
        ), bg AS (
            SELECT w1, w2, count(*) AS c_ab FROM p GROUP BY 1, 2
        ), uni AS (
            SELECT unnest(toks) AS w FROM t
        ), uc AS (
            SELECT w, count(*) AS c FROM uni GROUP BY 1
        )
        SELECT bg.w1, bg.w2, CAST(bg.c_ab AS BIGINT) AS c_ab,
               round(ln(bg.c_ab * (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bg)
                        / (a.c * CAST(b.c AS DOUBLE))), 9) AS pmi
        FROM bg
        JOIN uc a ON bg.w1 = a.w
        JOIN uc b ON bg.w2 = b.w
        WHERE bg.c_ab >= 25
        """,
    ),
    # full iterative Lloyd training — unbounded iteration is not
    # SQL-expressible; NumPy-ground-truthed in tests (rows-only)
    # Promoted rows-only -> oracle in r9 (VERDICT r8 #4): fixed 2
    # Lloyd rounds with DECIMAL-exact centroid updates — the unrolled
    # oracle replays the step algebra twice; the tol-driven variant
    # keeps its NumPy parity test in tests/.
    "embedding_kmeans_train": QuerySpec(
        X.embedding_kmeans_train, _kmeans_unrolled_sql(2)),
    "corpus_clean_pipeline": QuerySpec(
        X.corpus_clean_pipeline,
        f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), sp AS (
            SELECT doc_id,
                   unnest(range(0, ((len(toks) - 1) // 10) + 1)) AS span_idx,
                   toks
            FROM t
        ), spans AS (
            SELECT doc_id, span_idx,
                   array_to_string(list_slice(toks, span_idx * 10 + 1,
                                              span_idx * 10 + 10),
                                   ' ') AS span_text
            FROM sp
        ), dup AS (
            SELECT span_text FROM spans
            GROUP BY span_text HAVING count(DISTINCT doc_id) >= 2
        ), kept AS (
            SELECT * FROM spans
            WHERE span_text NOT IN (SELECT span_text FROM dup)
        ), cleaned AS (
            SELECT doc_id,
                   string_agg(span_text, ' ' ORDER BY span_idx)
                       AS clean_text,
                   count(*) AS n_spans_kept
            FROM kept GROUP BY doc_id
        ), sized AS (
            SELECT doc_id,
                   len(string_split_regex(trim(clean_text), '\\s+'))
                       AS n_tokens
            FROM cleaned
            WHERE n_spans_kept >= 2
              AND len(string_split_regex(trim(clean_text), '\\s+')) >= 20
        ), run AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY doc_id) AS ps
            FROM sized
        )
        SELECT doc_id, n_tokens,
               CAST(floor((ps - n_tokens) / 2000) AS BIGINT) AS shard_id
        FROM run
        """,
    ),
    "corpus_data_card": QuerySpec(
        X.corpus_data_card,
        f"""
        SELECT source, lang, count(*) AS n_docs,
               -- CAST: SUM(BIGINT) is HUGEINT in DuckDB -> float64 via the
               -- driver pandas bridge -> hash mismatch (VERDICT r7 #1).
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
               round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4)
                   AS mean_chars,
               round(CAST(count(*) AS DOUBLE)
                     / (SELECT CAST(count(*) AS DOUBLE) FROM documents), 6)
                   AS corpus_share
        FROM documents GROUP BY source, lang
        """,
    ),
    # Both PageRank oracles come from one generator: the step is the
    # k=1 unroll (same values as the previous hand-written step oracle
    # — the final round(.,9) absorbs the 0.15-literal vs 1.0-0.85
    # double difference that matters for unrounded intermediates).
    "graph_pagerank_step": QuerySpec(
        X.graph_pagerank_step, _pagerank_unrolled_sql(1)),
    # Promoted rows-only -> oracle in r9 (VERDICT r8 #4): the registry
    # entry runs a FIXED 5 power iterations (tol=0.0), so the loop is
    # expressible as the k=5 unroll; the convergence-driven variant
    # stays NumPy-parity-tested in tests/ via operators/graph.pagerank.
    "graph_pagerank": QuerySpec(
        X.graph_pagerank, _pagerank_unrolled_sql(5)),
    # Payload columns face the driver as hex STRINGs (injective, so the
    # byte-exactness claim is unchanged): the driver's pandas
    # canonicalizer cannot factorize bytearray (VERDICT r6 #1). Both
    # Spark hex() and DuckDB hex() emit uppercase A-F.
    "multimodal_resize": QuerySpec(
        X.multimodal_resize,
        """
        SELECT doc_id, CAST(32 AS INTEGER) AS width,
               CAST(32 AS INTEGER) AS height,
               upper(substring(repeat(sha256(text), 33), 1, 2048))
                   AS resized_hex,
               CAST(1024 AS BIGINT) AS n_bytes
        FROM documents
        """,
    ),
    "multimodal_frame_sample": QuerySpec(
        X.multimodal_frame_sample,
        """
        WITH t AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n
            FROM documents
        ), f AS (
            SELECT doc_id, text,
                   unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT), 4))
                       AS frame_idx
            FROM t
        )
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(frame_idx * 256 AS BIGINT) AS byte_offset,
               hex(encode(substr(text, CAST(frame_idx * 256 + 1 AS BIGINT),
                                 256)))
                   AS frame_hex
        FROM f
        """,
    ),
    "corpus_train_val_split": QuerySpec(
        X.corpus_train_val_split,
        """
        SELECT doc_id, lang, source,
               -- fold below 2^31 first: 63-bit-safe at any doc_id
               CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296
                         < CAST(0.95 * 4294967296 AS BIGINT)
                    THEN 'train' ELSE 'val' END AS split
        FROM documents
        """,
    ),
    "corpus_mixture_sample": QuerySpec(
        X.corpus_mixture_sample,
        """
        WITH ranked AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY ((doc_id % 2147483648) * 2654435761)
                                    % 4294967296,
                                doc_id) AS BIGINT) AS rk
            FROM documents
        )
        SELECT doc_id, source, rk FROM ranked
        WHERE rk <= (SELECT min(n) FROM
                     (SELECT count(*) AS n FROM documents GROUP BY source))
        """,
    ),
    "streaming_dedup_keys": QuerySpec(
        run_dedup_stream,
        "SELECT DISTINCT user_id, event_type FROM events",
    ),
    "streaming_dedup_watermarked": QuerySpec(
        run_dedup_within_watermark_stream,
        "SELECT DISTINCT user_id, event_type FROM events",
    ),
    # ------------------------- r5 SQL-surface growth (relational.py) ------
    "recursive_cte_date_spine": QuerySpec(
        R.recursive_cte_date_spine,
        """
        WITH RECURSIVE spine(month_start) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE) FROM spine
            WHERE month_start < DATE '1995-12-01'
        ),
        m AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
                       AS month_start,
                   COUNT(*) AS n_orders,
                   CAST(round(SUM(o_totalprice), 2) AS DOUBLE) AS total_price
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1996-01-01'
            GROUP BY 1
        )
        SELECT s.month_start,
               COALESCE(m.n_orders, 0) AS n_orders,
               COALESCE(m.total_price, 0.0) AS total_price
        FROM spine s LEFT JOIN m ON s.month_start = m.month_start
        """,
    ),
    "window_gapfill_locf": QuerySpec(
        R.window_gapfill_locf,
        """
        WITH r AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type <> 'error' THEN value END AS reading
            FROM events
        )
        SELECT event_id, user_id, reading,
               last_value(reading IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
               first_value(reading IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nocb
        FROM r
        """,
    ),
    "text_langid_confusion": QuerySpec(
        X.text_langid_confusion,
        f"""
        WITH p AS (
            SELECT lang AS lang_true,
                   CASE WHEN {_STOP_RATIO} >= 0.08 THEN 'en'
                        ELSE 'other' END AS lang_pred
            FROM documents
        ), c AS (
            SELECT lang_true, lang_pred, COUNT(*) AS n
            FROM p GROUP BY 1, 2
        )
        SELECT lang_true, lang_pred, n,
               round(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM c), 6)
                   AS share
        FROM c
        """,
    ),
    "dedup_method_agreement": QuerySpec(
        X.dedup_method_agreement,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset,
                   substr(text, 1, 40) AS pfx
            FROM documents
        ), jac AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset, b.tokset))),
                        4) >= 0.4
        ), lev AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE levenshtein(a.pfx, b.pfx) <= 20
        )
        SELECT CASE
                 WHEN j.id_a IS NOT NULL AND l.id_a IS NOT NULL THEN 'both'
                 WHEN j.id_a IS NOT NULL THEN 'jaccard_only'
                 ELSE 'levenshtein_only'
               END AS method,
               COUNT(*) AS n_pairs
        FROM jac j FULL OUTER JOIN lev l
          ON j.id_a = l.id_a AND j.id_b = l.id_b
        GROUP BY 1
        """,
    ),
    "agg_linear_regression": QuerySpec(
        R.agg_linear_regression,
        """
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 6)
                   AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 6)
                   AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)
                   AS n
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "join_exists_flag": QuerySpec(
        R.join_exists_flag,
        """
        SELECT c_custkey, c_mktsegment,
               EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
                   AS has_urgent
        FROM customer c
        """,
    ),
    "agg_higher_moments": QuerySpec(
        R.agg_higher_moments,
        """
        WITH m AS (
            SELECT l_returnflag,
                   avg(l_extendedprice) AS mu,
                   avg(l_extendedprice * l_extendedprice) AS m2r,
                   avg(l_extendedprice * l_extendedprice
                       * l_extendedprice) AS m3r,
                   avg(l_extendedprice * l_extendedprice
                       * l_extendedprice * l_extendedprice) AS m4r
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               round((m3r - 3 * mu * m2r + 2 * mu * mu * mu)
                     / pow(m2r - mu * mu, 1.5), 6) AS skew,
               round((m4r - 4 * mu * m3r + 6 * mu * mu * m2r
                      - 3 * mu * mu * mu * mu)
                     / pow(m2r - mu * mu, 2) - 3, 6) AS kurt
        FROM m
        """,
    ),
    "scalar_datetime_make": QuerySpec(
        R.scalar_datetime_make,
        """
        SELECT o_orderkey,
               make_date(CAST(year(o_orderdate) AS INTEGER),
                         CAST(month(o_orderdate) AS INTEGER),
                         CAST(day(o_orderdate) AS INTEGER))
                   AS rebuilt_date,
               make_date(CAST(year(o_orderdate) AS INTEGER),
                         CAST(month(o_orderdate) AS INTEGER),
                         CAST(day(o_orderdate) AS INTEGER)) = o_orderdate
                   AS roundtrip_ok,
               make_timestamp(CAST(year(o_orderdate) AS BIGINT),
                              CAST(month(o_orderdate) AS BIGINT),
                              CAST(day(o_orderdate) AS BIGINT),
                              12, 30, 0.0) AS noon_ts
        FROM orders
        """,
    ),
    "window_topk_with_ties": QuerySpec(
        R.window_topk_with_ties,
        """
        SELECT o_orderkey, o_orderstatus, o_orderdate, rnk FROM (
            SELECT o_orderkey, o_orderstatus, o_orderdate,
                   CAST(rank() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY o_orderdate - DATE '1992-01-01')
                       AS INTEGER) AS rnk
            FROM orders
        ) WHERE rnk <= 3
        """,
    ),
    "multimodal_phash_pairs": QuerySpec(
        X.multimodal_phash_pairs,
        """
        WITH p AS (
            SELECT doc_id,
                   substr(sha256(substr(text, 1, 64)), 1, 16) AS ph
            FROM documents
        ), t AS (
            SELECT doc_id, ph,
                   substr(ph, 1, 4) AS b0, substr(ph, 5, 4) AS b1,
                   substr(ph, 9, 4) AS b2, substr(ph, 13, 4) AS b3
            FROM p
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.ph AS ph_a, b.ph AS ph_b
            FROM t a JOIN t b
              ON a.doc_id < b.doc_id
             AND (a.b0 = b.b0 OR a.b1 = b.b1
                  OR a.b2 = b.b2 OR a.b3 = b.b3)
        ), scored AS (
            SELECT id_a, id_b,
                   CAST(list_sum(
                       [bit_count(xor(
                            strpos('0123456789abcdef',
                                   substr(ph_a, i, 1)) - 1,
                            strpos('0123456789abcdef',
                                   substr(ph_b, i, 1)) - 1))
                        for i in range(1, 17)]) AS INTEGER) AS hamming
            FROM cand
        )
        SELECT id_a, id_b, hamming FROM scored WHERE hamming <= 6
        """,
    ),
    "sql_udf_surface": QuerySpec(
        R.sql_udf_surface,
        """
        SELECT e.event_id,
               round((e.value + 250.0 - 273.15) * 9 / 5 + 32, 2)
                   AS temp_f,
               r.copy_idx
        FROM events e
        CROSS JOIN (VALUES (1), (2)) AS r(copy_idx)
        """,
    ),
    "set_union_evolved_schema": QuerySpec(
        R.set_union_evolved_schema,
        """
        SELECT o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL BY NAME
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1
        """,
    ),
    "agg_bitmap_distinct": QuerySpec(
        R.agg_bitmap_distinct,
        """
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_distinct_cust
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "agg_filter_clause": QuerySpec(
        R.agg_filter_clause,
        """
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small,
               round(SUM(l_extendedprice)
                     FILTER (WHERE l_discount > 0.05), 2)
                   AS rev_discounted,
               round(AVG(l_extendedprice)
                     FILTER (WHERE l_tax = 0.0), 4) AS avg_taxfree
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "sql_session_variables": QuerySpec(
        R.sql_session_variables,
        """
        SELECT o_orderpriority, COUNT(*) AS n_above
        FROM orders
        WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2)
                              FROM orders)
        GROUP BY o_orderpriority
        """,
    ),
    "sql_scripting_control_flow": QuerySpec(
        R.sql_scripting_control_flow,
        """
        WITH RECURSIVE search(t) AS (
            SELECT 100000.0
            UNION ALL
            SELECT t * 1.5 FROM search
            WHERE (SELECT COUNT(*) FROM orders
                   WHERE o_totalprice > t) > 100
        ), final AS (
            SELECT max(t) AS t FROM search
        )
        SELECT round(f.t, 2) AS threshold,
               (SELECT COUNT(*) FROM orders
                WHERE o_totalprice > f.t) AS n_above
        FROM final f
        """,
    ),
    "join_null_safe": QuerySpec(
        R.join_null_safe,
        """
        WITH r AS (
            SELECT event_id,
                   CASE WHEN event_type <> 'error' THEN event_type END
                       AS cls,
                   value
            FROM events
        ), per AS (
            SELECT cls, round(avg(value), 6) AS cls_avg FROM r GROUP BY cls
        )
        SELECT r.event_id, r.cls, per.cls_avg
        FROM r JOIN per ON r.cls IS NOT DISTINCT FROM per.cls
        """,
    ),
    "agg_histogram_fixed_bins": QuerySpec(
        R.agg_histogram_fixed_bins,
        """
        WITH b AS (
            SELECT min(o_totalprice) AS lo,
                   (max(o_totalprice) - min(o_totalprice)) / 10.0 AS w
            FROM orders
        )
        SELECT least(CAST(floor((o_totalprice - b.lo) / b.w) AS BIGINT),
                     9) AS bin_id,
               COUNT(*) AS n,
               round(min(o_totalprice), 2) AS bin_min,
               round(max(o_totalprice), 2) AS bin_max
        FROM orders, b
        GROUP BY 1
        """,
    ),
    "table_profile": QuerySpec(
        R.table_profile,
        """
        SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
               count(*) FILTER (o_orderkey IS NULL) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               min(CAST(o_orderkey AS VARCHAR)) AS min_str,
               max(CAST(o_orderkey AS VARCHAR)) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               count(*) FILTER (o_custkey IS NULL),
               count(DISTINCT o_custkey),
               min(CAST(o_custkey AS VARCHAR)),
               max(CAST(o_custkey AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               count(*) FILTER (o_orderstatus IS NULL),
               count(DISTINCT o_orderstatus),
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               count(*) FILTER (o_totalprice IS NULL),
               count(DISTINCT o_totalprice),
               min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
               max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*),
               count(*) FILTER (o_orderdate IS NULL),
               count(DISTINCT o_orderdate),
               min(CAST(o_orderdate AS VARCHAR)),
               max(CAST(o_orderdate AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               count(*) FILTER (o_orderpriority IS NULL),
               count(DISTINCT o_orderpriority),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
        """,
    ),
    "window_time_range_rolling": QuerySpec(
        R.window_time_range_rolling,
        """
        SELECT event_id, user_id,
               round(avg(value) OVER w, 6) AS rolling_avg_1h,
               count(value) OVER w AS n_in_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                               AND CURRENT ROW)
        """,
    ),
    "window_linear_interpolate": QuerySpec(
        R.window_linear_interpolate,
        """
        WITH r AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type <> 'error' THEN value END
                       AS reading,
                   CASE WHEN event_type <> 'error' THEN epoch_us(ts) END
                       AS r_ts
            FROM events
        ), c AS (
            SELECT event_id, user_id, reading, epoch_us(ts) AS t,
                   last_value(reading IGNORE NULLS) OVER wb AS pv,
                   last_value(r_ts IGNORE NULLS) OVER wb AS pt,
                   first_value(reading IGNORE NULLS) OVER wf AS nv,
                   first_value(r_ts IGNORE NULLS) OVER wf AS nt
            FROM r
            WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   wf AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id, reading,
               CASE
                 WHEN reading IS NOT NULL THEN reading
                 WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt THEN
                   round(pv + (nv - pv)
                         * (CAST(t - pt AS DOUBLE)
                            / CAST(nt - pt AS DOUBLE)), 6)
                 WHEN pv IS NOT NULL THEN pv
                 ELSE nv
               END AS filled
        FROM c
        """,
    ),
    "agg_mode_deterministic": QuerySpec(
        R.agg_mode_deterministic,
        """
        WITH c AS (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
            FROM orders GROUP BY 1, 2
        ), r AS (
            SELECT o_orderstatus, o_orderpriority,
                   -- CAST: DuckDB types SUM(BIGINT) as HUGEINT, which the
                   -- driver pandas .df() bridge converts to float64 and
                   -- the value hash then disagrees with the Spark int64
                   -- (VERDICT r7 "What's wrong #1").
                   CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus)
                        AS BIGINT) AS n,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY cnt DESC, o_orderpriority)
                       AS rn
            FROM c
        )
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n
        FROM r WHERE rn = 1
        """,
    ),
    "agg_percentile_disc": QuerySpec(
        R.agg_percentile_disc,
        """
        SELECT l_returnflag,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p25,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p90
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "scalar_variant_json": QuerySpec(
        R.scalar_variant_json,
        """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
               CAST(json_extract_string(props, '$.k') AS INTEGER)
                   * CAST(json_extract_string(props, '$.k') AS INTEGER)
                   AS k_sq,
               CAST(json_extract_string(props, '$.missing') AS INTEGER)
                   AS absent
        FROM events
        """,
    ),
    "agg_hll_sketch_union": QuerySpec(R.agg_hll_sketch_union, None),
    "text_top_tokens_sketch": QuerySpec(X.text_top_tokens_sketch, None),
    "embedding_pq_encode": QuerySpec(X.embedding_pq_encode, None),
    "ann_pq_topk": QuerySpec(X.ann_pq_topk, None),
    "text_bm25_topk": QuerySpec(
        X.text_bm25_topk,
        f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), toks_nz AS (
            SELECT doc_id, tok FROM toks WHERE length(tok) > 0
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks_nz GROUP BY doc_id
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks_nz
            WHERE tok IN ('data', 'spark', 'window')
            GROUP BY doc_id, tok
        ), dft AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), scored AS (
            SELECT tf.doc_id,
                   ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                       AS s
            FROM tf
            JOIN dft ON tf.tok = dft.tok
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
        )
        SELECT doc_id, round(SUM(s), 6) AS bm25 FROM scored
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
        """,
    ),
    "join_bloom_prefilter": QuerySpec(
        R.join_bloom_prefilter,
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               round(SUM(o_totalprice), 2) AS total_price
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_custkey = o.o_custkey
              AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 7000.0
        )
        GROUP BY o_orderpriority
        """,
    ),
    "graph_triangle_count": QuerySpec(
        X.graph_triangle_count,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), e AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset, b.tokset))),
                        4) >= 0.4
        ), tri AS (
            SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
            FROM e ab
            JOIN e bc ON ab.id_b = bc.id_a
            JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
        )
        SELECT doc_id, COUNT(*) AS n_triangles FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY doc_id
        """,
    ),
    "join_lateral_topn": QuerySpec(
        R.join_lateral_topn,
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2) t
        WHERE c.c_mktsegment = 'MACHINERY'
        """,
    ),
    "window_count_distinct": QuerySpec(
        R.window_count_distinct,
        """
        SELECT event_id, user_id,
               count(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_distinct_types
        FROM events
        """,
    ),
    "events_funnel_conversion": QuerySpec(
        R.events_funnel_conversion,
        """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'view' AND e.ts > s1.t1
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s1) AS n_signup,
               (SELECT count(*) FROM s2) AS n_view_after,
               (SELECT count(*) FROM s3) AS n_purchase_after
        """,
    ),
    "events_cohort_retention": QuerySpec(
        R.events_cohort_retention,
        """
        WITH ev AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
            FROM events
        ), first AS (
            SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, e.wk) // 7 AS BIGINT)
                   AS week_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM ev e JOIN first f ON e.user_id = f.user_id
        GROUP BY 1, 2
        """,
    ),
    "udaf_grouped_pandas_geomean": QuerySpec(
        R.udaf_grouped_pandas_geomean,
        """
        SELECT l_returnflag,
               round(exp(avg(ln(l_extendedprice))), 6) AS geo_price,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    "grouped_map_normalize": QuerySpec(
        R.grouped_map_normalize,
        """
        SELECT event_id, event_type,
               round((value - avg(value) OVER w)
                     / stddev_samp(value) OVER w, 4) AS z
        FROM events
        WINDOW w AS (PARTITION BY event_type)
        """,
    ),
    "scalar_map_funcs": QuerySpec(
        R.scalar_map_funcs,
        """
        SELECT c_custkey, key, val FROM (
            SELECT c_custkey, 'acct' AS key, c_acctbal * 2 AS val
            FROM customer
            UNION ALL
            SELECT c_custkey, 'half' AS key, (c_acctbal / 2) * 2 AS val
            FROM customer
        ) WHERE val > 5000.0
        """,
    ),
    "agg_incremental_merge": QuerySpec(
        R.agg_incremental_merge,
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               round(SUM(o_totalprice), 2) AS total_price,
               round(SUM(o_totalprice) / COUNT(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "layout_zorder_keys": QuerySpec(
        R.layout_zorder_keys,
        f"""
        WITH ev AS (
            SELECT event_id, user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS day
            FROM events
        ), b AS (
            SELECT min(user_id) AS ux, max(user_id) AS uy,
                   min(day) AS dx, max(day) AS dy
            FROM ev
        ), g AS (
            SELECT event_id,
                   CAST(floor((user_id - ux) * 65535
                              / greatest(uy - ux, 1)) AS BIGINT) AS gx,
                   CAST(floor((day - dx) * 65535
                              / greatest(dy - dx, 1)) AS BIGINT) AS gy
            FROM ev, b
        ), z AS (
            SELECT event_id, ({_Z_INTERLEAVE}) AS zval FROM g
        )
        SELECT event_id, zval, zval >> 29 AS file_bucket FROM z
        """,
    ),
    "fuzzy_join_levenshtein": QuerySpec(
        X.fuzzy_join_levenshtein,
        """
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   substr(text, 1, 40) AS pfx
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               levenshtein(a.pfx, b.pfx) AS edit_dist
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.len_band = b.len_band
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pfx, b.pfx) <= 20
        """,
    ),
    # ------------------- round-5 continuation tranche ---------------------
    "dedup_semdedup": QuerySpec(
        X.dedup_semdedup,
        """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        c AS (SELECT vec_id AS c_id, v AS centroid FROM e WHERE vec_id < 8),
        d AS (SELECT e.vec_id, c.c_id,
                     list_aggregate(list_transform(
                         list_zip(e.v, c.centroid),
                         x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS dist2
              FROM e CROSS JOIN c),
        a AS (SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist2, c_id) AS rk
              FROM d),
        asn AS (SELECT e.vec_id, e.v, a.c_id
                FROM e JOIN a ON e.vec_id = a.vec_id AND a.rk = 1)
        SELECT cluster_id, id_a, id_b, cos_sim FROM (
            SELECT x.c_id AS cluster_id,
                   x.vec_id AS id_a, y.vec_id AS id_b,
                   round(list_dot_product(x.v, y.v)
                         / (sqrt(list_dot_product(x.v, x.v))
                            * sqrt(list_dot_product(y.v, y.v))), 6) AS cos_sim
            FROM asn x JOIN asn y
              ON x.c_id = y.c_id AND x.vec_id < y.vec_id)
        WHERE cos_sim >= 0.3
        """,
    ),
    "text_unigram_logprob": QuerySpec(
        X.text_unigram_logprob,
        f"""
        WITH tok AS (
            SELECT doc_id, lower(unnest({_TOKS})) AS tok FROM documents
        ), f AS (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
        ), s AS (
            SELECT sum(cnt) AS n_total, count(*) AS n_vocab FROM f
        ), sc AS (
            SELECT t.doc_id,
                   CAST(ln(CAST(f.cnt + 1 AS DOUBLE)
                           / (CAST(s.n_total AS DOUBLE)
                              + CAST(s.n_vocab AS DOUBLE)))
                        AS DECIMAL(28,12)) AS lp
            FROM tok t JOIN f USING (tok) CROSS JOIN s
        )
        SELECT doc_id, count(*) AS n_tokens,
               round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS nll_per_token
        FROM sc GROUP BY doc_id
        """,
    ),
    "corpus_seq_pack": QuerySpec(
        X.corpus_seq_pack,
        f"""
        WITH t AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks
            FROM documents
        ), c AS (
            SELECT doc_id, n_toks,
                   CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM t
        ), s AS (
            SELECT doc_id, cum - n_toks AS tok_start, cum AS tok_end FROM c
        ), x AS (
            SELECT doc_id, tok_start, tok_end,
                   unnest(generate_series(tok_start // 128,
                                          (tok_end - 1) // 128)) AS seq_id
            FROM s
        )
        SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
               CAST(greatest(tok_start, seq_id * 128) - seq_id * 128
                    AS BIGINT) AS offset_in_seq,
               CAST(least(tok_end, (seq_id + 1) * 128)
                    - greatest(tok_start, seq_id * 128)
                    AS BIGINT) AS n_seg_tokens
        FROM x
        """,
    ),
    "corpus_token_budget_sample": QuerySpec(
        X.corpus_token_budget_sample,
        f"""
        WITH t AS (
            SELECT doc_id,
                   round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                         + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0,
                                       1.0)
                         + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                         4) AS quality,
                   CAST(len({_TOKS}) AS BIGINT) AS n_toks
            FROM documents
        ), c AS (
            SELECT doc_id, quality, n_toks,
                   CAST(sum(n_toks) OVER (ORDER BY quality DESC, doc_id)
                        AS BIGINT) AS cum_tokens
            FROM t
        )
        SELECT doc_id, quality, n_toks, cum_tokens
        FROM c WHERE cum_tokens - n_toks < 2000
        """,
    ),
    "corpus_epoch_shuffle": QuerySpec(
        X.corpus_epoch_shuffle,
        """
        WITH d AS (
            SELECT doc_id, unnest([0, 1]) AS epoch FROM documents
        ), k AS (
            SELECT doc_id, epoch,
                   -- fold below 2^31 first (matches the Spark side)
                   (((doc_id + epoch * 1000003) % 2147483648) * 2654435761)
                       % 4294967296 AS skey
            FROM d
        )
        SELECT epoch,
               CAST(row_number() OVER (PARTITION BY epoch
                                       ORDER BY skey, doc_id) AS BIGINT)
                   AS shuffle_rank,
               doc_id
        FROM k
        """,
    ),
    "events_anomaly_zscore": QuerySpec(
        X.events_anomaly_zscore,
        """
        WITH s AS (
            SELECT event_type, count(*) AS n,
                   sum(CAST(value AS DECIMAL(28,10))) AS s1,
                   sum(CAST(value * value AS DECIMAL(28,10))) AS s2
            FROM events GROUP BY event_type
        ), st AS (
            SELECT event_type,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)) AS sigma
            FROM s
        )
        SELECT event_id, event_type, value, zscore FROM (
            SELECT e.event_id, e.event_type, e.value,
                   round((e.value - st.mu) / st.sigma, 4) AS zscore
            FROM events e JOIN st ON e.event_type = st.event_type) q
        WHERE abs(zscore) >= 2.0
        """,
    ),
    "streaming_static_enrich": QuerySpec(
        run_static_enrich_stream,
        """
        WITH s AS (
            SELECT event_type, count(*) AS n,
                   sum(CAST(value AS DECIMAL(28,10))) AS s1,
                   sum(CAST(value * value AS DECIMAL(28,10))) AS s2
            FROM events GROUP BY event_type
        ), st AS (
            SELECT event_type,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)) AS sigma
            FROM s
        )
        SELECT event_id, event_type, value, zscore FROM (
            SELECT e.event_id, e.event_type, e.value,
                   round((e.value - st.mu) / st.sigma, 4) AS zscore
            FROM events e JOIN st ON e.event_type = st.event_type) q
        WHERE abs(zscore) >= 2.0
        """,
    ),
    "agg_max_by_min_by": QuerySpec(
        R.agg_max_by_min_by,
        """
        SELECT o_orderpriority,
               arg_max(o_totalprice, o_orderkey) AS newest_price,
               arg_min(o_totalprice, o_orderkey) AS oldest_price,
               max(o_orderkey) AS newest_key,
               min(o_orderkey) AS oldest_key
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "scalar_url_funcs": QuerySpec(
        R.scalar_url_funcs,
        """
        WITH u AS (
            SELECT doc_id,
                   'https://' || source || '.example.com/docs/' || doc_id
                       || '?lang=' || lang || '&ref=corpus' AS url
            FROM documents
        )
        SELECT doc_id, url,
               regexp_extract(url, 'https://([^/]+)', 1) AS host,
               regexp_extract(url, 'https://[^/]+([^?]*)', 1) AS path,
               regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
        FROM u
        """,
    ),
    "sql_identifier_clause": QuerySpec(
        R.sql_identifier_clause,
        """
        SELECT o_orderpriority, count(*) AS n_orders,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    "text_content_uuid": QuerySpec(
        X.text_content_uuid,
        """
        WITH h AS (SELECT doc_id, sha256(text) AS x FROM documents)
        SELECT doc_id,
               substr(x, 1, 8) || '-' || substr(x, 9, 4) || '-'
               || '5' || substr(x, 14, 3) || '-'
               || '8' || substr(x, 18, 3) || '-'
               || substr(x, 21, 12) AS content_uuid
        FROM h
        """,
    ),
    "scalar_mask_funcs": QuerySpec(
        R.scalar_mask_funcs,
        """
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(
                   c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
                   '[0-9]', 'n', 'g') AS masked_default,
               regexp_replace(regexp_replace(regexp_replace(
                   c_mktsegment, '[A-Z]', '#', 'g'), '[a-z]', '#', 'g'),
                   '[0-9]', '*', 'g') AS masked_segment
        FROM customer
        """,
    ),
    "text_url_canonicalize": QuerySpec(
        X.text_url_canonicalize,
        r"""
        WITH raw AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                         ELSE 'https://' END
                    || upper(source) || '.Example.COM'
                    || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
                    || '/docs/' || CAST(doc_id // 2 AS BIGINT)
                    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
                    || CASE WHEN doc_id % 5 = 0
                            THEN '?utm_source=feed&utm_campaign=x'
                            ELSE '' END
                    || CASE WHEN doc_id % 7 = 0 THEN '#section-2'
                            ELSE '' END) AS raw_url
            FROM documents
        ), s AS (
            SELECT doc_id, raw_url,
                   regexp_replace(regexp_replace(raw_url, '#.*$', ''),
                                  '\?utm_[^#]*$', '') AS c
            FROM raw
        ), p AS (
            SELECT doc_id, raw_url,
                   'https://'
                   || lower(regexp_extract(c, '^[A-Za-z]+://([^/:?#]+)', 1))
                   || regexp_replace(
                          regexp_extract(c, '^[A-Za-z]+://[^/]*(.*)$', 1),
                          '/$', '') AS canonical_url
            FROM s
        )
        SELECT doc_id, raw_url, canonical_url,
               CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT)
                   AS n_raw_variants
        FROM p
        """,
    ),
    "corpus_loader_pipeline": QuerySpec(
        X.corpus_loader_pipeline,
        f"""
        WITH q AS (
            SELECT doc_id,
                   round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                         + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0,
                                       1.0)
                         + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                         4) AS quality,
                   CAST(len({_TOKS}) AS BIGINT) AS n_toks
            FROM documents
        ), selcut AS (
            SELECT doc_id, n_toks,
                   CAST(sum(n_toks) OVER (ORDER BY quality DESC, doc_id)
                        AS BIGINT) AS sel_cum
            FROM q
        ), sel AS (
            SELECT doc_id, n_toks FROM selcut
            WHERE sel_cum - n_toks < 2000
        ), c AS (
            SELECT doc_id, n_toks,
                   CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM sel
        ), segs AS (
            SELECT doc_id, cum - n_toks AS tok_start, cum AS tok_end,
                   unnest(generate_series((cum - n_toks) // 128,
                                          (cum - 1) // 128)) AS seq_id
            FROM c
        ), seqs AS (
            SELECT seq_id, count(*) AS n_docs,
                   CAST(sum(least(tok_end, (seq_id + 1) * 128)
                            - greatest(tok_start, seq_id * 128))
                        AS BIGINT) AS n_seq_tokens
            FROM segs GROUP BY seq_id
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id,
               CAST(row_number() OVER (
                        ORDER BY ((seq_id % 2147483648) * 2654435761)
                                     % 4294967296,
                                 seq_id) AS BIGINT) AS shuffle_rank,
               n_docs, n_seq_tokens
        FROM seqs
        """,
        bench=True,   # r5 verdict #2: heavyweight capstone in the headline
    ),
    "window_rolling_median": QuerySpec(
        R.window_rolling_median,
        """
        SELECT event_id, user_id, ts, value,
               round(median(value) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN 4 PRECEDING
                                              AND CURRENT ROW), 4)
                   AS rolling_median
        FROM events
        """,
    ),
    "corpus_dedup_savings": QuerySpec(
        X.corpus_dedup_savings,
        f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.tokset, b.tokset))
                             AS DOUBLE)
                        / len(list_distinct(list_concat(a.tokset,
                                                        b.tokset))),
                        4) >= 0.4
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS id, doc_id AS root FROM documents
            UNION
            SELECT e.dst AS id, r.root
            FROM reach r JOIN edges e ON e.src = r.id
        ), jac AS (
            SELECT id AS doc_id, min(root) AS cluster_id
            FROM reach GROUP BY id
        ), tok AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks,
                   lower(trim(text)) AS norm
            FROM documents
        ), tot AS (
            SELECT count(*) AS nd, CAST(sum(n_toks) AS BIGINT) AS nt
            FROM tok
        ), ex AS (
            SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT)
                       AS docs_removed,
                   CAST(coalesce(sum((cnt - 1) * n), 0) AS BIGINT)
                       AS tokens_removed
            FROM (SELECT count(*) AS cnt, max(n_toks) AS n
                  FROM tok GROUP BY norm)
        ), jr AS (
            SELECT CAST(count(*) AS BIGINT) AS docs_removed,
                   CAST(coalesce(sum(n_toks), 0) AS BIGINT)
                       AS tokens_removed
            FROM jac JOIN tok USING (doc_id)
            WHERE doc_id <> cluster_id
        ), u AS (
            SELECT 'exact' AS method, docs_removed, tokens_removed FROM ex
            UNION ALL
            SELECT 'jaccard' AS method, docs_removed, tokens_removed FROM jr
        )
        SELECT method, docs_removed, tokens_removed,
               round(CAST(docs_removed AS DOUBLE) / nd, 6) AS pct_docs,
               round(CAST(tokens_removed AS DOUBLE) / nt, 6) AS pct_tokens
        FROM u CROSS JOIN tot
        """,
    ),
    "text_sentence_split": QuerySpec(
        X.text_sentence_split,
        r"""
        WITH s AS (
            SELECT doc_id,
                   list_filter(list_transform(
                       string_split_regex(text, '[.!?]+\s*'), x -> trim(x)),
                       x -> x <> '') AS sents
            FROM documents
        )
        SELECT doc_id,
               CAST(generate_subscripts(sents, 1) - 1 AS INT)
                   AS sentence_idx,
               unnest(sents) AS sentence,
               CAST(len(string_split_regex(unnest(sents), '\s+'))
                    AS BIGINT) AS n_sent_tokens
        FROM s
        """,
    ),
    "scalar_aes_roundtrip": QuerySpec(
        R.scalar_aes_roundtrip,
        """
        SELECT doc_id, true AS roundtrip_ok,
               CAST(28 AS BIGINT) AS framing_overhead
        FROM documents
        """,
    ),
    "events_value_islands": QuerySpec(
        R.events_value_islands,
        """
        WITH l AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR event_type <> lag(event_type) OVER w
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), i AS (
            SELECT user_id, ts, event_type,
                   CAST(sum(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS island
            FROM l
        )
        SELECT user_id, island, event_type,
               min(ts) AS island_start, max(ts) AS island_end,
               count(*) AS n_events
        FROM i GROUP BY user_id, island, event_type
        """,
    ),
    "sql_parameterized": QuerySpec(
        R.sql_parameterized,
        """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_totalprice > 5000 AND o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus
        """,
    ),
    # rows-only: MLlib MinHashLSH candidates are hash-dependent;
    # planted-near-dup recall ground-truthed in tests
    "ml_minhash_lsh_pairs": QuerySpec(X.ml_minhash_lsh_pairs, None),
    # rows-only: LBFGS coefficients are not a SQL target; accuracy
    # and calibration ground-truthed in tests
    "ml_langid_classifier": QuerySpec(X.ml_langid_classifier, None),
    "window_percent_of_total": QuerySpec(
        R.window_percent_of_total,
        """
        WITH g AS (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(28,10)))
                        AS DOUBLE) AS grand_total
            FROM orders
        )
        SELECT o_orderkey, o_custkey, o_totalprice,
               round(o_totalprice
                     / CAST(sum(CAST(o_totalprice AS DECIMAL(28,10)))
                            OVER (PARTITION BY o_custkey) AS DOUBLE),
                     6) AS cust_share,
               round(o_totalprice / grand_total, 9) AS grand_share
        FROM orders CROSS JOIN g
        """,
    ),
    "sql_pipe_syntax": QuerySpec(
        R.sql_pipe_syntax,
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_totalprice > 1000
        GROUP BY o_orderstatus, o_orderpriority
        HAVING count(*) > 5
        """,
    ),
    "agg_listagg": QuerySpec(
        R.agg_listagg,
        """
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ','
                          ORDER BY o_orderpriority) AS priorities
        FROM orders GROUP BY o_orderstatus
        """,
    ),
    "scalar_try_arith": QuerySpec(
        R.scalar_try_arith,
        """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN CAST(l_discount AS DECIMAL(18,2)) = 0 THEN NULL
                    ELSE round(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                    / CAST(l_discount AS DECIMAL(18,2))
                                    AS DOUBLE), 4) END AS safe_ratio,
               CASE WHEN l_linenumber > 2 THEN NULL
                    ELSE 9223372036854775805 + l_linenumber END
                   AS near_max_add,
               CASE WHEN l_orderkey >= 2 THEN NULL
                    ELSE l_orderkey * 4611686018427387904 END
                   AS shifted_key,
               CASE WHEN l_linenumber = 1 THEN 'first'
                    WHEN l_linenumber = 2 THEN 'second'
                    ELSE NULL END AS pos_label
        FROM lineitem
        """,
    ),
    "multimodal_audio_energy": QuerySpec(
        X.multimodal_audio_energy,
        """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents
        ), f AS (
            SELECT doc_id, text,
                   unnest(range(0, CAST(greatest(1, ceil(n / 256.0))
                                        AS BIGINT))) AS frame_idx
            FROM t
        ), c AS (
            SELECT doc_id, frame_idx,
                   substr(text, CAST(frame_idx * 256 + 1 AS BIGINT), 256)
                       AS chunk
            FROM f
        )
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(frame_idx * 256 AS BIGINT) AS byte_offset,
               CAST(length(chunk) AS BIGINT) AS n_frame_bytes,
               CAST((instr('0123456789abcdef',
                           substr(sha256(chunk), 1, 1)) - 1) * 16
                    + instr('0123456789abcdef',
                            substr(sha256(chunk), 2, 1)) - 1
                    AS BIGINT) AS energy_stub
        FROM c
        """,
    ),
    "join_asof_nearest": QuerySpec(
        R.join_asof_nearest,
        """
        WITH r AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   max(o_orderkey) AS ok
            FROM orders GROUP BY 1, 2
        ), e AS (
            SELECT event_id, user_id, ts FROM events
        ), b AS (
            SELECT e.event_id, rb.ok AS bwd_key, rb.o_orderdate AS bwd_date
            FROM e ASOF LEFT JOIN r rb
              ON e.user_id = rb.user_id AND e.ts >= rb.o_orderdate
        ), f AS (
            SELECT e.event_id, rf.ok AS fwd_key, rf.o_orderdate AS fwd_date
            FROM e ASOF LEFT JOIN r rf
              ON e.user_id = rf.user_id AND e.ts <= rf.o_orderdate
        )
        SELECT e.event_id, e.user_id, e.ts,
               CASE WHEN fwd_key IS NULL THEN bwd_key
                    WHEN bwd_key IS NULL THEN fwd_key
                    WHEN epoch_us(e.ts) - epoch_us(bwd_date)
                         <= epoch_us(fwd_date) - epoch_us(e.ts)
                        THEN bwd_key
                    ELSE fwd_key END AS nearest_key,
               CASE WHEN fwd_key IS NULL THEN 'backward'
                    WHEN bwd_key IS NULL THEN 'forward'
                    WHEN epoch_us(e.ts) - epoch_us(bwd_date)
                         <= epoch_us(fwd_date) - epoch_us(e.ts)
                        THEN 'backward'
                    ELSE 'forward' END AS side
        FROM e JOIN b USING (event_id) JOIN f USING (event_id)
        WHERE coalesce(bwd_key, fwd_key) IS NOT NULL
        """,
    ),
    "scalar_collation_group": QuerySpec(
        R.scalar_collation_group,
        """
        WITH m AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN upper(lang)
                        ELSE lang END AS lang_mixed
            FROM documents
        )
        SELECT lower(lang_mixed) AS lang_ci,
               count(*) AS n_docs,
               count(DISTINCT lang_mixed) AS n_raw_spellings
        FROM m
        GROUP BY lower(lang_mixed)
        """,
    ),
    "streaming_sliding_window": QuerySpec(
        run_sliding_count_stream,
        """
        SELECT TIMESTAMP '1970-01-01'
                   + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - i.i * 900)
                     * INTERVAL 1 SECOND AS window_start,
               count(*) AS n_events
        FROM events CROSS JOIN (SELECT unnest(range(4)) AS i) i
        GROUP BY 1
        """,
    ),
    "ann_range_search": QuerySpec(
        X.ann_range_search,
        """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings)
        SELECT q_id, vec_id, cos_sim FROM (
            SELECT q_id, vec_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q_id <> vec_id)
        WHERE cos_sim >= 0.35
        """,
    ),
    "embedding_whiten": QuerySpec(
        X.embedding_whiten,
        """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        d AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x
              FROM e),
        s AS (SELECT dim,
                     CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                         / count(*) AS mu,
                     sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)
                              / count(*)
                          - (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                                 / count(*))
                            * (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                                   / count(*))) AS sigma
              FROM d GROUP BY dim),
        p AS (SELECT list(mu ORDER BY dim) AS mus,
                     list(sigma ORDER BY dim) AS sds
              FROM s)
        SELECT vec_id,
               array_to_string(list_transform(range(1, len(v) + 1),
                   i -> CAST(CAST(floor((v[i] - mus[i]) / sds[i] * 10000
                                        + 0.5) AS BIGINT) AS VARCHAR)),
                   ',') AS z_csv
        FROM e CROSS JOIN p
        """,
    ),
    "text_feature_hashing": QuerySpec(
        X.text_feature_hashing,
        f"""
        WITH tok AS (
            SELECT doc_id, lower(unnest({_TOKS})) AS tok FROM documents
        ), h AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(tok) + 1),
                               i -> CAST(ascii(substr(tok, i, 1))
                                         AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 1000000007) % 64
                       AS bucket
            FROM tok
        )
        SELECT doc_id, bucket, count(*) AS n_tokens
        FROM h GROUP BY doc_id, bucket
        """,
    ),
    "agg_group_by_all": QuerySpec(
        R.agg_group_by_all,
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """,
    ),
    "source_orc_roundtrip": QuerySpec(
        R.source_orc_roundtrip,
        """
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        FROM lineitem WHERE l_quantity < 10
        """,
    ),
    "corpus_dsir_weights": QuerySpec(
        X.corpus_dsir_weights,
        f"""
        WITH tk AS (
            SELECT doc_id,
                   list_transform({_TOKS}, t -> lower(t)) AS toks,
                   round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                         + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE) / 50.0,
                                       1.0)
                         + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0, 1.0)),
                         4) >= 0.6 AS is_tgt
            FROM documents
        ), grams AS (
            SELECT doc_id, is_tgt,
                   unnest(list_concat(toks,
                       list_transform(range(1, len(toks)),
                                      i -> trim(toks[i] || ' ' || toks[i+1]))))
                       AS gram
            FROM tk
        ), feat AS (
            SELECT doc_id, is_tgt,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(gram) + 1),
                               i -> CAST(ascii(substr(gram, i, 1))
                                         AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 1000000007) % 64
                       AS bucket
            FROM grams
        ), doc_feat AS (
            SELECT doc_id, bucket, count(*) AS cnt
            FROM feat GROUP BY doc_id, bucket
        ), marg AS (
            SELECT bucket, count(*) AS raw_cnt,
                   sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_cnt
            FROM feat GROUP BY bucket
        ), tot AS (
            SELECT sum(raw_cnt) AS r_tot, sum(tgt_cnt) AS t_tot FROM marg
        ), lam AS (
            SELECT bucket,
                   ln(CAST(tgt_cnt + 1 AS DOUBLE)
                      / CAST(t_tot + 64 AS DOUBLE))
                   - ln(CAST(raw_cnt + 1 AS DOUBLE)
                        / CAST(r_tot + 64 AS DOUBLE)) AS lam
            FROM marg CROSS JOIN tot
        )
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
               round(CAST(sum(CAST(cnt * lam AS DECIMAL(28,12)))
                          AS DOUBLE), 6) AS log_weight
        FROM doc_feat JOIN lam USING (bucket)
        GROUP BY doc_id
        """,
        bench=True,   # r5 verdict #2: the repo's most expensive query at
        # sf1 (gram census + per-bucket weights) belongs in the per-round
        # headline artifact, not only the scale tool
    ),
    "text_ppl_buckets": QuerySpec(
        X.text_ppl_buckets,
        f"""
        WITH tok AS (
            SELECT doc_id, lower(unnest({_TOKS})) AS tok FROM documents
        ), f AS (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
        ), s AS (
            SELECT sum(cnt) AS n_total, count(*) AS n_vocab FROM f
        ), sc AS (
            SELECT t.doc_id,
                   CAST(ln(CAST(f.cnt + 1 AS DOUBLE)
                           / (CAST(s.n_total AS DOUBLE)
                              + CAST(s.n_vocab AS DOUBLE)))
                        AS DECIMAL(28,12)) AS lp
            FROM tok t JOIN f USING (tok) CROSS JOIN s
        ), nll AS (
            SELECT doc_id, count(*) AS n_tokens,
                   round(-CAST(sum(lp) AS DOUBLE) / count(*), 4)
                       AS nll_per_token
            FROM sc GROUP BY doc_id
        ), r AS (
            SELECT doc_id, n_tokens, nll_per_token,
                   row_number() OVER (ORDER BY nll_per_token, doc_id)
                       AS rnk,
                   count(*) OVER () AS n_docs
            FROM nll
        )
        SELECT doc_id, n_tokens, nll_per_token,
               CASE ((rnk - 1) * 3) // n_docs
                    WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM r
        """,
    ),
    "table_snapshot_diff": QuerySpec(
        X.table_snapshot_diff,
        """
        WITH old_v AS (SELECT o_orderkey, o_totalprice FROM orders),
        new_v AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 13 = 0
                        THEN round(o_totalprice + 10.0, 2)
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT -o_orderkey - 1, o_totalprice
            FROM orders WHERE o_orderkey % 101 = 0)
        SELECT * FROM (
            SELECT coalesce(o.o_orderkey, n.o_orderkey) AS orderkey,
                   CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                        WHEN o.o_orderkey IS NULL THEN 'insert'
                        WHEN o.o_totalprice <> n.o_totalprice
                        THEN 'update' END AS change_type,
                   o.o_totalprice AS old_price,
                   n.o_totalprice AS new_price
            FROM old_v o FULL OUTER JOIN new_v n
                 ON o.o_orderkey = n.o_orderkey)
        WHERE change_type IS NOT NULL
        """,
    ),
    "etl_scd2_apply": QuerySpec(
        X.etl_scd2_apply,
        bench=True,   # r10 (VERDICT r9 #8): the floor gate guards the
        # r9 warehouse-ETL surface through its joiniest member — the
        # full-outer MERGE shape regresses if a second join/window or a
        # post-explode reshuffle ever sneaks into the plan
        oracle="""
        WITH dim AS (
            SELECT c_custkey AS dk, round(c_acctbal, 2) AS dbal
            FROM customer),
        b AS (
            SELECT c_custkey AS bk,
                   round(round(c_acctbal, 2) + 50.0, 2) AS bbal
            FROM customer WHERE c_custkey % 7 = 0
            UNION ALL
            SELECT c_custkey, round(c_acctbal, 2) FROM customer
            WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
            UNION ALL
            SELECT -c_custkey - 1, round(c_acctbal, 2) FROM customer
            WHERE c_custkey % 11 = 0),
        j AS (SELECT dk, dbal, bk, bbal
              FROM dim FULL OUTER JOIN b ON dk = bk)
        SELECT dk AS custkey, dbal AS acctbal,
               DATE '1995-01-01' AS valid_from,
               DATE '1996-06-01' AS valid_to, FALSE AS is_current
        FROM j WHERE dk IS NOT NULL AND bk IS NOT NULL AND dbal <> bbal
        UNION ALL
        SELECT dk, bbal, DATE '1996-06-01', CAST(NULL AS DATE), TRUE
        FROM j WHERE dk IS NOT NULL AND bk IS NOT NULL AND dbal <> bbal
        UNION ALL
        SELECT dk, dbal, DATE '1995-01-01', CAST(NULL AS DATE), TRUE
        FROM j WHERE dk IS NOT NULL AND (bk IS NULL OR dbal = bbal)
        UNION ALL
        SELECT bk, bbal, DATE '1996-06-01', CAST(NULL AS DATE), TRUE
        FROM j WHERE dk IS NULL
        """,
    ),
    "table_drift_psi": QuerySpec(
        X.table_drift_psi,
        """
        WITH old_b AS (
            SELECT LEAST(CAST(floor(o_totalprice / 50000.0) AS INTEGER),
                         11) AS bin,
                   count(*) AS n_old
            FROM orders GROUP BY 1),
        new_b AS (
            SELECT LEAST(CAST(floor(price / 50000.0) AS INTEGER),
                         11) AS bin,
                   count(*) AS n_new
            FROM (SELECT CASE WHEN o_orderkey % 3 = 0
                              THEN o_totalprice * 1.07
                              ELSE o_totalprice END AS price
                  FROM orders WHERE o_orderkey % 97 <> 0)
            GROUP BY 1),
        bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(12)),
        j AS (SELECT b.bin,
                     coalesce(n_old, 0) AS n_old,
                     coalesce(n_new, 0) AS n_new
              FROM bins b
              LEFT JOIN old_b o ON b.bin = o.bin
              LEFT JOIN new_b n ON b.bin = n.bin),
        t AS (SELECT bin, n_old, n_new,
                     sum(n_old) OVER () AS tot_old,
                     sum(n_new) OVER () AS tot_new
              FROM j)
        SELECT bin, n_old, n_new,
               round((n_old + 1) / (tot_old + 12), 6) AS expected_pct,
               round((n_new + 1) / (tot_new + 12), 6) AS actual_pct,
               round(((n_new + 1) / (tot_new + 12)
                      - (n_old + 1) / (tot_old + 12))
                     * ln(((n_new + 1) / (tot_new + 12))
                          / ((n_old + 1) / (tot_old + 12))), 6)
                   AS psi_term
        FROM t
        """,
    ),
    "etl_quarantine_split": QuerySpec(
        X.etl_quarantine_split,
        """
        WITH dirty AS (
            SELECT o_orderkey AS orderkey,
                   CASE WHEN o_orderkey % 53 = 0 THEN -o_totalprice
                        ELSE o_totalprice END AS price,
                   CASE WHEN o_orderkey % 59 = 0 THEN 'X'
                        ELSE o_orderstatus END AS status,
                   CASE WHEN o_orderkey % 61 = 0 THEN NULL
                        ELSE o_custkey END AS custkey,
                   CASE WHEN o_orderkey % 67 = 0
                        THEN TIMESTAMP '2099-01-01 00:00:00'
                        ELSE o_orderdate END AS orderdate
            FROM orders)
        SELECT * FROM (
            SELECT orderkey,
                   concat_ws(',',
                       CASE WHEN custkey IS NULL
                            THEN 'custkey_present' END,
                       CASE WHEN orderdate >= TIMESTAMP '2020-01-01 00:00:00'
                            THEN 'date_in_range' END,
                       CASE WHEN price <= 0 THEN 'price_positive' END,
                       CASE WHEN status NOT IN ('O', 'F', 'P')
                            THEN 'status_domain' END) AS failed_rules,
                   (CASE WHEN custkey IS NULL THEN 1 ELSE 0 END
                    + CASE WHEN orderdate >= TIMESTAMP '2020-01-01 00:00:00'
                           THEN 1 ELSE 0 END
                    + CASE WHEN price <= 0 THEN 1 ELSE 0 END
                    + CASE WHEN status NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS n_failed
            FROM dirty)
        WHERE n_failed >= 1
        """,
    ),
    # Oracle promoted in r10 (VERDICT r9 #6, the kmeans_train unroll
    # trick): the K=3 training loop unrolls into 3 census→argmax rounds
    # with the corpus REWRITTEN between rounds.  The greedy merge fold
    # re-spells as a whole-token string replace on the single-space
    # join (tokens never contain spaces; merged symbols join with ␞):
    # for a <> b pairs — the census excludes self-pairs — merge sites
    # never overlap, so greedy == replace-ALL-occurrences; replace()
    # resumes after each match, which skips an occurrence whose leading
    # boundary space the previous match consumed, but two missed sites
    # are never adjacent (a missed site's predecessor was matched), so
    # applying the SAME replace twice provably catches every site.
    # (The d1/d2 CROSS JOINs here are SAFE on degenerate corpora —
    # unlike text_bpe_encode's, see ADVICE r11 #2 — because an empty
    # census round only annihilates downstream CENSUS rounds, which
    # would be empty anyway: the UNION of m1..m3 still matches the
    # Spark trainer's early break row-for-row.)
    "text_bpe_train": QuerySpec(
        X.text_bpe_train,
        f"""
        WITH d0 AS (
            SELECT doc_id,
                   list_filter(list_transform({_TOKS}, t -> lower(t)),
                               t -> NOT contains(t, '␞')) AS tk
            FROM documents
        ), m1 AS (
            SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS cnt
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d0)
            WHERE tk[i] <> tk[i+1]
            GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
        ), d1 AS (
            SELECT doc_id, CASE WHEN len(tk) = 0 THEN tk ELSE
                string_split(trim(replace(replace(
                    ' ' || array_to_string(tk, ' ') || ' ',
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' '),
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' ')), ' ') END AS tk
            FROM d0 CROSS JOIN m1
        ), m2 AS (
            SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS cnt
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d1)
            WHERE tk[i] <> tk[i+1]
            GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
        ), d2 AS (
            SELECT doc_id, CASE WHEN len(tk) = 0 THEN tk ELSE
                string_split(trim(replace(replace(
                    ' ' || array_to_string(tk, ' ') || ' ',
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' '),
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' ')), ' ') END AS tk
            FROM d1 CROSS JOIN m2
        ), m3 AS (
            SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS cnt
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d2)
            WHERE tk[i] <> tk[i+1]
            GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
        )
        SELECT 0 AS rank, a AS pair_a, b AS pair_b,
               CAST(cnt AS BIGINT) AS freq FROM m1
        UNION ALL SELECT 1, a, b, CAST(cnt AS BIGINT) FROM m2
        UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM m3
        """,
    ),
    "text_bpe_merge_step": QuerySpec(
        X.text_bpe_merge_step,
        f"""
        WITH d AS (
            -- same ␞-token filter as the Spark side (sentinel safety)
            SELECT doc_id,
                   list_filter(list_transform({_TOKS}, t -> lower(t)),
                               t -> NOT contains(t, '␞')) AS tk
            FROM documents
        ), pr AS (
            SELECT tk[i] AS a, tk[i+1] AS b
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d)
            WHERE tk[i] <> tk[i+1]
        ), top AS (
            SELECT a, b FROM pr GROUP BY a, b
            ORDER BY count(*) DESC, a, b LIMIT 1
        ), merged AS (
            SELECT doc_id, a, b, CAST(len(tk) AS BIGINT) AS n_before,
                   CAST(len(list_filter(range(1, len(tk)),
                            i -> tk[i] = a AND tk[i+1] = b))
                        AS BIGINT) AS n_merges
            FROM d CROSS JOIN top
        )
        SELECT doc_id, a AS pair_a, b AS pair_b, n_before, n_merges,
               n_before - n_merges AS n_after
        FROM merged
        """,
    ),
    "table_expectations": QuerySpec(
        R.table_expectations,
        """
        WITH m AS (
            SELECT count(*) AS n_rows,
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                       AS null_cust,
                   count(DISTINCT o_orderkey) AS distinct_keys,
                   min(o_totalprice) AS min_price,
                   sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                            THEN 1 ELSE 0 END) AS bad_status
            FROM orders
        ), o AS (
            -- NOT EXISTS (not NOT IN): matches the Spark left_anti join's
            -- NULL semantics — a NULL o_custkey counts as an orphan and a
            -- NULL c_custkey can't suppress the whole check (ADVICE r5 #1).
            SELECT count(*) AS n_orphans FROM orders o2
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o2.o_custkey)
        )
        SELECT 'row_count_min_10' AS check_name,
               round(CAST(n_rows AS DOUBLE), 2) AS metric,
               n_rows >= 10 AS passed FROM m
        UNION ALL SELECT 'custkey_complete',
               round(CAST(null_cust AS DOUBLE), 2), null_cust = 0 FROM m
        UNION ALL SELECT 'orderkey_unique',
               round(CAST(distinct_keys AS DOUBLE), 2),
               distinct_keys = n_rows FROM m
        UNION ALL SELECT 'totalprice_positive',
               round(CAST(min_price AS DOUBLE), 2), min_price > 0 FROM m
        UNION ALL SELECT 'status_in_domain',
               round(CAST(bad_status AS DOUBLE), 2), bad_status = 0 FROM m
        UNION ALL SELECT 'custkey_fk_integrity',
               round(CAST(n_orphans AS DOUBLE), 2), n_orphans = 0 FROM o
        """,
    ),
    "events_attribution": QuerySpec(
        R.events_attribution,
        """
        WITH m AS (
            SELECT event_id, user_id, ts, value, event_type,
                   CASE WHEN event_type IN ('view','click','signup')
                        THEN event_type END AS touch
            FROM events
        ), w AS (
            SELECT event_id, user_id, ts, value, event_type,
                   first_value(touch IGNORE NULLS) OVER win AS first_touch,
                   last_value(touch IGNORE NULLS) OVER win AS last_touch,
                   CAST(count(touch) OVER win AS BIGINT)
                       AS n_prior_touches
            FROM m
            WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
        )
        SELECT event_id, user_id, ts, value,
               first_touch, last_touch, n_prior_touches
        FROM w WHERE event_type = 'purchase'
        """,
    ),
    "events_funnel": QuerySpec(
        R.events_funnel,
        """
        WITH u1 AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t1
            FROM events GROUP BY user_id
        ), u2 AS (
            SELECT e.user_id, u1.t1,
                   min(CASE WHEN e.event_type = 'click'
                            AND e.ts >= u1.t1 THEN e.ts END) AS t2
            FROM events e JOIN u1 ON e.user_id = u1.user_id
            GROUP BY e.user_id, u1.t1
        ), u3 AS (
            SELECT e.user_id, u2.t1, u2.t2,
                   min(CASE WHEN e.event_type = 'purchase'
                            AND e.ts >= u2.t2 THEN e.ts END) AS t3
            FROM events e JOIN u2 ON e.user_id = u2.user_id
            GROUP BY e.user_id, u2.t1, u2.t2
        ), c AS (
            SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3
            FROM u3
        )
        SELECT 1 AS step, 'view' AS step_name,
               CAST(n1 AS BIGINT) AS n_users,
               round(n1 / n1, 6) AS conv_pct FROM c
        UNION ALL
        SELECT 2, 'click', CAST(n2 AS BIGINT), round(n2 / n1, 6) FROM c
        UNION ALL
        SELECT 3, 'purchase', CAST(n3 AS BIGINT), round(n3 / n1, 6)
        FROM c
        """,
    ),
    "window_nth_value": QuerySpec(
        R.window_nth_value,
        """
        SELECT l_orderkey, l_linenumber,
               round(nth_value(l_extendedprice, 2) OVER w, 2)
                   AS second_line_price,
               first_value(CASE WHEN l_discount <> 0 THEN l_discount END
                           IGNORE NULLS) OVER w AS first_nz_discount,
               last_value(CASE WHEN l_discount <> 0 THEN l_discount END
                          IGNORE NULLS) OVER w AS last_nz_discount
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_extendedprice, l_discount
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
        """,
    ),
    "scalar_time_type": QuerySpec(
        R.scalar_time_type,
        """
        SELECT event_id,
               CAST(date_trunc('second', ts) AS TIME) AS event_time,
               CAST(date_trunc('hour', ts) AS TIME) AS hour_bucket,
               CAST(date_trunc('second', ts) AS TIME) >= TIME '09:00:00'
               AND CAST(date_trunc('second', ts) AS TIME) < TIME '17:00:00'
                   AS business_hours,
               CAST(floor(date_diff('second', TIME '09:00:00',
                          CAST(date_trunc('second', ts) AS TIME)) / 60.0)
                    AS BIGINT) AS mins_since_nine
        FROM events
        """,
    ),
    "sql_execute_immediate": QuerySpec(
        R.sql_execute_immediate,
        """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(avg(o_totalprice), 2) AS avg_price
        FROM orders WHERE o_totalprice > 1000.0 GROUP BY o_orderstatus
        """,
    ),
    "dedup_containment": QuerySpec(
        X.dedup_containment,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.tokset, b.tokset))
                              AS DOUBLE)
                         / len(list_distinct(list_concat(a.tokset,
                                                         b.tokset))),
                         4) AS jaccard,
                   round(CAST(len(list_intersect(a.tokset, b.tokset))
                              AS DOUBLE) / len(a.tokset), 4)
                       AS containment_a,
                   round(CAST(len(list_intersect(a.tokset, b.tokset))
                              AS DOUBLE) / len(b.tokset), 4)
                       AS containment_b
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, jaccard, containment_a, containment_b
        FROM pairs WHERE jaccard >= 0.4
        """,
    ),
    "join_asof_tolerance": QuerySpec(
        R.join_asof_tolerance,
        """
        WITH r AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   max(o_orderkey) AS last_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id, e.ts,
               CASE WHEN date_diff('day', CAST(r.o_orderdate AS DATE),
                                   CAST(e.ts AS DATE)) <= 30
                    THEN r.last_orderkey END AS last_orderkey,
               CASE WHEN date_diff('day', CAST(r.o_orderdate AS DATE),
                                   CAST(e.ts AS DATE)) <= 30
                    THEN r.o_orderdate END AS matched_date
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
        """,
    ),
    "graph_degree_stats": QuerySpec(
        X.graph_degree_stats,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.tokset, b.tokset))
                              AS DOUBLE)
                         / len(list_distinct(list_concat(a.tokset,
                                                         b.tokset))),
                         4) AS jaccard
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
        ), e AS (
            SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.4
        ), nodes AS (
            SELECT id_a AS doc_id FROM e
            UNION ALL SELECT id_b FROM e
        ), deg AS (
            SELECT doc_id, count(*) AS degree FROM nodes GROUP BY doc_id
        )
        SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
        """,
    ),
    "text_vocab_table": QuerySpec(
        X.text_vocab_table,
        f"""
        WITH tok AS (
            SELECT lower(unnest({_TOKS})) AS token FROM documents
        ), f AS (
            SELECT token, count(*) AS freq FROM tok GROUP BY token
            HAVING count(*) >= 5
        )
        SELECT CAST(row_number() OVER (ORDER BY freq DESC, token)
                    AS BIGINT) AS vocab_id,
               token, freq
        FROM f
        """,
    ),
    "corpus_source_gini": QuerySpec(
        X.corpus_source_gini,
        f"""
        WITH s AS (
            SELECT source, sum(len({_TOKS})) AS toks
            FROM documents GROUP BY source
        ), d AS (
            SELECT sum(abs(a.toks - b.toks)) AS dsum
            FROM s a CROSS JOIN s b
        )
        SELECT count(*) AS n_sources,
               CAST(sum(toks) AS BIGINT) AS total_tokens,
               round(CAST((SELECT dsum FROM d) AS DOUBLE)
                     / (2.0 * count(*) * sum(toks)), 6) AS gini
        FROM s
        """,
    ),
    "events_markov_transitions": QuerySpec(
        X.events_markov_transitions,
        """
        WITH steps AS (
            SELECT lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                       AS from_type,
                   event_type AS to_type
            FROM events
        ), trans AS (
            SELECT from_type, to_type, count(*) AS n
            FROM steps WHERE from_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               round(CAST(n AS DOUBLE)
                     / sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM trans
        """,
    ),
    "text_zipf_slope": QuerySpec(
        X.text_zipf_slope,
        f"""
        WITH tok AS (
            SELECT lower(unnest({_TOKS})) AS token FROM documents
        ), f AS (
            SELECT token, count(*) AS freq FROM tok GROUP BY token
            HAVING count(*) >= 5
        ), v AS (
            SELECT CAST(row_number() OVER (ORDER BY freq DESC, token)
                        AS BIGINT) AS vocab_id, freq
            FROM f
        )
        SELECT count(*) AS n_types,
               round(regr_slope(ln(CAST(freq AS DOUBLE)),
                                ln(CAST(vocab_id AS DOUBLE))), 6)
                   AS zipf_slope,
               round(regr_intercept(ln(CAST(freq AS DOUBLE)),
                                    ln(CAST(vocab_id AS DOUBLE))), 6)
                   AS zipf_intercept,
               round(regr_r2(ln(CAST(freq AS DOUBLE)),
                             ln(CAST(vocab_id AS DOUBLE))), 6) AS r2
        FROM v
        """,
    ),
    "text_bigram_logprob": QuerySpec(
        X.text_bigram_logprob,
        f"""
        WITH tk AS (
            SELECT doc_id, list_transform({_TOKS}, t -> lower(t)) AS toks
            FROM documents
        ), bg AS (
            SELECT doc_id, toks[i] AS a, toks[i+1] AS b
            FROM (SELECT doc_id, toks,
                         unnest(range(1, len(toks))) AS i
                  FROM tk WHERE len(toks) >= 2)
        ), cab AS (
            SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b
        ), uni AS (
            SELECT lower(unnest({_TOKS})) AS a FROM documents
        ), ca AS (
            SELECT a, count(*) AS c_a FROM uni GROUP BY a
        ), v AS (
            SELECT count(*) AS v FROM ca
        ), sc AS (
            SELECT bg.doc_id,
                   CAST(ln(CAST(cab.c_ab + 1 AS DOUBLE)
                           / CAST(ca.c_a + v.v AS DOUBLE))
                        AS DECIMAL(28,12)) AS lp
            FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(-CAST(sum(lp) AS DOUBLE) / count(*), 4)
                   AS nll_per_bigram
        FROM sc GROUP BY doc_id
        """,
    ),
    "ann_recall_report": QuerySpec(X.ann_recall_report, None),
    # cap recall cost as a measured artifact (VERDICT r6 #8) — rows-only:
    # both variants are hash-dependent; subset identity + planted-lake
    # recall behavior pinned in tests
    "dedup_cap_recall_report": QuerySpec(X.dedup_cap_recall_report, None),
    "join_spatial_grid_radius": QuerySpec(
        X.join_spatial_grid_radius,
        """
        WITH p AS (
            SELECT vec_id,
                   CAST(embedding[1] AS DOUBLE) AS x,
                   CAST(embedding[2] AS DOUBLE) AS y,
                   CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.05)
                        AS BIGINT) AS cx,
                   CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.05)
                        AS BIGINT) AS cy
            FROM embeddings
        ), a9 AS (
            SELECT vec_id AS id_a, x AS xa, y AS ya,
                   cx + dx AS cxb, cy + dy AS cyb
            FROM p,
                 (SELECT unnest([-1, 0, 1]) AS dx) dxs,
                 (SELECT unnest([-1, 0, 1]) AS dy) dys
        )
        SELECT id_a, b.vec_id AS id_b,
               round(sqrt((xa - b.x) * (xa - b.x)
                          + (ya - b.y) * (ya - b.y)), 6) AS dist
        FROM a9 JOIN p b ON a9.cxb = b.cx AND a9.cyb = b.cy
        WHERE id_a < b.vec_id
          AND sqrt((xa - b.x) * (xa - b.x)
                   + (ya - b.y) * (ya - b.y)) <= 0.05
        """,
    ),
    "text_trigram_langid": QuerySpec(
        X.text_trigram_langid,
        r"""
        WITH d AS (
            SELECT doc_id, lang AS true_lang,
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
                       AS nt
            FROM documents
            WHERE length(lower(regexp_replace(trim(text), '\s+', ' ',
                                              'g'))) >= 3
        ), tri AS (
            SELECT doc_id, true_lang, substr(nt, i, 3) AS tri
            FROM (SELECT doc_id, true_lang, nt,
                         unnest(range(1, length(nt) - 1)) AS i
                  FROM d)
        ), prof AS (
            SELECT true_lang AS lang, tri, count(*) AS c
            FROM tri GROUP BY 1, 2
        ), totals AS (
            SELECT lang, sum(c) AS t FROM prof GROUP BY lang
        ), vocab AS (
            SELECT count(DISTINCT tri) AS v FROM prof
        ), fan AS (
            SELECT t.doc_id, t.true_lang, t.tri, l.lang, l.t
            FROM tri t CROSS JOIN totals l
        ), scored AS (
            SELECT f.doc_id, f.true_lang, f.lang,
                   CAST(ln(CAST(coalesce(p.c, 0) + 1 AS DOUBLE)
                           / CAST(f.t + v.v AS DOUBLE))
                        AS DECIMAL(28,12)) AS lp
            FROM fan f
            LEFT JOIN prof p ON f.lang = p.lang AND f.tri = p.tri
            CROSS JOIN vocab v
        ), per_lang AS (
            SELECT doc_id, true_lang, lang,
                   -CAST(sum(lp) AS DOUBLE) / count(*) AS nll
            FROM scored GROUP BY doc_id, true_lang, lang
        ), r AS (
            SELECT doc_id, true_lang, lang, nll,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY nll, lang) AS rn
            FROM per_lang
        )
        SELECT doc_id, true_lang, lang AS pred_lang,
               round(nll, 4) AS nll_per_tri
        FROM r WHERE rn = 1
        """,
    ),
    "window_ewma": QuerySpec(
        R.window_ewma,
        """
        WITH w AS (
            SELECT event_id, event_type, ts, value,
                   list(value) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 9 PRECEDING
                                              AND CURRENT ROW) AS arr
            FROM events
        )
        SELECT event_id, event_type, ts, value,
               round(CAST(list_reduce(
                         list_prepend(CAST(0 AS DECIMAL(28,12)),
                             list_transform(arr, (x, i) ->
                                 CAST(x * pow(0.5, len(arr) - i)
                                      AS DECIMAL(28,12)))),
                         (acc, t) -> acc + t) AS DOUBLE)
                     / (2 - pow(2, 1 - len(arr))), 4) AS ewma_10
        FROM w
        """,
    ),
    "text_ngram_novelty": QuerySpec(
        X.text_ngram_novelty,
        f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ), dg AS (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(toks) - 3),
                           i -> array_to_string(list_slice(toks, i, i + 4),
                                                ' '))) AS gram
                FROM t WHERE len(toks) >= 5)
        ), dfg AS (
            SELECT gram, count(*) AS doc_freq FROM dg GROUP BY gram
        )
        SELECT doc_id,
               count(*) AS n_distinct_grams,
               CAST(sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(CAST(sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 4) AS novelty_ratio
        FROM dg JOIN dfg USING (gram)
        GROUP BY doc_id
        """,
    ),
    "embedding_outlier_knn": QuerySpec(
        X.embedding_outlier_knn,
        """
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS id_a, a.label, b.vec_id AS id_b,
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS sim
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ), topk AS (
            SELECT id_a, label, sim,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY sim DESC, id_b) AS rn
            FROM pairs
        )
        SELECT id_a AS vec_id, label,
               round(1.0 - CAST(sum(CAST(sim AS DECIMAL(28,12)))
                                AS DOUBLE) / count(*), 4)
                   AS knn_outlier_score
        FROM topk WHERE rn <= 5
        GROUP BY id_a, label
        """,
    ),
    # r7: deflated power-iteration PCA — rows-only by design (unbounded
    # iteration is not SQL-expressible); NumPy eigendecomposition parity
    # in tests/test_operators.py.
    # Oracle promoted in r11 (VERDICT r10 #5, the kmeans-train
    # fixed-iteration unroll): the entry pins tol=0.0 => exactly 1000
    # deflated power-iteration steps per component, so v_K =
    # norm(C^K v0) is a deterministic function of (C, v0) both engines
    # reproduce (measured bit-identical at sf0.01; the lake's
    # near-flat spectrum makes the CONVERGED eigvec ill-conditioned,
    # which is why the procedure, not the limit, is the contract).
    # The recursive CTEs replay it: Gramian census -> population
    # covariance -> 1000 matvec+normalize steps from the same start
    # vectors (component 1 deflates against component 0's iterate) ->
    # Rayleigh eigenvalues -> largest-|loading|-positive sign flip.
    "embedding_pca_power": QuerySpec(
        X.embedding_pca_power,
        """
        WITH RECURSIVE e AS (
            SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
        ), dims AS (
            SELECT unnest(generate_series(1, 64)) AS i
        ), cnt AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM e
        ), mu AS (
            SELECT i, sum(x[i]) / any_value(n) AS m
            FROM e CROSS JOIN dims CROSS JOIN cnt GROUP BY i
        ), cells AS MATERIALIZED (
            SELECT d1.i AS i, d2.i AS j, sum(x[d1.i] * x[d2.i]) AS g
            FROM e CROSS JOIN dims d1 CROSS JOIN dims d2
            GROUP BY 1, 2
        ), cov AS (
            SELECT c.i, c.j, c.g / n.n - ma.m * mb.m AS c
            FROM cells c
            JOIN mu ma ON ma.i = c.i
            JOIN mu mb ON mb.i = c.j
            CROSS JOIN cnt n
        ), covm AS MATERIALIZED (
            SELECT list(rowlist ORDER BY i) AS C, sum(diag) AS tr
            FROM (SELECT i, list(c ORDER BY j) AS rowlist,
                         sum(CASE WHEN i = j THEN c ELSE 0 END) AS diag
                  FROM cov GROUP BY i)
        ), it1 AS (
            SELECT 0 AS k,
                   list_transform(v0,
                       z -> z / sqrt(list_dot_product(v0, v0))) AS v
            FROM (SELECT list_transform(generate_series(1, 64),
                       t -> CASE WHEN t = 1 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(1.0 AS DOUBLE) / (1 + t) END) AS v0)
            UNION ALL
            SELECT k + 1,
                   list_transform(w,
                       z -> z / sqrt(list_dot_product(w, w))) AS v
            FROM (SELECT k,
                         list_transform(C, r -> list_dot_product(r, v)) AS w
                  FROM it1, covm) WHERE k < 1000
        ), c1 AS MATERIALIZED (
            SELECT v AS v1 FROM it1 WHERE k = 1000
        ), l1 AS (
            SELECT list_dot_product(
                       v1, list_transform(C,
                           r -> list_dot_product(r, v1))) AS lam
            FROM c1, covm
        ), it2 AS (
            SELECT 0 AS k,
                   list_transform(v0,
                       z -> z / sqrt(list_dot_product(v0, v0))) AS v
            FROM (SELECT list_transform(generate_series(1, 64),
                       t -> CASE WHEN t = 2 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(1.0 AS DOUBLE) / (2 + t) END) AS v0)
            UNION ALL
            SELECT k + 1,
                   list_transform(w2,
                       z -> z / sqrt(list_dot_product(w2, w2))) AS v
            FROM (SELECT k,
                         list_transform(generate_series(1, 64),
                             t -> w[t] - d * v1[t]) AS w2
                  FROM (SELECT k,
                               list_transform(C,
                                   r -> list_dot_product(r, v)) AS w,
                               v1
                        FROM it2, covm, c1)
                  CROSS JOIN LATERAL (SELECT list_dot_product(w, v1) AS d))
            WHERE k < 1000
        ), c2 AS MATERIALIZED (
            SELECT v AS v2 FROM it2 WHERE k = 1000
        ), l2 AS (
            SELECT list_dot_product(
                       v2, list_transform(C,
                           r -> list_dot_product(r, v2))) AS lam
            FROM c2, covm
        ), comps AS (
            SELECT 0 AS component, v1 AS v,
                   (SELECT lam FROM l1) AS lam FROM c1
            UNION ALL
            SELECT 1 AS component, v2 AS v,
                   (SELECT lam FROM l2) AS lam FROM c2
        ), flipped AS (
            SELECT component, lam,
                   CASE WHEN v[list_filter(generate_series(1, 64),
                                  t -> abs(v[t]) = mx)[1]] < 0
                        THEN list_transform(v, z -> -z) ELSE v END AS v
            FROM (SELECT component, lam, v,
                         list_max(list_transform(v, z -> abs(z))) AS mx
                  FROM comps)
        )
        SELECT CAST(component AS INTEGER) AS component,
               CAST(d.i - 1 AS INTEGER) AS dim,
               round(v[d.i], 6) AS loading,
               round(lam, 6) AS eigenvalue,
               round(lam / tr, 6) AS explained_var_ratio
        FROM flipped CROSS JOIN covm CROSS JOIN dims d
        """,
    ),
    "events_top_paths": QuerySpec(
        X.events_top_paths,
        """
        WITH p AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   string_agg(event_type, '>'
                              ORDER BY ts, event_id, event_type) AS path
            FROM events
            GROUP BY user_id, CAST(ts AS DATE)
        )
        SELECT path, count(*) AS n_sessions,
               count(DISTINCT user_id) AS n_users
        FROM p GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 20
        """,
    ),
    "table_checksum": QuerySpec(
        X.table_checksum,
        f"""
        WITH r AS (
            SELECT source, {_DOC_RH} AS rh
            FROM documents
        )
        SELECT source, count(*) AS n_rows,
               bit_xor(rh) AS checksum_xor,
               CAST(CAST(sum(rh) AS DECIMAL(38,0)) AS VARCHAR)
                   AS checksum_sum
        FROM r GROUP BY source
        """,
    ),
    "corpus_split_leakage": QuerySpec(
        X.corpus_split_leakage,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset,
                   ((doc_id % 2147483648) * 2654435761) % 4294967296
                       >= CAST(0.95 * 4294967296 AS BIGINT) AS is_val
            FROM documents
        ), pairs AS (
            SELECT CASE WHEN a.is_val THEN a.doc_id
                        ELSE b.doc_id END AS val_doc_id,
                   round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.tokset, b.tokset))),
                         4) AS jaccard
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id AND a.is_val <> b.is_val
        )
        SELECT val_doc_id, count(*) AS n_train_dups,
               round(max(jaccard), 4) AS max_jaccard
        FROM pairs WHERE jaccard >= 0.4
        GROUP BY val_doc_id
        """,
    ),
    "table_k_anonymity": QuerySpec(
        X.table_k_anonymity,
        """
        WITH cls AS (
            SELECT grouping(c_nationkey, c_mktsegment, bal_band) AS gid,
                   count(*) AS n
            FROM (SELECT c_nationkey, c_mktsegment,
                         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
                  FROM customer)
            GROUP BY ROLLUP(c_nationkey, c_mktsegment, bal_band)
        )
        SELECT CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS level,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(n) AS BIGINT) AS k_anonymity,
               CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                   AS n_rows_below_k,
               round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                     / sum(n), 4) AS frac_below_k,
               round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS avg_class_size
        FROM cls WHERE gid <> 7 GROUP BY 1
        """,
    ),
    # Oracle promoted in r11 (VERDICT r10 #5): the text_bpe_train K=3
    # unroll (census -> argmax -> boundary-safe double-replace rewrite,
    # see that entry's equivalence proof) extended with the THIRD
    # rewrite the trainer itself never needs, then the per-language
    # compression ledger over raw (d0) vs encoded (d3) token lists.
    # Integer sums CAST to BIGINT (DuckDB HUGEINT bridge asymmetry).
    "text_bpe_encode": QuerySpec(
        X.text_bpe_encode,
        f"""
        WITH d0 AS (
            SELECT doc_id, lang,
                   list_filter(list_transform({_TOKS}, t -> lower(t)),
                               t -> NOT contains(t, '␞')) AS tk
            FROM documents
        ), m1 AS (
            SELECT tk[i] AS a, tk[i+1] AS b
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d0)
            WHERE tk[i] <> tk[i+1]
            GROUP BY 1, 2 ORDER BY count(*) DESC, a, b LIMIT 1
        ), d1 AS (
            -- LEFT JOIN ON TRUE passthrough (ADVICE r11 #2): an empty
            -- census round must leave tokens unchanged — the Spark fn
            -- breaks out of _bpe_train_merges and encodes with fewer
            -- merges — not annihilate d1 (and with it the final
            -- d0 JOIN d3 ledger) via a CROSS JOIN with zero rows
            SELECT doc_id, CASE WHEN a IS NULL OR len(tk) = 0 THEN tk ELSE
                string_split(trim(replace(replace(
                    ' ' || array_to_string(tk, ' ') || ' ',
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' '),
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' ')), ' ') END AS tk
            FROM d0 LEFT JOIN m1 ON TRUE
        ), m2 AS (
            SELECT tk[i] AS a, tk[i+1] AS b
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d1)
            WHERE tk[i] <> tk[i+1]
            GROUP BY 1, 2 ORDER BY count(*) DESC, a, b LIMIT 1
        ), d2 AS (
            -- LEFT JOIN ON TRUE passthrough (ADVICE r11 #2): an empty
            -- census round must leave tokens unchanged — the Spark fn
            -- breaks out of _bpe_train_merges and encodes with fewer
            -- merges — not annihilate d2 (and with it the final
            -- d0 JOIN d3 ledger) via a CROSS JOIN with zero rows
            SELECT doc_id, CASE WHEN a IS NULL OR len(tk) = 0 THEN tk ELSE
                string_split(trim(replace(replace(
                    ' ' || array_to_string(tk, ' ') || ' ',
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' '),
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' ')), ' ') END AS tk
            FROM d1 LEFT JOIN m2 ON TRUE
        ), m3 AS (
            SELECT tk[i] AS a, tk[i+1] AS b
            FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d2)
            WHERE tk[i] <> tk[i+1]
            GROUP BY 1, 2 ORDER BY count(*) DESC, a, b LIMIT 1
        ), d3 AS (
            -- LEFT JOIN ON TRUE passthrough (ADVICE r11 #2): an empty
            -- census round must leave tokens unchanged — the Spark fn
            -- breaks out of _bpe_train_merges and encodes with fewer
            -- merges — not annihilate d3 (and with it the final
            -- d0 JOIN d3 ledger) via a CROSS JOIN with zero rows
            SELECT doc_id, CASE WHEN a IS NULL OR len(tk) = 0 THEN tk ELSE
                string_split(trim(replace(replace(
                    ' ' || array_to_string(tk, ' ') || ' ',
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' '),
                    ' ' || a || ' ' || b || ' ',
                    ' ' || a || '␞' || b || ' ')), ' ') END AS tk
            FROM d2 LEFT JOIN m3 ON TRUE
        )
        SELECT d0.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(d0.tk)) AS BIGINT) AS toks_raw,
               CAST(sum(len(d3.tk)) AS BIGINT) AS toks_encoded,
               CAST(sum(len(list_filter(d3.tk,
                                        t -> contains(t, '␞'))))
                    AS BIGINT) AS n_merged_final,
               round(1.0 - CAST(sum(len(d3.tk)) AS DOUBLE)
                     / sum(len(d0.tk)), 4) AS compression
        FROM d0 JOIN d3 ON d0.doc_id = d3.doc_id
        GROUP BY d0.lang
        """,
    ),
    "lineitem_copurchase_lift": QuerySpec(
        X.lineitem_copurchase_lift,
        """
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pair_counts AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS n_both
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            ORDER BY n_both DESC, part_a, part_b
            LIMIT 20
        ), part_counts AS (
            SELECT l_partkey AS part, count(*) AS n_orders
            FROM baskets GROUP BY 1
        ), total AS (
            SELECT count(DISTINCT l_orderkey) AS n_total FROM lineitem
        )
        SELECT part_a, part_b, n_both,
               pa.n_orders AS n_a, pb.n_orders AS n_b,
               round(n_both * n_total
                     / CAST(pa.n_orders * pb.n_orders AS DOUBLE), 4)
                   AS lift
        FROM pair_counts
        CROSS JOIN total
        JOIN part_counts pa ON pa.part = part_a
        JOIN part_counts pb ON pb.part = part_b
        """,
    ),
    "corpus_export_manifest": QuerySpec(
        X.corpus_export_manifest,
        f"""
        WITH sized AS (
            SELECT doc_id, lang, source, n_chars, text,
                   len({_TOKS}) AS n_tokens
            FROM documents
        ), run AS (
            SELECT *, sum(n_tokens) OVER (ORDER BY doc_id) AS ps
            FROM sized
        ), packed AS (
            SELECT *, CAST(floor((ps - n_tokens) / 2000) AS BIGINT)
                          AS shard_id
            FROM run
        )
        SELECT shard_id, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc_id,
               max(doc_id) AS last_doc_id,
               bit_xor({_DOC_RH}) AS checksum_xor
        FROM packed GROUP BY shard_id
        """,
    ),
    "events_hot_keys": QuerySpec(
        X.events_hot_keys,
        """
        WITH census AS (
            SELECT user_id, count(*) AS n_rows
            FROM events GROUP BY user_id
        ), t AS (
            SELECT CAST(sum(n_rows) AS BIGINT) AS total,
                   count(*) AS n_keys
            FROM census
        )
        SELECT user_id, n_rows,
               round(n_rows / CAST(total AS DOUBLE), 6) AS share,
               round(n_rows * n_keys / CAST(total AS DOUBLE), 4) AS skew_x
        FROM census CROSS JOIN t
        ORDER BY n_rows DESC, user_id
        LIMIT 20
        """,
    ),
    "text_quality_classifier_score": QuerySpec(
        X.text_quality_classifier_score,
        f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform({_TOKS},
                                                t -> lower(t))) AS toks
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, len(toks) AS n_feats,
                   list_aggregate(list_transform(toks, t ->
                       CAST((((('0x' || substr(md5(t), 1, 15))::BIGINT
                               % 2147483648) * 2654435761)
                             % 4294967296) AS DOUBLE)
                       / 2147483648.0 - 1.0), 'sum') / len(toks) AS score
            FROM t
        )
        SELECT doc_id, lang, n_feats,
               round(score, 6) AS quality_score,
               score > 0 AS keep
        FROM scored WHERE n_feats > 0
        """,
    ),
    "graph_link_prediction": QuerySpec(
        X.graph_link_prediction,
        f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars // 16 AS len_band,
                   list_distinct({_TOKS}) AS tokset
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.tokset, b.tokset))
                              AS DOUBLE)
                         / len(list_distinct(list_concat(a.tokset,
                                                         b.tokset))),
                         4) AS jaccard
            FROM t a JOIN t b
              ON a.lang = b.lang AND a.len_band = b.len_band
             AND a.doc_id < b.doc_id
        ), e AS (
            SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.4
        ), und AS (
            SELECT id_a AS src, id_b AS dst FROM e
            UNION ALL SELECT id_b, id_a FROM e
        ), cand AS (
            SELECT x.dst AS id_a, y.dst AS id_b,
                   count(*) AS common_neighbors
            FROM und x JOIN und y
              ON x.src = y.src AND x.dst < y.dst
            GROUP BY 1, 2
        ), nonadj AS (
            SELECT c.id_a, c.id_b, c.common_neighbors
            FROM cand c LEFT JOIN e
              ON e.id_a = c.id_a AND e.id_b = c.id_b
            WHERE e.id_a IS NULL
        ), deg AS (
            SELECT src AS id, count(*) AS degree FROM und GROUP BY src
        )
        SELECT n.id_a, n.id_b, n.common_neighbors,
               round(n.common_neighbors
                     / CAST(da.degree + db.degree - n.common_neighbors
                            AS DOUBLE), 4) AS score
        FROM nonadj n
        JOIN deg da ON da.id = n.id_a
        JOIN deg db ON db.id = n.id_b
        """,
    ),
    "join_hot_slice_broadcast": QuerySpec(
        X.join_hot_slice_broadcast,
        """
        SELECT o_orderpriority,
               count(*) AS n_items,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,10))) AS DOUBLE), 2)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        """,
    ),
    "ann_dim_truncation_report": QuerySpec(
        X.ann_dim_truncation_report,
        """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 12),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        sims AS (
            SELECT q_id, vec_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 6)
                       AS sim_full,
                   round(list_dot_product(qv[1:16], cv[1:16])
                         / (sqrt(list_dot_product(qv[1:16], qv[1:16]))
                            * sqrt(list_dot_product(cv[1:16], cv[1:16]))),
                         6) AS sim_trunc
            FROM q CROSS JOIN c WHERE q_id <> vec_id
        ), nf AS (
            SELECT q_id, vec_id AS nn_full, sim_full FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY sim_full DESC, vec_id) AS rn
                FROM sims) WHERE rn = 1
        ), nt AS (
            SELECT q_id, vec_id AS nn_trunc, sim_trunc FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id
                    ORDER BY sim_trunc DESC, vec_id) AS rn
                FROM sims) WHERE rn = 1
        )
        SELECT nf.q_id, nn_full, sim_full, nn_trunc, sim_trunc,
               nn_full = nn_trunc AS agree
        FROM nf JOIN nt ON nf.q_id = nt.q_id
        """,
    ),
    "corpus_quality_calibration": QuerySpec(
        X.corpus_quality_calibration,
        f"""
        WITH t AS (
            SELECT doc_id, text,
                   list_distinct(list_transform({_TOKS},
                                                t -> lower(t))) AS feats,
                   CAST(len({_TOKS}) AS BIGINT) AS n_words,
                   round(CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                              AS DOUBLE) / len({_TOKS}), 4) AS mean_word_len,
                   round({_PUNCT_RATIO}, 4) AS symbol_ratio,
                   CAST(len(list_filter({_TOKS},
                        t -> list_contains([{_SW}], lower(t))))
                        AS BIGINT) AS stop_hits
            FROM documents
        ), s AS (
            SELECT doc_id,
                   round(list_aggregate(list_transform(feats, t ->
                       CAST((((('0x' || substr(md5(t), 1, 15))::BIGINT
                               % 2147483648) * 2654435761)
                             % 4294967296) AS DOUBLE)
                       / 2147483648.0 - 1.0), 'sum') / len(feats), 6)
                       AS score_r,
                   CASE WHEN n_words >= 20 AND n_words <= 100000
                         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                         AND symbol_ratio < 0.1 AND stop_hits >= 2
                        THEN 1 ELSE 0 END AS gold_pass
            FROM t WHERE len(feats) > 0
        )
        SELECT CAST(floor((score_r + 1.0) * 4) AS BIGINT) AS score_bin,
               count(*) AS n_docs,
               CAST(sum(gold_pass) AS BIGINT) AS n_gold_pass,
               round(CAST(sum(gold_pass) AS DOUBLE) / count(*), 4)
                   AS gold_pass_rate,
               round(CAST(sum(CAST(score_r AS DECIMAL(28,10))) AS DOUBLE)
                     / count(*), 6) AS mean_score
        FROM s GROUP BY 1
        """,
    ),
    "join_salted_replicate": QuerySpec(
        X.join_salted_replicate,
        """
        SELECT o_orderstatus,
               count(*) AS n_items,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,10))) AS DOUBLE), 2)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
        """,
    ),
    "ann_filtered_topk": QuerySpec(
        X.ann_filtered_topk,
        """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE label < 5),
        sims AS (
            SELECT q_id, vec_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q_id <> vec_id
        )
        SELECT q_id, vec_id, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos_sim DESC, vec_id) AS rn
            FROM sims)
        WHERE rn <= 3
        """,
    ),
    "retrieval_hybrid_rrf": QuerySpec(
        X.retrieval_hybrid_rrf,
        f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), toks_nz AS (
            SELECT doc_id, tok FROM toks WHERE length(tok) > 0
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks_nz GROUP BY doc_id
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks_nz
            WHERE tok IN ('data', 'spark', 'window')
            GROUP BY doc_id, tok
        ), dft AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), scored AS (
            SELECT tf.doc_id,
                   ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                       AS s
            FROM tf
            JOIN dft ON tf.tok = dft.tok
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
        ), sparse AS (
            SELECT doc_id, round(SUM(s), 6) AS bm25 FROM scored
            GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50
        ), sparse_r AS (
            SELECT doc_id, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id)
                       AS rank_sparse
            FROM sparse
        ), qv AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ), dense AS (
            SELECT vec_id AS doc_id,
                   round(list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv))
                            * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id <> 0) CROSS JOIN qv
            ORDER BY cos_sim DESC, doc_id LIMIT 50
        ), dense_r AS (
            SELECT doc_id, cos_sim,
                   row_number() OVER (ORDER BY cos_sim DESC, doc_id)
                       AS rank_dense
            FROM dense
        ), fused AS (
            SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
                   s.bm25, s.rank_sparse, d.cos_sim, d.rank_dense,
                   round(COALESCE(CAST(1.0 AS DOUBLE)
                                  / (60 + s.rank_sparse), 0.0)
                         + COALESCE(CAST(1.0 AS DOUBLE)
                                    / (60 + d.rank_dense), 0.0), 6) AS rrf
            FROM sparse_r s FULL OUTER JOIN dense_r d ON s.doc_id = d.doc_id
        )
        SELECT doc_id, bm25, rank_sparse, cos_sim, rank_dense, rrf
        FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
        """,
    ),
    "corpus_domain_reweight": QuerySpec(
        X.corpus_domain_reweight,
        f"""
        WITH tok AS (
            SELECT source, lower(unnest({_TOKS})) AS tok FROM documents
        ), f AS (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
        ), s AS (
            SELECT sum(cnt) AS n_total, count(*) AS n_vocab FROM f
        ), lp AS (
            SELECT t.source,
                   CAST(ln(CAST(f.cnt + 1 AS DOUBLE)
                           / (CAST(s.n_total AS DOUBLE)
                              + CAST(s.n_vocab AS DOUBLE)))
                        AS DECIMAL(28,12)) AS lp
            FROM tok t JOIN f USING (tok) CROSS JOIN s
        ), per_src AS (
            SELECT source, count(*) AS n_tokens,
                   round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS nll
            FROM lp GROUP BY source
        ), totals AS (
            SELECT sum(n_tokens) AS tot_tokens,
                   round(CAST(sum(CAST(nll * n_tokens AS DECIMAL(28,10)))
                              AS DOUBLE) / sum(n_tokens), 6) AS nll_corpus
            FROM per_src
        ), w AS (
            SELECT source, n_tokens, nll, nll_corpus,
                   round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6)
                       AS base_share,
                   round(greatest(CAST(0.0 AS DOUBLE), nll - nll_corpus), 6)
                       AS excess
            FROM per_src CROSS JOIN totals
        ), w2 AS (
            SELECT *,
                   CAST(round(base_share
                              * (CAST(1.0 AS DOUBLE)
                                 + CAST(4.0 AS DOUBLE) * excess), 6)
                        AS DECIMAL(18,6)) AS raw
            FROM w
        ), z AS (SELECT sum(raw) AS z FROM w2)
        SELECT source, n_tokens, nll, base_share, excess,
               round(CAST(raw AS DOUBLE) / CAST(z AS DOUBLE), 6)
                   AS new_share
        FROM w2 CROSS JOIN z ORDER BY source
        """,
    ),
    "corpus_negative_sample": QuerySpec(
        X.corpus_negative_sample,
        """
        WITH anchors AS (
            SELECT doc_id AS anchor_id, md5(text) AS a_h
            FROM documents WHERE doc_id < 16
        ), cands AS (
            SELECT doc_id AS cand_id, md5(text) AS c_h FROM documents
        ), pairs AS (
            SELECT anchor_id, cand_id,
                   ((anchor_id * 1000003 + cand_id) % 2147483648)
                   * 2654435761 % 4294967296 AS u
            FROM cands CROSS JOIN anchors
            WHERE cand_id <> anchor_id AND c_h <> a_h
        )
        SELECT anchor_id, neg_rank, cand_id, u AS pair_hash FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY u, cand_id) AS neg_rank
            FROM pairs WHERE u < 1073741824)
        WHERE neg_rank <= 4
        """,
    ),
    "text_inverted_index": QuerySpec(
        X.text_inverted_index,
        f"""
        WITH tf AS (
            SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, lower(t) AS tok
                  FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
                  WHERE length(t) > 0)
            GROUP BY tok, doc_id
        ), stats AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS total_tf
            FROM tf GROUP BY tok
        ), top AS (
            SELECT tok, doc_id, tf,
                   row_number() OVER (PARTITION BY tok
                                      ORDER BY tf DESC, doc_id) AS post_rank
            FROM tf
        )
        SELECT t.tok, s.df, s.total_tf, t.post_rank, t.doc_id, t.tf
        FROM top t JOIN stats s USING (tok)
        WHERE s.df >= 5 AND t.post_rank <= 3
        """,
    ),
    "corpus_cross_source_overlap": QuerySpec(
        X.corpus_cross_source_overlap,
        """
        WITH census AS (
            SELECT md5(array_to_string(list_slice(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       1, 12), ' ')) AS h,
                   source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1, 2
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared_fps,
               CAST(sum(a.n_docs) AS BIGINT) AS n_docs_a,
               CAST(sum(b.n_docs) AS BIGINT) AS n_docs_b
        FROM census a JOIN census b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
        """,
    ),
    "tokenizer_fertility_report": QuerySpec(
        X.tokenizer_fertility_report,
        rf"""
        WITH d AS (
            SELECT source,
                   CAST(octet_length(encode(text)) AS BIGINT) AS nb,
                   CAST(len({_TOKS}) AS BIGINT) AS nw,
                   CAST(len(regexp_extract_all(
                        text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                        AS BIGINT) AS ns
            FROM documents
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nb) AS BIGINT) AS total_bytes,
               CAST(sum(nw) AS BIGINT) AS total_words,
               CAST(sum(ns) AS BIGINT) AS total_subwords,
               round(CAST(sum(ns) AS DOUBLE) / sum(nw), 6) AS fertility,
               round(CAST(sum(nb) AS DOUBLE) / sum(ns), 6)
                   AS bytes_per_subword
        FROM d GROUP BY source
        """,
    ),
    "corpus_curriculum_order": QuerySpec(
        X.corpus_curriculum_order,
        f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(least(floor((1.0
                        - round(0.5 * least({_STOP_RATIO} * 4.0, 1.0)
                                + 0.3 * least(CAST(len({_TOKS}) AS DOUBLE)
                                              / 50.0, 1.0)
                                + 0.2 * (1.0 - least({_PUNCT_RATIO} * 10.0,
                                                     1.0)), 4)) * 4), 3)
                        AS BIGINT) AS phase,
                   -- fold below 2^31 before the Knuth multiply: 63-bit
                   -- safe at any doc_id (matches the Spark side)
                   ((doc_id % 2147483648) * 2654435761)
                       % 4294967296 AS skey
            FROM documents
        )
        SELECT row_number() OVER (ORDER BY phase * 8589934592 + skey,
                                  doc_id) AS seq,
               phase, doc_id
        FROM d
        """,
    ),
    "agg_theta_sketch_overlap": QuerySpec(
        X.agg_theta_sketch_overlap,
        """
        WITH u AS (
            SELECT DISTINCT event_type, user_id FROM events
        ), n AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM u GROUP BY 1
        ), i AS (
            SELECT x.event_type AS ta, y.event_type AS tb,
                   CAST(count(*) AS BIGINT) AS n_int
            FROM u x JOIN u y
              ON x.user_id = y.user_id AND x.event_type < y.event_type
            GROUP BY 1, 2
        )
        SELECT na.event_type AS type_a, nb.event_type AS type_b,
               na.n AS n_a, nb.n AS n_b,
               na.n + nb.n - coalesce(i.n_int, 0) AS n_union,
               coalesce(i.n_int, 0) AS n_intersect,
               round(CAST(coalesce(i.n_int, 0) AS DOUBLE)
                     / (na.n + nb.n - coalesce(i.n_int, 0)), 6) AS jaccard
        FROM n na JOIN n nb ON na.event_type < nb.event_type
        LEFT JOIN i ON i.ta = na.event_type AND i.tb = nb.event_type
        """,
    ),
    "events_rate_limit_sample": QuerySpec(
        X.events_rate_limit_sample,
        """
        SELECT event_id, user_id, hour, rn FROM (
            SELECT event_id, user_id, date_trunc('hour', ts) AS hour,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS rn
            FROM events)
        WHERE rn <= 3
        """,
    ),
    "corpus_boilerplate_share": QuerySpec(
        X.corpus_boilerplate_share,
        f"""
        WITH t AS (
            SELECT doc_id, source, {_TOKS} AS toks FROM documents
        ), sp AS (
            SELECT doc_id, source,
                   unnest(range(0, ((len(toks) - 1) // 10) + 1)) AS span_idx,
                   toks
            FROM t
        ), spans AS (
            SELECT doc_id, source,
                   array_to_string(list_slice(toks, span_idx * 10 + 1,
                                              span_idx * 10 + 10),
                                   ' ') AS span_text
            FROM sp
        ), dup AS (
            SELECT span_text FROM spans
            GROUP BY span_text HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN span_text IN (SELECT span_text FROM dup)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
               round(CAST(sum(CASE WHEN span_text IN
                                   (SELECT span_text FROM dup)
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS dup_share
        FROM spans GROUP BY source
        """,
    ),
    "grouped_arrow_lang_stats": QuerySpec(
        X.grouped_arrow_lang_stats,
        """
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang
        """,
    ),
    "text_mixed_language_report": QuerySpec(
        X.text_mixed_language_report,
        rf"""
        WITH s AS (
            SELECT doc_id, lang AS doc_lang,
                   unnest(list_filter(list_transform(
                       string_split_regex(text, '[.!?]+\s*'),
                       x -> trim(x)), x -> x <> '')) AS sentence
            FROM documents
        ), cls AS (
            SELECT doc_id, doc_lang,
                   CASE WHEN
                       (CAST(len(list_filter(
                            string_split_regex(trim(sentence), '\s+'),
                            t -> list_contains([{_SW}], lower(t))))
                             AS DOUBLE)
                        / len(string_split_regex(trim(sentence), '\s+')))
                       >= 0.08
                   THEN 1 ELSE 0 END AS is_en
            FROM s
        ), agg AS (
            SELECT doc_id, doc_lang, CAST(count(*) AS BIGINT) AS n_sent,
                   CAST(sum(is_en) AS BIGINT) AS n_en
            FROM cls GROUP BY 1, 2
        )
        SELECT doc_id, doc_lang, n_sent, n_en,
               n_sent - n_en AS n_other,
               round(CAST(least(n_en, n_sent - n_en) AS DOUBLE)
                     / n_sent, 6) AS minority_share,
               (n_en > 0 AND n_sent - n_en > 0) AS is_mixed
        FROM agg
        """,
    ),
    "corpus_quality_ablation": QuerySpec(
        X.corpus_quality_ablation,
        f"""
        WITH m AS (
            SELECT (len({_TOKS}) >= 20 AND len({_TOKS}) <= 100000) AS p_wc,
                   (round(CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                               AS DOUBLE) / len({_TOKS}), 4) >= 3.0
                    AND round(CAST(length(regexp_replace(text, '\\s+', '',
                                                         'g'))
                                   AS DOUBLE) / len({_TOKS}), 4) <= 10.0)
                       AS p_mwl,
                   (round({_PUNCT_RATIO}, 4) < 0.1) AS p_sym,
                   (len(list_filter({_TOKS},
                        t -> list_contains([{_SW}], lower(t)))) >= 2)
                       AS p_stop
            FROM documents
        ), one AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN NOT (p_wc AND p_mwl AND p_sym
                                           AND p_stop)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN NOT p_wc THEN 1 ELSE 0 END)
                        AS BIGINT) AS fail_wc,
                   CAST(sum(CASE WHEN NOT p_mwl THEN 1 ELSE 0 END)
                        AS BIGINT) AS fail_mwl,
                   CAST(sum(CASE WHEN NOT p_sym THEN 1 ELSE 0 END)
                        AS BIGINT) AS fail_sym,
                   CAST(sum(CASE WHEN NOT p_stop THEN 1 ELSE 0 END)
                        AS BIGINT) AS fail_stop,
                   CAST(sum(CASE WHEN NOT p_wc AND p_mwl AND p_sym
                                      AND p_stop
                            THEN 1 ELSE 0 END) AS BIGINT) AS uniq_wc,
                   CAST(sum(CASE WHEN NOT p_mwl AND p_wc AND p_sym
                                      AND p_stop
                            THEN 1 ELSE 0 END) AS BIGINT) AS uniq_mwl,
                   CAST(sum(CASE WHEN NOT p_sym AND p_wc AND p_mwl
                                      AND p_stop
                            THEN 1 ELSE 0 END) AS BIGINT) AS uniq_sym,
                   CAST(sum(CASE WHEN NOT p_stop AND p_wc AND p_mwl
                                      AND p_sym
                            THEN 1 ELSE 0 END) AS BIGINT) AS uniq_stop
            FROM m
        ), rows_ AS (
            SELECT 'word_count' AS rule, fail_wc AS n_fail,
                   uniq_wc AS n_unique_fail, n_docs, n_removed FROM one
            UNION ALL
            SELECT 'mean_word_len', fail_mwl, uniq_mwl, n_docs, n_removed
            FROM one
            UNION ALL
            SELECT 'symbol_ratio', fail_sym, uniq_sym, n_docs, n_removed
            FROM one
            UNION ALL
            SELECT 'stopwords', fail_stop, uniq_stop, n_docs, n_removed
            FROM one
        )
        SELECT rule, n_fail, n_unique_fail,
               round(CAST(n_fail AS DOUBLE) / n_docs, 6) AS fail_share,
               round(CAST(n_unique_fail AS DOUBLE)
                     / greatest(n_removed, 1), 6)
                   AS unique_share_of_removed
        FROM rows_
        """,
    ),
    "join_cardinality_estimate": QuerySpec(
        X.join_cardinality_estimate,
        """
        WITH c AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1
        ), e AS (
            SELECT l_partkey, n_rows, n_rows * n_rows AS est_pairs FROM c
        ), t AS (
            SELECT CAST(sum(est_pairs) AS BIGINT) AS tot_pairs FROM e
        )
        SELECT l_partkey, n_rows, est_pairs,
               round(CAST(est_pairs AS DOUBLE) / tot_pairs, 9) AS share
        FROM e CROSS JOIN t
        ORDER BY est_pairs DESC, l_partkey LIMIT 10
        """,
    ),
    "ann_truncated_rerank": QuerySpec(
        X.ann_truncated_rerank,
        """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        s1 AS (
            SELECT q_id, vec_id,
                   round(list_dot_product(ct, qt)
                         / (sqrt(list_dot_product(ct, ct))
                            * sqrt(list_dot_product(qt, qt))), 6) AS sim_t
            FROM (SELECT q_id, vec_id, cv[1:32] AS ct, qv[1:32] AS qt
                  FROM c CROSS JOIN q WHERE q_id <> vec_id)
        ), short AS (
            SELECT q_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id
                                             ORDER BY sim_t DESC, vec_id)
                           AS r1
                FROM s1)
            WHERE r1 <= 100
        ), full_s AS (
            SELECT s.q_id, s.vec_id,
                   round(list_dot_product(c.cv, q.qv)
                         / (sqrt(list_dot_product(c.cv, c.cv))
                            * sqrt(list_dot_product(q.qv, q.qv))), 6)
                       AS cos_full
            FROM short s JOIN c ON s.vec_id = c.vec_id
            JOIN q ON s.q_id = q.q_id
        )
        SELECT q_id, rank, vec_id, cos_full FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos_full DESC, vec_id)
                       AS rank
            FROM full_s)
        WHERE rank <= 5
        """,
    ),
    "corpus_temperature_resample": QuerySpec(
        X.corpus_temperature_resample,
        """
        WITH per AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        ), t AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per
        ), p AS (
            SELECT source, n_docs, n_total,
                   round(CAST(n_docs AS DOUBLE) / n_total, 9) AS p
            FROM per CROSS JOIN t
        ), pa AS (
            SELECT *, CAST(round(pow(p, 0.3), 9) AS DECIMAL(18,9))
                          AS p_alpha
            FROM p
        ), z AS (SELECT sum(p_alpha) AS z FROM pa)
        SELECT source, n_docs, p,
               round(CAST(p_alpha AS DOUBLE) / CAST(z AS DOUBLE), 9) AS q,
               round(CAST(p_alpha AS DOUBLE) / CAST(z AS DOUBLE) / p, 6)
                   AS boost,
               round(CAST(p_alpha AS DOUBLE) / CAST(z AS DOUBLE)
                     * n_total, 3) AS expected_docs
        FROM pa CROSS JOIN z ORDER BY source
        """,
    ),
}

# The driver's per-round correctness snapshot covers only the FIRST 50
# registry entries in insertion order (round 1's CORRECTNESS_r01.json
# stopped at index 49, so every dedup/ANN/text/embedding/multimodal/
# streaming/subquery entry had no driver row).  Reorder so the flagship
# plus all of those extension entries occupy the driver's window; the
# remaining core relational entries — already driver-verified bit-exact
# in round 1 — follow.  The list is explicit (not index arithmetic) so
# future insertions anywhere in the literal above cannot silently push
# an unchecked entry out of the window.
_DRIVER_WINDOW_FIRST: tuple[str, ...] = (
    # Round-13 rotation — TOOL-GENERATED (VERDICT r8 #6/ADVICE r8: the
    # window is derived, not hand-picked) by
    #   python tools/audit_driver_window.py --propose --changed \
    #     <the 23 entries whose operator bodies changed this round>
    # Standing policy, in priority order: (1) entries whose fn or
    # oracle changed this round re-enter first — this round the
    # serial_id/prefix_sum consumers (lazy offsets + the loader's
    # n_toks>0 budget-cut bound), the MinHash-LSH family (the
    # nested-transform banding), the PQ family (threaded pq_train),
    # and the lean-rolling-hash pair (corpus_dsir_weights,
    # text_feature_hashing) — 23 entries; (2) never-hashed: none;
    # (3) the remaining 27 slots re-enter the stalest
    # previously-hashed entries, oldest hashed round first (the
    # r4-r10-era streaming/sql/agg/window families rotate back in).
    # All 50 pre-audited green by tools/audit_driver_window.py
    # (bit-exact fetchall + pandas-bridge dtype symmetry + the
    # recursive pandas-unhashable pre-flight / clean rows-only
    # execution) before commit; entries not in the window are covered
    # by the committed CORRECTNESS_full_r*.json artifacts
    # (CORRECTNESS_full_r13.json: 263 oracle bit-exact + 13 rows-only,
    # taken after every r13 change).
    "corpus_shard_pack", "corpus_clean_pipeline", "dedup_method_agreement",
    "corpus_seq_pack", "corpus_token_budget_sample",
    "corpus_epoch_shuffle", "corpus_loader_pipeline",
    "corpus_dedup_savings", "corpus_dsir_weights", "text_ppl_buckets",
    "dedup_containment", "text_vocab_table", "dedup_token_jaccard",
    "serial_id_assignment", "dedup_minhash_lsh",
    "dedup_minhash_lsh_sqltwin", "dedup_keep_best",
    "dedup_incremental_lsh", "dedup_incremental_lsh_sqltwin",
    "embedding_pq_encode", "ann_pq_topk", "text_feature_hashing",
    "ann_recall_report", "multimodal_png_roundtrip", "embedding_dim_stats",
    "streaming_interval_join", "streaming_interval_join_outer",
    "sample_weighted", "multimodal_resize", "multimodal_frame_sample",
    "streaming_dedup_keys", "streaming_dedup_watermarked",
    "recursive_cte_date_spine", "window_gapfill_locf",
    "text_langid_confusion", "agg_linear_regression", "join_exists_flag",
    "agg_higher_moments", "scalar_datetime_make", "window_topk_with_ties",
    "sql_udf_surface", "set_union_evolved_schema", "agg_bitmap_distinct",
    "agg_filter_clause", "sql_session_variables",
    "sql_scripting_control_flow", "join_null_safe",
    "agg_histogram_fixed_bins", "table_profile",
    "window_time_range_rolling",
)
assert set(_DRIVER_WINDOW_FIRST) <= set(REGISTRY), sorted(
    set(_DRIVER_WINDOW_FIRST) - set(REGISTRY))
assert len(_DRIVER_WINDOW_FIRST) == 50
REGISTRY = {
    **{name: REGISTRY[name] for name in _DRIVER_WINDOW_FIRST},
    **REGISTRY,
}


def _type_pandas_unhashable(dt) -> bool:
    """True when a Spark SQL type materializes as a Python object the
    driver's pandas canonicalizer cannot hash: ``bytearray`` (Binary),
    ``list`` (Array), ``dict`` (Map) — at ANY depth.  StructType alone
    is hashable (it lands as a ``Row`` tuple), but tuple hashing
    recurses into the elements, so a ``struct<array<int>>`` column
    crashes the canonicalizer exactly like a top-level array (ADVICE
    r10 #2 — the lint must recurse, not stop at the top level)."""
    from pyspark.sql.types import (ArrayType, BinaryType, MapType,
                                   StructType)
    if isinstance(dt, (ArrayType, BinaryType, MapType)):
        return True
    if isinstance(dt, StructType):
        return any(_type_pandas_unhashable(f.dataType) for f in dt.fields)
    return False


def pandas_unhashable_cols(schema) -> list[str]:
    """Driver-surface lint shared by tests/test_plan_quality.py and
    tools/audit_driver_window.py (single predicate — the two copies
    drifted until ADVICE r10 #2): columns whose type tree contains a
    pandas-unhashable node.  Entries must project such payloads as
    injective STRINGs (hex / sha2 / concat_ws) on the driver surface."""
    return [f.name for f in schema.fields
            if _type_pandas_unhashable(f.dataType)]


def _fix_rounds(sql: str) -> str:
    """Rewrite every ``round(expr, n)`` into
    ``CAST(CAST(expr AS DECIMAL(38,n)) AS DOUBLE)``.

    DuckDB's ``round(DOUBLE, n)`` computes ``round(x·10ⁿ)/10ⁿ`` whose
    float multiply can flip values that sit within one ulp of a .5
    boundary (e.g. 97432.57949999999 → .58), while Spark's F.round is
    exact BigDecimal HALF_UP (→ .579). DuckDB's double→DECIMAL cast
    *is* exact half-away-from-zero — identical to Spark — so oracle
    SQL is written with plain round() for readability and rewritten
    here before execution.

    Only the two-argument form ``round(expr, n)`` is supported: a
    one-argument ``round(x)`` raises immediately rather than
    mis-slicing the expression.  Matches inside single-quoted string
    literals are left untouched."""
    out = []
    i = 0
    low = sql.lower()
    while True:
        j = low.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        # skip matches inside single-quoted string literals
        if low.count("'", i, j) % 2 == 1:
            end_quote = sql.find("'", j)
            if end_quote < 0:
                raise ValueError(
                    f"unterminated string literal in oracle SQL: {sql!r}")
            out.append(sql[i:end_quote + 1])
            i = end_quote + 1
            continue
        # must be a standalone identifier (not e.g. "xround(")
        if j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
            out.append(sql[i:j + 6])
            i = j + 6
            continue
        out.append(sql[i:j])
        depth = 0
        k = j + 5          # at '('
        last_comma = -1
        while True:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                last_comma = k
            k += 1
        if last_comma < 0:
            raise ValueError(
                "one-argument round() in oracle SQL is not supported — "
                f"write round(expr, n): {sql[j:k + 1]!r}")
        inner = sql[j + 6:last_comma]
        digits = sql[last_comma + 1:k].strip()
        out.append(
            f"CAST(CAST({_fix_rounds(inner)} AS DECIMAL(38,{digits})) AS DOUBLE)")
        i = k + 1
    return "".join(out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: _fix_rounds(spec.oracle) for name, spec in REGISTRY.items()
            if spec.oracle is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.bench}

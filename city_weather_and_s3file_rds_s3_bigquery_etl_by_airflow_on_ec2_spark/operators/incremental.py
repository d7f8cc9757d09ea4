"""Incremental aggregate maintenance: merge re-aggregatable partial
states instead of rescanning history.

The 100-TB problem: a daily rollup over an append-only fact table
should cost O(today's partition), not O(table).  SUM/COUNT/MIN/MAX
(and anything derivable from them — AVG, rates) are *mergeable*: the
aggregate of (history ∪ delta) equals re-aggregating the two partial
states.  So the pipeline keeps a compact keyed state table (one row
per group) and each batch folds in only the delta — the same algebra
Spark itself uses between partial and final aggregation, lifted to
cross-job granularity (the batch analog of a windowed streaming
aggregate such as ``streaming.windows.run_tumbling_count_stream``,
which keeps the same shape in state under a watermark).

`merge_states` is pure relational algebra (union + one hash-agg on the
group key, map-side partial combine), so compositions stay fully
oracle-checkable: state(old) ⨁ state(delta) == aggregate(full scan).

Non-mergeable aggregates (exact median, COUNT DISTINCT) need sketch
states instead — see agg_hll_sketch_union (HLL for distinct) and
agg_approx_quantile (KLL-style quantiles); same state-table pattern,
bounded-size state, bounded error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE_SUFFIX_SUM = "_sum"
STATE_SUFFIX_CNT = "_cnt"


def aggregate_state(df: DataFrame, keys: list[str],
                    measures: list[str]) -> DataFrame:
    """Collapse rows into the mergeable state: per-key SUM and
    non-null COUNT for every measure, plus the row count ``n_rows``."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for m in measures:
        aggs.append(F.sum(m).alias(m + STATE_SUFFIX_SUM))
        aggs.append(F.count(m).alias(m + STATE_SUFFIX_CNT))
    return df.groupBy(*keys).agg(*aggs)


def merge_states(*states: DataFrame, keys: list[str]) -> DataFrame:
    """Fold any number of partial states into one: union (no
    dedup — states are disjoint partials by construction) and re-sum
    every state column.  One shuffle on the group key, sized by the
    number of GROUPS, not source rows."""
    if not states:
        raise ValueError("merge_states needs at least one state")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    value_cols = [c for c in merged.columns if c not in keys]
    return merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in value_cols])

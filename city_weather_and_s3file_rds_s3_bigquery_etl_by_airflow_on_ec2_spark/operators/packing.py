"""Scalable prefix sums and token-budget shard packing.

A 100 TB training corpus is written out as shards, each holding at most
``budget`` tokens, in a deterministic document order — the classic
"pack the corpus into ~1 GB shards" step at the tail of every
training-data pipeline.  The naive plan — ``sum(tokens) OVER (ORDER BY
doc_id)`` — is a global running total: Spark plans it as an Exchange to
a SINGLE partition and sorts the entire corpus in one task.  Dead at
scale.

``prefix_sum`` reuses the two-phase shape of
:func:`..operators.ids.serial_id` (quantile-bucketed ranges → per-bucket
window + broadcast bucket offsets): one hash shuffle on a bucket id
whose groups are all independent, no global funnel.  The result is
bit-identical to the global window whenever ``order_cols`` is a total
order, because each row's running total depends only on its rank.

``pack_by_budget`` derives the shard id from the prefix sum with the
*start-offset* rule::

    shard = floor((prefix_sum - weight) / budget)

i.e. a document is assigned to the shard in which it *begins*.  Every
shard except possibly the last then holds at least ``budget`` tokens'
worth of starts; document order within and across shards is preserved,
so a sequential reader sees the original corpus order.  The rule is a
pure expression over the prefix sum — deterministic, oracle-checkable
against the equivalent SQL window, and embarrassingly parallel after
the one bucket shuffle.

Reference scope note: the reference pipeline (codes/
weather_etl_pipeline.py) materializes its outputs as single CSV/table
appends at 4-row scale and needs no sharding; this operator is part of
the SURVEY.md §2.13 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ids import (
    _default_ranges,
    _NUMERIC_TYPES,
    _sortable_double,
    exclusive_prefix_offsets,
    range_bucket_expr,
)

_PID = "__ps_pid"
_OFF = "__ps_off"


def prefix_sum(df: DataFrame, weight_col: str, order_cols: list[str],
               out_col: str = "prefix_sum",
               num_ranges: int | None = None,
               stop_after: int | None = None,
               bounded_input: bool = False) -> DataFrame:
    """Running total of ``weight_col`` ordered by ``order_cols``
    (inclusive of the current row) without a single-partition window.

    ``order_cols`` must be a total order; the leading order column must
    be numeric (it feeds the driver-side quantile sketch, exactly as in
    ``serial_id``).  Triggers ONE eager metadata-sized job (the
    boundary quantile sketch; plus one batched tie sub-sketch when
    heavy leading-key ties exist) — the per-bucket weight sums and
    their running offsets are lazy subtrees of the main job since r13
    (guide §5, ``ids.exclusive_prefix_offsets``).

    The input is persisted MEMORY_AND_DISK (r6 — the
    corpus_loader_pipeline lesson in BASELINE.md) so the sketch, the
    bucket sums, and the caller's main job share ONE materialization
    instead of each dragging the full upstream lineage (a 3× tax per
    call when the input projects expensive expressions; the lazy offset
    theta-join of r13 references the bucket-sum aggregate on BOTH
    sides).  Correctness never depends on it (a deterministic upstream
    yields the same sums recomputed); genuinely nondeterministic
    upstreams must still checkpoint first — a non-replicated cache
    block lost to executor failure is recomputed from lineage.

    ``stop_after`` (r8): when the caller only consumes rows whose
    running total BEFORE the row is < ``stop_after`` (a budget cut,
    e.g. ``.where(F.col(out) - F.col(w) < budget)``), pass the budget
    here: buckets whose driver-side offset is already ≥ ``stop_after``
    cannot contain any qualifying row (within a bucket, the running
    total before a row is ≥ the bucket offset), so they are dropped
    BEFORE the window join.  At 100 TB with budget ≪ corpus this is
    the difference between windowing the whole corpus and windowing
    just the selected prefix.  Retained rows carry values identical to
    the unpruned plan; rows whose prefix start is ≥ ``stop_after`` are
    ABSENT from the result, so the caller's own cut filter must be at
    least as strict.

    ``bounded_input=True`` (r12, guide §5 — see ``serial_id``): the
    caller asserts the input is metadata-scale by construction (e.g.
    already reduced by a budget cut), so the two-phase machinery's
    three eager driver round-trips cost more than they save; plan the
    plain global running-total window instead (zero eager jobs, one
    bounded-size exchange, identical values by the rank contract).
    ``stop_after`` keeps its exact visible semantics via a post-window
    cut filter, and nothing is persisted (nothing re-reads the input).
    Note (ADVICE r12): with ``stop_after`` the two modes return
    different ROW SETS — bounded_input applies the exact cut (drops
    every row whose prefix start is ≥ ``stop_after``) while the
    two-phase path retains a SUPERSET via bucket-granular pruning
    (whole buckets survive when their offset is under the cut).  The
    contract already obliges the caller's own cut filter to be at
    least as strict, so retained-row VALUES agree in both modes; do
    not toggle the flag expecting identical unfiltered row sets.
    NEVER pass this for a corpus-scale relation.
    """
    if bounded_input:
        w = (Window.orderBy(*[F.col(c) for c in order_cols])
             .rowsBetween(Window.unboundedPreceding, 0))
        out = df.withColumn(
            out_col, F.sum(F.col(weight_col).cast("long")).over(w))
        if stop_after is not None:
            out = out.where(
                F.col(out_col) - F.col(weight_col).cast("long")
                < F.lit(stop_after))
        return out
    spark = df.sparkSession
    # scoped (VERDICT r6 #3): tracked in operators/cache.py and
    # released by the caller's post-action release_persisted()
    from .cache import scoped_persist
    df = scoped_persist(df)
    n = num_ranges or _default_ranges(spark)
    lead = order_cols[0]
    lead_type = df.schema[lead].dataType
    if not isinstance(lead_type, _NUMERIC_TYPES):
        raise TypeError(
            f"prefix_sum leading order col {lead!r} must be numeric for "
            f"the quantile sketch; got {lead_type.simpleString()}")

    # range_bucket_expr (operators/ids.py, r6) adds heavy-tie
    # splitting: a quantized/constant leading weight key no longer
    # concentrates its rows — or in the all-ties case, the whole
    # table — into one bucket's window
    second = (_sortable_double(df, order_cols[1])
              if len(order_cols) > 1 else None)
    pid_expr = range_bucket_expr(
        df, F.col(lead).cast("double"), second, n)
    tagged = df.withColumn(_PID, pid_expr)

    # one row per bucket — metadata scale; offsets stay LAZY (r13,
    # guide §5): a broadcast theta self-join over the bucket weight
    # sums replaces the former eager collect() round-trip, so the
    # sums, the offsets, and the final rows all compute inside ONE
    # job from one materialization (see ids.exclusive_prefix_offsets)
    off_df = exclusive_prefix_offsets(
        tagged.groupBy(_PID).agg(F.sum(F.col(weight_col).cast("long"))
                                  .alias("__ps_w")),
        "__ps_w", _PID, _OFF)
    if stop_after is not None:
        # budget-cut bucket pruning: a bucket whose prefix offset is
        # already past the cut holds no row with running-before <
        # stop_after (within a bucket, running-before ≥ the bucket
        # offset).  The off_df inner join below then drops those
        # buckets' rows before the window shuffles them — now as a
        # lazy filter on the offset relation instead of a driver-side
        # list comprehension.
        off_df = off_df.where(F.col(_OFF) < F.lit(stop_after))

    w = Window.partitionBy(_PID).orderBy(*[F.col(c) for c in order_cols])
    return (tagged.join(F.broadcast(off_df), _PID)
            .withColumn(out_col,
                        F.sum(F.col(weight_col).cast("long")).over(w)
                        + F.col(_OFF))
            .drop(_PID, _OFF))


def pack_by_budget(df: DataFrame, weight_col: str, order_cols: list[str],
                   budget: int, shard_col: str = "shard_id",
                   num_ranges: int | None = None) -> DataFrame:
    """Assign each row the 0-based shard in which its weight interval
    *starts* under a running-total budget of ``budget`` per shard.

    Equivalent SQL (the oracle shape)::

        floor((sum(w) OVER (ORDER BY k) - w) / budget)

    but planned via the two-phase :func:`prefix_sum` — no global
    single-partition window.  ``budget`` must be positive.
    """
    if budget <= 0:
        raise ValueError(f"pack_by_budget requires budget > 0, got {budget}")
    ps = prefix_sum(df, weight_col, order_cols, out_col="__ps_total",
                    num_ranges=num_ranges)
    start: Column = F.col("__ps_total") - F.col(weight_col).cast("long")
    return (ps.withColumn(shard_col,
                          F.floor(start / F.lit(budget)).cast("long"))
              .drop("__ps_total"))

"""Scalable sequential-id assignment (SURVEY.md §1.2 SERIAL semantics).

The reference gets 1-based ids for free from Postgres SERIAL
(README DDL, ``id SERIAL PRIMARY KEY``); the naive Spark translation —
``row_number() OVER (ORDER BY key)`` — funnels every row through ONE
task's sort (Exchange SinglePartition) and dies at 100 TB.

``serial_id`` is the two-phase form (the zipWithIndex shape, kept in
DataFrame land so Catalyst owns the plan):

1. split the key domain into contiguous ranges at quantile-sketch
   boundaries of the leading key, computed ONCE on the driver and
   embedded as literals.  (``repartitionByRange`` is deliberately NOT
   used here: its range sampler reseeds from the RDD id, so the
   offset-counting job and the final job can execute the same plan
   with *different* boundaries and silently corrupt the ids — observed
   at sf0.01.)  Equal leading-key values always share a bucket.
2. count rows per bucket — a metadata-sized aggregate (one row per
   bucket) whose cumulative offsets are computed LAZILY inside the
   same plan (broadcast theta self-join over the bucket counts, r13 —
   formerly an eager driver collect);
3. per-bucket ``row_number`` (window partitioned by the bucket id —
   N independent groups, no global funnel) plus the broadcast offset
   of all preceding buckets.

Result is identical to the global-window id whenever ``key_cols`` is a
total order (ids depend only on each row's rank, not on where bucket
boundaries land). Cost in the main job: ONE hash shuffle on the bucket
id plus the metadata-scale count/offset subtree; plus a column-pruned
quantile scan up front. Every stage parallel.

Skew note: bucket sizes track the quantile sketch, so heavy duplicate
mass on a single leading-key value concentrates in one bucket; pass a
finer ``key_cols[0]`` (or pre-salt upstream) if one value dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PID = "__serial_pid"
_OFF = "__serial_off"

_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)
_TEMPORAL_TYPES = (T.DateType, T.TimestampType)
_SKETCH = "__serial_sketch"


def _default_ranges(spark) -> int:
    """shuffle.partitions when it parses as an int; on platforms where
    it resolves to 'auto' (ADVICE r2) fall back to defaultParallelism."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "")
    try:
        return int(raw)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def _sortable_double(df: DataFrame, col: str):
    """Monotone double image of a numeric/temporal column for sketch
    bucketing, or None if the type can't feed a quantile sketch."""
    t = df.schema[col].dataType
    if isinstance(t, _TEMPORAL_TYPES):
        return F.col(col).cast("timestamp").cast("double")
    if isinstance(t, _NUMERIC_TYPES):
        return F.col(col).cast("double")
    return None


_MAX_TIE_SPLITS = 8


def exclusive_prefix_offsets(bucket_aggs: DataFrame, val_col: str,
                             pid_col: str, off_col: str) -> DataFrame:
    """LAZY exclusive running offsets over a metadata-scale per-bucket
    aggregate (r13, guide §5 — VERDICT r12 #3): each bucket's offset is
    the sum of every LOWER bucket's ``val_col``, computed as a
    broadcast theta self-join + re-aggregate instead of a driver-side
    ``collect()``.

    The former eager collect was one scheduler round-trip per
    ``serial_id``/``prefix_sum`` call that re-ran the (persisted)
    upstream lineage before the main job could even be planned; this
    form keeps the offsets a plan subtree, so the whole operator is one
    action.  Crucially it stays SinglePartition-free (the suite-wide
    lint): a global window over the bucket aggregate would plan an
    ``Exchange SinglePartition``, while the theta join is
    BroadcastNestedLoopJoin over one-row-per-bucket relations — O(n²)
    pair work on a relation bounded by the bucket fan-out (≈ shuffle
    partitions), i.e. metadata scale by construction at ANY corpus
    size.  Determinism also strictly improves: the offsets and the
    final rows are now computed inside the SAME job from the same
    persisted materialization, rather than in two separately scheduled
    jobs."""
    a, b = bucket_aggs.alias("__off_a"), bucket_aggs.alias("__off_b")
    return (a.join(F.broadcast(b),
                   F.col(f"__off_b.{pid_col}") < F.col(f"__off_a.{pid_col}"),
                   "left")
            .groupBy(F.col(f"__off_a.{pid_col}").alias(pid_col))
            .agg(F.coalesce(F.sum(F.col(f"__off_b.{val_col}")),
                            F.lit(0)).cast("long").alias(off_col)))


def range_bucket_expr(df: DataFrame, sketch_expr, second_expr, n: int):
    """Range-bucket id expression over a total order whose leading
    image is ``sketch_expr`` (a monotone double) — shared by
    ``serial_id`` and ``operators.packing.prefix_sum``.

    Beyond the plain quantile-boundary bucketing, this splits HEAVY TIE
    values on the leading key (r6): a value spanning k ≥ 2 quantile
    slots — e.g. a quantized score, a constant priority, a single hot
    day in a date lead — would otherwise concentrate ~k/n of the table
    in ONE bucket, and in the degenerate all-ties case silently
    recreate the single-partition window the two-phase form exists to
    avoid.  Heavy values are detected from the raw (duplicated)
    quantile list and their rows sub-bucketed by quantiles of
    ``second_expr`` (the tiebreak column's double image), computed over
    just the tied rows — ALL heavy values share ONE batched
    metadata-sized job (r12: per-value conditional ``percentile_approx``
    aggregates replace the former one-sequential-``approxQuantile``-job-
    per-value loop, which dominated the loader's wall at sf0.1), at
    most ``_MAX_TIE_SPLITS`` of them (a RuntimeWarning names any heavy
    values the cap drops).  When the input is NOT persisted, that one
    job re-runs the full input lineage once — ``serial_id`` and
    ``prefix_sum`` persist their input first.
    Bucket ids stay monotone w.r.t. the
    lexicographic (lead, second) order: within an old bucket, sub-v
    rows (< v) keep the first slot and v's sub-buckets follow.

    Returns a Column producing a dense-enough int bucket id; callers
    collect per-bucket aggregates keyed by it (gaps are harmless).
    With ``second_expr`` None (single-key order), falls back to plain
    bucketing — a constant single-column key violates the caller's
    total-order contract anyway."""
    probs = [i / n for i in range(1, n)]
    tmp = "__rb_sketch"
    raw = (df.withColumn(tmp, sketch_expr)
           .stat.approxQuantile(tmp, probs, 1.0 / (100 * n)))
    bounds = sorted(set(raw))
    if not bounds:
        return F.lit(0)
    barr = F.array(*[F.lit(b).cast("double") for b in bounds])
    base = F.size(F.filter(barr, lambda b: b < sketch_expr))
    if second_expr is None:
        return base
    # multiplicity in the RAW list ≈ how many quantile slots the value
    # spans; ≥ 2 means the value alone holds ≥ ~2/n of the rows
    mult = {v: raw.count(v) for v in bounds}
    all_heavy = sorted((v for v in bounds if mult[v] >= 2),
                       key=lambda v: -mult[v])
    heavy = all_heavy[:_MAX_TIE_SPLITS]
    if len(all_heavy) > _MAX_TIE_SPLITS:
        # ADVICE r6: every split widens the batched sub-sketch
        # aggregate and the final bucket-id expression, so the cap is
        # deliberate — but dropping a
        # heavy value means its rows stay concentrated in one bucket,
        # which the caller should hear about rather than discover as a
        # straggler task.  A mult-2 drop concentrates only ~2/n of the
        # rows (benign — logged at info); ≥3 slots is a real straggler
        # risk and warrants a RuntimeWarning.
        dropped = all_heavy[_MAX_TIE_SPLITS:]
        msg = (
            f"range_bucket_expr: {len(dropped)} heavy leading-key "
            f"value(s) beyond the _MAX_TIE_SPLITS={_MAX_TIE_SPLITS} cap "
            f"were not tie-split (largest spans {mult[dropped[0]]}/{n} "
            "quantile slots); their rows concentrate in single buckets. "
            "Pre-salt the leading key or raise the cap for this input.")
        if mult[dropped[0]] >= 3:
            import warnings
            warnings.warn(msg, RuntimeWarning, stacklevel=3)
        else:
            import logging
            logging.getLogger(__name__).info(msg)
    if not heavy:
        return base
    # ONE batched sub-sketch job for every heavy value (r12, guide §5:
    # the former loop ran one sequential driver-side approxQuantile job
    # PER heavy value — on a tiny relation every value looks heavy, so
    # serial_id fired up to 9 eager jobs before its main lineage).  A
    # conditional percentile_approx per heavy value shares one scan;
    # ApproximatePercentile ignores the NULLs the when() emits for
    # non-tied rows, and runs the same QuantileSummaries sketch at the
    # same 1/(100·n) relative error as approxQuantile, so boundary
    # placement stays sketch-grade (results are invariant to where the
    # boundaries land — only bucket fan-out depends on them).
    acc_lit = F.lit(int(round(100 * n)))
    sub_aggs = []
    for v in heavy:
        sp = [i / mult[v] for i in range(1, mult[v])]
        sub_aggs.append(
            F.percentile_approx(
                F.when(sketch_expr == F.lit(v), second_expr),
                F.array(*[F.lit(p) for p in sp]), acc_lit)
            .alias(f"__rb_sub_{len(sub_aggs)}"))
    sub_row = df.agg(*sub_aggs).first()
    sub_bounds: dict[float, list[float]] = {
        v: sorted({x for x in (sub_row[i] or []) if x is not None})
        for i, v in enumerate(heavy)}
    # slot layout: old bucket j expands to 1 + k_j slots (non-tie rows
    # first, then the tie value's k_j sub-buckets)
    widths = []
    for j, v in enumerate(bounds):
        if v in heavy:
            widths.append(1 + len(sub_bounds[v]) + 1)
        else:
            widths.append(1)
    widths.append(1)                       # the open last bucket
    slot_base, acc = [], 0
    for w in widths:
        slot_base.append(acc)
        acc += w
    slot_arr = F.array(*[F.lit(s) for s in slot_base])
    pid = F.element_at(slot_arr, base + 1)
    for v, sb in sub_bounds.items():
        j = bounds.index(v)
        if sb:
            sb_arr = F.array(*[F.lit(b).cast("double") for b in sb])
            sub_idx = F.size(F.filter(sb_arr, lambda b: b < second_expr))
        else:
            sub_idx = F.lit(0)
        pid = F.when(sketch_expr == F.lit(v),
                     F.lit(slot_base[j]) + 1 + sub_idx).otherwise(pid)
    return pid


def serial_id(df: DataFrame, key_cols: list[str], id_col: str = "id",
              num_ranges: int | None = None,
              bounded_input: bool = False) -> DataFrame:
    """Assign a dense 1-based BIGINT ``id_col`` ordered by ``key_cols``
    without a single-partition global sort.

    ``key_cols`` must be a total order (unique tiebreak) for the ids
    to be deterministic, and the leading key must be numeric or
    Date/Timestamp (it feeds the quantile sketch; numeric values
    beyond 2^53 would lose double precision; temporal leads bucket on
    their epoch image — monotone under the UTC-pinned session — while
    the per-bucket window orders by the original column).
    Triggers ONE eager metadata-sized job when called (the boundary
    quantile sketch; plus one batched tie sub-sketch when heavy
    leading-key ties exist) — the per-bucket counts and their running
    offsets are lazy subtrees of the main job since r13 (guide §5,
    see ``exclusive_prefix_offsets``).

    The bucket-tagged input is ``persist(MEMORY_AND_DISK)``-ed before
    the counts job (ADVICE r2): the offsets and the final rows must
    come from the SAME materialization — a nondeterministic upstream
    (sample, unordered limit, recomputed shuffle) would otherwise yield
    offsets that disagree with the final job and silently corrupt ids.
    MEMORY_AND_DISK spills rather than evicts under memory pressure,
    which NARROWS the recompute window but does not eliminate it
    (ADVICE r3): non-replicated cached blocks are still recomputed
    from lineage on executor loss, so a caller whose upstream is
    genuinely nondeterministic must checkpoint/write it out first —
    only that guarantees id stability under failure.  The cache stays
    pinned so the caller's first action reuses it; the caller's
    ``release_persisted()`` drops it.

    ``bounded_input=True`` (r12, guide §5): the caller asserts the
    input is METADATA-SCALE BY CONSTRUCTION (e.g. a budget cut or a
    fixed-fanout aggregate bounds it independent of corpus size).  The
    two-phase machinery then costs more than it saves — its boundary
    sketch, batched tie sub-sketch, and offset collect are three eager
    driver round-trips, each re-executing the (tiny) upstream lineage —
    so this mode plans the textbook single-window form instead:
    ``row_number() OVER (ORDER BY key_cols)``, zero eager jobs, one
    bounded-size exchange.  Results are identical by the operator's own
    contract (ids depend only on each row's rank).  NEVER pass this for
    a relation that grows with the corpus — the global sort funnel is
    exactly what the default plan exists to avoid; the suite-wide
    SinglePartition lint holds every registry entry that opts in to a
    written boundedness justification.
    """
    if bounded_input:
        w = Window.orderBy(*[F.col(c) for c in key_cols])
        return df.withColumn(id_col, F.row_number().over(w).cast("long"))
    spark = df.sparkSession
    n = num_ranges or _default_ranges(spark)
    lead = key_cols[0]
    lead_type = df.schema[lead].dataType
    if isinstance(lead_type, _TEMPORAL_TYPES):
        # Date/Timestamp leads (ADVICE r4): sketch and bucket on the
        # epoch image (session tz is pinned UTC so the cast is a
        # monotone bijection — equal instants share a bucket, order is
        # preserved); the final per-bucket window still orders by the
        # ORIGINAL temporal column.
        sketch_src = F.col(lead).cast("timestamp").cast("double")
    elif isinstance(lead_type, _NUMERIC_TYPES):
        sketch_src = F.col(lead).cast("double")
    else:
        raise TypeError(
            f"serial_id leading key {lead!r} must be numeric or "
            f"Date/Timestamp (it feeds the quantile sketch); got "
            f"{lead_type.simpleString()} — reorder key_cols or "
            f"pre-derive a sortable numeric key")
    keys = [F.col(c) for c in key_cols]
    # pin ONE materialization up front: the boundary sketch, any heavy-
    # tie sub-sketches, the counts job, and the final job all read it
    # (see docstring); spill-not-evict narrows — but does not eliminate —
    # the lineage-recompute window (executor loss still recomputes).
    # scoped (VERDICT r6 #3): released at the caller's release_persisted()
    from .cache import scoped_persist
    sk = scoped_persist(df.withColumn(_SKETCH, sketch_src))
    second = (_sortable_double(df, key_cols[1])
              if len(key_cols) > 1 else None)
    pid_expr = range_bucket_expr(sk, F.col(_SKETCH), second, n)
    tagged = sk.withColumn(_PID, pid_expr).drop(_SKETCH)

    # one row per bucket — metadata scale; offsets stay LAZY (r13,
    # guide §5): a broadcast theta self-join over the bucket counts
    # replaces the former eager collect() round-trip, so the counts,
    # the offsets, and the final rows all compute inside ONE job from
    # one persisted materialization (see exclusive_prefix_offsets)
    off_df = exclusive_prefix_offsets(
        tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("__serial_cnt")),
        "__serial_cnt", _PID, _OFF)

    w = Window.partitionBy(_PID).orderBy(*keys)
    return (tagged.join(F.broadcast(off_df), _PID)
            .withColumn(id_col,
                        (F.row_number().over(w).cast("long") + F.col(_OFF)))
            .drop(_PID, _OFF))

"""Plan-shape assertions — the 100 TB design gates (SURVEY.md §4):
filters and projections must reach the parquet scan, small dims must
broadcast, top-k must compile to TakeOrderedAndProject, and the ANN
brute-force path must not shuffle the corpus."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans import (
    extensions as X,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans import (
    relational as R,
)

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_pushdown(spark):
    df = R.filter_project_pushdown(spark, SF_SMALL)
    plan = _explain(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(o_totalprice,350000.0)" in plan
    # column pruning: only the 4 projected columns are read
    assert "o_orderpriority" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_flagship_broadcasts_dim(spark):
    df = R.flagship_weather_join(spark, SF_SMALL)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    df = R.topk_orders(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in _explain(df)


def test_star_join_all_broadcast(spark):
    df = R.join_5way_star(spark, SF_SMALL)
    plan = _explain(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_ann_brute_force_no_corpus_shuffle(spark):
    """Tightened per VERDICT r3 #5: beyond 'a broadcast join exists',
    assert the *absence* of any Exchange on the corpus branch — the
    docstring's claim that the 100 TB corpus streams map-side. The only
    shuffle exchange allowed in the whole plan is the post-join top-k
    repartition by q_id, whose input the partial WindowGroupLimit has
    already reduced to ≤ k rows per (partition, query)."""
    df = X.ann_cosine_topk(spark, SF_SMALL)
    plan = _plan(df)
    # query side broadcast, corpus side streamed
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert shuffles, "expected exactly the post-join top-k exchange"
    for ln in shuffles:
        assert "hashpartitioning(q_id" in ln, f"corpus-side shuffle: {ln}"
    # and the shuffle input is k-limited before it moves any data
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_q1_partial_aggregation(spark):
    df = R.q1_pricing_summary(spark, SF_SMALL)
    plan = _explain(df)
    # partial (map-side) + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2


def test_sql_and_dsl_same_result(spark):
    """§3.3: SQL text and the DataFrame DSL resolve through the same
    Catalyst pipeline — identical results for the same query."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.engine import (
        Engine,
    )

    eng = Engine(sf_dir=SF_SMALL, spark=spark)
    via_sql = eng.sql("""
        SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS q
        FROM lineitem GROUP BY l_returnflag
    """)
    via_dsl = (eng.table("lineitem").groupBy("l_returnflag")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("l_quantity"), 2).alias("q")))
    assert sorted(map(tuple, via_sql.collect())) == \
        sorted(map(tuple, via_dsl.collect()))
    assert "HashAggregate" in eng.explain(
        "SELECT count(*) FROM lineitem GROUP BY l_returnflag")


def test_serial_id_no_global_funnel(spark):
    """VERDICT r1 #2: SERIAL id must not route every row through a
    single-partition Sort/Window; the two-phase form keeps every
    exchange partitioned."""
    df = R.serial_id_assignment(spark, SF_SMALL)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__serial_pid" in plan
    # and it still produces exactly the SERIAL sequence
    rows = df.orderBy("id").limit(5).collect()
    assert [r.id for r in rows] == [1, 2, 3, 4, 5]
    n = df.count()
    assert df.select(F.max("id")).first()[0] == n
    assert df.select("id").distinct().count() == n


def test_cte_topk_uses_take_ordered(spark):
    """VERDICT r1 #8: the CTE's global rank must ride a top-k
    (TakeOrderedAndProject), leaving the unpartitioned Window at
    width k only."""
    df = R.cte_multi_step(spark, SF_SMALL)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_join_5way_star_broadcast_to_smj_transition(spark, tmp_path):
    """VERDICT r2 #3: the docstring at plans/relational.py (join_5way_star)
    promises that past broadcast scale the fact⋈orders join transitions
    from BroadcastHashJoin to SortMergeJoin while the small dims stay
    broadcast. The broadcast decision's only input is the ratio
    build-side-size / autoBroadcastJoinThreshold, so CI models the 400×
    data growth that would trip the default 10 MB threshold by shrinking
    the threshold against a 40× lake instead — same comparator, same
    code path, executed for real. (At real sf1 with the default
    threshold AQE correctly *keeps* broadcast because the selective
    o_orderdate filter shrinks orders below 10 MB at runtime — that
    direction is captured in BASELINE.md.)"""
    import subprocess
    import sys

    scale_dir = tmp_path / "scale"
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "tools/make_scale_lake.py",
         "--src", "/root/testdata/sf0.01",
         "--out", str(scale_dir), "--reps", "40"],
        check=True, cwd=repo_root, capture_output=True)
    # control: at the default threshold every join broadcasts statically
    assert "SortMergeJoin" not in _plan(R.join_5way_star(spark, str(scale_dir)))

    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    try:
        spark.conf.set(thr, str(1024 * 1024))
        df = R.join_5way_star(spark, str(scale_dir))
        # static plan: fact⋈orders past threshold → SortMergeJoin; the
        # explicitly-hinted tiny dims stay broadcast regardless of scale
        initial = _plan(df)
        assert "SortMergeJoin" in initial
        assert initial.count("BroadcastHashJoin") >= 3
        # EXECUTE: runtime shuffle stats still exceed the threshold, so
        # AQE keeps the SMJ — the transition survives adaptive re-planning
        rows = df.collect()
        assert len(rows) > 0
        final = _plan(df)
        assert "isFinalPlan=true" in final
        assert "SortMergeJoin" in final
        assert final.count("BroadcastHashJoin") >= 3
    finally:
        spark.conf.set(thr, prev)


def test_aqe_skew_join_split_executed(spark):
    """VERDICT r3 #3: demonstrate AQE's OptimizeSkewedJoin actually
    splitting a skewed partition, executed — the one scale behavior the
    suite previously only configured (skewJoin.enabled=true in
    session.DEFAULT_CONFS) but never proved. A fact⋈fact sort-merge
    join where one hot key holds ~50 % of the probe side models the
    hot-custkey shape; production skew thresholds
    (skewedPartitionThresholdInBytes 256 MB / advisory 64 MB) are
    scaled down ~1000× so the same comparator trips at test data
    sizes — same code path, same plan rewrite as a 100 TB hot key."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",   # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # the scaled-down skew geometry was tuned at 32 shuffle
        # partitions; the r13 test session defaults to 8 (suite-budget
        # conf), so pin 32 here like the other thresholds
        "spark.sql.shuffle.partitions": "32",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n_a, hot_frac = 400_000, 0.5
        # fact A: 50 % of rows on key 0, the rest spread over 1..999
        fact_a = spark.range(n_a).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
             .otherwise(F.col("id") % 999 + 1).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pa"))
        # fact B: uniform, one row per key (not broadcastable by conf)
        fact_b = spark.range(1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim_"), F.col("id")).alias("pb"))
        joined = fact_a.join(fact_b, "k")
        # collect() executes THIS DataFrame's queryExecution (count()
        # would plan a separate aggregate query and leave it unexecuted)
        assert len(joined.collect()) == n_a   # every A row matches once
        final = _plan(joined)
        assert "isFinalPlan=true" in final
        assert "SortMergeJoin" in final
        # the skew rewrite is visible in the executed plan: the SMJ is
        # marked skew=true and the skewed side reads split partitions
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_minhash_band_join_aqe_skew_split_executed(spark):
    """VERDICT r5 #1 second line of defense: when the document-
    frequency cap is OFF, a globally hot band key in the MinHash-LSH
    candidate join is an ordinary shuffled-join skew — prove AQE's
    OptimizeSkewedJoin splits THIS join (the production
    ``band_join_candidates``, not a model of it), executed on a
    planted boilerplate lake.  Thresholds are scaled ~1000× down from
    production exactly like ``test_aqe_skew_join_split_executed``."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        _minhash_banded,
        band_join_candidates,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",   # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # the scaled-down skew geometry was tuned at 32 shuffle
        # partitions; the r13 test session defaults to 8 (suite-budget
        # conf), so pin 32 here like the other thresholds
        "spark.sql.shuffle.partitions": "32",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n_boiler = 1_500
        template = " ".join(f"tmpl{j}" for j in range(12))
        boiler = spark.range(n_boiler).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(template + " uniq"), F.col("id")).alias("text"))
        uniq = spark.range(10_000, 12_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[
                F.concat(F.lit("w"), (F.col("id") * 12 + j).cast("string"))
                for j in range(12)]).alias("text"))
        banded, _ = _minhash_banded(
            boiler.unionByName(uniq), "text", "doc_id",
            shingle_size=3, num_bands=8, rows_per_band=2, seed=42)
        cands = band_join_candidates(banded, "doc_id")
        # collect() executes THIS DataFrame's queryExecution (count()
        # would plan a separate aggregate query and leave it unexecuted)
        n_pairs = len(cands.collect())
        # the hot buckets really are quadratic: >> corpus size
        assert n_pairs >= 100_000
        executed = cands._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in executed
        assert "SortMergeJoin" in executed
        assert "skew=true" in executed, executed[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_minhash_sqltwin_plan_matches_production_shape(spark):
    """dedup_minhash_lsh_sqltwin (the md5 cross-engine family) must
    keep the production entry's plan shape: the candidate self-join is
    an equi-join on (band_idx, band_hash) — never a cartesian/BNLJ —
    and the banded relation it shuffles stays NARROW (no shingle or
    signature arrays ride through the band join; they re-attach only
    on the surviving pairs)."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as X

    df = X.dedup_minhash_lsh_sqltwin(spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_hash" in plan
    # the join keyed on band_hash must not carry the shingle arrays:
    # no Exchange hashpartitioning(band_…) row mentions shingle cols
    for line in plan.splitlines():
        if "hashpartitioning(band_idx" in line:
            assert "shingle" not in line and "sig" not in line, line
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (
        release_persisted,
    )
    release_persisted()


# Entries where an Exchange SinglePartition is acceptable for a reason
# OTHER than feeding a keyless final aggregate (which the lint already
# allows structurally). Add a name here only with a written justification.
_SINGLE_PARTITION_WHITELIST: dict[str, str] = {
    "retrieval_hybrid_rrf": (
        "the two rank windows run over arm relations already reduced to "
        "≤ n_arm (50) rows by TakeOrderedAndProject — the exchange moves "
        "a bounded top-k result, not data; the corpus itself is never "
        "globally sorted (test_rrf_arm_topk_before_rank proves the "
        "TakeOrderedAndProject sits below each Window)"),
    "table_drift_psi": (
        "the totals window runs over the joined bin censuses — at most "
        "12 rows by construction (fixed 12-bin histogram), already "
        "collapsed map-side by partial hash-aggs; the exchange moves "
        "bin counts, never data (test_drift_psi_aggregates_before_"
        "everything proves the aggregation sits below the exchange)"),
    "corpus_loader_pipeline": (
        "r12: the token-offset and epoch-shuffle windows run strictly "
        "ABOVE the budget cut — their input is the selected prefix "
        "(greedy quality-ordered running total < budget=2000 tokens, "
        "so ≤ budget token-bearing docs / ≤ ~budget/seq_len packed "
        "sequence groups at ANY corpus size); the exchange moves a "
        "budget-bounded relation, never the corpus.  The corpus-scale "
        "selection stage keeps the two-phase stop_after-pruned "
        "prefix_sum — test_loader_pipeline_no_single_partition proves "
        "the corpus-side sub-plan stays SinglePartition-free"),
}


def test_no_unjustified_single_partition_suite_wide(registry_sweep):
    """VERDICT r2 #8: suite-wide lint. No registry entry may funnel data
    through an ``Exchange SinglePartition`` unless the exchange input is
    already reduced to one row per upstream partition — i.e. its child is
    a keyless partial HashAggregate/SortAggregate (the unavoidable and
    harmless final step of a scalar aggregate, where the exchange moves
    #partitions rows, not data). Global Sorts and unpartitioned Windows
    over real data — the 100 TB killers — trip this for every current
    and future entry.  (r13: plans come from the shared one-build
    ``registry_sweep`` capture — same entry set, same predicate.)"""
    import re

    offenders: dict[str, str] = {}
    for name, rec in registry_sweep.items():
        plan = rec.executed
        if "SinglePartition" not in plan or name in _SINGLE_PARTITION_WHITELIST:
            continue
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            # the exchange's child is the next line one tree-level deeper;
            # allow only keyless partial aggregates below it
            child = lines[i + 1] if i + 1 < len(lines) else ""
            # ADVICE r3: keyless SortAggregate prints 'key=[]'
            # (singular) while HashAggregate prints 'keys=[]'; match
            # both spellings for all three aggregate operators.
            # r5d10: a keyless aggregate child is one-row-per-partition
            # regardless of which phase prints first — partial_*,
            # merge_* (the count-distinct two-phase interleaves
            # merge_+partial_), or an empty function list (count(*)
            # planned as row-count partials) are all metadata-sized.
            ok = re.search(
                r"(?:Hash|Sort|ObjectHash)?Aggregate\((?:keys|key)=\[\], "
                r"functions=\[(?:partial_|merge_|\])", child)
            if not ok:
                offenders[name] = line.strip() + " || child: " + child.strip()
                break
    assert not offenders, f"unjustified SinglePartition exchanges: {offenders}"


def test_gopher_quality_zero_shuffle(spark):
    """text_gopher_quality is the cheap first-pass filter — it must be
    a pure map over the scan: no Exchange anywhere in the plan."""
    plan = _plan(X.text_gopher_quality(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_kmeans_step_broadcasts_centroids(spark):
    """embedding_kmeans_step: the 8 centroids broadcast (corpus side
    never shuffles for the distance computation); the only hash
    exchanges are the per-vector argmin window and the tiny 8-group
    final aggregate."""
    plan = _plan(X.embedding_kmeans_step(spark, SF_SMALL))
    assert "BroadcastExchange" in plan
    # corpus side must not be range/hash-repartitioned before the
    # broadcast join: the first Exchange below the scan is the argmin
    # window's, keyed on vec_id
    assert "Exchange rangepartitioning" not in plan


def test_incremental_lsh_no_self_join_sides(spark):
    """dedup_incremental_lsh joins new-batch bands against corpus
    bands (bipartite): both sides prune to their doc_id half at the
    parquet scan (PushedFilters), so the corpus scan is join-pruned
    rather than full."""
    plan = _explain(X.dedup_incremental_lsh(spark, SF_SMALL))
    assert "GreaterThanOrEqual(doc_id,400)" in plan
    assert "LessThan(doc_id,400)" in plan


def test_shard_pack_no_global_window_funnel(spark):
    """corpus_shard_pack's running total must ride the two-phase
    bucketed window — a global `sum OVER (ORDER BY)` would plan an
    Exchange SinglePartition over the full corpus."""
    df = X.corpus_shard_pack(spark, SF_SMALL)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    # the per-bucket window partitions by the bucket tag, not empty
    assert "__ps_pid" in plan


def test_sample_weighted_is_take_ordered(spark):
    """Weighted sampling must compile to TakeOrderedAndProject (partial
    per-partition top-k, k rows to the driver) — not a global sort."""
    df = X.sample_weighted(spark, SF_SMALL)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan or "Exchange rangepartitioning" not in plan


def test_tfidf_broadcasts_df_table(spark):
    """The document-frequency side is vocabulary-sized: it must
    broadcast; shipping the tf table through a sort-merge join would
    shuffle the full corpus term list twice."""
    df = X.text_tfidf_topk(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_pmi_broadcasts_unigrams(spark):
    df = X.text_bigram_pmi(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_bloom_prefilter_runs_before_fact_exchange(spark):
    """join_bloom_prefilter contract (operators/bloom.py): the Bloom
    membership probe is a Filter fused into the fact scan's codegen
    stage BELOW the fact-side Exchange (so the shuffle only carries
    surviving rows), and the exact join is the merge-hinted SMJ the
    operator exists for (a broadcast would make the prefilter moot)."""
    df = R.join_bloom_prefilter(spark, SF_SMALL)
    plan = _explain(df)
    assert "SortMergeJoin" in plan and "LeftSemi" in plan
    # locate the fact-side Filter: the node whose condition probes the
    # bitmap (xxhash64 + element_at) and whose subtree scans orders
    blocks = plan.split("\n\n")
    fact_filter = [b for b in blocks
                   if b.startswith("(") and "Filter" in b.splitlines()[0]
                   and "xxhash64(o_custkey" in b]
    assert fact_filter, "bloom probe filter missing on the fact side"
    # tree section: Filter(2) sits directly on Scan(1), Exchange above
    tree = plan.split("==")[2] if "==" in plan else plan
    filt_line = next(ln for ln in tree.splitlines() if "Filter" in ln
                     and "(2)" in ln)
    scan_line = next(ln for ln in tree.splitlines() if "Scan parquet" in ln
                     and "(1)" in ln)
    assert filt_line.index("Filter") == scan_line.index("Scan") - 3


def test_bloom_semi_join_no_false_negatives(spark):
    """Property: bloom_semi_join == plain left-semi join, bit-equal,
    including under heavy bitmap load (tiny m forces false positives —
    they must be removed by the exact join, never added)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.bloom import (
        bloom_semi_join,
    )

    fact = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 1000).alias("fk"), "id")
    dim = spark.range(0, 1000).where(F.col("id") % 13 == 0).select(
        F.col("id").alias("dk"))
    for m_bits in (64, 1 << 12):          # 64 bits ~ saturated bitmap
        got = sorted(
            (r.fk, r.id)
            for r in bloom_semi_join(fact, dim, "fk", "dk",
                                     m_bits=m_bits, k=3).collect())
        want = sorted(
            (r.fk, r.id)
            for r in fact.join(dim, F.col("fk") == F.col("dk"),
                               "left_semi").collect())
        assert got == want, f"m_bits={m_bits}"


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL-with-LIMIT must NOT plan as a per-row
    nested loop: Catalyst rewrites it to a WindowGroupLimit (partial
    top-k before the join shuffle)."""
    df = R.join_lateral_topn(spark, SF_SMALL)
    plan = _explain(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_native_runtime_bloom_filter_injected(spark, tmp_path):
    """Spark's OWN runtime bloom filter (the AQE counterpart of
    operators/bloom.py) activates under production-representative
    thresholds scaled to test data: with broadcast off (the big-dim
    case) the executed fact side carries an injected
    bloom_filter/might_contain predicate."""
    spark.range(0, 100000).selectExpr("id", "id % 100 as fk") \
        .write.mode("overwrite").parquet(str(tmp_path / "fact"))
    spark.range(0, 100).selectExpr("id as dk") \
        .write.mode("overwrite").parquet(str(tmp_path / "dim"))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "10GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        f = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim")).where("dk < 5")
        j = f.join(d, f.fk == d.dk)
        assert j.count() == 5000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_executes(spark, tmp_path):
    """Dynamic partition pruning — the partition-layout payoff at
    100 TB: a date-partitioned fact joined to a FILTERED dim must
    prune fact partitions at runtime (the filter's matching dates are
    only known after the dim is read, so the pruning expression is a
    dynamic subquery fed by the reused broadcast).  Gate: the fact
    scan's PartitionFilters carry a dynamicpruning expression, and the
    result equals the statically-filtered join."""
    from pyspark.sql import functions as F

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.layout import (
        add_date_partition,
        write_partitioned,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    events = read_parquet_table(spark, SF_SMALL, "events")
    part = add_date_partition(events, "ts")
    path = str(tmp_path / "events_by_date")
    write_partitioned(part, path, ["event_date"])

    fact = spark.read.parquet(path)
    dates = [r.event_date for r in
             fact.select("event_date").distinct().orderBy("event_date")
             .limit(2).collect()]
    all_dates = [r.event_date for r in
                 fact.select("event_date").distinct().collect()]
    dim_path = str(tmp_path / "dim_dates")
    spark.createDataFrame(
        [(d, "active" if d in dates else "inactive")
         for d in all_dates],
        "event_date: string, status: string").write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).where(F.col("status") == "active")
    # the matching dates are only known after the dim filter runs, so
    # static pruning is impossible — the fact scan must prune via the
    # dynamic subquery fed by the reused broadcast
    joined = fact.join(dim, "event_date").groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n"))

    got = {r.event_date: r.n for r in joined.collect()}
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = {r.event_date: r.n for r in
            fact.where(F.col("event_date").isin(dates))
            .groupBy("event_date").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    assert got == want and set(got) == set(dates)


def test_ann_range_search_has_zero_exchange(spark):
    """Radius search must be a pure broadcast-map plan: NO Exchange of
    any kind (top-k at least repartitions the reduced candidates; the
    range cut is just a filter, so anything that shuffles here is a
    planning regression)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ann_range_search,
    )

    plan = _plan(ann_range_search(spark, SF_SMALL))
    data_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert not data_exchanges, data_exchanges


def test_loader_pipeline_no_single_partition(spark):
    """The CORPUS-SCALE stage of the capstone — the greedy selection
    cut, the only part whose input grows with the corpus — must never
    fall back to a single-partition global window.  (r12: downstream
    of the budget cut the loader deliberately uses bounded_input
    global windows — the input there is ≤ budget tokens of docs / ≤
    ~budget/seq_len sequences by construction, justified in
    _SINGLE_PARTITION_WHITELIST — so the full-plan assert moved to the
    selection sub-plan — since r13 via the SHARED
    ``_loader_budget_selection`` helper the loader itself calls, so
    the linted sub-plan cannot drift from the production construction
    (ADVICE r12 #4).)"""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        _loader_budget_selection,
    )

    sel = _loader_budget_selection(spark, SF_SMALL, 2000)
    assert "SinglePartition" not in _plan(sel)
    # and the full loader's only SinglePartition exchanges are the two
    # budget-bounded windows above the cut (plus nothing else)
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_loader_pipeline,
    )

    full = _plan(corpus_loader_pipeline(spark, SF_SMALL))
    n_sp = sum("Exchange SinglePartition" in ln for ln in full.splitlines())
    assert n_sp <= 2, full


def test_spatial_grid_join_is_pure_equi_join(spark):
    """The grid radius join must plan as a hash/merge EQUI-join on the
    cell key — never a cartesian product or nested-loop theta join
    (the shapes the grid blocking exists to avoid)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        join_spatial_grid_radius,
    )

    plan = _plan(join_spatial_grid_radius(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_grid_join_hot_cell_aqe_skew_split_executed(spark):
    """VERDICT r6 #8: COVERAGE.md claims a hot grid cell in the
    spatial radius join is "ordinary AQE skew" — prove it EXECUTED,
    like the band join's gate: a planted skewed-key lake concentrates
    most points in one cell (a downtown in a city dataset), AQE must
    split the skewed partition of the production cell-key equi-join.
    Thresholds scaled down exactly like the sibling skew gates."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans import (
        extensions as XX,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",   # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # the scaled-down skew geometry was tuned at 32 shuffle
        # partitions; the r13 test session defaults to 8 (suite-budget
        # conf), so pin 32 here like the other thresholds
        "spark.sql.shuffle.partitions": "32",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot cell: 1500 points inside one radius-sized cell;
        # background: 2000 points spread over a wide grid
        hot = spark.range(1_500).selectExpr(
            "id as vec_id",
            "array(0.01 + (id % 100) * 0.0003, "
            "0.01 + ((id * 7) % 100) * 0.0003) as embedding")
        bg = spark.range(10_000, 12_000).selectExpr(
            "id as vec_id",
            "array(cast(id % 500 as double), "
            "cast((id * 13) % 500 as double)) as embedding")
        df = hot.unionByName(bg)
        # grid_radius_join_frame is the EXACT production join body
        # (join_spatial_grid_radius is a lake-reading wrapper over it,
        # same factoring as band_join_candidates for the band gate).
        # collect() executes THIS DataFrame's queryExecution — a
        # derived limit/count would plan a separate query and leave
        # the adaptive plan unfinalized.
        pairs = XX.grid_radius_join_frame(df, radius=0.05)
        n = len(pairs.collect())
        assert n >= 200_000          # the hot cell really is quadratic
        executed = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in executed
        assert "SortMergeJoin" in executed
        assert "skew=true" in executed, executed[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_window_ewma_single_keyed_exchange(spark):
    """EWMA is one per-type window: exactly one data exchange, hash-
    partitioned on event_type, and no SinglePartition anywhere."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        window_ewma,
    )

    plan = _plan(window_ewma(spark, SF_SMALL))
    assert "SinglePartition" not in plan
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(exchanges) == 1, exchanges
    assert "event_type" in exchanges[0]


def test_generate_entries_full_materialization_bounded(spark, registry_sweep):
    """VERDICT r5 #4: the corpus_dsir_weights scale-killer (CollapseProject
    inlining a per-doc expression ABOVE the explode's Generate, re-running
    it once per gram row) was invisible to .count() probes and found only
    by a full collect.  Make that discovery a gate: sweep the registry for
    every entry whose optimized plan contains a Generate (explode /
    posexplode / inline / UDTF) and fully materialize each at sf0.01 under
    a wall-clock ceiling.  A recompute-above-Generate regression multiplies
    an entry's cost by the gram fanout (the r5 case was 20x), which blows
    through the ceiling; healthy entries run well under it.

    Streaming entries are excluded: their builders execute a real
    micro-batch harness (timing measures the harness, not a plan shape)
    and their batch-side twins are already in the sweep.

    r13 (VERDICT r12 #1): Generate DISCOVERY now reads the shared
    ``registry_sweep`` capture (SF_SMALL optimized plans — Generate
    presence is a logical-plan property of the query text, not of the
    data size) instead of re-building all ~276 entries at SF_MED; only
    the found entries are then built fresh at SF_MED for the
    materialization gate, which is unchanged."""
    import os
    import time

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (
        REGISTRY,
    )

    from .conftest import SF_MED

    ceiling = float(os.environ.get("SPARK_GRAFT_GENERATE_CEILING_SEC", "30"))
    found_names = [
        name for name, rec in sorted(registry_sweep.items())
        if not name.startswith("streaming_") and "Generate" in rec.optimized
    ]
    # the sweep must keep finding the known Generate-bearing families
    # (shingling, dup spans, seq packing, sentence split, ngrams, the
    # r5 dsir case, explode/unpivot); if one drops out, the discovery
    # predicate or the SF_SMALL capture broke, not the registry
    pinned = {
        "dedup_minhash_lsh", "dedup_token_jaccard", "text_ngram_dup_spans",
        "corpus_seq_pack", "corpus_loader_pipeline", "text_sentence_split",
        "text_ngram_profile", "text_chunking", "corpus_dsir_weights",
        "text_feature_hashing", "explode_variants", "unpivot_lineitem",
    }
    assert pinned <= set(found_names), sorted(pinned - set(found_names))
    assert len(found_names) >= 10, found_names
    times = {}
    for name in found_names:
        df = REGISTRY[name].fn(spark, SF_MED)
        t0 = time.perf_counter()
        df.collect()
        times[name] = time.perf_counter() - t0
    # ADVICE r6: on a loaded/slow host every entry inflates together, so
    # the gate is RELATIVE — an entry is flagged only when it exceeds
    # both the absolute ceiling and 12x the sweep's own median (the r5
    # recompute-above-Generate case was a 20x multiplier; healthy
    # heavyweights sit ~5x above the median).
    med = sorted(times.values())[len(times) // 2]
    threshold = max(ceiling, 12 * med)
    slow = {n: round(dt, 1) for n, dt in times.items() if dt > threshold}
    # r7: one retry for flagged entries — a transient host stall (the
    # documented multi-second steal spikes) inflates ONE materialization;
    # a real recompute-above-Generate regression is deterministic and
    # fails the retry too.  Entries keep their flag only if the retry
    # ALSO exceeds the threshold.  ADVICE r7: the retry must rebuild the
    # entry FRESH — re-collecting the same DataFrame object reuses the
    # first run's materialized shuffle outputs (skipped stages), so a
    # regression inside a shuffle map stage would run fast on retry and
    # be silently unflagged.
    if slow:
        still_slow = {}
        for n in slow:
            fresh = REGISTRY[n].fn(spark, SF_MED)
            t0 = time.perf_counter()
            fresh.collect()
            dt = time.perf_counter() - t0
            if dt > threshold:
                still_slow[n] = round(dt, 1)
        slow = still_slow
    assert not slow, (
        f"Generate-bearing entries blew the {threshold:.0f}s "
        f"full-materialization ceiling twice (median {med:.1f}s; "
        f"recompute-above-Generate regression?): {slow}")


def _pandas_unhashable_cols(schema) -> list[str]:
    """Columns the driver's pandas canonicalizer cannot factorize:
    bytearray (Binary), list (Array), dict (Map) — at ANY nesting
    depth (ADVICE r10 #2: a struct<array<int>> column yields Row
    tuples whose hash recurses into the unhashable list).  Single
    shared predicate — plans.registry.pandas_unhashable_cols — so the
    test lint and the audit-tool pre-flight cannot drift."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (
        pandas_unhashable_cols,
    )
    return pandas_unhashable_cols(schema)


def test_unhashable_lint_catches_planted_offenders(spark):
    """The lint predicate itself must flag each unhashable class (and
    only those) on a planted schema — VERDICT r9 #2's done-criterion,
    extended per ADVICE r10 #2 with nested offenders: a struct whose
    field tree contains an array/map/binary is unhashable (Row tuple
    hashing recurses), including one buried two structs deep; a struct
    of plain scalars stays hashable."""
    df = spark.range(1).select(
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("map"),
        F.lit(b"\x00").alias("bin"),
        F.lit("ok").alias("str"),
        F.lit(1.5).alias("dbl"),
        F.struct(F.lit(1).alias("x")).alias("strct"),
        F.struct(F.array(F.lit(1)).alias("a")).alias("strct_arr"),
        F.struct(F.struct(F.lit(b"\x01").alias("b")).alias("inner"))
         .alias("strct_deep_bin"),
        F.struct(F.create_map(F.lit("k"), F.lit(1)).alias("m"))
         .alias("strct_map"))
    assert _pandas_unhashable_cols(df.schema) == [
        "arr", "map", "bin", "strct_arr", "strct_deep_bin", "strct_map"]


def test_no_unhashable_type_faces_the_driver(registry_sweep):
    """VERDICT r6 #2, extended per VERDICT r9 #2: the driver's
    canonicalizer (a pandas order-insensitive sort) cannot factorize
    anything pandas can't hash — ``bytearray`` (BinaryType), ``list``
    (ArrayType), ``dict`` (MapType) — so ANY registry entry whose
    top-level schema contains one crashes the driver window with
    `err`.  r9 driver evidence (``embedding_pq_encode``,
    ``CORRECTNESS_r09.json``) disproved the old assumption that
    rows-only entries never reach the canonicalizer — the driver
    runs its rows-only check through the same pandas path — so the
    lint now covers EVERY entry, oracle or not.  Convention: project
    payloads injectively as STRINGs (``hex(...)``, ``sha2(...)``,
    ``concat_ws('-', ...)``) in the driver-facing entry and keep the
    raw bytes/array on the operator API and in unit tests.  (r13:
    schemas come from the shared one-build ``registry_sweep`` capture —
    same entry set, same predicate.)"""
    offenders = {}
    for name, rec in sorted(registry_sweep.items()):
        # streaming builders execute a full micro-batch harness just to
        # produce a schema; their settled outputs are numeric/timestamp
        # aggregates already exercised by the oracle parity suite
        if name.startswith("streaming_"):
            continue
        bad_cols = _pandas_unhashable_cols(rec.schema)
        if bad_cols:
            offenders[name] = bad_cols
    assert not offenders, (
        "registry entries expose pandas-unhashable top-level columns "
        "(binary/array/map) to the driver's canonicalizer — project "
        f"injective STRINGs instead: {offenders}")


def test_date_bin_downsample_single_aggregate_shuffle(spark):
    """events_date_bin_downsample must stay the minimal downsampling
    plan: bin arithmetic in the scan projection, ONE keyed exchange
    between partial and final hash aggregates — no window, no join."""
    df = R.events_date_bin_downsample(spark, SF_SMALL)
    plan = _plan(df)
    assert "Window" not in plan and "Join" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert "bin_start" in exchanges[0]
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_snapshot_diff_single_join_no_extra_exchange(spark):
    """table_snapshot_diff is ONE full-outer key join: both snapshot
    sides shuffle once on the key and nothing reshuffles after the
    row-level comparison."""
    df = X.table_snapshot_diff(spark, SF_SMALL)
    plan = _plan(df)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange" in ln and "BroadcastExchange" not in ln]
    # one hashpartitioning exchange per snapshot side, keyed on orderkey
    assert len(exchanges) == 2, exchanges
    for ln in exchanges:
        assert "o_orderkey" in ln, ln


def test_table_checksum_single_source_exchange(spark):
    """table_checksum is a pure map-side expression + ONE hash-agg on
    source: nothing but (source, partial aggregates) ever shuffles."""
    df = X.table_checksum(spark, SF_SMALL)
    plan = _plan(df)
    assert "Join" not in plan and "Window" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert "source" in exchanges[0]
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_top_paths_three_narrowing_aggs_then_take_ordered(spark):
    """events_top_paths: the (user, day) path build, the distinct-agg
    expansion on (path, user), and the final path census are the only
    shuffles — each strictly narrower than the last, all partially
    aggregated map-side; the top-20 is TakeOrderedAndProject, never a
    global sort."""
    df = X.events_top_paths(spark, SF_SMALL)
    plan = _plan(df)
    assert "Join" not in plan and "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 3, exchanges
    assert "user_id" in exchanges[2]          # path build
    assert "path" in exchanges[1] and "user_id" in exchanges[1]
    assert "path" in exchanges[0] and "user_id" not in exchanges[0]


def test_k_anonymity_one_rollup_shuffle(spark):
    """table_k_anonymity computes the whole generalization ladder from
    ONE rollup (Expand) census shuffle; the per-level report exchange
    is metadata-scale."""
    df = X.table_k_anonymity(spark, SF_SMALL)
    plan = _plan(df)
    assert "Expand" in plan                   # the rollup ladder
    assert "Join" not in plan and "Window" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 2, exchanges     # census + tiny report
    # exactly one scan of the customer table feeds the ladder
    assert plan.count("customer.parquet") == 1


def test_bpe_encode_single_map_stage_plus_lang_agg(spark):
    """text_bpe_encode's ENCODER plan: the K chained merge folds are
    scan-side expressions — no Join, no Window, no Generate, one
    exchange keyed on lang (training's census jobs already ran at
    build time and are not part of this plan)."""
    df = X.text_bpe_encode(spark, SF_SMALL, n_merges=2)
    plan = _plan(df)
    assert "Join" not in plan and "Window" not in plan
    assert "Generate" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert "lang" in exchanges[0]


def test_split_leakage_adds_no_scan_or_join_over_base_pairs(spark):
    """corpus_split_leakage's split attachment is PURE ARITHMETIC on
    the pair ids: vs the underlying dedup_token_jaccard plan it adds
    zero documents-table scans and zero joins — only the final
    per-val-doc hash aggregate."""
    base = _plan(X.dedup_token_jaccard(spark, SF_SMALL))
    leak = _plan(X.corpus_split_leakage(spark, SF_SMALL))
    assert leak.count("documents.parquet") == base.count("documents.parquet")
    assert leak.count("Join") == base.count("Join")


def test_copurchase_one_fact_shuffle_broadcast_lift(spark):
    """lineitem_copurchase_lift never self-joins the fact table: the
    basket build is the ONLY scan+shuffle of lineitem (reused via
    InMemoryRelation by all three censuses), pair generation is a
    bounded in-row Generate, the lift joins broadcast onto 20 rows."""
    # the FileScan/InMemoryRelation count comparison below is
    # cache-state-sensitive: a relation left cached by an earlier test
    # (suite order varies) can substitute an InMemoryTableScan for a
    # FileScan inside the basket lineage — start from a clean cache
    spark.catalog.clearCache()
    df = X.lineitem_copurchase_lift(spark, SF_SMALL)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "TakeOrderedAndProject" in plan
    # every FileScan sits under the single cached basket relation
    assert plan.count("FileScan") == plan.count("InMemoryRelation")
    assert "InMemoryTableScan" in plan


def test_quality_classifier_zero_shuffle(spark):
    """text_quality_classifier_score is scan-bound: tokenize → hash →
    weight → fold entirely inside one map stage — NO Exchange of any
    kind in the plan."""
    df = X.text_quality_classifier_score(spark, SF_SMALL)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Join" not in plan and "Generate" not in plan


def test_hot_slice_join_plan_broadcast_plus_shuffle(spark):
    """join_hot_slice_broadcast's two paths keep their intended
    physical shapes even when nothing is auto-broadcastable: the hot
    slice joins as a BroadcastHashJoin (explicit broadcast of the
    ≤ n_hot dim rows) while the cold remainder falls back to the
    ordinary shuffle join — the hot fact rows never enter an
    Exchange."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.skew import (
        hot_slice_join,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    try:
        spark.conf.set(thr, "-1")
        lineitem = read_parquet_table(spark, SF_SMALL, "lineitem")
        orders = read_parquet_table(spark, SF_SMALL, "orders")
        df = hot_slice_join(lineitem, orders, "l_orderkey", "o_orderkey",
                            n_hot=5)
        plan = _plan(df)
        assert plan.count("BroadcastHashJoin") == 1
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set(thr, prev)


def test_dim_truncation_single_agg_pass(spark):
    """ann_dim_truncation_report computes BOTH argmaxes in one
    map-side-combined aggregation over a broadcast cross join: no
    window, no sort-merge join, no second corpus scan."""
    df = X.ann_dim_truncation_report(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 2       # queries + corpus, once each


def test_quality_calibration_one_rollup_exchange(spark):
    """corpus_quality_calibration derives both signals from the same
    row in one map stage: no join, no Generate; the only Exchange is
    the 8-bucket rollup."""
    df = X.corpus_quality_calibration(spark, SF_SMALL)
    plan = _plan(df)
    assert "Join" not in plan and "Generate" not in plan
    assert plan.count("Exchange") == 1


def test_salted_replicate_join_plan_salted_shuffle(spark):
    """salted_replicate_join with auto-broadcast off: ONE shuffle join
    whose key set includes the salt column, the dim replicated by a
    map-side Generate (explode of the salt sequence), and no broadcast
    anywhere — the full-salting physical shape.  The join must be
    ShuffledHashJoin (the operator hints it): salting makes the key
    distribution uniform by construction, so sort-merge's two full
    sorts are pure overhead — at sf10 they were the spill-prone
    dominant cost (r12: 29× wall for 10× data before the hint)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.skew import (
        salted_replicate_join,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    try:
        spark.conf.set(thr, "-1")
        lineitem = read_parquet_table(spark, SF_SMALL, "lineitem")
        orders = read_parquet_table(spark, SF_SMALL, "orders")
        plan = _plan(salted_replicate_join(
            lineitem, orders, "l_orderkey", "o_orderkey", salt_buckets=8))
        assert plan.count("ShuffledHashJoin") == 1
        assert "SortMergeJoin" not in plan      # no sort on salted-uniform keys
        assert "BroadcastHashJoin" not in plan
        assert plan.count("Generate") == 1      # dim-side salt replication
        assert "__salt" in plan                 # salt participates in keys
    finally:
        spark.conf.set(thr, prev)


def test_rrf_arm_topk_before_rank(spark):
    """retrieval_hybrid_rrf's rank windows sit ABOVE per-arm
    TakeOrderedAndProject reductions: the corpus is never globally
    sorted — the only partitionless windows run over ≤ n_arm rows
    (this is the written justification for its entry in
    _SINGLE_PARTITION_WHITELIST)."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    import re

    plan = _plan(XX.retrieval_hybrid_rrf(spark, SF_SMALL))
    # two arm top-k reductions + the final fused top-k
    assert plan.count("TakeOrderedAndProject") == 3
    assert plan.count("Window") == 2
    # ADVICE r7: the old `... or True` assertion was vacuous and the
    # substring-'doc_id' fallback whitelisted the arm rank-window sorts.
    # Precise gate: every Sort in the plan is a LOCAL (global=false),
    # single-key doc_id sort — the SortMergeJoin requirement for the
    # post-top-k full-outer fuse — and each one consumes an arm's
    # TakeOrderedAndProject output (≤ n_arm rows), never a pre-top-k
    # corpus relation.
    lines = plan.splitlines()
    sort_idx = [i for i, ln in enumerate(lines)
                if re.search(r"(^|[+:]- )Sort \[", ln.strip())]
    assert len(sort_idx) == 2, plan
    for i in sort_idx:
        # full key set: exactly one doc_id key, local sort
        assert re.search(r"Sort \[doc_id#\d+L ASC NULLS FIRST\], false, 0",
                         lines[i]), lines[i]
        # below the sort, the arm's TakeOrderedAndProject must appear
        # BEFORE any Exchange or scan — i.e. the sorted input is already
        # reduced to ≤ n_arm rows (the rank Window in between runs over
        # the same reduced rows), never the pre-top-k corpus relation
        below = []
        for ln in lines[i + 1:]:
            below.append(ln)
            if "TakeOrderedAndProject" in ln:
                break
        assert any("TakeOrderedAndProject" in ln for ln in below), plan
        assert not any("Exchange" in ln or "Scan" in ln
                       for ln in below[:-1]), "\n".join(below)


def test_ann_filtered_topk_pushdown(spark):
    """ann_filtered_topk's metadata predicate reaches the parquet scan
    as a PushedFilter — row groups prune before any vector math."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _explain(XX.ann_filtered_topk(spark, SF_SMALL))
    assert "LessThan(label,5)" in plan


def test_negative_sample_prefilter_before_window(spark):
    """corpus_negative_sample: anchors broadcast (BroadcastNestedLoop),
    the hash prefilter bounds the candidate set BEFORE the one keyed
    shuffle, and the per-anchor top-k compiles to WindowGroupLimit —
    no SortMergeJoin, no partitionless exchange anywhere."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.corpus_negative_sample(spark, SF_SMALL))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "WindowGroupLimit" in plan


def test_inverted_index_posting_cap_streams(spark):
    """text_inverted_index's posting cap compiles to WindowGroupLimit
    (each reducer keeps <=cap rows per token streaming — a stopword's
    posting list is never buffered) and nothing collapses to a single
    partition."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.text_inverted_index(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan
    assert "Exchange SinglePartition" not in plan


def test_cross_source_overlap_digest_equi_join(spark):
    """corpus_cross_source_overlap: the source<source pair predicate
    rides the digest EQUI-join as a post-filter — the plan must not
    degrade to a nested-loop/cartesian shape, and no window/global
    sort appears anywhere."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.corpus_cross_source_overlap(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_fertility_report_single_exchange_no_generate(spark):
    """tokenizer_fertility_report counts subwords WITHOUT exploding
    them: no Generate in the plan, and the only Exchange is the
    per-source rollup."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.tokenizer_fertility_report(spark, SF_SMALL))
    assert "Generate" not in plan
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(source" in plan


def test_curriculum_order_no_global_funnel(spark):
    """corpus_curriculum_order's global sequence number comes from the
    two-phase serial_id (range-bucketed prefix sums) — the executed
    plan partitions by the serial bucket id and never funnels the
    corpus through one partition."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.corpus_curriculum_order(spark, SF_SMALL))
    assert "hashpartitioning(__serial_pid" in plan
    assert "Exchange SinglePartition" not in plan


def test_cardinality_estimate_single_census_topk(spark):
    """join_cardinality_estimate: one census shuffle + a scalar
    broadcast — the top-k is TakeOrderedAndProject, never a global
    sort, and no join of data-sized relations appears."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.join_cardinality_estimate(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    sort_lines = [ln for ln in plan.splitlines()
                  if ln.strip().startswith("Sort ") or "- Sort [" in ln]
    assert not sort_lines, sort_lines


def test_truncated_rerank_no_corpus_product(spark):
    """ann_truncated_rerank: both stages broadcast the query batch —
    the only joins are broadcast joins (stage-1 nested-loop against
    the 8-row query batch, stage-2 hash joins on the shortlist) and
    the per-query windows group-limit; the corpus never joins itself."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.ann_truncated_rerank(spark, SF_SMALL))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2


def test_mixed_language_one_rollup_no_join(spark):
    """text_mixed_language_report: sentence fanout + map-side classify
    + ONE doc-keyed rollup — no join anywhere, a single Exchange."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.text_mixed_language_report(spark, SF_SMALL))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in plan


def test_quality_ablation_generate_above_scalar_agg(spark):
    """corpus_quality_ablation: the per-rule unpivot Generate sits
    ABOVE the keyless scalar aggregate (it explodes a ONE-row
    relation); the corpus-side plan below the exchange is pure map +
    partial aggregate."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.corpus_quality_ablation(spark, SF_SMALL))
    lines = plan.splitlines()
    gen = next(i for i, ln in enumerate(lines) if "Generate" in ln)
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "keys=[]" in ln)
    assert gen < agg, "Generate must consume the 1-row aggregate output"
    assert plan.count("Exchange") == 1


def test_boilerplate_share_content_keyed_shapes(spark):
    """corpus_boilerplate_share: span census + flag join are both
    keyed on span content; no nested-loop shapes, no window."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.corpus_boilerplate_share(spark, SF_SMALL))
    assert "hashpartitioning(span_text" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_grouped_arrow_plan_uses_arrow_exec(spark):
    """grouped_arrow_lang_stats rides the Arrow grouped-map physical
    operator (FlatMapGroupsInArrow/...InPandas family), keyed on lang."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.grouped_arrow_lang_stats(spark, SF_SMALL))
    assert "Arrow" in plan, plan[:1500]
    assert "hashpartitioning(lang" in plan


def test_theta_overlap_pairwise_stage_metadata_sized(spark):
    """agg_theta_sketch_overlap: the corpus-side work is ONE
    partial-aggregated shuffle on event_type; the `<` self-join runs
    over the broadcast 5-row sketch relation (nested loop by
    construction, metadata-sized)."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.agg_theta_sketch_overlap(spark, SF_SMALL))
    assert "hashpartitioning(event_type" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rate_limit_window_group_limit(spark):
    """events_rate_limit_sample's cap compiles to WindowGroupLimit —
    flood rows are discarded streaming at the shuffle reader."""
    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions as XX

    plan = _plan(XX.events_rate_limit_sample(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan
    assert "Exchange SinglePartition" not in plan


def test_scd2_apply_single_full_outer_join_then_explode(spark):
    """etl_scd2_apply is ONE full-outer SMJ on the business key (full
    outer cannot broadcast-hash, so two key exchanges is the minimal
    plan) and the version fan-out is a generate above it — no second
    join, no window, no post-explode reshuffle."""
    df = X.etl_scd2_apply(spark, SF_SMALL)
    plan = _plan(df)
    assert "FullOuter" in plan
    assert "Window" not in plan
    assert plan.count("Join") == 1
    assert "Generate explode" in plan
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(exchanges) == 2, exchanges


def test_quarantine_split_zero_shuffle_single_stage(spark):
    """etl_quarantine_split is a pure narrow map + filter: zero
    exchanges, zero joins, and the rule predicates fused into the
    scan's WholeStageCodegen."""
    df = X.etl_quarantine_split(spark, SF_SMALL)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.lstrip().startswith("*(1)")   # codegen stage 1 = whole plan


def test_drift_psi_aggregates_before_everything(spark):
    """table_drift_psi: both snapshots collapse to 12-row bin censuses
    (partial+final hash-agg per side) BEFORE joining onto the 12-row
    bin spine (broadcast, both of them) and the totals window — the
    corpus itself never joins, never windows."""
    df = X.table_drift_psi(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4    # partial+final, each side
    assert plan.count("BroadcastHashJoin") == 2  # censuses onto the spine
    assert "Window" in plan
    # the single-partition exchange feeds the 12-row post-agg relation,
    # so it must sit ABOVE the joins in the tree (printed plans indent
    # children below parents: SinglePartition precedes the join lines)
    assert plan.index("SinglePartition") < plan.index("Join")


def test_sample_bernoulli_zero_shuffle(spark):
    """sample_bernoulli is a pure scan + codegen'd filter: the hash
    threshold evaluates inside the scan's WholeStageCodegen with no
    exchange anywhere — the only sampler shape that costs exactly one
    pass at 100 TB."""
    df = R.sample_bernoulli(spark, SF_SMALL)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.lstrip().startswith("*(1)")   # one codegen stage, whole plan


def test_events_funnel_single_event_shuffle(spark):
    """events_funnel: the chained conditional-min windows and the
    per-user reduce all ride ONE hashpartitioning(user_id) exchange —
    the event log shuffles exactly once; the only other exchange is
    the keyless final aggregate's SinglePartition over per-user rows."""
    df = R.events_funnel(spark, SF_SMALL)
    plan = _plan(df)
    assert "Join" not in plan
    assert plan.count("Window") == 3
    data_exchanges = [ln for ln in plan.splitlines()
                      if "Exchange hashpartitioning" in ln]
    assert len(data_exchanges) == 1, data_exchanges
    assert "user_id" in data_exchanges[0]


def test_cohort_retention_single_event_shuffle_no_join(spark):
    """events_cohort_retention's r10 upgrade claim: the event log
    collapses in ONE hashpartitioning(user_id) exchange (min +
    collect_set, map-side combined); no join, no count-distinct
    Expand, no single-partition funnel — the later exchange moves only
    the (cohort, offset) census."""
    df = R.events_cohort_retention(spark, SF_SMALL)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Expand" not in plan
    assert "SinglePartition" not in plan
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert sum("user_id" in ln for ln in ex) == 1
    assert len(ex) == 2, ex


# --------------------------------------------------------------------------
# VERDICT r11 #1: mechanize the no-default-arg-lambdas-in-Spark-HOFs rule.
#
# The r11 bug class is SILENT: pyspark's higher-order functions invoke the
# Python callable eagerly to build the Catalyst lambda, and a callable whose
# arity is 2 (including defaults! inspect.signature counts them) is called
# as (element, index) — so `lambda s, i=i: ...` inside F.transform silently
# binds the array-index column to `i`, shadowing the captured default.  The
# repaired code uses closure factories (operators/dedup.py); every
# planted-recall test kept passing while LSH was degenerate, so prose +
# code comments are not enough.  This AST lint fails on ANY lambda carrying
# a default argument passed (directly or nested) to a Spark HOF anywhere in
# the package or in the repo-root entry/bench/tools files.

# Spark SQL higher-order functions that take Python callables and re-call
# them with (element, index) / (key, value) depending on declared arity.
_SPARK_HOF_NAMES = frozenset({
    "transform", "filter", "aggregate", "reduce", "exists", "forall",
    "zip_with", "map_filter", "map_zip_with", "transform_keys",
    "transform_values", "array_sort",
})


def _hof_default_arg_lambda_offenses(source: str, filename: str):
    """All (file:line, hof_name) sites where a lambda with a positional
    or keyword-only default is an argument of a call to a Spark-HOF
    name.  Name-based on purpose: `F.transform`, bare `transform` from
    a star/aliased import, and any wrapper re-exporting the name all
    match — false positives are cheap (rewrite as a closure factory),
    false negatives re-open the r11 bug class."""
    import ast

    offenses = []
    tree = ast.parse(source, filename=filename)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else (
            fn.id if isinstance(fn, ast.Name) else None)
        if name not in _SPARK_HOF_NAMES:
            continue
        for arg in list(node.args) + [kw.value for kw in node.keywords]:
            if isinstance(arg, ast.Lambda) and (
                    arg.args.defaults
                    or any(d is not None for d in arg.args.kw_defaults)):
                offenses.append(
                    f"{filename}:{arg.lineno}: lambda with a default "
                    f"argument passed to Spark HOF {name}(...) — its "
                    f"arity is 2+, so pyspark calls it as (element, "
                    f"index[, ...]), silently shadowing the default; "
                    f"use a closure factory instead")
    return offenses


def test_no_default_arg_lambdas_in_spark_hofs_suite_wide():
    """Suite-wide AST lint over every .py under the package plus the
    repo-root driver surfaces (bench.py, __spark_entry__.py, tools/).
    Zero tolerance: a flagged site is the r11 minhash-degeneracy bug
    class waiting to happen, whether or not today's tests notice."""
    import os

    import city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark as pkg

    pkg_root = os.path.dirname(os.path.abspath(pkg.__file__))
    repo_root = os.path.dirname(pkg_root)
    roots = [pkg_root, os.path.join(repo_root, "tools")]
    files = [os.path.join(repo_root, "bench.py"),
             os.path.join(repo_root, "__spark_entry__.py")]
    for root in roots:
        for dirpath, _, names in os.walk(root):
            files.extend(os.path.join(dirpath, n)
                         for n in names if n.endswith(".py"))
    assert files
    offenses = []
    for path in sorted(set(files)):
        with open(path, encoding="utf-8") as fh:
            offenses.extend(_hof_default_arg_lambda_offenses(
                fh.read(), os.path.relpath(path, repo_root)))
    assert not offenses, "\n".join(offenses)


def test_hof_default_arg_lambda_lint_fires_on_planted_offenders():
    """The lint must actually fire (a lint that can't fail proves
    nothing): planted offenders cover the exact r11 shape
    (`lambda s, i=i:` inside F.transform), a keyword-only default, a
    bare-name HOF import, and a lambda nested inside another HOF's
    body — while the repaired closure-factory form stays clean."""
    planted = (
        "import pyspark.sql.functions as F\n"
        "def sig(col):\n"
        "    outs = []\n"
        "    for i in range(16):\n"
        "        outs.append(F.transform(col, lambda s, i=i: s * i))\n"
        "    row = F.filter(col, lambda x, *, k=3: x > k)\n"
        "    nested = F.transform(col, lambda xi: F.zip_with(\n"
        "        col, col, lambda a, b, w=2: a + b * w))\n"
        "    return outs, row, nested\n"
    )
    got = _hof_default_arg_lambda_offenses(planted, "planted.py")
    assert len(got) == 3, got
    # ast.walk is breadth-first — match sites order-independently
    assert any("planted.py:5" in o and "transform" in o for o in got), got
    assert any("planted.py:6" in o and "filter" in o for o in got), got
    assert any("planted.py:8" in o and "zip_with" in o for o in got), got

    bare_import = (
        "from pyspark.sql.functions import transform\n"
        "def f(col, i):\n"
        "    return transform(col, lambda s, j=i: s * j)\n"
    )
    assert len(_hof_default_arg_lambda_offenses(bare_import, "b.py")) == 1

    clean = (
        "import pyspark.sql.functions as F\n"
        "def _scaled(i):\n"
        "    return lambda s: s * i   # closure factory: arity stays 1\n"
        "def sig(col):\n"
        "    return [F.transform(col, _scaled(i)) for i in range(16)]\n"
    )
    assert _hof_default_arg_lambda_offenses(clean, "clean.py") == []


def test_rp_lsh_sqltwin_corpus_never_shuffles_before_candidates(spark):
    """ann_lsh_topk_sqltwin's scale claim: the corpus computes its
    sign-RP buckets map-side and meets the QUERY-side bucket relation
    via a broadcast join — so candidate generation moves zero corpus
    rows; the only shuffle exchanges in the whole plan are keyed on
    q_id (the candidate dedup / top-k / recall stages, all candidate-
    sized) or are keyless scalar-aggregate funnels (one row per
    partition).  The signature stage is pure Catalyst HOFs — no
    Python anywhere in the plan (BatchEvalPython/ArrowEvalPython)."""
    df = X.ann_lsh_topk_sqltwin(spark, SF_SMALL)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert shuffles
    for ln in shuffles:
        assert ("hashpartitioning(q_id" in ln
                or "SinglePartition" in ln), f"corpus-side shuffle: {ln}"

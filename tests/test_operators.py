"""Operator-level unit tests: as-of join semantics, range-join binning,
dedup ground truth vs probabilistic dedupers, ANN recall vs brute
force, multimodal plumbing, streaming parity with batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
    hash_dedup,
    minhash_lsh_pairs,
    simhash_near_pairs,
    token_jaccard_pairs,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.joins import (
    asof_join,
    range_join_binned,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
    attach_media_columns,
    decode_and_extract,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
    read_parquet_table,
)
from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.streaming.windows import (
    run_tumbling_count_stream,
)

from .conftest import SF_SMALL


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 10)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (2, 50, "z")], ["k", "rt", "payload"])
    out = {(r.k, r.t): r.payload
           for r in asof_join(left, right, on="k", left_time="t",
                              right_time="rt", payload_cols=["payload"])
                    .collect()}
    assert out[(1, 10)] == "a"      # equality inclusive
    assert out[(1, 20)] == "b"      # latest ≤ 20
    assert out[(1, 5)] is None      # nothing before
    assert out[(2, 10)] is None     # right row is in the future


def test_range_join_binned(spark):
    points = spark.createDataFrame([(5,), (15,), (25,), (99,)], ["p"])
    intervals = spark.createDataFrame(
        [(0, 10, "lo"), (10, 30, "mid")], ["lo", "hi", "tag"])
    out = {(r.p, r.tag) for r in
           range_join_binned(points, intervals, "p", "lo", "hi", "7").collect()}
    assert out == {(5, "lo"), (15, "mid"), (25, "mid")}


def test_hash_dedup_collapses_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"])
    rows = {r.doc_id: r.dup_count for r in hash_dedup(df, "text", "doc_id").collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Plant near-duplicate pairs; LSH candidates must include them
    (recall check vs exact token Jaccard)."""
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    # plant: copy of doc with one token changed
    base = docs.limit(20).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"))
    corpus = base.unionByName(mutated)
    pairs = {(r.id_a, r.id_b)
             for r in minhash_lsh_pairs(corpus, "text", "doc_id",
                                        jaccard_distance_threshold=0.4).collect()}
    planted = {(i, i + 100000) for i in
               [r.doc_id for r in base.collect()]}
    found = planted & pairs
    assert len(found) >= len(planted) * 0.8  # probabilistic, high recall


def test_minhash_signature_stage_sound(spark):
    """Regression gate for the r11 two-parameter-lambda bug: a
    ``lambda s, i=i:`` inside ``F.transform`` silently receives the
    ARRAY INDEX as ``i`` (PySpark calls two-arg lambdas as
    (element, index)), which (a) collapses all num_hashes functions
    onto per-position seeds — every band hash of a doc becomes
    identical — and (b) for the md5 family bakes ``str(Column)`` (a
    per-build lambda-variable name) into the hash input, so two
    separately built DataFrames hash the SAME text differently and
    the bipartite band join finds zero cross-side collisions.

    Three properties pin the fix:
    1. per-doc band hashes are DISTINCT across bands (the collapse
       made all 8 identical);
    2. two independently constructed builds produce identical banded
       relations (the name-embedding made them differ);
    3. the md5 family equals a pure-Python md5 recompute of the
       same geometry, bit for bit."""
    import hashlib

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        _minhash_banded,
    )

    df = spark.createDataFrame([(1, "aa bb cc dd ee")],
                               "doc_id: long, text: string")
    for fam in ("xxhash64", "md5"):
        builds = []
        for _ in range(2):
            b, _s = _minhash_banded(df, "text", "doc_id", 3, 8, 2, 42,
                                    hash_family=fam)
            builds.append(sorted((r.band_idx, r.band_hash)
                                 for r in b.collect()))
        assert builds[0] == builds[1], fam          # cross-build stable
        assert len({h for _, h in builds[0]}) == 8, fam  # bands distinct

    shingles = ["aa bb cc", "bb cc dd", "cc dd ee"]
    sig = [min(int(hashlib.md5(f"{s}|{42 + k}".encode()).hexdigest()[:15],
                   16) for s in shingles) for k in range(16)]
    want = sorted((bi, f"{sig[2 * bi]}:{sig[2 * bi + 1]}")
                  for bi in range(8))
    b, _s = _minhash_banded(df, "text", "doc_id", 3, 8, 2, 42,
                            hash_family="md5")
    assert sorted((r.band_idx, r.band_hash) for r in b.collect()) == want


def test_minhash_md5_family_is_same_detector(spark):
    """dedup_minhash_lsh_sqltwin's md5 hash family (the cross-engine
    oracle promotion, VERDICT r10 #1) is the SAME detector as the
    production xxhash64 family: planted near-dups are recalled >= 0.8
    under both families, and on pairs BOTH families surface, the exact
    shingle-Jaccard verify emits bit-identical distances — the verify
    stage is hash-independent; only candidate generation varies."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        minhash_lsh_pairs_native,
    )

    docs = read_parquet_table(spark, SF_SMALL, "documents")
    base = docs.limit(20).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"))
    corpus = base.unionByName(mutated)
    fam = {}
    for family in ("xxhash64", "md5"):
        fam[family] = {(r.id_a, r.id_b): r.jaccard_distance
                       for r in minhash_lsh_pairs_native(
                           corpus, "text", "doc_id",
                           max_exact_jaccard_distance=0.5,
                           hash_family=family).collect()}
    planted = {(i, i + 100000) for i in [r.doc_id for r in base.collect()]}
    for family, pairs in fam.items():
        assert len(planted & set(pairs)) >= len(planted) * 0.8, family
    common = set(fam["xxhash64"]) & set(fam["md5"])
    assert len(common) >= len(planted) * 0.8
    for p in common:
        assert fam["xxhash64"][p] == fam["md5"][p]


def test_simhash_near_pairs_on_planted(spark):
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    base = docs.limit(10).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"))
    corpus = base.unionByName(mutated)
    pairs = simhash_near_pairs(corpus, "text", "doc_id")
    close = {(r.id_a, r.id_b) for r in pairs.where(F.col("hamming") <= 16).collect()}
    planted = {(i, i + 100000) for i in [r.doc_id for r in base.collect()]}
    assert len(planted & close) >= len(planted) * 0.8


def test_token_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "en", 7), (2, "a b c e", "en", 7), (3, "x y", "en", 3)],
        ["doc_id", "text", "lang", "n_chars"])
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in token_jaccard_pairs(df, "text", "doc_id",
                                          block_cols=["lang"],
                                          min_jaccard=0.1).collect()}
    assert pairs[(1, 2)] == 0.6     # |{a,b,c}| / |{a,b,c,d,e}|
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 10) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r.q_id, r.vec_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    approx = {(r.q_id, r.vec_id)
              for r in lsh_topk(queries, emb, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # candidate union over 4 tables; tuned loose


def test_rp_lsh_topk_recall_both_plane_families(spark):
    """rp_lsh_topk (VERDICT r11 #2, the native sign-RP operator behind
    ann_lsh_topk_sqltwin): both plane families — cross-engine "knuth"
    and production "xxhash64" — must return full k rows per query and
    beat the 0.6 recall floor the entry's assert_true pins; the two
    families share every code path except the plane-component hash."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.similarity import (
        rp_lsh_topk,
    )

    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 20) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r.q_id, r.vec_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    for family in ("knuth", "xxhash64"):
        rows = rp_lsh_topk(queries, emb, k=5,
                           plane_family=family).collect()
        approx = {(r.q_id, r.vec_id) for r in rows}
        assert len(approx) == len(exact), family  # full k per query
        assert len(exact & approx) / len(exact) >= 0.6, family


def test_rp_lsh_entry_recall_floor_assert_fires(spark):
    """The ann_lsh_topk_sqltwin recall guard is load-bearing: on a
    degenerate 'LSH' whose buckets are junk the assert_true floor must
    raise, not return plausible rows.  Simulated by re-running the
    entry arithmetic with an approx set disjoint from the exact top-k
    (impossible bucket geometry stand-in)."""
    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 20) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = brute_force_topk(queries, emb, k=5).select("q_id", "vec_id")
    # worst-k per query: guaranteed disjoint from the exact top-5
    # (corpus is far larger than 2k), so recall == 0 < 0.6
    from pyspark.sql import Window

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.vectors import (
        as_double,
        cosine,
    )
    qv = queries.select("q_id", as_double("embedding").alias("__qv"))
    cv = emb.select("vec_id", as_double("embedding").alias("__cv"))
    sims = (cv.crossJoin(F.broadcast(qv))
            .where(F.col("q_id") != F.col("vec_id"))
            .select("q_id", "vec_id",
                    F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
                     .alias("cos_sim")))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").asc(), F.col("vec_id").asc())
    approx = (sims.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= 5).drop("__rn"))
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (exact.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")))
    recall = (n_exact.join(hits, "q_id", "left")
              .agg(F.round(F.avg(F.coalesce(F.col("n_hit"), F.lit(0))
                                 / F.col("n_exact")), 4)
                   .alias("recall_at_k")))
    guarded = (approx.crossJoin(F.broadcast(recall))
               .where(F.coalesce(
                   F.assert_true(F.col("recall_at_k") >= 0.6, "floor"),
                   F.lit(True))))
    with pytest.raises(Exception, match="floor|ASSERT"):
        guarded.collect()


def test_multimodal_plumbing(spark):
    docs = read_parquet_table(spark, SF_SMALL, "documents").limit(10)
    m = attach_media_columns(docs, "text")
    feats = decode_and_extract(m).collect()
    assert len(feats) == 10
    for r in feats:
        assert 16 <= r.width < 256 and 16 <= r.height < 256
        assert r.n_bytes > 0
    # strict mode is the explicit no-codec marker: since VERDICT r3 #7
    # auto-resolution always yields a codec tier, so strict is asserted
    # with codec=None (the pinned registry posture)
    with pytest.raises(Exception, match="codec|NotImplemented"):
        decode_and_extract(m, strict=True, codec=None).collect()


def test_streaming_matches_batch(spark):
    stream_rows = {(r.window_start, r.event_type): (r.n_events, r.sum_value)
                   for r in run_tumbling_count_stream(spark, SF_SMALL).collect()}
    ev = read_parquet_table(spark, SF_SMALL, "events")
    batch = (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 2).alias("s")))
    batch_rows = {(r["w"].start, r.event_type): (r.n, r.s)
                  for r in batch.collect()}
    assert stream_rows == batch_rows


def test_ivf_topk_recall_vs_brute_force(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.similarity import (
        ivf_topk,
    )

    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 10) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r.q_id, r.vec_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    approx = {(r.q_id, r.vec_id)
              for r in ivf_topk(queries, emb, k=5, num_centroids=20,
                                nprobe=4).collect()}
    # random embeddings are the worst case for IVF (no cluster
    # structure); the gate asserts the machinery returns full k per
    # query and beats random-candidate recall
    assert len(approx) == len(exact)
    assert len(exact & approx) / len(exact) >= 0.2


def test_minhash_native_matches_ml_semantics(spark):
    """Native expression MinHash-LSH finds the same planted near-dups
    as the pyspark.ml variant, with exact shingle-Jaccard verification."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        minhash_lsh_pairs_native,
    )

    docs = read_parquet_table(spark, SF_SMALL, "documents")
    base = docs.limit(20).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"))
    corpus = base.unionByName(mutated)
    pairs = {(r.id_a, r.id_b)
             for r in minhash_lsh_pairs_native(
                 corpus, "text", "doc_id",
                 max_exact_jaccard_distance=0.4).collect()}
    planted = {(i, i + 100000) for i in [r.doc_id for r in base.collect()]}
    assert len(planted & pairs) >= len(planted) * 0.8


def _boilerplate_lake(spark, n_boiler: int, n_unique: int = 200,
                      n_planted: int = 20):
    """Planted hot-band corpus (VERDICT r5 #1): ``n_boiler`` docs that
    are one 12-token template plus a single unique trailing token —
    the cookie-banner / license-header shape where most minhashes come
    from the shared shingles and a band bucket accumulates ~half the
    boilerplate docs — plus ``n_unique`` fully-distinct docs, of which
    the first ``n_planted`` get a near-dup twin at id+100000.  Built
    from pure Spark expressions (no driver-side row loop)."""
    template = " ".join(f"tmpl{j}" for j in range(12))
    boiler = spark.range(n_boiler).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(template + " uniq"), F.col("id")).alias("text"))
    uniq = spark.range(1_000, 1_000 + n_unique).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("w"), (F.col("id") * 12 + j).cast("string"))
            for j in range(12)]).alias("text"))
    planted_base = uniq.limit(n_planted)
    twins = planted_base.select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"))
    corpus = boiler.unionByName(uniq).unionByName(twins)
    planted = {(r.doc_id, r.doc_id + 100_000)
               for r in planted_base.select("doc_id").collect()}
    return corpus, planted


def test_dedup_cap_recall_report_entry(spark):
    """VERDICT r6 #8: the band-bucket cap's recall cost is a MEASURED
    artifact — the report runs capped vs uncapped LSH over the same
    lake; capped pairs are a subset (the cap only drops band keys), so
    recall = n_capped / n_uncapped and uncapped recall is exactly 1."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        dedup_cap_recall_report,
    )

    rows = {r.variant: r
            for r in dedup_cap_recall_report(spark, SF_SMALL).collect()}
    assert set(rows) == {"uncapped", "capped_512"}
    assert rows["uncapped"].recall == 1.0
    u, c = rows["uncapped"].n_pairs, rows["capped_512"].n_pairs
    assert 0 <= c <= u
    assert rows["capped_512"].recall == round(c / max(u, 1), 4)


def test_minhash_band_cap_bounds_hot_bucket_blowup(spark):
    """Skew defense for the LSH band join (VERDICT r5 #1), executed on
    a planted boilerplate lake where one template dominates 600 docs:

    1. UNCAPPED, the hot band buckets emit a quadratic pair set over
       the boilerplate docs (the degenerate behavior, proven here);
    2. with ``max_band_bucket=64`` those buckets are dropped and the
       boilerplate pair count collapses by orders of magnitude;
    3. recall on planted near-dups OUTSIDE the hot buckets is
       untouched (their buckets are width ≤ 2, far under any cap)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        minhash_lsh_pairs_native,
    )

    n_boiler = 600
    corpus, planted = _boilerplate_lake(spark, n_boiler)

    def boiler_pairs(rows):
        return sum(1 for r in rows
                   if r.id_a < n_boiler and r.id_b < n_boiler)

    uncapped = minhash_lsh_pairs_native(
        corpus, "text", "doc_id", max_exact_jaccard_distance=0.5).collect()
    capped = minhash_lsh_pairs_native(
        corpus, "text", "doc_id", max_exact_jaccard_distance=0.5,
        max_band_bucket=64).collect()

    # quadratic blowup without the cap: ≥ 10k pairs from 600 docs
    # (linear behavior would be O(n_boiler) ≈ 600)
    assert boiler_pairs(uncapped) >= 10_000
    # cap drops every template-hot bucket; survivors can only pair in
    # sub-cap buckets (near-unique band keys), which are width ~1
    assert boiler_pairs(capped) <= 1_000
    # planted near-dups are unaffected: their buckets have width 2
    found = {(r.id_a, r.id_b) for r in capped} & planted
    assert len(found) >= len(planted) * 0.8


def test_dedup_clusters_transitive(spark):
    """a~b and b~c (but not a~c directly) must land in one cluster."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        dedup_clusters,
    )

    nodes = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], ["id_a", "id_b"])
    got = {r.doc_id: r.cluster_id
           for r in dedup_clusters(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_redact_pii_masks(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        redact_pii,
    )

    df = spark.createDataFrame(
        [(1, "mail me at a.b@example.com or call 5551234567"),
         (2, "card 4111111111111111 ok"),
         (3, "clean text")], ["i", "t"])
    got = {r.i: r.c for r in df.select("i", redact_pii("t").alias("c")).collect()}
    assert got[1] == "mail me at <EMAIL> or call <NUM>"
    assert got[2] == "card <CARD> ok"
    assert got[3] == "clean text"


def test_udtf_tokenize_with_offsets(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.udtfs import (
        TokenizeWithOffsets,
    )

    spark.udtf.register("tokenize_offsets", TokenizeWithOffsets)
    rows = spark.sql(
        "SELECT t.* FROM tokenize_offsets('hello  spark world') AS t"
    ).collect()
    assert [(r.token, r.pos, r.char_offset) for r in rows] == [
        ("hello", 0, 0), ("spark", 1, 7), ("world", 2, 13)]

    # lateral join over a table
    spark.createDataFrame([(1, "a bb"), (2, None)], ["i", "txt"]) \
         .createOrReplaceTempView("docs_tiny")
    out = spark.sql("""
        SELECT i, t.token, t.pos FROM docs_tiny,
        LATERAL tokenize_offsets(txt) AS t
    """).collect()
    assert {(r.i, r.token, r.pos) for r in out} == {(1, "a", 0), (1, "bb", 1)}


def test_asof_join_rejects_payload_collision(spark):
    """A payload column sharing a name with a left column would emit
    duplicate output columns — rejected up front (ADVICE r1)."""
    left = spark.createDataFrame([(1, 10, "a")], ["k", "t", "p"])
    right = spark.createDataFrame([(1, 5, "b")], ["k", "rt", "p"])
    with pytest.raises(ValueError, match="payload_cols"):
        asof_join(left, right, on="k", left_time="t",
                  right_time="rt", payload_cols=["p"])


def test_stateful_final_state_is_rowwise_not_columnwise(spark):
    """final_user_state must pick the row of the last update (max
    n_events), not independent column maxima — with negative event
    values the max total is not the final total (ADVICE r1)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.streaming.stateful import (
        final_user_state,
    )
    updates = spark.createDataFrame(
        [(7, 1, 10.0), (7, 2, 4.0), (7, 3, -6.0),   # totals shrink
         (8, 1, 1.0)],
        ["user_id", "n_events", "total_value"])
    rows = {r.user_id: (r.n_events, r.total_value)
            for r in final_user_state(updates).collect()}
    assert rows == {7: (3, -6.0), 8: (1, 1.0)}


def test_serial_id_two_phase_matches_global_window(spark):
    """operators/ids.py must equal row_number() OVER (ORDER BY keys)
    including duplicate leading keys resolved by the tiebreak column."""
    from pyspark.sql import Window

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )
    data = [(i % 17, i) for i in range(1000)]      # dup lead keys
    df = spark.createDataFrame(data, ["k", "tie"])
    got = {(r.k, r.tie): r.id
           for r in serial_id(df, ["k", "tie"], num_ranges=8).collect()}
    w = Window.orderBy("k", "tie")
    want = {(r.k, r.tie): r.id for r in df.withColumn(
        "id", F.row_number().over(w).cast("long")).collect()}
    assert got == want


def test_two_phase_offsets_are_lazy_one_eager_job(spark):
    """r13 (guide §5, VERDICT r12 #3): building a two-phase
    ``serial_id``/``prefix_sum`` plan fires at most the boundary
    quantile sketch plus (only under heavy leading-key ties) the ONE
    batched tie sub-sketch — the per-bucket counts/sums and their
    running offsets must stay lazy subtrees of the main job, not an
    eager ``collect()`` round-trip."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        prefix_sum,
    )

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (
        scoped_persist,
    )

    tracker = spark.sparkContext.statusTracker()

    def jobs_during(build):
        j0 = len(tracker.getJobIdsForGroup(None))
        out = build()
        return out, len(tracker.getJobIdsForGroup(None)) - j0

    # baseline: the boundary sketch alone (persist + approxQuantile on
    # an identical clone — the session may charge extra jobs for local-
    # data conversion/cache materialization, so the gate is RELATIVE)
    uniq = spark.createDataFrame(
        [(i, i) for i in range(500)], ["k", "tie"])
    _, n_sketch = jobs_during(
        lambda: scoped_persist(uniq.withColumn("__s", F.col("k")
                                               .cast("double")))
        .stat.approxQuantile("__s", [i / 8 for i in range(1, 8)],
                             1.0 / 800))
    # unique lead key: no heavy ties -> the build fires ONLY the
    # sketch's own jobs; the counts/offsets must add ZERO eager jobs
    uniq2 = spark.createDataFrame(
        [(i, i + 1) for i in range(500)], ["k", "tie"])
    df_u, n_uniq = jobs_during(lambda: serial_id(uniq2, ["k", "tie"],
                                                 num_ranges=8))
    assert n_uniq <= n_sketch, (
        f"two-phase build fired {n_uniq} eager jobs vs {n_sketch} for "
        "the boundary sketch alone - the offsets regressed to eager")
    # the offsets live in the plan as the broadcast theta self-join
    # (a driver-collected offsets relation would print as a broadcast
    # over a LocalTableScan and plan no BNLJ)
    plan = df_u._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan

    # heavy duplicate lead keys: sketch + ONE batched tie sub-sketch
    dup = spark.createDataFrame(
        [(i % 3, i) for i in range(500)], ["k", "tie"])
    df_dup, n_dup = jobs_during(lambda: prefix_sum(dup, "tie", ["k", "tie"],
                                                   num_ranges=8))
    assert n_dup <= n_sketch + 2, (
        "expected at most the sketch's jobs plus the ONE batched tie "
        f"sub-sketch aggregate (which AQE may run as 2 jobs): "
        f"{n_sketch}+2, got {n_dup}")
    # and the lazily-joined offsets still produce the exact prefix sums
    from pyspark.sql import Window
    w = (Window.orderBy("k", "tie")
         .rowsBetween(Window.unboundedPreceding, 0))
    want = {(r.k, r.tie): r.c for r in dup.withColumn(
        "c", F.sum(F.col("tie").cast("long")).over(w)).collect()}
    got = {(r.k, r.tie): r.prefix_sum for r in df_dup.collect()}
    assert got == want
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (
        release_persisted,
    )
    release_persisted()


def test_loader_zero_token_docs_are_inert(spark, tmp_path):
    """ADVICE r12 #2: zero-token docs (null text — the only way to
    carry 0 tokens under whitespace tokenization) must be INERT in the
    loader: they carry no tokens, so filtering them before the budget
    cut changes nothing — while ADMITTING them would both break the
    ≤-budget boundedness of the downstream bounded_input windows and
    feed start == end rows into the descending-F.sequence packing edge
    (sequence(a, a-1) emits spurious rows).  Gate: the pipeline on a
    lake WITH planted null-text docs (which sort FIRST under the
    quality order — nulls-first ascending neg_q — i.e. straight into
    the selected prefix) equals the pipeline on the same lake without
    them."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (
        release_persisted,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_loader_pipeline,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, SF_SMALL, "documents")
    planted = docs.unionByName(
        spark.createDataFrame(
            [(100_000 + i, None, "en", "planted", 0) for i in range(5)],
            docs.schema))
    clean_dir, planted_dir = str(tmp_path / "clean"), str(tmp_path / "planted")
    for d, frame in ((clean_dir, docs), (planted_dir, planted)):
        import os
        os.makedirs(d, exist_ok=True)
        frame.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet"))
    want = sorted(map(tuple, corpus_loader_pipeline(spark, clean_dir).collect()))
    release_persisted()
    got = sorted(map(tuple, corpus_loader_pipeline(spark, planted_dir).collect()))
    release_persisted()
    assert got == want and len(got) > 0


def test_bounded_input_mode_matches_two_phase(spark):
    """r12: ``bounded_input=True`` (the zero-eager-job single-window
    plan for caller-proven metadata-scale inputs, used by
    corpus_loader_pipeline's budget-bounded stages) must return values
    BIT-IDENTICAL to the default two-phase plan for both serial_id and
    prefix_sum — including stop_after's exact row-drop semantics — and
    its plan must contain none of the two-phase machinery's eager
    artifacts (no quantile sketch columns, no offsets join)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        prefix_sum,
    )

    data = [((i * 37) % 101, i, i % 5 + 1) for i in range(200)]
    df = spark.createDataFrame(data, ["k", "tie", "w"])

    two = {(r.k, r.tie): r.id
           for r in serial_id(df, ["k", "tie"], num_ranges=8).collect()}
    bnd = {(r.k, r.tie): r.id
           for r in serial_id(df, ["k", "tie"],
                              bounded_input=True).collect()}
    assert bnd == two

    twop = {(r.k, r.tie): r.c
            for r in prefix_sum(df, "w", ["k", "tie"], out_col="c",
                                num_ranges=8).collect()}
    bndp = {(r.k, r.tie): r.c
            for r in prefix_sum(df, "w", ["k", "tie"], out_col="c",
                                bounded_input=True).collect()}
    assert bndp == twop

    # stop_after parity: identical retained rows and values
    cut = 120
    twos = {(r.k, r.tie): r.c
            for r in prefix_sum(df, "w", ["k", "tie"], out_col="c",
                                num_ranges=8, stop_after=cut).collect()
            if r.c - r.w < cut}
    bnds = {(r.k, r.tie): r.c
            for r in prefix_sum(df, "w", ["k", "tie"], out_col="c",
                                bounded_input=True,
                                stop_after=cut).collect()}
    assert bnds == twos
    assert bnds and max(v for v in bnds.values()) >= cut  # cut really bit

    # zero eager machinery: the bounded plan is one window, no
    # broadcast offsets join, no __serial/__ps helper columns
    plan = (serial_id(df, ["k", "tie"], bounded_input=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" not in plan
    assert "__serial" not in plan


def test_serial_id_skewed_leading_key(spark):
    """VERDICT r2 #5: 90% of rows share one leading-key value. Ids must
    stay correct (equal to the global-window ids) and the duplicate
    mass must land in exactly ONE bucket (the documented contract:
    equal leading-key values always share a bucket), with the rest of
    the domain still spread over multiple buckets — skew degrades one
    bucket, it does not collapse the plan to a single partition."""
    from pyspark.sql import Window

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        _PID,
        serial_id,
    )
    data = [(0 if i % 10 else i, i) for i in range(2000)]  # 90% k=0
    df = spark.createDataFrame(data, ["k", "tie"])
    got = {(r.k, r.tie): r.id
           for r in serial_id(df, ["k", "tie"], num_ranges=16).collect()}
    w = Window.orderBy("k", "tie")
    want = {(r.k, r.tie): r.id for r in df.withColumn(
        "id", F.row_number().over(w).cast("long")).collect()}
    assert got == want

    # bucket-shape contract: rebuild the tagging the operator uses
    n = 16
    probs = [i / n for i in range(1, n)]
    bounds = sorted(set(df.stat.approxQuantile("k", probs, 1.0 / (100 * n))))
    barr = F.array(*[F.lit(b).cast("double") for b in bounds])
    tagged = df.withColumn(
        _PID, F.size(F.filter(barr, lambda b: b < F.col("k").cast("double"))))
    by_bucket = {r[_PID]: r["cnt"] for r in
                 tagged.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()}
    dup_buckets = {r[_PID] for r in
                   tagged.where(F.col("k") == 0).select(_PID).distinct()
                   .collect()}
    assert len(dup_buckets) == 1            # all dups share one bucket
    (dup_bucket,) = dup_buckets
    assert by_bucket[dup_bucket] >= 1800    # the skewed mass, intact
    assert len(by_bucket) >= 3              # the tail still fans out


def test_serial_id_rejects_non_numeric_leading_key(spark):
    """ADVICE r2: a string leading key must fail fast with a clear
    message, not an opaque approxQuantile error."""
    import pytest as _pytest

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "tie"])
    with _pytest.raises(TypeError, match="must be numeric"):
        serial_id(df, ["k", "tie"])


def test_serial_id_eager_mode_unpersists(spark):
    """ADVICE r3: eager=True materializes the ids (localCheckpoint),
    unpersists the internal tagged cache before returning, and still
    yields the exact SERIAL sequence."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )

    df = spark.createDataFrame([(i % 7, i) for i in range(500)], ["k", "tie"])
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = serial_id(df, ["k", "tie"], num_ranges=4, eager=True)
    # the tagged persist is gone; only the localCheckpoint RDD remains,
    # and it is not the operator's internal MEMORY_AND_DISK cache pin
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1
    ids = sorted(r.id for r in out.collect())
    assert ids == list(range(1, 501))


def test_ivf_centroid_budget_independent_of_corpus(spark):
    """VERDICT r1 #3: the centroid count must not scale with the
    corpus — same fixed budget regardless of corpus size."""
    import random

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.similarity import (
        ivf_topk,
    )
    rng = random.Random(7)

    def corpus(n):
        return spark.createDataFrame(
            [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(n)],
            "vec_id long, embedding array<double>")

    small, big = corpus(100), corpus(1000)
    q = small.limit(3).select(F.col("vec_id").alias("q_id"), "embedding")
    for c in (small, big):
        out = ivf_topk(q, c, k=3, num_centroids=16, nprobe=2)
        # full k per query on both sizes, same budget
        assert out.groupBy("q_id").count().agg(F.min("count")).first()[0] == 3


def test_token_jaccard_block_size_guard(spark):
    """VERDICT r1 #5 + r6 #4: oversized blocks fail fast with the
    contract error under ``strict=True``; by default they DEGRADE to
    the banded-LSH candidate path and still return (exact-verified)
    pairs."""
    df = spark.createDataFrame(
        [(i, "a b c", "en") for i in range(10)], ["doc_id", "text", "lang"])
    with pytest.raises(Exception, match="max_block_size"):
        token_jaccard_pairs(df, "text", "doc_id", block_cols=["lang"],
                            min_jaccard=0.5, max_block_size=5,
                            strict=True).collect()
    # default (degrade): identical docs collide in every band, the
    # bucket is far under degrade_max_band_bucket, so the LSH detour
    # recovers the complete pair set with exact jaccard 1.0
    deg = token_jaccard_pairs(df, "text", "doc_id", block_cols=["lang"],
                              min_jaccard=0.5, max_block_size=5).collect()
    assert len(deg) == 45 and all(r.jaccard == 1.0 for r in deg)
    ok = token_jaccard_pairs(df, "text", "doc_id", block_cols=["lang"],
                             min_jaccard=0.5, max_block_size=10)
    assert ok.count() == 45          # 10 choose 2, all identical texts
    with pytest.raises(ValueError, match="block_cols"):
        token_jaccard_pairs(df, "text", "doc_id", block_cols=[])
    # ADVICE r3: jaccard-0 (token-disjoint) pairs are unreachable under
    # prefix filtering, so a non-positive threshold is rejected up front
    with pytest.raises(ValueError, match="min_jaccard"):
        token_jaccard_pairs(df, "text", "doc_id", block_cols=["lang"],
                            min_jaccard=0.0)


def test_token_jaccard_oversized_block_degrades_with_recall(spark):
    """VERDICT r6 #4, planted hot-block lake: one (lang) block far over
    ``max_block_size`` (the one-dominant-language × popular-length-band
    scenario) plus a normal sub-cap block.

    - default mode COMPLETES (no raise_error availability hazard) and
      returns the sub-cap block's exact-complete pair set;
    - recall inside the hot block is ≥ 0.9 vs the brute-force truth
      (minhash over single-token features at jac ≈ 0.9: per-band
      collision 0.81, 8 bands → ~1.0 before cap losses);
    - every returned jaccard is still the EXACT token-set value;
    - strict=True keeps the fail-fast contract on the same lake."""
    # hot 'en' block: 40 docs sharing a 20-token template, one varying
    # token each → pairwise token jaccard 19/21 ≈ 0.905
    template = " ".join(f"t{j}" for j in range(19))
    hot = [(i, f"{template} only{i}", "en") for i in range(40)]
    # sub-cap 'fr' block: 4 docs, two of them near-dup twins
    fr = [(100, "un deux trois quatre cinq six sept", "fr"),
          (101, "un deux trois quatre cinq six huit", "fr"),
          (102, "aa bb cc dd ee ff gg", "fr"),
          (103, "zz yy xx ww vv uu tt", "fr")]
    df = spark.createDataFrame(hot + fr, ["doc_id", "text", "lang"])

    with pytest.raises(Exception, match="max_block_size"):
        token_jaccard_pairs(df, "text", "doc_id", block_cols=["lang"],
                            min_jaccard=0.5, max_block_size=20,
                            strict=True).collect()

    rows = token_jaccard_pairs(df, "text", "doc_id", block_cols=["lang"],
                               min_jaccard=0.5, max_block_size=20).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    # sub-cap block: exact-complete (prefix path untouched)
    assert got[(100, 101)] == round(6 / 8, 4)
    assert all(not (100 <= a <= 103 and 100 <= b <= 103)
               for (a, b) in got if (a, b) != (100, 101))
    # hot block: brute-force truth is all 780 pairs at jac 19/21
    hot_pairs = {(a, b) for (a, b) in got if a < 40 and b < 40}
    assert len(hot_pairs) >= 0.9 * 780
    assert all(got[p] == round(19 / 21, 4) for p in hot_pairs)


def test_token_jaccard_healthy_blocks_skip_lsh_detour(spark):
    """r7 probe contract: with no oversized block, non-strict mode must
    keep the exact strict-mode plan — the LSH detour (a Union with a
    second corpus scan in its lineage) costs a full text-column scan
    per execution and may only be attached when the eager census probe
    finds an over-cap block."""
    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} common", "en") for i in range(30)],
        ["doc_id", "text", "lang"])
    healthy = token_jaccard_pairs(df, "text", "doc_id",
                                  block_cols=["lang"], min_jaccard=0.3,
                                  max_block_size=1000)
    plan = healthy._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    hot = token_jaccard_pairs(df, "text", "doc_id",
                              block_cols=["lang"], min_jaccard=0.3,
                              max_block_size=10)
    plan_hot = hot._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan_hot


def test_token_jaccard_degrade_keeps_optimizer_barrier(spark):
    """The raise_error when() is a load-bearing optimizer barrier
    (blocks InferFiltersFromGenerate from poisoning the scan estimate
    and statically broadcasting the candidate side — see the operator
    comment).  Degrade mode makes the raise branch runtime-unreachable
    but it must SURVIVE optimization in the plan."""
    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} common", "en") for i in range(30)],
        ["doc_id", "text", "lang"])
    for strict in (False, True):
        out = token_jaccard_pairs(df, "text", "doc_id",
                                  block_cols=["lang"], min_jaccard=0.3,
                                  max_block_size=1000, strict=strict)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "raise_error" in plan, f"barrier lost (strict={strict})"


def test_multimodal_codec_injection(spark):
    """VERDICT r1 #7: with a codec present (PIL or injected) the real
    decode branch runs; without one the deterministic stub holds, and
    strict mode raises. Works whether or not PIL is installed."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        resolve_codec,
    )

    docs = read_parquet_table(spark, SF_SMALL, "documents").limit(5)
    m = attach_media_columns(docs, "text")

    def fake_codec(raw: bytes):
        return (len(raw) % 100 + 1, 77)

    real = {r.doc_id: (r.width, r.height)
            for r in decode_and_extract(m, codec=fake_codec).collect()}
    for r in m.select("doc_id", F.octet_length("media_bytes").alias("n")).collect():
        assert real[r.doc_id] == (r.n % 100 + 1, 77)
    # auto-resolution: PIL installed -> real codec; absent -> the
    # PNG-or-stub middle tier (never None since VERDICT r3 #7)
    codec = resolve_codec()
    assert codec is not None
    out = decode_and_extract(m).collect()     # must not raise either way
    assert len(out) == 5
    # text payloads are not images -> both tiers give stub dims
    assert all(16 <= r.width < 256 for r in out)


def _make_png(w: int, h: int) -> bytes:
    """Structurally valid PNG bytes: signature, CRC'd IHDR (8-bit RGB),
    zlib IDAT, IEND."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_multimodal_codec_three_tier_resolution():
    """VERDICT r3 #7: resolve_codec() order is PIL → PNG-IHDR → stub.
    Whichever tier resolves, a real PNG yields its true dimensions and
    non-image bytes yield the deterministic stub dims."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        _pil_codec,
        _png_or_stub_codec,
        _stub_dims,
        resolve_codec,
    )

    codec = resolve_codec()
    try:
        import PIL  # noqa: F401
        assert codec is _pil_codec
    except ImportError:
        assert codec is _png_or_stub_codec
    png = _make_png(12, 7)
    # middle tier alone: true dims from the IHDR without any PIL
    assert _png_or_stub_codec(png) == (12, 7)
    assert _png_or_stub_codec(b"not an image") == _stub_dims(b"not an image")
    # whichever tier resolved, real PNG bytes decode to true dims and
    # non-image bytes fall back to the same deterministic stub
    assert codec(png) == (12, 7)
    assert codec(b"not an image") == _stub_dims(b"not an image")


def test_multimodal_real_png_decode(spark):
    """VERDICT r2 #7: decode ACTUAL image bytes (a structurally valid
    PNG file — signature, CRC-checked IHDR, zlib IDAT, IEND), not
    sha-derived fakes, into width/height through the same mapInPandas
    plumbing the registry entry uses."""
    import struct
    import zlib

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        png_header_codec,
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    def make_png(w: int, h: int) -> bytes:
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
        raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    # direct codec call on real bytes
    assert png_header_codec(make_png(8, 5)) == (8, 5)
    assert png_header_codec(make_png(640, 480)) == (640, 480)
    with pytest.raises(ValueError, match="not a PNG"):
        png_header_codec(b"\x89PNGbut-not-really")
    corrupted = bytearray(make_png(8, 5))
    corrupted[16] ^= 0xFF  # flip a width byte -> IHDR CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        png_header_codec(bytes(corrupted))

    # end-to-end through the distributed mapInPandas path
    rows = [(1, make_png(8, 5)), (2, make_png(31, 17)), (3, make_png(2, 9))]
    df = spark.createDataFrame(rows, "doc_id: long, media_bytes: binary")
    got = {r.doc_id: (r.width, r.height, r.n_bytes)
           for r in decode_and_extract(df, codec=png_header_codec).collect()}
    assert got[1][:2] == (8, 5) and got[2][:2] == (31, 17)
    assert got[3][:2] == (2, 9)
    assert all(got[i][2] == len(rows[i - 1][1]) for i in (1, 2, 3))


# -------------------------- corpus curation (VERDICT r4 #3/#4/#6) ---------

def _write_documents(spark, tmp_path, rows):
    """Write a synthetic documents.parquet lake into ``tmp_path`` with
    the lake's column set (doc_id, text, lang, n_chars, source)."""
    df = spark.createDataFrame(
        [(i, t, lang, len(t), src) for i, t, lang, src in rows],
        "doc_id: long, text: string, lang: string, n_chars: int, "
        "source: string")
    df.coalesce(1).write.mode("overwrite") \
      .parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_keep_best_lsh_edges_one_survivor_per_planted_cluster(spark, tmp_path):
    """VERDICT r4 #3: the PRODUCTION default (edges_fn=None →
    minhash_lsh_pairs_native) must collapse each planted near-dup
    cluster to one survivor row."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        dedup_keep_best,
    )

    rows, doc_id = [], 0
    # 5 clusters of 3 near-identical docs (one appended token apart:
    # shingle-jaccard ~0.9 — LSH collision prob ~1 at b=8, r=2).
    # Cluster vocabularies are fully disjoint (suffixed per cluster)
    # so clusters cannot legitimately merge.
    for c in range(5):
        base = " ".join(
            f"{w}{c}" for w in ("alpha", "bravo", "charlie", "delta",
                                "echo", "foxtrot", "golf", "hotel",
                                "india", "juliet", "kilo", "lima",
                                "mike", "november"))
        for suffix in ("", f" oscar{c}", f" papa{c}"):
            rows.append((doc_id, base + suffix, "en", "web"))
            doc_id += 1
    # 5 dissimilar singletons
    for s in range(5):
        rows.append((doc_id,
                     f"lonely{s} unique{s} words{s} only{s} here{s} "
                     f"nothing{s} shared{s} at{s} all{s} ever{s}",
                     "en", "web"))
        doc_id += 1
    sf_dir = _write_documents(spark, tmp_path, rows)

    out = dedup_keep_best(spark, sf_dir).collect()  # default = LSH edges
    assert len(out) == 10  # 5 collapsed clusters + 5 singletons
    sizes = sorted(r.n_members for r in out)
    assert sizes == [1] * 5 + [3] * 5
    # exactly one survivor per cluster, and it is a member doc
    for r in out:
        assert r.keep_doc_id is not None and r.best_quality is not None


def test_keep_best_all_docs_one_cluster_quality_ties(spark, tmp_path):
    """Adversarial (VERDICT r4 #6): identical texts → one cluster,
    tied quality — the doc_id tiebreak must pick the MINIMUM id."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        dedup_keep_best,
        deterministic_jaccard_edges,
    )

    text = "same exact boilerplate text repeated in every document here"
    sf_dir = _write_documents(
        spark, tmp_path, [(i, text, "en", "web") for i in range(12)])
    out = dedup_keep_best(
        spark, sf_dir, edges_fn=deterministic_jaccard_edges).collect()
    assert len(out) == 1
    assert out[0].n_members == 12
    assert out[0].cluster_id == 0
    assert out[0].keep_doc_id == 0  # tie on quality -> lowest doc_id


def test_corpus_source_quota_adversarial(spark, tmp_path):
    """Adversarial (VERDICT r4 #6): a source under the 25-doc cap keeps
    everything; an over-cap source keeps exactly 25; tied qualities
    break deterministically by doc_id so kept_avg_quality is stable."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_source_quota,
    )

    rows = []
    # "small" source: 3 docs, distinct texts
    for i in range(3):
        rows.append((i, f"short doc number {i} with a few words", "en",
                     "small"))
    # "big" source: 40 identical docs — every quality tied
    for i in range(40):
        rows.append((100 + i,
                     "the very same filler text for every big-source doc",
                     "en", "big"))
    sf_dir = _write_documents(spark, tmp_path, rows)

    out = {r.source: r for r in corpus_source_quota(spark, sf_dir).collect()}
    assert out["small"].n_docs == 3 and out["small"].n_kept == 3
    assert out["big"].n_docs == 40 and out["big"].n_kept == 25
    # ties: all big-source qualities identical -> mean == that quality
    big = out["big"]
    assert big.kept_avg_quality is not None
    # run twice: deterministic under reshuffles/ties
    again = {r.source: r
             for r in corpus_source_quota(spark, sf_dir).collect()}
    assert again["big"].kept_avg_quality == big.kept_avg_quality
    assert again["big"].n_kept == 25


def test_repetition_score_bounded_on_50k_token_doc(spark, tmp_path):
    """VERDICT r4 #4: the repetition scan is capped at 512 tokens, so a
    50 k-distinct-token document (uncapped: ~2.5e9 comparisons on one
    row) completes quickly; n_tokens still reports full length."""
    import time as _time

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_repetition_score,
    )

    monster = " ".join(f"tok{i}" for i in range(50_000))
    sf_dir = _write_documents(
        spark, tmp_path,
        [(1, monster, "en", "web"), (2, "tiny doc here", "en", "web")])
    t0 = _time.perf_counter()
    out = {r.doc_id: r for r in
           text_repetition_score(spark, sf_dir).collect()}
    elapsed = _time.perf_counter() - t0
    # Capped work is ~512² = 262k comparisons vs ~2.5e9 uncapped — a
    # 10,000× gap, so the bound can absorb the host's documented
    # multi-second steal stalls (BASELINE.md; a 77s reading under a
    # contended r8 battery run flaked the old 60s bound while the
    # same test passed solo in 48s) and still cleanly reject an
    # uncapped regression, which at that per-comparison rate would
    # run for hours.
    assert elapsed < 150
    assert out[1].n_tokens == 50_000
    assert out[1].distinct_ratio == 1.0      # first 512 all distinct
    assert out[1].top_token_ratio == round(1 / 512, 4)
    assert out[2].n_tokens == 3 and out[2].distinct_ratio == 1.0


# ------------------------------ round-5 widening ---------------------------

def test_incremental_lsh_bipartite_recall(spark):
    """minhash_lsh_pairs_incremental must (a) find planted cross-side
    near-dups with high recall, (b) emit ONLY new×corpus pairs — never
    new×new or corpus×corpus (the bipartite contract that keeps the
    incremental-ingest join narrow)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    docs = read_parquet_table(spark, SF_SMALL, "documents")
    corpus = docs.limit(20).select("doc_id", "text")
    # the new batch: near-dup of every corpus doc (one appended token)
    new_batch = corpus.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"))
    pairs = minhash_lsh_pairs_incremental(
        new_batch, corpus, "text", "doc_id").collect()
    corpus_ids = {r.doc_id for r in corpus.collect()}
    for r in pairs:  # bipartite contract
        assert r.id_a >= 100000 and r.id_b in corpus_ids
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(i + 100000, i) for i in corpus_ids}
    assert len(planted & found) >= len(planted) * 0.8


def test_kmeans_step_matches_numpy(spark):
    """One Lloyd iteration vs a NumPy reference on the same data:
    membership counts and inertia (to 3 decimals) must agree."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        embedding_kmeans_step,
    )

    emb = read_parquet_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb}
    cents = {i: vecs[i] for i in range(8)}
    counts: dict[int, int] = {}
    inertia: dict[int, float] = {}
    for _vid, v in vecs.items():
        d2 = {c: float(((v - cv) ** 2).sum()) for c, cv in cents.items()}
        best = min(d2, key=lambda c: (d2[c], c))
        counts[best] = counts.get(best, 0) + 1
        inertia[best] = inertia.get(best, 0.0) + d2[best]

    got = {r.c_id: r for r in
           embedding_kmeans_step(spark, SF_SMALL).collect()}
    assert {c: r.n_members for c, r in got.items()} == counts
    for c, r in got.items():
        assert abs(r.inertia - inertia[c]) < 1e-3


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/scan: values survive the round-trip and filters reach
    the ORC reader (PushedFilters in the scan node)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.files import (
        read_orc,
        write_orc,
    )

    src = read_parquet_table(spark, SF_SMALL, "orders") \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = str(tmp_path / "orders_orc")
    write_orc(src, out)
    back = read_orc(spark, out)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    filtered = back.where(F.col("o_orderstatus") == "F") \
                   .select("o_orderkey")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan
    # partitioned variant prunes directories
    out2 = str(tmp_path / "orders_orc_part")
    write_orc(src, out2, partition_by=["o_orderstatus"])
    pruned = read_orc(spark, out2).where(F.col("o_orderstatus") == "F")
    assert pruned.count() == src.where("o_orderstatus = 'F'").count()


def test_streaming_interval_join_matches_batch(spark):
    """Stream-stream interval join settles to the batch time-bounded
    self-join (inner, same user, view within the preceding hour)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.streaming.joins import (
        run_interval_join_stream,
    )

    got = {(r.click_id, r.view_id, r.user_id, r.gap_sec)
           for r in run_interval_join_stream(spark, SF_SMALL).collect()}
    ev = read_parquet_table(spark, SF_SMALL, "events")
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"), F.col("ts").alias("c_ts"))
    v = ev.where("event_type = 'view'").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
    want = {(r.click_id, r.view_id, r.user_id, r.gap_sec) for r in
            c.join(v, (c.user_id == v.v_user)
                   & (F.col("v_ts") <= F.col("c_ts"))
                   & (F.col("v_ts") >= F.col("c_ts")
                      - F.expr("INTERVAL 60 minutes")))
             .select("click_id", "view_id", "user_id",
                     (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts"))
                     .cast("long").alias("gap_sec")).collect()}
    assert got == want and len(got) > 0


def test_memory_sink_rotation_bounds_session_state(spark):
    """Each streaming entry point keeps at most ONE live memory-sink
    temp view per session: re-invoking drops the previous sink (the
    unbounded-accumulation leak found in the r5 bench diagnosis)."""
    first = run_tumbling_count_stream(spark, SF_SMALL)
    n_first = first.count()  # materialize before re-invoking (contract)
    second = run_tumbling_count_stream(spark, SF_SMALL)
    assert second.count() == n_first
    live = [t.name for t in spark.catalog.listTables()
            if t.name.startswith("tumbling_")]
    assert len(live) == 1


def test_streaming_entries_leave_no_checkpoint_or_query(spark, tmp_path):
    """With a session-wide ``spark.sql.streaming.checkpointLocation``
    set (as the benchmark sets it), repeated streaming entries must
    leave nothing behind: every memory-sink query checkpoints into its
    own temporary directory and removes it, stops, and keeps exactly
    one live sink view per entry point — and the results repeat."""
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.registry import (
        REGISTRY,
    )

    entries = {"streaming_tumbling_hour": "tumbling",
               "streaming_dedup_keys": "streamdedup"}
    conf = "spark.sql.streaming.checkpointLocation"
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    spark.conf.set(conf, str(ckpt))
    try:
        for name in entries:
            runs = [sorted(REGISTRY[name].fn(spark, SF_SMALL).collect())
                    for _ in range(2)]
            assert runs[0] == runs[1] and runs[0], name
    finally:
        spark.conf.unset(conf)
    assert list(ckpt.iterdir()) == []
    assert spark.streams.active == []
    views = [t.name for t in spark.catalog.listTables()]
    for prefix in entries.values():
        live = [v for v in views if re.fullmatch(rf"{prefix}_[0-9a-f]{{8}}", v)]
        assert len(live) == 1, (prefix, live)


def test_clusters_star_equivalence_and_chain(spark):
    """large-star/small-star must label components identically to the
    propagation loop, including the adversarial shapes: a long chain
    (worst diameter), a star, two components, and isolated nodes."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    # chain 0-1-2-...-19, star 100-{101..105}, pair 200-201, isolates
    edges = [(i, i + 1) for i in range(19)]
    edges += [(100, x) for x in range(101, 106)]
    edges += [(200, 201)]
    nodes = list(range(20)) + list(range(100, 106)) + [200, 201, 300, 301]
    e = spark.createDataFrame(edges, "id_a: long, id_b: long")
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id: long")
    star = {r.doc_id: r.cluster_id
            for r in dedup_clusters_star(n, e).collect()}
    prop = {r.doc_id: r.cluster_id
            for r in dedup_clusters(n, e, max_iterations=30).collect()}
    assert star == prop
    assert all(star[i] == 0 for i in range(20))          # chain collapses
    assert all(star[x] == 100 for x in range(100, 106))  # star
    assert star[200] == star[201] == 200
    assert star[300] == 300 and star[301] == 301         # isolated


# ------------------------------ round-5 corpus-tail operators -------------

def test_prefix_sum_matches_global_window(spark):
    """Two-phase prefix_sum == the single-partition global window on a
    shuffled input with duplicate-free keys."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        prefix_sum,
    )

    import random
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 500)) for i in range(1000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k: long, w: long").repartition(8)
    got = {r.k: r.prefix_sum
           for r in prefix_sum(df, "w", ["k"]).collect()}
    acc, want = 0, {}
    for k, w in sorted(rows):
        acc += w
        want[k] = acc
    assert got == want


def test_prefix_sum_stop_after_prunes_buckets_exactly(spark):
    """r8: ``stop_after`` drops every range bucket whose offset is past
    the budget cut BEFORE the window join — the 100 TB shape for
    budget-bounded greedy selection (window the selected prefix, never
    the whole corpus) — while rows under the cut keep values identical
    to the unpruned plan.

    Three properties on a 1000-row, 8-partition input with
    budget ≪ total weight:

    1. value parity: the pruned result restricted to the caller's cut
       (prefix start < budget) equals the unpruned result under the
       same cut, row for row;
    2. completeness: no qualifying row is lost to pruning (the
       boundary bucket is kept because its OFFSET is < budget even
       when its last rows overshoot);
    3. the pruned plan's broadcast offset relation is strictly
       smaller — i.e. pruning actually happened (checked via the
       optimized plan's LocalRelation row count, not timing).
    """
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (
        release_persisted,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        prefix_sum,
    )

    import random
    rng = random.Random(11)
    rows = [(i, rng.randint(1, 50)) for i in range(1000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k: long, w: long").repartition(8)
    budget = 400  # ~1.6 % of the ~25k total weight

    full = prefix_sum(df, "w", ["k"], out_col="c")
    cut_full = sorted(
        (r.k, r.c) for r in full.collect() if r.c - r.w < budget)
    release_persisted()
    pruned = prefix_sum(df, "w", ["k"], out_col="c", stop_after=budget)
    pruned_rows = pruned.collect()
    cut_pruned = sorted(
        (r.k, r.c) for r in pruned_rows if r.c - r.w < budget)
    release_persisted()
    assert cut_pruned == cut_full          # parity + completeness
    assert len(cut_full) > 0
    # every surviving row's bucket offset was under the cut: its
    # running-before can exceed budget only inside the boundary bucket
    assert all(r.c - r.w < budget + 50 * len(rows) for r in pruned_rows)
    # pruning really happened: far fewer rows reach the window join
    assert len(pruned_rows) < len(rows) / 2

    # degenerate cut: budget below the first row's weight still keeps
    # the first bucket (offset 0 < stop_after for any positive budget)
    tiny = prefix_sum(df, "w", ["k"], out_col="c", stop_after=1)
    first = sorted((r.k, r.c) for r in tiny.collect() if r.c - r.w < 1)
    release_persisted()
    assert first == [min(cut_full)]


def test_pack_by_budget_start_offset_rule(spark):
    """A document goes to the shard its token interval STARTS in; shard
    ids are monotone in key order and the budget bounds shard starts."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        pack_by_budget,
    )

    rows = [(1, 600), (2, 600), (3, 600), (4, 600), (5, 10)]
    df = spark.createDataFrame(rows, "k: long, w: long")
    got = {r.k: r.shard_id
           for r in pack_by_budget(df, "w", ["k"], budget=1000).collect()}
    # starts: 0, 600, 1200, 1800, 2400 → shards 0,0,1,1,2
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2}

    import pytest
    with pytest.raises(ValueError):
        pack_by_budget(df, "w", ["k"], budget=0)


def test_text_line_dedup_removes_cross_doc_spans(spark, tmp_path):
    """A 10-token span shared by two docs is dropped from BOTH; unique
    spans survive and reassemble in order."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_line_dedup,
    )

    shared = " ".join(f"dup{i}" for i in range(10))
    a_tail = " ".join(f"atok{i}" for i in range(10))
    b_tail = " ".join(f"btok{i}" for i in range(10))
    rows = [
        (0, shared + " " + a_tail, "en", "web"),
        (1, shared + " " + b_tail, "en", "web"),
        (2, " ".join(f"solo{i}" for i in range(20)), "en", "web"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.doc_id: (r.clean_text, r.n_spans_kept)
           for r in text_line_dedup(spark, sf_dir).collect()}
    assert got[0] == (a_tail, 1)
    assert got[1] == (b_tail, 1)
    assert got[2][1] == 2 and got[2][0].startswith("solo0")


def test_sample_weighted_prefers_heavy_docs(spark, tmp_path):
    """Efraimidis-Spirakis keys: with extreme weight skew the heavy
    docs dominate the sample; output is deterministic across runs."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        sample_weighted,
    )

    rows = []
    for i in range(200):
        # docs 0..19 are ~100x longer than the rest
        n = 4000 if i < 20 else 40
        rows.append((i, "w " * n, "en", "web"))
    sf_dir = _write_documents(spark, tmp_path, [(i, t.strip(), l, s)
                                                for i, t, l, s in rows])
    got1 = [r.doc_id for r in sample_weighted(spark, sf_dir, k=30).collect()]
    got2 = [r.doc_id for r in sample_weighted(spark, sf_dir, k=30).collect()]
    assert got1 == got2  # deterministic
    heavy_in_sample = sum(1 for d in got1 if d < 20)
    assert heavy_in_sample >= 15  # heavy docs dominate


def test_tfidf_topk_ground_truth(spark, tmp_path):
    """tf-idf against a hand-computed 3-doc corpus."""
    import math

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_tfidf_topk,
    )

    rows = [
        (0, "apple apple banana common", "en", "web"),
        (1, "banana banana cherry common", "en", "web"),
        (2, "cherry cherry apple common", "en", "web"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    out = {(r.doc_id, r.rk): (r.term, r.tf, r.tfidf)
           for r in text_tfidf_topk(spark, sf_dir).collect()}
    # doc 0: apple tf=2 df=2 → 2*ln(3/2); banana tf=1 df=2 → ln(3/2);
    # common tf=1 df=3 → 0
    assert out[(0, 1)][0] == "apple"
    assert abs(out[(0, 1)][2] - round(2 * math.log(3 / 2), 9)) < 1e-9
    assert out[(0, 2)][0] == "banana"
    # rank 3 is the zero-idf tie broken by term: 'common'
    assert out[(0, 3)] == ("common", 1, 0.0)


def test_bigram_pmi_detects_collocation(spark, tmp_path):
    """A bigram that always co-occurs gets a much higher PMI than an
    independent pair at the same marginals."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bigram_pmi,
    )

    # "hong kong" always adjacent (30x); "red" and "blue" appear 30x
    # each but adjacent only sporadically via the filler arrangement
    doc = ("hong kong " + "red car " + "blue sky ") * 30
    rows = [(0, doc.strip(), "en", "web")]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {(r.w1, r.w2): (r.c_ab, r.pmi)
           for r in text_bigram_pmi(spark, sf_dir).collect()}
    assert got[("hong", "kong")][0] == 30
    # perfectly-bound pair: pmi = ln(c_ab*T/(30*30)) — the maximum for
    # these marginals; every other surviving bigram is weaker or equal
    assert got[("hong", "kong")][1] == max(p for _, p in got.values())


def test_streaming_dedup_equals_batch_distinct(spark, tmp_path):
    """Both streaming dedup variants settle to batch SELECT DISTINCT
    on a synthetic events lake with planted duplicates."""
    import datetime

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.streaming.dedup import (
        run_dedup_stream,
        run_dedup_within_watermark_stream,
    )

    import pandas as pd

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(60):
        rows.append((i, base + datetime.timedelta(minutes=i % 7),
                     i % 5, ["view", "click"][i % 2], 1.0, "{}"))
    # the streaming readers glob the literal file name events.parquet,
    # so write ONE file (like the driver lake), not a directory
    pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                "event_type", "value", "props"]) \
      .to_parquet(str(tmp_path / "events.parquet"), index=False)
    want = {(u, t) for u in range(5) for t in ("view", "click")}

    got = {(r.user_id, r.event_type)
           for r in run_dedup_stream(spark, str(tmp_path)).collect()}
    assert got == want
    got_wm = {(r.user_id, r.event_type)
              for r in run_dedup_within_watermark_stream(
                  spark, str(tmp_path)).collect()}
    assert got_wm == want


def test_kmeans_train_matches_numpy_lloyd(spark):
    """Driver-loop k-means == a NumPy Lloyd reference from the same
    seeds on well-separated blobs: same memberships, same centroids
    (to float-sum tolerance), convergence before max_iter."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.clustering import (
        kmeans_train,
    )

    rng = np.random.RandomState(3)
    blobs = [rng.normal(loc=c, scale=0.3, size=(40, 4))
             for c in ((0, 0, 0, 0), (10, 0, 0, 0), (0, 10, 0, 0))]
    data = np.vstack(blobs)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(data)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    # deliberately bad seeds: three points from the FIRST blob
    seeds = [list(map(float, data[i])) for i in (0, 1, 2)]

    cents, assigned, iters = kmeans_train(df, seeds, max_iter=25, tol=1e-8)
    got = {r.vec_id: r.c_id for r in assigned.collect()}

    # NumPy reference (float32-cast input to match array<float> storage)
    ref_data = data.astype(np.float32).astype(np.float64)
    c = np.array(seeds)
    for _ in range(25):
        d2 = ((ref_data[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)
        newc = np.array([ref_data[lab == j].mean(axis=0)
                         if (lab == j).any() else c[j] for j in range(3)])
        if ((newc - c) ** 2).sum(axis=1).max() < 1e-8:
            c = newc
            break
        c = newc
    d2 = ((ref_data[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)

    assert iters < 25  # converged
    assert [got[i] for i in range(len(data))] == list(want)
    np.testing.assert_allclose(np.array(cents), c, rtol=1e-6, atol=1e-6)


def test_kmeans_train_empty_cluster_keeps_stale_centroid(spark):
    """A seed with no members keeps its previous centroid (keep-stale
    rule) instead of NaN-ing out."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.clustering import (
        kmeans_train,
    )

    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1])]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    far = [100.0, 100.0]  # captures nothing after iteration 1
    cents, assigned, _ = kmeans_train(df, [[0.0, 0.0], far], max_iter=5)
    assert cents[1] == far
    assert {r.c_id for r in assigned.collect()} == {0}


def test_jsonl_roundtrip_and_corrupt_record_tolerance(spark, tmp_path):
    """write_jsonl→read_jsonl round-trips typed rows; a malformed line
    lands in _corrupt_record under PERMISSIVE instead of failing."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.files import (
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0)], "id: long, name: string, score: double")
    out = write_jsonl(df, str(tmp_path / "docs_json"))
    back = read_jsonl(spark, out, schema="id long, name string, score double")
    got = {(r.id, r.name, r.score) for r in back.collect()
           if r._corrupt_record is None}
    assert got == {(1, "alpha", 1.5), (2, "beta", -2.0)}

    # corrupt line mixed in
    bad_dir = tmp_path / "bad_json"
    bad_dir.mkdir()
    (bad_dir / "part-0.json").write_text(
        '{"id": 1, "name": "ok", "score": 2.0}\n'
        'NOT JSON AT ALL\n'
        '{"id": 2, "name": "also ok", "score": 3.0}\n')
    rows = read_jsonl(spark, str(bad_dir),
                      schema="id long, name string, score double").collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0]._corrupt_record.startswith("NOT JSON")


def test_train_val_split_deterministic_and_sized(spark, tmp_path):
    """Hash split: stable across calls, ~95/5 at reasonable n, and
    membership depends only on doc_id (re-ingestion-safe)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_train_val_split,
    )

    rows = [(i, f"text {i}", "en", "web") for i in range(2000)]
    sf_dir = _write_documents(spark, tmp_path, rows)
    a = {r.doc_id: r.split
         for r in corpus_train_val_split(spark, sf_dir).collect()}
    b = {r.doc_id: r.split
         for r in corpus_train_val_split(spark, sf_dir).collect()}
    assert a == b
    val_share = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.02 < val_share < 0.08


def test_mixture_sample_balances_sources(spark, tmp_path):
    """Every source is downsampled to the smallest source's size;
    selection order is the deterministic hash order."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_mixture_sample,
    )

    rows = []
    i = 0
    for src, n in (("web", 300), ("books", 50), ("code", 120)):
        for _ in range(n):
            rows.append((i, f"text {i}", "en", src))
            i += 1
    sf_dir = _write_documents(spark, tmp_path, rows)
    out = corpus_mixture_sample(spark, sf_dir).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.rk)
    assert {s: len(v) for s, v in by_src.items()} == \
        {"web": 50, "books": 50, "code": 50}
    for v in by_src.values():
        assert sorted(v) == list(range(1, 51))


def test_resize_media_stub_and_strict(spark):
    """Stub-tier resize: deterministic w*h-byte payload per row; strict
    mode with no codec raises the NotImplementedError marker."""
    import hashlib

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        attach_media_columns,
        resize_media,
    )

    df = spark.createDataFrame(
        [(1, "payload one"), (2, "payload two")], ["doc_id", "text"])
    media = attach_media_columns(df, "text")
    got = {r.doc_id: r for r in resize_media(media, 8, 6,
                                             resizer=None).collect()}
    for doc_id, text in ((1, "payload one"), (2, "payload two")):
        r = got[doc_id]
        assert (r.width, r.height, r.n_bytes) == (8, 6, 48)
        d = hashlib.sha256(text.encode()).digest()
        assert bytes(r.resized_bytes) == (d * 2)[:48]

    with pytest.raises(Exception, match="codec|NotImplemented"):
        resize_media(media, 8, 6, strict=True, resizer=None).collect()


def test_sample_frames_fanout_offsets(spark):
    """One input row fans out to every stride-th frame with correct
    offsets; the tail frame is short; invalid params rejected."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        attach_media_columns,
        sample_frames,
    )

    text = "x" * 25  # 25 bytes → frames of 10: idx 0,1,2 → stride 2 keeps 0,2
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    media = attach_media_columns(df, "text")
    rows = sorted(sample_frames(media, frame_size=10, stride=2).collect(),
                  key=lambda r: r.frame_idx)
    assert [(r.frame_idx, r.byte_offset, len(bytes(r.frame_bytes)))
            for r in rows] == [(0, 0, 10), (2, 20, 5)]

    with pytest.raises(ValueError):
        sample_frames(media, frame_size=0)


def test_pagerank_step_hand_computed(spark):
    """One step on a 4-node path graph with one dangling node against
    hand-computed values."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.graph import (
        pagerank_step,
    )

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id: long")
    # path 0-1-2; node 3 dangling
    edges = spark.createDataFrame([(0, 1), (1, 2)], "id_a: long, id_b: long")
    got = {r.doc_id: r.rank
           for r in pagerank_step(nodes, edges, round_to=9).collect()}
    # r0 = 0.25; degs: 0→1, 1→2, 2→1; dangling mass 0.25
    base = 0.15 / 4 + 0.85 * 0.25 / 4
    want = {
        0: base + 0.85 * 0.125,         # from 1: 0.25/2
        1: base + 0.85 * (0.25 + 0.25),  # from 0 and 2, each degree 1
        2: base + 0.85 * 0.125,
        3: base,
    }
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_pagerank_matches_numpy_power_iteration(spark):
    """Full loop vs a NumPy power iteration on a random graph: same
    ranks to float tolerance, mass conserved."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.graph import (
        pagerank,
    )

    rng = np.random.RandomState(11)
    n = 40
    pair_set = set()
    while len(pair_set) < 60:
        a, b = rng.randint(0, n, 2)
        if a != b:
            pair_set.add((min(a, b), max(a, b)))
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id: long")
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in sorted(pair_set)],
        "id_a: long, id_b: long")
    ranks_df, iters = pagerank(nodes, edges, max_iter=40, tol=1e-10)
    got = {r.doc_id: r.rank for r in ranks_df.collect()}

    deg = np.zeros(n)
    adj = np.zeros((n, n))
    for a, b in pair_set:
        adj[a, b] = adj[b, a] = 1
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[deg == 0].sum()
        contrib = np.zeros(n)
        nz = deg > 0
        contrib = adj[:, nz] @ (r[nz] / deg[nz])
        r = (0.15 / n + 0.85 * dangling / n) + 0.85 * contrib
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-7, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved


def test_corpus_data_card_ground_truth(spark, tmp_path):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_data_card,
    )

    rows = [
        (0, "one two three", "en", "web"),
        (1, "four five", "en", "web"),
        (2, "six", "de", "web"),
        (3, "sieben acht", "de", "books"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {(r.source, r.lang): r for r in corpus_data_card(spark, sf_dir).collect()}
    web_en = got[("web", "en")]
    assert (web_en.n_docs, web_en.total_tokens) == (2, 5)
    assert web_en.mean_chars == (13 + 9) / 2
    assert web_en.corpus_share == 0.5
    assert got[("books", "de")].n_docs == 1


def test_corpus_clean_pipeline_composition(spark, tmp_path):
    """The capstone composition honors each stage's contract: docs
    reduced below 2 surviving spans or 20 clean tokens are dropped,
    survivors keep original order, shard ids are monotone."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_clean_pipeline,
    )

    shared = " ".join(f"dup{i}" for i in range(10))
    rows = [
        # doc 0: one shared span + one unique span -> n_spans_kept=1 -> dropped
        (0, shared + " " + " ".join(f"a{i}" for i in range(10)), "en", "web"),
        # doc 1: shares the span with doc 0 -> its copy also removed;
        # three unique spans survive (30 tokens) -> kept
        (1, shared + " " + " ".join(f"b{i}" for i in range(30)), "en", "web"),
        # doc 2: clean but too short after dedup (2 spans, 15 tokens) -> dropped
        (2, " ".join(f"c{i}" for i in range(15)), "en", "web"),
        # doc 3: long clean doc -> kept
        (3, " ".join(f"d{i}" for i in range(40)), "en", "web"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.doc_id: (r.n_tokens, r.shard_id)
           for r in corpus_clean_pipeline(spark, sf_dir).collect()}
    assert set(got) == {1, 3}
    assert got[1][0] == 30 and got[3][0] == 40
    assert got[1][1] <= got[3][1]  # monotone shard assignment


def test_hll_sketch_union_error_bound(spark):
    """Datasketches HLL estimates (per-group and re-merged union) land
    within the sketch's documented error envelope of the exact
    distinct counts, and the union row never exceeds the sum of parts."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        agg_hll_sketch_union,
    )

    from .conftest import SF_SMALL

    got = {r.event_type: r.approx_users
           for r in agg_hll_sketch_union(spark, SF_SMALL).collect()}
    import duckdb
    exact = dict(duckdb.sql(
        f"SELECT event_type, count(DISTINCT user_id) "
        f"FROM '{SF_SMALL}/events.parquet' GROUP BY 1").fetchall())
    exact["ALL"] = duckdb.sql(
        f"SELECT count(DISTINCT user_id) "
        f"FROM '{SF_SMALL}/events.parquet'").fetchone()[0]
    assert set(got) == set(exact) | {"ALL"}
    for k, est in got.items():
        # lgConfigK=12 -> relative standard error ~1.04/sqrt(2^12) ≈ 1.6%;
        # allow 5 sigma plus slack for tiny groups
        assert abs(est - exact[k]) <= max(3.0, 0.10 * exact[k]), (k, est, exact[k])
    assert got["ALL"] <= sum(v for k, v in got.items() if k != "ALL") * 1.05


def test_triangle_counts_planted_graph(spark):
    """K4 on {0,1,2,3} (4 triangles, each vertex in 3), one pendant
    edge (4,5), and a 4-cycle {6,7,8,9} with no chord (0 triangles)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.graph import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (6, 7), (7, 8), (8, 9), (6, 9)],
        ["id_a", "id_b"])
    got = {r.doc_id: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_incremental_state_merge_properties(spark):
    """state(A) ⨁ state(B) ⨁ state(C) == aggregate(A∪B∪C) for
    arbitrary disjoint splits, including an empty split and NULL
    measures (sum skips them, cnt counts non-null only)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.incremental import (
        aggregate_state,
        merge_states,
    )

    rows = [("a", 1.0), ("a", None), ("b", 2.5), ("a", 4.0), ("b", None),
            ("c", 0.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    parts = [df.where(F.col("v") >= 2.0),
             df.where((F.col("v") < 2.0) | F.col("v").isNull()),
             df.limit(0)]
    merged = merge_states(
        *[aggregate_state(p, ["k"], ["v"]) for p in parts], keys=["k"])
    direct = aggregate_state(df, ["k"], ["v"])
    as_tuples = lambda d: sorted(map(tuple, d.collect()))
    assert as_tuples(merged) == as_tuples(direct)


def test_serial_id_timestamp_leading_key(spark):
    """Temporal leads (ADVICE r4): a Timestamp leading key buckets on
    its epoch image but the ids must equal the global
    row_number() OVER (ORDER BY ts, event_id) — including duplicate
    timestamps straddling bucket boundaries."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    from .conftest import SF_SMALL

    ev = read_parquet_table(spark, SF_SMALL, "events") \
        .select("event_id", "ts").limit(2000)
    got = serial_id(ev, ["ts", "event_id"], num_ranges=8)
    from pyspark.sql import Window
    w = Window.orderBy("ts", "event_id")
    want = ev.withColumn("id", F.row_number().over(w).cast("long"))
    assert sorted((r.event_id, r.id) for r in got.collect()) == \
           sorted((r.event_id, r.id) for r in want.collect())


def test_serial_id_rejects_string_lead(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    import pytest as _pytest
    with _pytest.raises(TypeError, match="numeric or Date/Timestamp"):
        serial_id(df, ["k", "v"])


def test_observed_counts_free_metrics(spark):
    """df.observe metrics ride the job's normal pass: one action
    yields both the result and the metric dict, and the metrics match
    an independent aggregation."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.quality import (
        observed_counts,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    from .conftest import SF_SMALL

    ev = read_parquet_table(spark, SF_SMALL, "events")
    odf, obs = observed_counts(
        ev,
        n=F.count(F.lit(1)),
        null_vals=F.count(F.when(F.col("value").isNull(), 1)),
        total=F.sum("value"),
    )
    kept = odf.where(F.col("event_type") != "error").count()  # ONE action
    got = obs.get
    direct = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("null_vals"),
        F.sum("value").alias("total")).first()
    assert got["n"] == direct["n"] == 1000
    assert got["null_vals"] == direct["null_vals"]
    assert abs(got["total"] - direct["total"]) < 1e-6
    assert kept < got["n"]


def test_zorder_interleave_bijective_property(spark):
    """Hypothesis: the Morton interleave is a bijection on the
    16-bit x 16-bit grid — distinct coordinate pairs never collide,
    and the bits de-interleave back to the inputs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1),
                  st.integers(0, (1 << 16) - 1)),
        min_size=1, max_size=50, unique=True))
    @settings(max_examples=20, deadline=None)
    def check(pairs):
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.layout import (
            zorder_value,
        )

        df = spark.createDataFrame(pairs, "x long, y long")
        rows = df.select("x", "y",
                         zorder_value(F.col("x"), F.col("y")).alias("z")) \
                 .collect()
        assert len({r.z for r in rows}) == len(pairs)
        for r in rows:
            x = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
            y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
            assert (x, y) == (r.x, r.y)

    check()


def test_approx_top_k_exact_when_capacity_covers_vocab(spark):
    """approx_top_k is provably exact when maxItemsTracked >= NDV:
    the sketched top-20 token counts must equal the exact profile."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_top_tokens_sketch,
    )

    from .conftest import SF_SMALL

    got = {r.tok: r.freq for r in
           text_top_tokens_sketch(spark, SF_SMALL).collect()}
    import duckdb
    exact = dict(duckdb.sql(f"""
        SELECT tok, count(*) FROM (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM '{SF_SMALL}/documents.parquet') WHERE len(tok) > 0
        GROUP BY tok ORDER BY count(*) DESC LIMIT 25""").fetchall())
    assert len(got) == 20
    for tok, freq in got.items():
        assert exact.get(tok) == freq, (tok, freq, exact.get(tok))
    # every sketched count is at least the 25th exact count (no
    # spurious low-frequency entries)
    assert min(got.values()) >= min(exact.values())


def test_pq_roundtrip_and_error_monotone(spark):
    """PQ contract: (1) vectors that ARE codebook centroids encode
    with zero reconstruction error and decode back exactly; (2) on
    real embeddings, k=16 codebooks reconstruct strictly better than
    the k=1 (per-subspace mean) baseline."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.clustering import (
        pq_decode_codes,
        pq_encode,
        pq_train,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    from .conftest import SF_SMALL

    # planted: 8-dim vectors built from 2 subspaces x 3 known centroids
    import itertools
    cents = [[float(a)] * 4 for a in (0, 10, 20)]
    vecs = [(i, ca + cb) for i, (ca, cb) in enumerate(
        itertools.product(cents, cents))]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    books = pq_train(df, m=2, k=3, max_iter=5)
    enc = {r.vec_id: r for r in pq_encode(df, books).collect()}
    for vid, full in vecs:
        assert enc[vid].recon_err < 1e-12
        assert pq_decode_codes(list(enc[vid].pq_codes), books) == full

    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    b16 = pq_train(emb, m=4, k=16, max_iter=5)
    b1 = pq_train(emb, m=4, k=1, max_iter=5)
    err16 = pq_encode(emb, b16).agg(F.sum("recon_err")).first()[0]
    err1 = pq_encode(emb, b1).agg(F.sum("recon_err")).first()[0]
    assert err16 < err1 * 0.9


def test_pq_adc_recall_vs_brute_force(spark):
    """PQ+ADC with exact re-rank recovers most of the exact top-5
    (quantization loses some candidates; the re-rank stage means every
    returned similarity is EXACT, so errors are only omissions)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ann_cosine_topk,
        ann_pq_topk,
    )

    from .conftest import SF_SMALL

    exact = {}
    for r in ann_cosine_topk(spark, SF_SMALL).collect():
        exact.setdefault(r.q_id, set()).add(r.vec_id)
    approx = {}
    for r in ann_pq_topk(spark, SF_SMALL).collect():
        approx.setdefault(r.q_id, set()).add(r.vec_id)
    assert set(approx) == set(exact)
    recalls = [len(approx[q] & exact[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_multimodal_phash_planted_duplicates(spark, tmp_path):
    """The banded pHash path promotes and verifies payloads whose
    64-char OPENINGS are identical (hamming 0 under the prefix
    fingerprint — r8: the full-payload sha key produced ZERO pairs on
    the driver's sf0.01 lake, a vacuous green) and rejects everything
    else at the strict threshold.  Planted cases: byte-identical
    payloads, a mirrored payload with an edited tail past char 64
    (caught), and an early-divergence doc (rejected)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        multimodal_phash_pairs,
    )

    opening = ("shared sixty-four-plus-character opening text that the "
               "fingerprint keys on")  # > 64 chars
    rows = [
        (0, "identical payload body", "en", "web"),
        (1, "identical payload body", "en", "web"),   # dup of 0
        (2, "a different document entirely", "en", "web"),
        (3, "identical payload body", "en", "books"),  # dup of 0 and 1
        (4, "yet another unrelated text", "de", "web"),
        (5, opening + " original tail", "en", "web"),
        (6, opening + " MIRRORED, tail edited", "en", "books"),  # dup of 5
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = sorted((r.id_a, r.id_b, r.hamming)
                 for r in multimodal_phash_pairs(spark, sf_dir).collect())
    assert got == [(0, 1, 0), (0, 3, 0), (1, 3, 0), (5, 6, 0)]


# ------------------- round-5 continuation tranche -------------------------


def test_semdedup_pairs_are_same_cluster_and_find_planted_dup(spark):
    """SemDeDup invariants on the sf0.001 lake: (a) every emitted pair
    shares the argmin-assigned cluster recomputed independently here;
    (b) cos_sim respects the threshold; (c) a pair of IDENTICAL
    vectors (same embedding ⇒ same cluster by determinism) is always
    caught with cos_sim == 1."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        dedup_semdedup,
    )
    import numpy as np

    got = dedup_semdedup(spark, SF_SMALL).collect()
    assert got, "sf0.001 lake should contain at least one semantic pair"
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in read_parquet_table(spark, SF_SMALL, "embeddings")
           .collect()}
    cents = {c: emb[c] for c in range(8)}

    def assign(v):
        d = {c: float(((v - cv) ** 2).sum()) for c, cv in cents.items()}
        return min(d, key=lambda c: (d[c], c))

    for r in got:
        assert r.cos_sim >= 0.3
        assert assign(emb[r.id_a]) == r.cluster_id
        assert assign(emb[r.id_b]) == r.cluster_id
        want = float(emb[r.id_a] @ emb[r.id_b]
                     / (np.linalg.norm(emb[r.id_a])
                        * np.linalg.norm(emb[r.id_b])))
        assert abs(r.cos_sim - want) < 1e-5


def test_unigram_logprob_orders_common_below_rare(spark, tmp_path):
    """A document made of the corpus's most frequent token must score
    a strictly lower per-token NLL than one made of hapax tokens, and
    every score sits in (0, ln(N+|V|)] — the add-one-smoothing upper
    bound."""
    import math

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_unigram_logprob,
    )

    rows = [
        (0, "the the the the the the the the", "en", "web"),
        (1, "zyzzyva qwertyuiop asdfghjkl", "en", "web"),
        (2, "the cat sat on the mat", "en", "web"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.doc_id: r.nll_per_token
           for r in text_unigram_logprob(spark, sf_dir).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0] < got[2] < got[1]
    n_total = 8 + 3 + 6
    n_vocab = len({"the", "zyzzyva", "qwertyuiop", "asdfghjkl",
                   "cat", "sat", "on", "mat"})
    bound = math.log(n_total + n_vocab)
    for v in got.values():
        assert 0 < v <= bound + 1e-9


def test_corpus_seq_pack_partitions_token_stream_exactly(spark):
    """Sequence packing is a PARTITION of the concatenated token
    stream: per-doc segment tokens sum back to the doc's token count,
    offsets stay inside [0, 128), every sequence except the last
    carries exactly 128 tokens, and segments of consecutive docs butt
    up against each other with no gap or overlap."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        token_count,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_seq_pack,
    )

    segs = corpus_seq_pack(spark, SF_SMALL).collect()
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    want = {r.doc_id: r.n for r in
            docs.select("doc_id",
                        token_count("text").alias("n")).collect()}

    per_doc, per_seq = {}, {}
    for r in segs:
        assert 0 <= r.offset_in_seq < 128
        assert 1 <= r.n_seg_tokens <= 128
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_seg_tokens
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.n_seg_tokens
    assert per_doc == want
    last = max(per_seq)
    for s, n in per_seq.items():
        assert n == 128 or s == last, (s, n)
    assert sum(want.values()) == 128 * last + per_seq[last]


def test_group_by_all_matches_explicit_grouping(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        agg_group_by_all,
    )

    got = {(r.o_orderstatus, r.o_orderpriority): (r.n_orders, r.total_price)
           for r in agg_group_by_all(spark, SF_SMALL).collect()}
    orders = read_parquet_table(spark, SF_SMALL, "orders")
    want = {(r.o_orderstatus, r.o_orderpriority): (r.n, r.t)
            for r in orders.groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("t")).collect()}
    assert got == want


def test_orc_roundtrip_preserves_rows_and_pushes_filter(spark):
    """The ORC read-back equals the parquet-side filter row-for-row
    AND the quantity predicate reaches the ORC scan (PushedFilters),
    proving format-pluggable pushdown, not just format-pluggable
    storage."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        source_orc_roundtrip,
    )

    back = source_orc_roundtrip(spark, SF_SMALL)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "Format: ORC" in plan or "orc" in plan.lower()
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity,10" in plan.replace(" ", "")

    got = sorted((r.l_orderkey, r.l_linenumber, float(r.l_quantity))
                 for r in back.collect())
    li = read_parquet_table(spark, SF_SMALL, "lineitem")
    want = sorted((r.l_orderkey, r.l_linenumber, float(r.l_quantity))
                  for r in li.where(F.col("l_quantity") < 10)
                  .select("l_orderkey", "l_linenumber", "l_quantity")
                  .collect())
    assert got == want


def test_token_budget_sample_is_top_quality_prefix(spark):
    """The kept set is EXACTLY the greedy quality-ordered prefix whose
    running token total starts under the budget — recomputed
    independently from the lake here."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        quality_score,
        token_count,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_token_budget_sample,
    )

    got = {r.doc_id: (r.quality, r.n_toks, r.cum_tokens)
           for r in corpus_token_budget_sample(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    rows = sorted(
        ((r.q, r.doc_id, r.n) for r in
         docs.select("doc_id", quality_score("text").alias("q"),
                     token_count("text").alias("n")).collect()),
        key=lambda x: (-x[0], x[1]))
    want, cum = {}, 0
    for q, doc_id, n in rows:
        if cum < 2000:
            want[doc_id] = (q, n, cum + n)
        cum += n
    assert got == want
    assert 0 < len(got) < docs.count()


def test_epoch_shuffle_permutations_differ_and_are_dense(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_epoch_shuffle,
    )

    rows = corpus_epoch_shuffle(spark, SF_SMALL).collect()
    n_docs = read_parquet_table(spark, SF_SMALL, "documents").count()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.shuffle_rank] = r.doc_id
    assert set(by_epoch) == {0, 1}
    for e, perm in by_epoch.items():
        assert set(perm) == set(range(1, n_docs + 1)), e
        assert len(set(perm.values())) == n_docs
    order0 = [by_epoch[0][i] for i in range(1, n_docs + 1)]
    order1 = [by_epoch[1][i] for i in range(1, n_docs + 1)]
    assert order0 != order1
    # reproducible: a second invocation yields the identical permutation
    again = corpus_epoch_shuffle(spark, SF_SMALL).collect()
    assert sorted((r.epoch, r.shuffle_rank, r.doc_id) for r in again) \
        == sorted((r.epoch, r.shuffle_rank, r.doc_id) for r in rows)


def test_anomaly_zscore_flags_exactly_the_2sigma_tail(spark):
    import math

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        events_anomaly_zscore,
    )

    got = {r.event_id: r.zscore
           for r in events_anomaly_zscore(spark, SF_SMALL).collect()}
    ev = [(r.event_id, r.event_type, r.value)
          for r in read_parquet_table(spark, SF_SMALL, "events")
          .select("event_id", "event_type", "value").collect()]
    stats = {}
    for _, t, v in ev:
        n, s1, s2 = stats.get(t, (0, 0.0, 0.0))
        stats[t] = (n + 1, s1 + v, s2 + v * v)
    want = {}
    for eid, t, v in ev:
        n, s1, s2 = stats[t]
        mu = s1 / n
        sigma = math.sqrt(s2 / n - mu * mu)
        z = round((v - mu) / sigma, 4)
        if abs(z) >= 2.0:
            want[eid] = z
    assert set(got) == set(want)
    for eid in got:
        assert abs(got[eid] - want[eid]) < 1e-6


def test_streaming_static_enrich_settles_to_batch_gate(spark):
    """Stream-static broadcast join: the settled AvailableNow sink
    equals the batch z-score gate row-for-row — and the join ran
    stateless (no state-store rows reported by the streaming query)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        events_anomaly_zscore,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.streaming.enrich import (
        run_static_enrich_stream,
    )

    got = sorted((r.event_id, r.zscore)
                 for r in run_static_enrich_stream(spark, SF_SMALL).collect())
    want = sorted((r.event_id, r.zscore)
                  for r in events_anomaly_zscore(spark, SF_SMALL).collect())
    assert got == want and got


def test_max_by_min_by_matches_window_argmax(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        agg_max_by_min_by,
    )

    got = {r.o_orderpriority: (r.newest_price, r.oldest_price,
                               r.newest_key, r.oldest_key)
           for r in agg_max_by_min_by(spark, SF_SMALL).collect()}
    orders = read_parquet_table(spark, SF_SMALL, "orders").collect()
    want = {}
    for r in orders:
        cur = want.get(r.o_orderpriority)
        if cur is None:
            want[r.o_orderpriority] = [r.o_totalprice, r.o_totalprice,
                                       r.o_orderkey, r.o_orderkey]
        else:
            if r.o_orderkey > cur[2]:
                cur[0], cur[2] = r.o_totalprice, r.o_orderkey
            if r.o_orderkey < cur[3]:
                cur[1], cur[3] = r.o_totalprice, r.o_orderkey
    assert got == {k: tuple(v) for k, v in want.items()}


def test_parse_url_extracts_host_path_param(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        scalar_url_funcs,
    )

    rows = scalar_url_funcs(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.host.endswith(".example.com")
        assert r.path == f"/docs/{r.doc_id}"
        assert r.url == (f"https://{r.host}{r.path}"
                         f"?lang={r.lang_param}&ref=corpus")


def test_feature_hashing_is_stable_and_conserves_tokens(spark):
    """The hashing trick: per-doc bucket counts sum to the doc token
    count, buckets stay inside [0, 64), and the same token always
    lands in the same bucket (recomputed independently here with the
    same polynomial hash)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        token_count,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_feature_hashing,
    )

    rows = text_feature_hashing(spark, SF_SMALL).collect()
    per_doc = {}
    for r in rows:
        assert 0 <= r.bucket < 64
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_tokens
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    want = {r.doc_id: r.n for r in
            docs.select("doc_id", token_count("text").alias("n")).collect()}
    assert per_doc == want

    def phash(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h % 64

    texts = {r.doc_id: r.text for r in docs.collect()}
    import re
    d0 = min(texts)
    toks = re.split(r"\s+", texts[d0].strip())
    want0 = {}
    for t in toks:
        want0[phash(t.lower())] = want0.get(phash(t.lower()), 0) + 1
    got0 = {r.bucket: r.n_tokens for r in rows if r.doc_id == d0}
    assert got0 == want0


def test_streaming_sliding_settles_to_batch_sliding(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_sliding_window,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.streaming.windows import (
        run_sliding_count_stream,
    )

    got = sorted((r.window_start, r.n_events)
                 for r in run_sliding_count_stream(spark, SF_SMALL).collect())
    want = sorted((r.window_start, r.n_events)
                  for r in events_sliding_window(spark, SF_SMALL).collect())
    assert got == want and got


def test_ann_range_search_complete_and_correct(spark):
    """Radius search returns EXACTLY the pairs with cos >= threshold:
    soundness and completeness checked against a NumPy recomputation
    over the full query × corpus product."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ann_range_search,
    )

    got = {(r.q_id, r.vec_id): r.cos_sim
           for r in ann_range_search(spark, SF_SMALL).collect()}
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in read_parquet_table(spark, SF_SMALL, "embeddings")
           .collect()}
    want = {}
    for q in (i for i in emb if i < 10):
        for c, cv in emb.items():
            if c == q:
                continue
            cos = round(float(emb[q] @ cv
                              / (np.linalg.norm(emb[q])
                                 * np.linalg.norm(cv))), 6)
            if cos >= 0.35:
                want[(q, c)] = cos
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-5


def test_whiten_standardizes_every_dimension(spark):
    """After whitening, each dimension's mean is ~0 and σ is ~1
    (within the 1e-4 scaled-int serialization step)."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        embedding_whiten,
    )

    rows = embedding_whiten(spark, SF_SMALL).collect()
    z = np.array([[int(v) / 10000.0 for v in r.z_csv.split(",")]
                  for r in rows])
    assert z.shape[1] == 64
    assert np.abs(z.mean(axis=0)).max() < 1e-3
    assert np.abs(z.std(axis=0) - 1.0).max() < 1e-3


def test_audio_energy_frames_tile_payload_and_match_sha(spark):
    """Frame fanout covers the payload exactly (offsets stride by 256,
    last frame ragged) and each frame's stub energy equals the first
    sha256 byte of its chunk recomputed here."""
    import hashlib

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        multimodal_audio_energy,
    )

    rows = multimodal_audio_energy(spark, SF_SMALL).collect()
    texts = {r.doc_id: r.text.encode()
             for r in read_parquet_table(spark, SF_SMALL, "documents")
             .collect()}
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(texts)
    for doc_id, frames in per_doc.items():
        b = texts[doc_id]
        frames.sort(key=lambda r: r.frame_idx)
        assert [f.frame_idx for f in frames] == list(range(len(frames)))
        assert sum(f.n_frame_bytes for f in frames) == len(b)
        for f in frames:
            chunk = b[f.byte_offset:f.byte_offset + 256]
            assert f.n_frame_bytes == len(chunk)
            assert f.energy_stub == hashlib.sha256(chunk).digest()[0]


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """direction='nearest' parity with pandas merge_asof on the same
    pre-aggregated right side (pandas breaks exact-midpoint ties to
    the BACKWARD side too, so the comparison is exact)."""
    import pandas as pd

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        join_asof_nearest,
    )

    got = {r.event_id: (r.nearest_key, r.side)
           for r in join_asof_nearest(spark, SF_SMALL).collect()}

    ev = read_parquet_table(spark, SF_SMALL, "events") \
        .select("event_id", "user_id", "ts").toPandas()
    orders = read_parquet_table(spark, SF_SMALL, "orders").toPandas()
    right = (orders.groupby(["o_custkey", "o_orderdate"], as_index=False)
             ["o_orderkey"].max()
             .rename(columns={"o_custkey": "user_id",
                              "o_orderkey": "ok"}))
    ev = ev.sort_values("ts").reset_index(drop=True)
    ev["ts"] = ev["ts"].dt.tz_localize(None)
    right = right.sort_values("o_orderdate").reset_index(drop=True)
    m = pd.merge_asof(ev, right, left_on="ts", right_on="o_orderdate",
                      by="user_id", direction="nearest")
    want = {int(r.event_id): int(r.ok)
            for r in m.itertuples() if pd.notna(r.ok)}
    assert {k: v[0] for k, v in got.items()} == want


def test_pipe_syntax_equals_classic_aggregate(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        sql_pipe_syntax,
    )

    got = {(r.o_orderstatus, r.o_orderpriority): (r.n_orders, r.total_price)
           for r in sql_pipe_syntax(spark, SF_SMALL).collect()}
    orders = read_parquet_table(spark, SF_SMALL, "orders")
    want = {(r.o_orderstatus, r.o_orderpriority): (r.n, r.t)
            for r in orders.where(F.col("o_totalprice") > 1000)
            .groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("t")).collect()
            if r.n > 5}
    assert got == want and got


def test_try_arith_nulls_exactly_on_error_conditions(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        scalar_try_arith,
    )

    rows = scalar_try_arith(spark, SF_SMALL).collect()
    assert rows
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lake,
    # so the div-by-zero condition is checked as a multiset count
    from decimal import ROUND_HALF_UP, Decimal

    discs = [r.l_discount for r in
             read_parquet_table(spark, SF_SMALL, "lineitem")
             .select("l_discount").collect()]
    # Spark CAST(double AS DECIMAL) rounds the shortest decimal
    # representation (BigDecimal.valueOf) HALF_UP
    want_null = sum(
        1 for d in discs
        if Decimal(str(d)).quantize(Decimal("0.01"),
                                    rounding=ROUND_HALF_UP) == 0)
    got_null = sum(1 for r in rows if r.safe_ratio is None)
    assert got_null == want_null > 0
    for r in rows:
        assert (r.near_max_add is None) == (r.l_linenumber > 2)
        if r.l_linenumber <= 2:
            assert r.near_max_add == 9223372036854775805 + r.l_linenumber
        assert (r.shifted_key is None) == (r.l_orderkey >= 2)
        assert r.pos_label == {1: "first", 2: "second"}.get(r.l_linenumber)


def test_value_islands_partition_events_and_alternate(spark):
    """Islands tile each user's timeline: island ids are 1..k in time
    order, adjacent islands carry DIFFERENT event types, and island
    sizes sum to the user's event count."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_value_islands,
    )

    rows = events_value_islands(spark, SF_SMALL).collect()
    ev_counts = {r.user_id: r.n for r in
                 read_parquet_table(spark, SF_SMALL, "events")
                 .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    assert set(per_user) == set(ev_counts)
    for uid, islands in per_user.items():
        islands.sort(key=lambda r: r.island)
        assert [r.island for r in islands] == list(
            range(1, len(islands) + 1))
        assert sum(r.n_events for r in islands) == ev_counts[uid]
        for a, b in zip(islands, islands[1:]):
            assert a.event_type != b.event_type
            assert a.island_end <= b.island_start


def test_parameterized_sql_binds_like_literals(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        sql_parameterized,
    )

    got = {r.o_orderstatus: (r.n_orders, r.total_price)
           for r in sql_parameterized(spark, SF_SMALL).collect()}
    orders = read_parquet_table(spark, SF_SMALL, "orders")
    want = {r.o_orderstatus: (r.n, r.t)
            for r in orders
            .where((F.col("o_totalprice") > 5000)
                   & (F.col("o_orderpriority") == "1-URGENT"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("t")).collect()}
    assert got == want and got


def test_ml_minhash_finds_planted_near_dups(spark, tmp_path):
    """MLlib MinHashLSH interop: planted high-overlap documents are
    recovered as candidate pairs with low jaccard distance."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ml_minhash_lsh_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the river")
    rows = [
        (0, base, "en", "web"),
        (1, base + " tonight", "en", "web"),          # near-dup of 0
        (2, "completely different content about spark query engines "
            "and distributed columnar execution at massive scale "
            "with adaptive partitioning", "en", "web"),
        (3, base.replace("quick", "swift"), "en", "web"),  # near-dup of 0
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {(r.id_a, r.id_b): r.jaccard_dist
           for r in ml_minhash_lsh_pairs(spark, sf_dir).collect()}
    assert (0, 1) in got and got[(0, 1)] < 0.3
    assert (0, 3) in got
    assert not any({a, b} & {2} for a, b in got)


def test_ml_langid_classifier_distills_the_gate(spark):
    """Gate distillation learns its linearly-separable target to >=
    0.95 train agreement, probabilities agree with hard predictions —
    and the docstring's learnability claim is verified: the RAW lang
    label (shared-vocabulary corpus) caps a linear model well below
    that, which is why the gate is the target."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        lang_pred,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ml_langid_classifier,
    )

    rows = ml_langid_classifier(spark, SF_SMALL).collect()
    assert rows
    acc = sum(1 for r in rows if r.gate_en == r.pred_en) / len(rows)
    assert acc >= 0.95, acc
    for r in rows:
        assert (r.p_en >= 0.5) == (r.pred_en == 1) or abs(r.p_en - 0.5) < 1e-6
    assert {r.gate_en for r in rows} == {0, 1}
    # the gate labels in the output match the deterministic rule
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    want = {r.doc_id: int(r.g == "en") for r in
            docs.select("doc_id", lang_pred("text").alias("g")).collect()}
    assert {r.doc_id: r.gate_en for r in rows} == want


def test_percent_of_total_shares_sum_to_one(spark):
    import math

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        window_percent_of_total,
    )

    rows = window_percent_of_total(spark, SF_SMALL).collect()
    per_cust, grand = {}, 0.0
    for r in rows:
        per_cust[r.o_custkey] = per_cust.get(r.o_custkey, 0.0) + r.cust_share
        grand += r.grand_share
    assert math.isclose(grand, 1.0, abs_tol=1e-4)
    for c, s in per_cust.items():
        assert math.isclose(s, 1.0, abs_tol=1e-3), (c, s)


def test_sentence_split_fanout_on_planted_punctuation(spark, tmp_path):
    """The lake's synthetic texts carry no terminal punctuation (the
    oracle-checked 1-sentence-per-doc result is correct there); this
    planted fixture proves the actual fanout: multi-sentence docs
    split on ./!/? runs with trimmed bodies and per-sentence token
    counts."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_sentence_split,
    )

    rows = [
        (0, "First sentence here. Second one! Third... and fourth?",
         "en", "web"),
        (1, "No terminal punctuation at all", "en", "web"),
        (2, "Trailing dot.", "en", "web"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {}
    for r in text_sentence_split(spark, sf_dir).collect():
        got.setdefault(r.doc_id, []).append(
            (r.sentence_idx, r.sentence, r.n_sent_tokens))
    for v in got.values():
        v.sort()
    assert got[0] == [(0, "First sentence here", 3), (1, "Second one", 2),
                      (2, "Third", 1), (3, "and fourth", 2)]
    assert got[1] == [(0, "No terminal punctuation at all", 5)]
    assert got[2] == [(0, "Trailing dot", 2)]


def test_aes_roundtrip_is_identity_with_gcm_framing(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        scalar_aes_roundtrip,
    )

    rows = scalar_aes_roundtrip(spark, SF_SMALL).collect()
    assert rows
    assert all(r.roundtrip_ok for r in rows)
    assert all(r.framing_overhead == 28 for r in rows)


def test_rolling_median_matches_python_recomputation(spark):
    import statistics

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        window_rolling_median,
    )

    got = {r.event_id: r.rolling_median
           for r in window_rolling_median(spark, SF_SMALL).collect()}
    ev = sorted(
        ((r.user_id, r.ts, r.event_id, r.value) for r in
         read_parquet_table(spark, SF_SMALL, "events")
         .select("user_id", "ts", "event_id", "value").collect()))
    per_user = {}
    for uid, ts, eid, v in ev:
        hist = per_user.setdefault(uid, [])
        hist.append(v)
        want = round(statistics.median(hist[-5:]), 4)
        assert abs(got[eid] - want) < 1e-9, (eid, got[eid], want)


def test_dedup_savings_report_counts_planted_dups(spark, tmp_path):
    """On a fixture with one exact-dup pair and one near-dup cluster
    the report counts docs/tokens removed per method exactly."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_dedup_savings,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (0, base, "en", "web"),
        (1, base, "en", "web"),                       # exact dup of 0
        (2, base + " extra", "en", "web"),            # near-dup of 0/1
        (3, "totally disjoint words here about engines and pipelines "
            "running at very large scale today", "en", "web"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.method: (r.docs_removed, r.tokens_removed)
           for r in corpus_dedup_savings(spark, sf_dir).collect()}
    assert got["exact"] == (1, 20)
    # near-dup cluster {0,1,2}: keep 0, remove 1 (20 toks) + 2 (21)
    assert got["jaccard"] == (2, 41)


def test_loader_pipeline_composition_invariants(spark):
    """Capstone #2: the packed sequences tile the SELECTED token
    stream (dense seq ids, every sequence full at 128 except the
    last), and the shuffle rank is a dense permutation of the
    sequences."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        quality_score,
        token_count,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_loader_pipeline,
    )

    rows = sorted(corpus_loader_pipeline(spark, SF_SMALL).collect(),
                  key=lambda r: r.seq_id)
    assert rows
    assert [r.seq_id for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r.n_seq_tokens == 128
    assert 1 <= rows[-1].n_seq_tokens <= 128
    assert sorted(r.shuffle_rank for r in rows) == list(
        range(1, len(rows) + 1))
    assert all(r.n_docs >= 1 for r in rows)

    # total packed tokens == the budget-selected token mass,
    # recomputed independently
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    qn = sorted(((r.q, r.doc_id, r.n) for r in
                 docs.select("doc_id", quality_score("text").alias("q"),
                             token_count("text").alias("n")).collect()),
                key=lambda x: (-x[0], x[1]))
    kept, cum = 0, 0
    for q, d, n in qn:
        if cum < 2000:
            kept += n
        cum += n
    assert sum(r.n_seq_tokens for r in rows) == kept


def test_url_canonicalize_merges_parity_variants(spark, tmp_path):
    """Doc pairs (2k, 2k+1) synthesize scheme-case / port / trailing-
    slash / tracking-param variants of the SAME logical URL when they
    share a source — planted same-source fixture proves the merge."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_url_canonicalize,
    )

    # surface invariants on the real lake (its cycling sources mean no
    # two synthesized raw URLs share a canonical form there)
    for r in text_url_canonicalize(spark, SF_SMALL).collect():
        assert r.canonical_url.startswith("https://")
        assert ".example.com" in r.canonical_url
        assert ":443" not in r.canonical_url
        assert "utm_" not in r.canonical_url
        assert "#" not in r.canonical_url
        assert not r.canonical_url.endswith("/")


    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_url_canonicalize as _canon,
    )

    rows4 = [(i, f"document body {i}", "en", "web") for i in range(4)]
    sf_dir = _write_documents(spark, tmp_path, rows4)
    out = {r.doc_id: r for r in _canon(spark, sf_dir).collect()}
    assert out[0].canonical_url == out[1].canonical_url
    assert out[2].canonical_url == out[3].canonical_url
    assert out[0].canonical_url != out[2].canonical_url
    assert out[0].raw_url != out[1].raw_url
    assert all(out[i].n_raw_variants == 2 for i in range(4))


def test_mask_preserves_shape_hides_values(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        scalar_mask_funcs,
    )

    rows = scalar_mask_funcs(spark, SF_SMALL).collect()
    names = {r.c_custkey: (r.c_name, r.c_mktsegment) for r in
             read_parquet_table(spark, SF_SMALL, "customer").collect()}
    for r in rows:
        name, seg = names[r.c_custkey]
        assert len(r.masked_default) == len(name)
        assert not any(ch.isalnum() and ch not in "Xxn"
                       for ch in r.masked_default)
        assert len(r.masked_segment) == len(seg)


def test_content_uuid_shape_and_stability(spark):
    import re
    import uuid as _uuid

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_content_uuid,
    )

    rows = text_content_uuid(spark, SF_SMALL).collect()
    pat = re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-8[0-9a-f]{3}-[0-9a-f]{12}$")
    seen = set()
    for r in rows:
        assert pat.match(r.content_uuid), r.content_uuid
        _uuid.UUID(r.content_uuid)  # parses as a real UUID
        seen.add(r.content_uuid)
    assert len(seen) == len(rows)  # distinct texts -> distinct ids
    again = {r.doc_id: r.content_uuid
             for r in text_content_uuid(spark, SF_SMALL).collect()}
    assert again == {r.doc_id: r.content_uuid for r in rows}


# ------------------------------------------------- r5d6: DSIR / BPE / DQ —

def test_bpe_merge_step_matches_python_greedy(spark):
    """The Spark-side aggregate() fold must agree with a plain Python
    greedy left-to-right BPE merge on every document (the oracle only
    checks the a!=b closed form; this pins the fold itself)."""
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bpe_merge_step,
    )
    out = {r["doc_id"]: r for r in
           text_bpe_merge_step(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "text").collect()
    assert out
    a = next(iter(out.values()))["pair_a"]
    b = next(iter(out.values()))["pair_b"]
    assert a != b

    def greedy_merge(toks, a, b):
        res = []
        for t in toks:
            if res and res[-1] == a and t == b:
                res[-1] = a + "␞" + b
            else:
                res.append(t)
        return res

    for r in docs:
        toks = [t.lower() for t in re.split(r"\s+", r["text"].strip())]
        merged = greedy_merge(toks, a, b)
        got = out[r["doc_id"]]
        assert got["n_before"] == len(toks)
        assert got["n_after"] == len(merged), r["doc_id"]
        assert got["n_merges"] == len(toks) - len(merged)


def test_bpe_merge_step_pair_is_corpus_argmax(spark):
    """The chosen pair is the most frequent adjacent a!=b pair under
    the deterministic (count desc, a, b) total order."""
    from collections import Counter
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bpe_merge_step,
    )
    row = text_bpe_merge_step(spark, SF_SMALL).first()
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("text").collect()
    c = Counter()
    for r in docs:
        toks = [t.lower() for t in re.split(r"\s+", r["text"].strip())]
        for x, y in zip(toks, toks[1:]):
            if x != y:
                c[(x, y)] += 1
    best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert (row["pair_a"], row["pair_b"]) == best


def _dsir_reference(docs) -> dict:
    """From-scratch pure-Python DSIR: doc_id -> (n_grams, log_weight)
    over hashed unigram+bigram features with add-one smoothing and the
    shared rolling hash.  Tokens follow ``functions.text.tokens``:
    space-only trim, then a split on Java's ``\\s`` class, so text that
    starts or ends with a tab or newline keeps an empty boundary token
    (in the quality score too)."""
    import math
    import re

    STOP = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
            "that", "for", "on", "with", "as", "at", "by", "this", "be",
            "are"}

    def split(text):
        return re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))

    def toks(text):
        return [t.lower() for t in split(text)]

    def quality(text):
        tk = split(text)
        stop = sum(1 for t in tk if t.lower() in STOP) / len(tk)
        punct = len(re.sub(r"[A-Za-z0-9\s]", "", text)) / len(text)
        return round(0.5 * min(stop * 4.0, 1.0)
                     + 0.3 * min(len(tk) / 50.0, 1.0)
                     + 0.2 * (1.0 - min(punct * 10.0, 1.0)), 4)

    def rhash(s):
        h = 0
        for ch in re.sub(r"\s+", " ", s.strip()):
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    raw = [0] * 64
    tgt = [0] * 64
    per_doc = {}
    for doc_id, text in docs:
        tk = toks(text)
        grams = tk + [f"{x} {y}" for x, y in zip(tk, tk[1:])]
        counts = {}
        for g in grams:
            bkt = rhash(g) % 64
            counts[bkt] = counts.get(bkt, 0) + 1
        per_doc[doc_id] = counts
        is_t = quality(text) >= 0.6
        for bkt, c in counts.items():
            raw[bkt] += c
            if is_t:
                tgt[bkt] += c
    R, T = sum(raw), sum(tgt)
    lam = [math.log((tgt[b] + 1) / (T + 64))
           - math.log((raw[b] + 1) / (R + 64)) for b in range(64)]
    return {doc_id: (sum(counts.values()),
                     sum(c * lam[b] for b, c in counts.items()))
            for doc_id, counts in per_doc.items()}


def test_dsir_weights_match_python_reference(spark):
    """corpus_dsir_weights equals a from-scratch pure-Python DSIR
    implementation (hashed unigram+bigram features, add-one smoothing,
    the shared rolling hash) on every document."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_dsir_weights,
    )
    got = {r["doc_id"]: r for r in
           corpus_dsir_weights(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "text").collect()
    for doc_id, (n, w) in _dsir_reference(docs).items():
        assert got[doc_id]["n_grams"] == n
        assert got[doc_id]["log_weight"] == pytest.approx(w, abs=1e-4)


def test_dsir_weights_tab_newline_edges(spark, tmp_path):
    """Text that starts or ends with a tab, newline or carriage return
    keeps an empty boundary token (``F.trim`` strips spaces only), so
    its boundary bigrams are built as ' foo' / 'foo '.  Every gram must
    still hash like ``rolling_hash`` (which trims them), and the
    operator must match both the Python reference and its DuckDB oracle
    on such a planted corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_dsir_weights,
    )

    texts = ["\tthe spark join is fast", "the table scan is slow\n",
             "\r\nmerge the window\t", "\n\t", "plain words of the batch",
             " \tspace then tab and the end \n", "row\tinner\ntabs stay",
             "\fform feed lead and the end\f",
             "the data of the query is in the table", "x"]
    # no \x0b edge: Java's \s has it, DuckDB's RE2 \s does not, so every
    # token oracle splits it differently — a tokenizer matter, not a hash one
    docs = list(enumerate(texts))
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string())}),
        str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: (r["n_grams"], r["log_weight"])
           for r in corpus_dsir_weights(spark, str(tmp_path)).collect()}
    want = _dsir_reference(docs)
    assert set(got) == set(want)
    for doc_id, (n, w) in want.items():
        assert got[doc_id][0] == n, doc_id
        assert got[doc_id][1] == pytest.approx(w, abs=1e-6), doc_id

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    oracle = {r[0]: (r[1], r[2]) for r in con.execute(
        entrymod.oracle_sql()["corpus_dsir_weights"]).fetchall()}
    assert oracle == got


def test_ppl_buckets_are_balanced_and_ordered(spark):
    """Tertiles are ntile-balanced (sizes differ by at most 1) and
    ordered: every head NLL <= every middle NLL <= every tail NLL."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_ppl_buckets,
    )
    rows = text_ppl_buckets(spark, SF_SMALL).collect()
    by = {"head": [], "middle": [], "tail": []}
    for r in rows:
        by[r["ppl_bucket"]].append(r["nll_per_token"])
    sizes = [len(v) for v in by.values()]
    assert max(sizes) - min(sizes) <= 1
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])


def test_table_expectations_all_pass_on_clean_data(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        table_expectations,
    )
    rows = table_expectations(spark, SF_SMALL).collect()
    assert len(rows) == 6
    assert all(r["passed"] for r in rows)


def test_table_expectations_catch_planted_violations(spark, tmp_path):
    """Corrupt a copy of the lake (null FK, duplicated PK, orphan
    custkey, bogus status) and the right checks — and only those —
    must flip to failed."""
    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        table_expectations,
    )
    orders = read_parquet_table(spark, SF_SMALL, "orders")
    first = orders.first()
    bad_rows = [
        # duplicate PK + orphan custkey
        (first["o_orderkey"], -999, "O", 10.0),
        # null custkey + out-of-domain status
        (first["o_orderkey"] + 10**9, None, "X", 20.0),
    ]
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    extra = spark.createDataFrame(bad_rows, schema)
    broken = orders.select(*[f.name for f in schema.fields]).unionAll(extra)
    lake = str(tmp_path / "broken_lake")
    broken.coalesce(1).write.parquet(f"{lake}/orders.parquet")
    read_parquet_table(spark, SF_SMALL, "customer") \
        .coalesce(1).write.parquet(f"{lake}/customer.parquet")
    got = {r["check_name"]: r["passed"]
           for r in table_expectations(spark, lake).collect()}
    assert got == {
        "row_count_min_10": True,
        "custkey_complete": False,
        "orderkey_unique": False,
        "totalprice_positive": True,
        "status_in_domain": False,
        "custkey_fk_integrity": False,
    }


# ------------------------------------ r5d7: attribution / TIME / containment —

def test_events_attribution_matches_python_replay(spark):
    """first/last-touch attribution equals a straight Python replay of
    each user's event history."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_attribution,
    )
    got = {r["event_id"]: r for r in
           events_attribution(spark, SF_SMALL).collect()}
    events = sorted(
        read_parquet_table(spark, SF_SMALL, "events")
        .select("event_id", "user_id", "ts", "event_type").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    touches = {}
    expect = {}
    for r in events:
        u = r["user_id"]
        hist = touches.setdefault(u, [])
        if r["event_type"] == "purchase":
            expect[r["event_id"]] = (
                hist[0] if hist else None,
                hist[-1] if hist else None,
                len(hist))
        if r["event_type"] in ("view", "click", "signup"):
            hist.append(r["event_type"])
    assert set(got) == set(expect)
    for eid, (ft, lt, n) in expect.items():
        g = got[eid]
        assert (g["first_touch"], g["last_touch"],
                g["n_prior_touches"]) == (ft, lt, n), eid


def test_scalar_time_type_clock_arithmetic(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        scalar_time_type,
    )
    rows = scalar_time_type(spark, SF_SMALL).collect()
    assert rows
    for r in rows[:200]:
        t = r["event_time"]
        assert r["business_hours"] == (9 <= t.hour < 17)
        assert r["hour_bucket"].hour == t.hour
        assert r["hour_bucket"].minute == 0
        secs = (t.hour - 9) * 3600 + t.minute * 60 + t.second
        assert r["mins_since_nine"] == secs // 60 if secs >= 0 else True
        if secs < 0:
            import math
            assert r["mins_since_nine"] == math.floor(secs / 60)


def test_containment_bounds_and_planted_subset(spark, tmp_path):
    """containment >= jaccard always; a planted doc fully inside a
    same-band container scores containment_a == 1.0."""
    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        dedup_containment,
    )
    real = dedup_containment(spark, SF_SMALL).collect()
    assert real
    for r in real:
        assert r["containment_a"] >= r["jaccard"] - 1e-9
        assert r["containment_b"] >= r["jaccard"] - 1e-9

    inner = "alpha beta gamma dd"        # 19 chars -> band 1
    outer = inner + " zz"                # 21 chars -> band 1
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    lake = str(tmp_path / "cont_lake")
    spark.createDataFrame(
        [(1, inner, "en", "t", len(inner)), (2, outer, "en", "t", len(outer))],
        schema).coalesce(1).write.parquet(f"{lake}/documents.parquet")
    out = {(r["id_a"], r["id_b"]): r
           for r in dedup_containment(spark, lake).collect()}
    assert (1, 2) in out
    assert out[(1, 2)]["containment_a"] == 1.0
    assert out[(1, 2)]["containment_b"] == pytest.approx(0.8, abs=1e-9)


def test_asof_tolerance_nulls_stale_matches_only(spark):
    """Tolerance variant == unbounded as-of with stale matches nulled;
    everything within tolerance carries the identical payload."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        join_asof_events_orders,
        join_asof_tolerance,
    )
    unbounded = {r["event_id"]: r
                 for r in join_asof_events_orders(spark, SF_SMALL).collect()}
    tol = {r["event_id"]: r
           for r in join_asof_tolerance(spark, SF_SMALL).collect()}
    nulled = 0
    for eid, t in tol.items():
        if eid not in unbounded:       # no match at all -> stays null
            assert t["last_orderkey"] is None
            continue
        u = unbounded[eid]
        days = (t["ts"].date() - u["ts"].date()).days  # same ts
        assert days == 0
        if t["last_orderkey"] is None:
            nulled += 1
            assert t["matched_date"] is None
        else:
            assert t["last_orderkey"] == u["last_orderkey"]
            assert (t["ts"].date() - t["matched_date"].date()).days <= 30
    assert nulled > 0   # the tolerance actually bites on this lake


def test_degree_stats_mass_conservation(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        dedup_token_jaccard,
        graph_degree_stats,
    )
    n_pairs = dedup_token_jaccard(spark, SF_SMALL).count()
    hist = graph_degree_stats(spark, SF_SMALL).collect()
    assert sum(r["degree"] * r["n_docs"] for r in hist) == 2 * n_pairs


def test_vocab_table_dense_ids_and_monotone_freq(spark):
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_vocab_table,
    )
    rows = sorted(text_vocab_table(spark, SF_SMALL).collect(),
                  key=lambda r: r["vocab_id"])
    assert [r["vocab_id"] for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert min(freqs) >= 5


def test_bigram_logprob_matches_python_reference(spark):
    """text_bigram_logprob equals a from-scratch add-one-smoothed
    bigram LM on every multi-token document."""
    import math
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bigram_logprob,
    )
    got = {r["doc_id"]: r for r in
           text_bigram_logprob(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "text").collect()
    c_a, c_ab = {}, {}
    toks_by_doc = {}
    for r in docs:
        tk = [t.lower() for t in re.split(r"\s+", r["text"].strip())]
        toks_by_doc[r["doc_id"]] = tk
        for a in tk:
            c_a[a] = c_a.get(a, 0) + 1
        for a, b in zip(tk, tk[1:]):
            c_ab[(a, b)] = c_ab.get((a, b), 0) + 1
    V = len(c_a)
    n_checked = 0
    for doc_id, tk in toks_by_doc.items():
        if len(tk) < 2:
            assert doc_id not in got
            continue
        nll = -sum(math.log((c_ab[(a, b)] + 1) / (c_a[a] + V))
                   for a, b in zip(tk, tk[1:])) / (len(tk) - 1)
        assert got[doc_id]["n_bigrams"] == len(tk) - 1
        assert got[doc_id]["nll_per_bigram"] == pytest.approx(nll, abs=1e-3)
        n_checked += 1
    assert n_checked == len(got)


def test_ann_recall_report_floors(spark):
    """The in-engine recall report agrees with the per-method recall
    floors the individual operator tests pin."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ann_recall_report,
    )
    rows = {r["method"]: r for r in ann_recall_report(spark, SF_SMALL).collect()}
    assert set(rows) == {"lsh", "ivf", "pq"}
    for r in rows.values():
        assert r["n_queries"] == 20
        assert 0.0 < r["mean_recall"] <= 1.0
    assert rows["lsh"]["mean_recall"] >= 0.6
    assert rows["pq"]["mean_recall"] >= 0.5
    assert rows["ivf"]["mean_recall"] >= 0.2


def test_spatial_grid_radius_complete_vs_brute_force(spark):
    """The 3x3-cell grid join finds EXACTLY the brute-force pair set
    (completeness: dist <= r bounds cell deltas to {-1,0,1}; unicity:
    the offset is determined by the two cells)."""
    import math

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        join_spatial_grid_radius,
    )
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in join_spatial_grid_radius(spark, SF_SMALL).collect()}
    pts = [(r["vec_id"], float(r["embedding"][0]), float(r["embedding"][1]))
           for r in read_parquet_table(spark, SF_SMALL, "embeddings")
           .select("vec_id", "embedding").collect()]
    expect = {}
    for i, (ida, xa, ya) in enumerate(pts):
        for idb, xb, yb in pts[i + 1:]:
            d = math.sqrt((xa - xb) ** 2 + (ya - yb) ** 2)
            if d <= 0.05:
                k = (min(ida, idb), max(ida, idb))
                expect[k] = round(d, 6)
    assert got == expect
    assert len(got) > 0


def test_trigram_langid_beats_majority_and_separates_planted(spark, tmp_path):
    """On the shared-vocabulary synthetic corpus the trigram LM must
    at least beat the majority-class baseline (the raw-lang ceiling is
    documented on ml_langid_classifier); on a planted lake with
    disjoint character distributions it must be perfect."""
    from collections import Counter

    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_trigram_langid,
    )
    rows = text_trigram_langid(spark, SF_SMALL).collect()
    acc = sum(1 for r in rows if r["pred_lang"] == r["true_lang"]) / len(rows)
    majority = max(Counter(r["true_lang"] for r in rows).values()) / len(rows)
    assert acc > majority
    # argmin consistency: the predicted NLL is the per-doc minimum, so
    # re-scoring under the true language can never be lower for docs
    # predicted correctly (trivially) — spot-check instead that every
    # prediction is one of the trained languages
    langs = {r["true_lang"] for r in rows}
    assert {r["pred_lang"] for r in rows} <= langs

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    docs = []
    for i in range(10):
        ta = " ".join(["abc cab bca"] * 5) + f" a{i}"
        tb = " ".join(["xyz zyx yxz"] * 5) + f" x{i}"
        docs.append((2 * i, ta, "aa", "t", len(ta)))
        docs.append((2 * i + 1, tb, "bb", "t", len(tb)))
    lake = str(tmp_path / "langid_lake")
    spark.createDataFrame(docs, schema).coalesce(1) \
        .write.parquet(f"{lake}/documents.parquet")
    out = text_trigram_langid(spark, lake).collect()
    assert len(out) == 20
    assert all(r["pred_lang"] == r["true_lang"] for r in out)


def test_window_ewma_matches_python_reference(spark):
    """Bit-stable alpha=0.5 EWMA equals a direct Python computation of
    the normalized 10-row exponential smoother."""
    from collections import defaultdict

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        window_ewma,
    )
    got = {r["event_id"]: r["ewma_10"]
           for r in window_ewma(spark, SF_SMALL).collect()}
    events = sorted(
        read_parquet_table(spark, SF_SMALL, "events")
        .select("event_id", "event_type", "ts", "value").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]))
    hist = defaultdict(list)
    for r in events:
        h = hist[r["event_type"]]
        h.append(r["value"])
        win = h[-10:]
        n = len(win)
        num = sum(x * 0.5 ** (n - i) for i, x in enumerate(win, start=1))
        den = 2 - 2.0 ** (1 - n)
        assert got[r["event_id"]] == pytest.approx(num / den, abs=1e-3)


def test_ngram_novelty_planted_extremes(spark, tmp_path):
    """A doc duplicated verbatim scores novelty 0 (all spans shared);
    a unique-vocabulary doc scores 1.0."""
    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_ngram_novelty,
    )
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    unique = "uno dos tres cuatro cinco seis siete ocho"
    docs = [(1, shared, "en", "t", len(shared)),
            (2, shared, "en", "t", len(shared)),
            (3, unique, "en", "t", len(unique))]
    lake = str(tmp_path / "nov_lake")
    spark.createDataFrame(docs, schema).coalesce(1) \
        .write.parquet(f"{lake}/documents.parquet")
    out = {r["doc_id"]: r for r in text_ngram_novelty(spark, lake).collect()}
    assert out[1]["novelty_ratio"] == 0.0
    assert out[2]["novelty_ratio"] == 0.0
    assert out[3]["novelty_ratio"] == 1.0
    assert out[3]["n_novel"] == out[3]["n_distinct_grams"] == 4


def test_embedding_outlier_knn_flags_planted_orthogonal(spark, tmp_path):
    """An orthogonal vector planted into a tight same-label cluster
    gets the block's highest kNN outlier score."""
    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        embedding_outlier_knn,
    )
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    rows = []
    for i in range(8):   # tight cluster near e1
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], 0))
    rows.append((99, [0.0, 0.0, 1.0, 0.0], 0))   # orthogonal outlier
    lake = str(tmp_path / "knn_lake")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(f"{lake}/embeddings.parquet")
    out = {r["vec_id"]: r["knn_outlier_score"]
           for r in embedding_outlier_knn(spark, lake).collect()}
    assert max(out, key=out.get) == 99
    assert out[99] > 0.9
    assert all(v < 0.1 for k, v in out.items() if k != 99)


def _make_wav(segments, rate: int = 8000) -> bytes:
    """Genuine RIFF/WAVE bytes: 16-bit mono PCM where segment k is
    ``n_samples`` samples of a constant-amplitude square wave (RMS ==
    amplitude exactly, the independent ground truth)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        for amp, n_samples in segments:
            pcm = b"".join(
                struct.pack("<h", amp if i % 2 == 0 else -amp)
                for i in range(n_samples))
            w.writeframes(pcm)
    return buf.getvalue()


def test_real_media_codecs_on_planted_lake(spark, tmp_path):
    """VERDICT r5 #6: exercise the REAL codec tier end-to-end — genuine
    PNG and WAV payloads planted into a parquet lake partition (bytes
    round-trip the parquet binary column), decoded by the PRODUCTION
    resolution path (no injected fake), and checked against
    independently-known ground truth:

    * PNG: `decode_and_extract` with the auto-resolved codec must read
      each planted image's TRUE dimensions out of the CRC-verified IHDR
      (sha-derived stub dims would match 5 planted pairs with
      probability ~(1/240²)⁵ — impossible);
    * WAV: `wav_rms_energy` parses the RIFF container with the stdlib
      reader and its per-frame RMS must equal the planted square-wave
      amplitudes exactly;
    * tolerance: a corrupted PNG (bad CRC) degrades to stub dims
      instead of crashing the batch."""
    import pyspark.sql.types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        _stub_dims,
        wav_rms_energy,
    )

    dims = [(10, 20), (33, 7), (128, 1), (2, 255), (64, 64)]
    rows = [(i, bytearray(_make_png(w, h)), "image", "png")
            for i, (w, h) in enumerate(dims)]
    # corrupt the CRC of a sixth PNG: flip one IHDR payload byte
    bad = bytearray(_make_png(40, 40))
    bad[17] ^= 0xFF
    rows.append((99, bad, "image", "png"))
    amps = [(1000, 2048), (3000, 2048)]
    rows.append((7, bytearray(_make_wav(amps)), "audio", "wav"))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_bytes", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("format", T.StringType()),
    ])
    lake = str(tmp_path / "media_lake")
    spark.createDataFrame(rows, schema).write.parquet(lake)
    media = spark.read.parquet(lake)

    imgs = media.where(F.col("media_type") == "image")
    got = {r.doc_id: (r.width, r.height)
           for r in decode_and_extract(imgs).collect()}
    for i, (w, h) in enumerate(dims):
        assert got[i] == (w, h), f"real IHDR decode failed for doc {i}"
    # corrupted PNG: CRC check rejects it, stub dims instead of a crash
    assert got[99] == _stub_dims(bytes(bad))
    assert got[99] != (40, 40)

    wavs = media.where(F.col("media_type") == "audio")
    frames = {r.frame_idx: r for r in
              wav_rms_energy(wavs, frame_samples=2048).collect()}
    assert len(frames) == 2
    for k, (amp, n) in enumerate(amps):
        assert frames[k].n_samples == n
        assert abs(frames[k].rms - amp) < 1e-9, (k, frames[k].rms)
    # non-WAV payloads must raise the documented ValueError, not decode
    import pytest as _pytest
    with _pytest.raises(Exception, match="WAV|wave"):
        wav_rms_energy(imgs).collect()


def test_bpe_train_matches_python_reference(spark):
    """text_bpe_train's K learned merges must equal a pure-Python BPE
    trainer run over the same lake documents — including a round that
    merges a SYMBOL CREATED by an earlier round, which the planted
    corpus below forces (the single-step entry can't exercise that)."""
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bpe_train,
    )

    def py_bpe(texts, n_merges):
        docs = [[t.lower() for t in re.split(r"\s+", x.strip())
                 if t and "␞" not in t] for x in texts]
        merges = []
        for rank in range(n_merges):
            census = {}
            for d in docs:
                for a, b in zip(d, d[1:]):
                    if a != b:
                        census[(a, b)] = census.get((a, b), 0) + 1
            if not census:
                break
            (a, b), cnt = min(census.items(),
                              key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, a, b, cnt))
            sym = f"{a}␞{b}"
            out_docs = []
            for d in docs:
                out = []
                for t in d:
                    if out and out[-1] == a and t == b:
                        out[-1] = sym
                    else:
                        out.append(t)
                out_docs.append(out)
            docs = out_docs
        return merges

    # lake check: 3 rounds over the real documents table
    docs = read_parquet_table(spark, SF_SMALL, "documents")
    texts = [r.text for r in docs.select("text").collect()]
    got = [(r.rank, r.pair_a, r.pair_b, r.freq)
           for r in text_bpe_train(spark, SF_SMALL, n_merges=3)
           .orderBy("rank").collect()]
    assert got == py_bpe(texts, 3)

    # planted check: round 2 must merge the round-1 symbol with "c"
    planted = ["a b c " * 5, "a b c a b", "x y"]
    import pyspark.sql.types as T
    pdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(planted)],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("text", T.StringType())]))
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        pdf.write.parquet(f"{tmp}/documents.parquet")
        got2 = [(r.rank, r.pair_a, r.pair_b, r.freq)
                for r in text_bpe_train(spark, tmp, n_merges=2)
                .orderBy("rank").collect()]
    want2 = py_bpe(planted, 2)
    assert got2 == want2
    assert got2[1][1] == "a␞b"   # round 2 consumed round 1's symbol


def test_snapshot_diff_reconstructs_new_version(spark):
    """Applying table_snapshot_diff's change rows to the old snapshot
    must reproduce the new snapshot exactly — the CDC consumer's
    invariant (delete removes, insert adds, update replaces)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        table_snapshot_diff,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    orders = read_parquet_table(spark, SF_SMALL, "orders")
    old = {r.o_orderkey: r.o_totalprice
           for r in orders.select("o_orderkey", "o_totalprice").collect()}
    diff = table_snapshot_diff(spark, SF_SMALL).collect()
    rebuilt = dict(old)
    for r in diff:
        if r.change_type == "delete":
            del rebuilt[r.orderkey]
        elif r.change_type == "insert":
            assert r.orderkey not in rebuilt
            rebuilt[r.orderkey] = r.new_price
        else:
            assert r.change_type == "update"
            assert rebuilt[r.orderkey] == r.old_price
            rebuilt[r.orderkey] = r.new_price
    # independent recomputation of the "new" snapshot
    want = {k: (round(v + 10.0, 2) if k % 13 == 0 else v)
            for k, v in old.items() if k % 97 != 0}
    want.update({-k - 1: v for k, v in old.items() if k % 101 == 0})
    assert rebuilt == want
    assert {r.change_type for r in diff} == {"delete", "insert", "update"}


def test_date_bin_every_event_in_exactly_one_bin(spark):
    """events_date_bin_downsample invariants: bins tile the timeline
    from the custom origin (bin_start ≡ origin mod 15 min), every event
    falls in [bin_start, bin_start + 15 min), and per-type bin counts
    sum back to the table count."""
    from datetime import datetime

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_date_bin_downsample,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    out = events_date_bin_downsample(spark, SF_SMALL).collect()
    events = read_parquet_table(spark, SF_SMALL, "events")
    assert sum(r.n_events for r in out) == events.count()
    origin = datetime(2023, 12, 31, 23, 5)
    width_s = 15 * 60
    for r in out:
        off = (r.bin_start - origin).total_seconds()
        assert off >= 0 and off % width_s == 0, r.bin_start
    # spot-check membership: recompute one event's bin in Python
    ev = events.orderBy("event_id").first()
    off = int((ev.ts - origin).total_seconds() // width_s) * width_s
    from datetime import timedelta
    want_bin = origin + timedelta(seconds=off)
    got = {(r.bin_start, r.event_type) for r in out}
    assert (want_bin, ev.event_type) in got


def test_wav_rms_energy_stereo_averages_channels(spark):
    """Stereo payloads deinterleave and average to mono before the RMS
    (constant L=+600/R=-600 square wave → mono 0 → RMS 0; L=R=500 →
    RMS 500)."""
    import io
    import struct
    import wave

    import pyspark.sql.types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.multimodal import (
        wav_rms_energy,
    )

    def stereo_wav(lr_pairs):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(b"".join(struct.pack("<hh", left, right)
                                   for left, right in lr_pairs))
        return buf.getvalue()

    rows = [(1, bytearray(stereo_wav([(600, -600)] * 256))),
            (2, bytearray(stereo_wav([(500, 500)] * 256)))]
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("media_bytes", T.BinaryType())])
    df = spark.createDataFrame(rows, schema)
    got = {r.doc_id: r.rms
           for r in wav_rms_energy(df, frame_samples=256).collect()}
    assert got[1] == 0.0
    assert abs(got[2] - 500.0) < 1e-9


def test_tie_heavy_lead_key_does_not_collapse_to_one_bucket(spark):
    """r6 scale hazard closed: a CONSTANT (or quantized) leading sort
    key used to put every row into one quantile bucket, silently
    recreating the single-partition window the two-phase prefix_sum /
    serial_id exist to avoid.  range_bucket_expr must sub-bucket the
    tied rows by the tiebreak column — and the results must stay
    bit-identical to the naive global-window reference."""
    from pyspark.sql import Window

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        prefix_sum,
    )

    n = 50_000
    df = (spark.range(n)
          .select(F.lit(7).alias("k"),          # constant lead: all ties
                  F.col("id").alias("tie"),
                  (F.col("id") % 5 + 1).alias("w")))

    ps = prefix_sum(df, "w", ["k", "tie"], out_col="cum")
    # correctness: equals the global running sum
    wref = Window.orderBy("tie").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.tie: r.cum for r in
            df.withColumn("cum", F.sum(F.col("w").cast("long")).over(wref))
              .collect()}
    got = {r.tie: r.cum for r in ps.collect()}
    assert got == want
    # scale shape: the window ran over MANY buckets, not one
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        _sortable_double,
        range_bucket_expr,
    )
    pid = range_bucket_expr(df, F.col("k").cast("double"),
                            _sortable_double(df, "tie"), 32)
    n_buckets = df.select(pid.alias("p")).distinct().count()
    assert n_buckets >= 8, n_buckets

    sid = serial_id(df, ["k", "tie"], id_col="sid")
    rows = sid.orderBy("tie").limit(5).collect()
    assert [r.sid for r in rows] == [1, 2, 3, 4, 5]
    assert sid.select(F.max("sid")).first()[0] == n
    assert sid.select("sid").distinct().count() == n


def test_tie_split_cap_overflow_warns_but_stays_correct(spark):
    """ADVICE r6: when MORE heavy lead values exist than
    _MAX_TIE_SPLITS can split, the overflow must be audible (a
    RuntimeWarning naming the dropped count when a dropped value spans
    >= 3 quantile slots — a real straggler risk) and the ids must stay
    bit-exact regardless (dropped values concentrate rows; they never
    corrupt order)."""
    import warnings as W

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.ids import (
        serial_id,
    )

    # 12 quantized lead values x 3000 rows each, 48 ranges: every value
    # spans ~4 slots -> 12 heavy values, 4 beyond the cap of 8
    n = 36_000
    df = (spark.range(n)
          .select((F.col("id") % 12).alias("k"),
                  F.col("id").alias("tie")))
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        sid = serial_id(df, ["k", "tie"], id_col="sid", num_ranges=48)
        out = sid.select(F.max("sid").alias("mx"),
                         F.count_distinct("sid").alias("nd")).first()
    assert out.mx == n and out.nd == n
    hits = [w for w in caught
            if issubclass(w.category, RuntimeWarning)
            and "range_bucket_expr" in str(w.message)]
    assert hits, "expected the tie-split overflow RuntimeWarning"


def test_incremental_minhash_corpus_side_cap(spark):
    """The bipartite (new-batch × corpus) LSH also takes the r6 skew
    cap — on the CORPUS side, where a hot template accumulates: with a
    600-doc boilerplate corpus, an incoming batch that contains one
    more copy of the template matches ~every boilerplate doc uncapped;
    capped, the hot buckets are dropped while a planted non-boilerplate
    near-dup of a corpus doc is still found through its width-2
    buckets."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    n_boiler = 600
    corpus, _ = _boilerplate_lake(spark, n_boiler, n_unique=50,
                                  n_planted=0)
    template = " ".join(f"tmpl{j}" for j in range(12))
    # batch: one template copy + near-dups of 10 unique corpus docs
    twins = (corpus.where((F.col("doc_id") >= 1_000)
                          & (F.col("doc_id") < 1_010))
             .select((F.col("doc_id") + 500_000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" extraword"))
                     .alias("text")))
    batch = twins.unionByName(spark.createDataFrame(
        [(900_000, template + " uniqbatch")], ["doc_id", "text"]))

    uncapped = minhash_lsh_pairs_incremental(
        batch, corpus, "text", "doc_id",
        max_exact_jaccard_distance=0.5).collect()
    capped = minhash_lsh_pairs_incremental(
        batch, corpus, "text", "doc_id",
        max_exact_jaccard_distance=0.5, max_band_bucket=64).collect()

    boiler_hits = lambda rows: sum(1 for r in rows if r.id_b < n_boiler)
    assert boiler_hits(uncapped) >= n_boiler * 0.5   # template matches ~all
    assert boiler_hits(capped) <= 50                 # hot buckets dropped
    planted = {(1_000 + i + 500_000, 1_000 + i) for i in range(10)}
    found = {(r.id_a, r.id_b) for r in capped} & planted
    assert len(found) >= 8


def test_incremental_minhash_batch_side_cap(spark):
    """ADVICE r6: the bipartite cap must also bound a template-heavy
    NEW batch (one-site crawl dump): bucket cost is w_new × w_old, and
    a corpus whose template presence is SUB-cap (its buckets survive
    the corpus-side anti-join) would otherwise eat an unbounded
    batch-side fanout.  Planted: 30 template docs in the corpus
    (survives max_band_bucket=64), 600 template docs in the batch —
    uncapped the cross template pairs are ~w_new × w_old; capped, the
    batch's hot buckets are dropped while a planted cross-side
    near-dup twin is still found through its width-2 buckets."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    template = " ".join(f"tmpl{j}" for j in range(12))
    corpus_tmpl = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(template + " cuniq"), F.col("id")).alias("text"))
    corpus_uniq = spark.range(1_000, 1_010).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("w"), (F.col("id") * 12 + j).cast("string"))
            for j in range(12)]).alias("text"))
    corpus = corpus_tmpl.unionByName(corpus_uniq)
    batch_tmpl = spark.range(500_000, 500_600).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(template + " buniq"), F.col("id")).alias("text"))
    twins = corpus_uniq.select(
        (F.col("doc_id") + 800_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"))
    batch = batch_tmpl.unionByName(twins)

    uncapped = minhash_lsh_pairs_incremental(
        batch, corpus, "text", "doc_id",
        max_exact_jaccard_distance=0.5).collect()
    capped = minhash_lsh_pairs_incremental(
        batch, corpus, "text", "doc_id",
        max_exact_jaccard_distance=0.5, max_band_bucket=64).collect()

    tmpl_cross = lambda rows: sum(
        1 for r in rows if r.id_a < 501_000 and r.id_b < 30)
    # w_new(600) × w_old(30): uncapped fanout is quadratic-shaped
    assert tmpl_cross(uncapped) >= 5_000
    assert tmpl_cross(capped) <= 100        # batch-side hot buckets dropped
    planted = {(1_000 + i + 800_000, 1_000 + i) for i in range(10)}
    found = {(r.id_a, r.id_b) for r in capped} & planted
    assert len(found) >= 8


# ----------------------------- r7: PCA / path mining / checksum ----------

def test_pca_power_matches_numpy_eig(spark):
    """Gramian-census PCA == NumPy eigendecomposition on planted
    anisotropic data: eigenvalues to float-sum tolerance, |cos| with
    the reference eigenvectors ≈ 1, components orthonormal, sign
    convention (largest-|loading| coordinate positive)."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.clustering import (
        pca_power,
    )

    rng = np.random.RandomState(7)
    # well-separated spectrum: stds 5, 2, 1, 1, ... in a rotated basis
    base = rng.normal(size=(300, 6))
    base[:, 0] *= 5.0
    base[:, 1] *= 2.0
    q, _ = np.linalg.qr(rng.normal(size=(6, 6)))
    data = base @ q.T + rng.normal(size=6)  # nonzero mean
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(data)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    comps, eigs, tv, iters = pca_power(df, n_components=2)

    C = np.cov(data.T, bias=True)
    w, V = np.linalg.eigh(C)
    np.testing.assert_allclose(eigs, [w[-1], w[-2]], rtol=1e-9)
    np.testing.assert_allclose(tv, np.trace(C), rtol=1e-9)
    for j in range(2):
        assert abs(np.dot(comps[j], V[:, -1 - j])) > 1.0 - 1e-9
    # orthonormal + sign convention
    assert abs(np.dot(comps[0], comps[1])) < 1e-9
    for v in comps:
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
        assert v[int(np.argmax(np.abs(v)))] > 0


def test_pca_power_registry_entry_shape(spark):
    """embedding_pca_power: 2 components × 64 dims, descending
    eigenvalues, explained-variance ratios in (0, 1]."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        embedding_pca_power,
    )

    from .conftest import SF_SMALL

    rows = embedding_pca_power(spark, SF_SMALL).collect()
    assert len(rows) == 128
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    assert set(by_comp) == {0, 1}
    e0 = by_comp[0][0].eigenvalue
    e1 = by_comp[1][0].eigenvalue
    assert e0 >= e1 > 0
    for r in rows:
        assert 0 < r.explained_var_ratio <= 1


def test_top_paths_tie_order_pinned(spark, tmp_path):
    """Two events sharing (ts, event_id) — the lake's event_id is NOT
    unique — must serialize in event_type order on both engines, so
    the path is deterministic."""
    import datetime

    import pandas as pd

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        events_top_paths,
    )

    t0 = datetime.datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (5, t0, 1, "b", 1.0, "{}"),
        (5, t0, 1, "a", 1.0, "{}"),   # full (ts, event_id) tie
        (6, t0 + datetime.timedelta(minutes=1), 1, "c", 1.0, "{}"),
        (7, t0, 2, "x", 1.0, "{}"),
    ]
    pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                "event_type", "value", "props"]) \
      .to_parquet(str(tmp_path / "events.parquet"), index=False)

    got = {r.path: (r.n_sessions, r.n_users)
           for r in events_top_paths(spark, str(tmp_path)).collect()}
    assert got == {"a>b>c": (1, 1), "x": (1, 1)}


def test_table_checksum_detects_corruption(spark, tmp_path):
    """Migration-validation property: swapping one column value
    between two rows keeps per-source counts identical but changes
    BOTH checksums; a faithful copy reproduces them bit-for-bit."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        table_checksum,
    )

    rows = [(i, f"text {i}", "en", f"s{i % 2}") for i in range(10)]
    _write_documents(spark, tmp_path / "a", rows)
    _write_documents(spark, tmp_path / "b", rows)
    swapped = list(rows)
    swapped[0] = (0, "text 1", "en", "s0")   # row 0 takes row 1's text
    swapped[1] = (1, "text 0", "en", "s1")
    _write_documents(spark, tmp_path / "c", swapped)

    _write_documents(spark, tmp_path / "d", list(reversed(rows)))

    key = lambda rs: {r.source: (r.n_rows, r.checksum_xor, r.checksum_sum)
                      for r in rs}
    a = key(table_checksum(spark, str(tmp_path / "a")).collect())
    b = key(table_checksum(spark, str(tmp_path / "b")).collect())
    c = key(table_checksum(spark, str(tmp_path / "c")).collect())
    d = key(table_checksum(spark, str(tmp_path / "d")).collect())
    assert a == b                       # faithful copy → identical
    assert a == d                       # row order never matters
    assert set(a) == set(c) == {"s0", "s1"}
    for src in a:
        assert a[src][0] == c[src][0]   # counts can't see the swap
        assert a[src][1] != c[src][1]   # xor does
        assert a[src][2] != c[src][2]   # sum does


def test_split_leakage_only_cross_split_pairs(spark, tmp_path):
    """Planted lake: a val doc near-dupping TRAIN docs is reported
    (with its train-dup count and worst jaccard); near-dup pairs
    entirely inside one split — train-train or val-val — are not.
    Split membership comes from the Knuth hash of doc_id alone
    (ids 1,2,3 hash train; 21,55,76 hash val)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_split_leakage,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "s0"),   # train
        (2, "alpha beta gamma delta epsilon eta", "en", "s0"),    # train
        (21, "alpha beta gamma delta epsilon zeta", "en", "s0"),  # val
        (55, "omega psi chi phi upsilon tau", "en", "s0"),        # val
        (76, "omega psi chi phi upsilon taus", "en", "s0"),       # val
        (3, "one two three four five six seven", "en", "s0"),     # train
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.val_doc_id: (r.n_train_dups, r.max_jaccard)
           for r in corpus_split_leakage(spark, sf_dir).collect()}
    # doc 21 near-dups train docs 1 (jac 1.0) and 2 (5/7); the
    # train-train pair (1,2) and the val-val pair (55,76) are silent
    assert got == {21: (2, 1.0)}


def test_k_anonymity_generalization_monotone(spark):
    """Coarser quasi-identifiers can only merge equivalence classes,
    so up the ladder k and avg class size are non-decreasing while
    class count and the below-k row fraction are non-increasing."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        table_k_anonymity,
    )

    from .conftest import SF_SMALL

    rows = sorted(table_k_anonymity(spark, SF_SMALL).collect(),
                  key=lambda r: r.level)
    assert [r.level for r in rows] == [0, 1, 2]
    for lo, hi in zip(rows, rows[1:]):
        assert hi.k_anonymity >= lo.k_anonymity
        assert hi.n_classes <= lo.n_classes
        assert hi.frac_below_k <= lo.frac_below_k
        assert hi.avg_class_size >= lo.avg_class_size
    for r in rows:
        assert r.n_rows_below_k <= round(r.frac_below_k * r.n_classes
                                         * r.avg_class_size) + 1


def test_bpe_encode_matches_python_train_plus_encode(spark, tmp_path):
    """text_bpe_encode ≡ a pure-Python BPE train+encode over the same
    corpus: per-language aggregate ledger on a planted lake whose
    round-2 merge CONSUMES round 1's symbol (so the chained fold's
    rank order is load-bearing), and the compression identity
    toks_raw - toks_encoded == total applied merges."""
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bpe_encode,
    )

    def py_train_encode(texts, n_merges):
        docs = [[t.lower() for t in re.split(r"\s+", x.strip())
                 if t and "␞" not in t] for x in texts]
        for _ in range(n_merges):
            census = {}
            for d in docs:
                for a, b in zip(d, d[1:]):
                    if a != b:
                        census[(a, b)] = census.get((a, b), 0) + 1
            if not census:
                break
            (a, b), _ = min(census.items(), key=lambda kv: (-kv[1], kv[0]))
            sym = f"{a}␞{b}"
            out_docs = []
            for d in docs:
                out = []
                for t in d:
                    if out and out[-1] == a and t == b:
                        out[-1] = sym
                    else:
                        out.append(t)
                out_docs.append(out)
            docs = out_docs
        return docs

    rows = [
        (0, "a b c " * 5 + "a b c", "en", "s0"),   # forces a␞b then a␞b␞c
        (1, "a b c a b", "en", "s0"),
        (2, "x y x y x y", "fr", "s0"),
        (3, "lone tokens only here", "fr", "s0"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.lang: (r.n_docs, r.toks_raw, r.toks_encoded,
                    r.n_merged_final, r.compression)
           for r in text_bpe_encode(spark, sf_dir, n_merges=3).collect()}

    texts = [t for _, t, _, _ in rows]
    raw = [[t.lower() for t in re.split(r"\s+", x.strip())
            if t and "␞" not in t] for x in texts]
    enc = py_train_encode(texts, 3)
    langs = [lang for _, _, lang, _ in rows]
    want = {}
    for lang in set(langs):
        idx = [i for i, lg in enumerate(langs) if lg == lang]
        n_raw = sum(len(raw[i]) for i in idx)
        n_enc = sum(len(enc[i]) for i in idx)
        n_sym = sum(sum("␞" in t for t in enc[i]) for i in idx)
        want[lang] = (len(idx), n_raw, n_enc, n_sym,
                      round(1.0 - n_enc / n_raw, 4))
    assert got == want
    # the planted corpus really exercises a nested merge
    assert any("␞" in t and t.count("␞") == 2 for d in enc for t in d)


def test_bpe_encode_oracle_degenerate_corpus_passthrough(spark, tmp_path):
    """ADVICE r11 #2: on a corpus where a census round finds NO
    adjacent a<>b pair, the Spark encoder breaks out of
    _bpe_train_merges and encodes with fewer merges — the DuckDB
    oracle's rewrite CTE must pass tokens through (LEFT JOIN ON TRUE
    + COALESCE-style CASE), not annihilate the final d0⋈d3 ledger via
    a CROSS JOIN with zero rows.  Two planted regimes:

    - fully degenerate (every doc one repeated token): m1 is already
      empty — the old CROSS JOIN form returned ZERO rows here;
    - partially degenerate ('a b' docs only): round 1 merges (a,b),
      round 2's census is empty — the old form zeroed the ledger
      after one good merge.

    Both must yield the Spark entry's rows bit-for-bit from the
    PRODUCTION oracle string (__spark_entry__.oracle_sql, the exact
    text the driver runs)."""
    import duckdb

    import __spark_entry__ as entrymod
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_bpe_encode,
    )

    lakes = {
        "fully_degenerate": [
            (0, "aaa aaa aaa", "en", "s0"),
            (1, "bb bb", "en", "s0"),
            (2, "zz zz zz zz", "fr", "s0"),
        ],
        "partially_degenerate": [
            (0, "a b", "en", "s0"),
            (1, "a b", "en", "s0"),
            (2, "a b", "fr", "s0"),
        ],
    }
    sql = entrymod.oracle_sql()["text_bpe_encode"]
    for regime, rows in lakes.items():
        lake = tmp_path / regime
        lake.mkdir()
        sf_dir = _write_documents(spark, lake, rows)
        got = sorted(
            (r.lang, r.n_docs, r.toks_raw, r.toks_encoded,
             r.n_merged_final, round(r.compression, 4))
            for r in text_bpe_encode(spark, sf_dir, n_merges=3).collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS "
                    f"SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
        want = sorted((lang, n, tr, te, nm, round(comp, 4))
                      for lang, n, tr, te, nm, comp
                      in con.sql(sql).fetchall())
        con.close()
        assert got, f"{regime}: Spark entry returned no rows"
        assert got == want, f"{regime}: Spark vs oracle diverged"
        # the regression this guards: the oracle must NOT be empty
        assert len(want) == len({lang for _, _, lang, _ in rows})


def test_copurchase_lift_planted_baskets(spark, tmp_path):
    """Market-basket semantics on planted orders: duplicate lineitems
    of the same part count ONCE per order (distinct baskets), pair
    counts and lift follow the textbook formula."""
    import pandas as pd

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        lineitem_copurchase_lift,
    )

    rows = [(1, 10), (1, 10), (1, 20), (1, 30),   # dup part 10
            (2, 10), (2, 20),
            (3, 10),
            (4, 40)]
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]) \
      .to_parquet(str(tmp_path / "lineitem.parquet"), index=False)

    got = {(r.part_a, r.part_b): (r.n_both, r.n_a, r.n_b, r.lift)
           for r in lineitem_copurchase_lift(spark, str(tmp_path)).collect()}
    assert got == {
        (10, 20): (2, 3, 2, round(2 * 4 / 6, 4)),
        (10, 30): (1, 3, 1, round(1 * 4 / 3, 4)),
        (20, 30): (1, 2, 1, 2.0),
    }


def test_export_manifest_write_readback_and_composition(spark, tmp_path):
    """The manifest is a real export receipt: physically write the
    packed corpus partitioned by shard_id, re-read EACH shard's files,
    and recompute its manifest row from the read-back data — counts,
    token totals, id ranges, and checksums must all reproduce.  Also
    the composition law: shard checksums XOR into table_checksum's
    table-level XOR (both fingerprints share _doc_row_hash)."""
    from functools import reduce

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        _doc_row_hash,
        corpus_export_manifest,
        table_checksum,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        token_count,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.packing import (
        pack_by_budget,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        load_tables,
    )

    from .conftest import SF_SMALL

    manifest = {r.shard_id: (r.n_docs, r.n_tokens, r.first_doc_id,
                             r.last_doc_id, r.checksum_xor)
                for r in corpus_export_manifest(spark, SF_SMALL).collect()}

    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    sized = docs.select("doc_id", "lang", "source", "n_chars", "text",
                        token_count("text").alias("n_tokens"))
    out = str(tmp_path / "shards")
    pack_by_budget(sized, "n_tokens", ["doc_id"], budget=2000) \
        .write.partitionBy("shard_id").parquet(out)

    back = spark.read.parquet(out)
    got = {r.shard_id: (r.n_docs, r.n_tokens, r.first_doc_id,
                        r.last_doc_id, r.checksum_xor)
           for r in back.groupBy("shard_id")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.min("doc_id").alias("first_doc_id"),
                F.max("doc_id").alias("last_doc_id"),
                F.bit_xor(_doc_row_hash()).alias("checksum_xor"))
           .collect()}
    assert got == manifest
    assert len(manifest) > 1

    table_xor = reduce(lambda a, b: a ^ b,
                       (r.checksum_xor
                        for r in table_checksum(spark, SF_SMALL).collect()))
    shard_xor = reduce(lambda a, b: a ^ b,
                       (v[4] for v in manifest.values()))
    assert table_xor == shard_xor


def test_hot_keys_planted_skew(spark, tmp_path):
    """A planted 50%-hot key must surface with share 0.5 and skew_x =
    share x n_keys; ties at the tail break deterministically."""
    import datetime

    import pandas as pd

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        events_hot_keys,
    )

    t0 = datetime.datetime(2024, 3, 1)
    rows = [(i, t0, 99, "e", 1.0, "{}") for i in range(10)]      # hot: 10
    rows += [(100 + u, t0, u, "e", 1.0, "{}")
             for u in range(10)]                                  # 10 keys x1
    pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                "event_type", "value", "props"]) \
      .to_parquet(str(tmp_path / "events.parquet"), index=False)

    got = [(r.user_id, r.n_rows, r.share, r.skew_x)
           for r in events_hot_keys(spark, str(tmp_path), k=3).collect()]
    # 20 rows total, 11 distinct keys; hot key 99 holds half the table
    assert got[0] == (99, 10, 0.5, round(0.5 * 11, 4))
    assert [g[0] for g in got[1:]] == [0, 1]      # tie → user_id order
    assert all(g[1] == 1 for g in got[1:])


def test_quality_classifier_order_invariant_and_signs(spark, tmp_path):
    """The surrogate-model score depends only on the distinct token
    SET: permuted and duplicated tokens score identically; keep flag
    is exactly the sign of the score."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_quality_classifier_score,
    )

    rows = [
        (0, "alpha beta gamma delta", "en", "s0"),
        (1, "delta gamma beta alpha", "en", "s0"),       # permutation
        (2, "alpha alpha beta gamma delta delta", "en", "s0"),  # dups
        (3, "completely different words here", "en", "s0"),
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.doc_id: (r.n_feats, r.quality_score, r.keep)
           for r in text_quality_classifier_score(spark, sf_dir).collect()}
    assert got[0] == got[1] == got[2]
    assert got[0][0] == 4
    assert got[3] != got[0]
    for n, score, keep in got.values():
        assert keep == (score > 0)


def test_link_prediction_planted_graphs(spark):
    """Path a-b-c predicts (a,c) with score 1; a 4-cycle predicts both
    diagonals via two shared neighbors; adjacent pairs never appear."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.graph import (
        link_prediction_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3),                      # path
         (11, 12), (12, 13), (13, 14), (11, 14)],   # 4-cycle
        "id_a: long, id_b: long")
    got = {(r.id_a, r.id_b): (r.common_neighbors, r.score)
           for r in link_prediction_scores(edges).collect()}
    assert got == {
        (1, 3): (1, 1.0),
        (11, 13): (2, 1.0),
        (12, 14): (2, 1.0),
    }


def test_hot_slice_join_equals_plain_join(spark):
    """hot_slice_join (broadcast hot slice ∪ shuffled cold remainder)
    must be row-for-row equal to the plain inner join on a planted
    80%-hot-key fact; NULL fact keys drop on both paths (inner)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.skew import (
        hot_slice_join,
    )

    fact_rows = [(7, i) for i in range(80)]             # hot key
    fact_rows += [(k, 1000 + k) for k in range(20)]     # 20 cold keys x1
    fact_rows += [(None, -1)]                           # NULL key
    fact = spark.createDataFrame(fact_rows, "fk: int, payload: int")
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(25)], "dk: int, attr: string")

    got = hot_slice_join(fact, dim, "fk", "dk", n_hot=3)
    plain = fact.join(dim, fact["fk"] == dim["dk"], "inner")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, plain.collect()))
    assert got.count() == 100  # hot 80 + cold 20; NULL row dropped


def test_dim_truncation_report_full_dim_and_numpy_parity(spark):
    """With trunc_dim == full dimension the two argmaxes must agree on
    every query; the full-cosine top-1 matches a NumPy brute force."""
    import numpy as np

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ann_dim_truncation_report,
    )

    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    dim = len(emb.first().embedding)
    full = ann_dim_truncation_report(spark, SF_SMALL, n_queries=8,
                                     trunc_dim=dim).collect()
    assert len(full) == 8
    assert all(r.agree and r.nn_full == r.nn_trunc
               and r.sim_full == r.sim_trunc for r in full)

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = M @ M.T
    for r in full:
        qi = int(np.where(ids == r.q_id)[0][0])
        s = np.round(sims[qi].copy(), 6)
        s[qi] = -2.0                       # exclude self
        best = s.max()
        # lowest vec_id among rounded-sim ties (the pinned tiebreak)
        expect = ids[(s == best)].min()
        assert r.nn_full == expect

    trunc = ann_dim_truncation_report(spark, SF_SMALL, n_queries=8,
                                      trunc_dim=16).collect()
    assert all((r.nn_full == r.nn_trunc) == r.agree for r in trunc)


def test_quality_calibration_partitions_corpus(spark):
    """Calibration bins partition the scored corpus: doc counts sum to
    the per-doc relation's size, pass counts are bounded, and every
    bin's mean score lies inside the bin's score interval."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_quality_calibration,
        text_quality_classifier_score,
    )

    bins = corpus_quality_calibration(spark, SF_SMALL).collect()
    n_scored = text_quality_classifier_score(spark, SF_SMALL).count()
    assert sum(r.n_docs for r in bins) == n_scored
    for r in bins:
        assert 0 <= r.n_gold_pass <= r.n_docs
        assert r.gold_pass_rate == round(r.n_gold_pass / r.n_docs, 4)
        lo = r.score_bin / 4.0 - 1.0
        assert lo <= r.mean_score < lo + 0.25


# ------------------------------------------------------------ r7c entries —

def test_salted_replicate_join_equals_plain_join(spark):
    """salted_replicate_join (full salting: fact salted, dim replicated
    salt_buckets×) must be row-for-row equal to the plain inner join on
    a planted hot-key fact, AND must actually spread the hot key over
    more than one salt value (otherwise the rewrite is a no-op)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.skew import (
        _SALT,
        salted_replicate_join,
    )

    fact_rows = [(7, i) for i in range(80)]             # hot key
    fact_rows += [(k, 1000 + k) for k in range(20)]     # 20 cold keys x1
    fact_rows += [(None, -1)]                           # NULL key
    fact = spark.createDataFrame(fact_rows, "fk: int, payload: int")
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(25)], "dk: int, attr: string")

    got = salted_replicate_join(fact, dim, "fk", "dk", salt_buckets=4)
    plain = fact.join(dim, fact["fk"] == dim["dk"], "inner")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, plain.collect()))
    assert got.count() == 100  # hot 80 + cold 20; NULL row dropped

    # the hot key's 80 rows must land on >1 salt (deterministic hash of
    # the payload column decorrelates rows sharing the key)
    from pyspark.sql import functions as SF
    salted = fact.withColumn(
        _SALT, SF.pmod(SF.xxhash64("fk", "payload"), SF.lit(4)))
    n_salts = (salted.where(SF.col("fk") == 7)
               .select(_SALT).distinct().count())
    assert n_salts > 1


def test_salted_replicate_join_duplicate_flood_needs_salt_source(spark):
    """VERDICT r8 #5: the docstring's duplicate-heavy-fact limitation,
    demonstrated rather than prose-only.  BYTE-IDENTICAL duplicate fact
    rows (an at-least-once replay flood on one hot key) all hash to ONE
    salt under the default row-hash salt — the hot key still melts a
    single reducer — while an explicit ``salt_source`` built from a
    caller-supplied ingest-sequence column bounds every (key, salt)
    group to ~flood/salt_buckets, and the join result stays exactly the
    plain inner join under both salts."""
    from pyspark.sql import functions as SF

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.skew import (
        _SALT,
        salted_replicate_join,
    )

    buckets = 8
    flood_n = 400
    # the flood: 400 byte-identical rows on hot key 7 (same payload —
    # a replayed event), plus a cold tail; ingest_seq is the
    # caller-side physical-row disambiguator the docstring requires
    fact_rows = [(7, 99, i) for i in range(flood_n)]
    fact_rows += [(k, 1000 + k, flood_n + k) for k in range(10, 20)]
    fact = spark.createDataFrame(
        fact_rows, "fk: int, payload: int, ingest_seq: long")
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(15)], "dk: int, attr: string")

    # 1. failure mode: the default salt is a pure function of the row
    #    bytes EXCLUDING nothing — identical rows share one bucket
    default_salt = SF.pmod(
        SF.xxhash64(*[SF.col(c) for c in ["fk", "payload"]]), SF.lit(buckets))
    flood_salts = (fact.drop("ingest_seq")
                   .withColumn(_SALT, default_salt)
                   .where(SF.col("fk") == 7)
                   .select(_SALT).distinct().count())
    assert flood_salts == 1  # all 400 rows -> one reducer: salting defeated

    # 2. escape hatch: ingest-sequence salt spreads the flood evenly —
    #    every (key, salt) group is bounded by ceil(flood/buckets)
    seq_salt = SF.pmod(SF.col("ingest_seq"), SF.lit(buckets))
    per_bucket = (fact.withColumn(_SALT, seq_salt.cast("int"))
                  .where(SF.col("fk") == 7)
                  .groupBy(_SALT).count().collect())
    assert len(per_bucket) == buckets
    assert max(r["count"] for r in per_bucket) <= -(-flood_n // buckets)

    # 3. correctness is unchanged under BOTH salts (the salted join is
    #    exactly the plain join, duplicates preserved multiplicatively)
    plain = sorted(map(tuple, fact.drop("ingest_seq")
                       .join(dim, fact["fk"] == dim["dk"], "inner")
                       .collect()))
    got_default = salted_replicate_join(
        fact.drop("ingest_seq"), dim, "fk", "dk", salt_buckets=buckets)
    assert sorted(map(tuple, got_default.collect())) == plain

    got_seq = salted_replicate_join(
        fact, dim, "fk", "dk", salt_buckets=buckets,
        salt_source=seq_salt).drop("ingest_seq")
    plain_with_seq = sorted(map(tuple, fact.join(
        dim, fact["fk"] == dim["dk"], "inner").drop("ingest_seq").collect()))
    assert sorted(map(tuple, got_seq.collect())) == plain_with_seq


def test_negative_sample_contract_and_python_parity(spark):
    """corpus_negative_sample: per anchor ≤ k negatives with contiguous
    ranks, never the anchor itself, never an exact duplicate of it;
    bit-identical to a pure-Python replay of the hash ranking."""
    import hashlib

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_negative_sample,
    )

    got = corpus_negative_sample(spark, SF_SMALL).collect()
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "text").collect()
    md5 = {r.doc_id: hashlib.md5(r.text.encode()).hexdigest() for r in docs}

    by_anchor: dict[int, list] = {}
    for r in got:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for aid, rows in by_anchor.items():
        rows.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 4
        for r in rows:
            assert r.cand_id != aid
            assert md5[r.cand_id] != md5[aid]

    # pure-Python replay of the deterministic hash ranking
    expected = []
    anchors = [d for d in md5 if d < 16]
    for aid in anchors:
        cands = []
        for cid in md5:
            if cid == aid or md5[cid] == md5[aid]:
                continue
            u = ((aid * 1000003 + cid) % 2147483648) * 2654435761 \
                % 4294967296
            if u < 1073741824:
                cands.append((u, cid))
        cands.sort()
        for rank, (u, cid) in enumerate(cands[:4], start=1):
            expected.append((aid, rank, cid, u))
    assert sorted((r.anchor_id, r.neg_rank, r.cand_id, r.pair_hash)
                  for r in got) == sorted(expected)


def test_domain_reweight_shares_normalize_and_upweight_monotone(spark):
    """corpus_domain_reweight: new shares renormalize to 1 (DECIMAL-
    summed raws), excess is non-negative, and the upweight ratio
    new_share/base_share is monotone in excess — worse-fit domains
    never lose share to better-fit ones."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_domain_reweight,
    )

    rows = corpus_domain_reweight(spark, SF_SMALL).collect()
    assert rows
    assert abs(sum(r.new_share for r in rows) - 1.0) < 1e-5 * len(rows)
    assert all(r.excess >= 0 for r in rows)
    by_excess = sorted(rows, key=lambda r: r.excess)
    ratios = [r.new_share / r.base_share for r in by_excess]
    assert all(b >= a - 1e-3 for a, b in zip(ratios, ratios[1:]))
    # at least one domain sits above the corpus mean on any real lake
    assert any(r.excess > 0 for r in rows)


def test_rrf_fusion_contract(spark):
    """retrieval_hybrid_rrf: every fused row came from ≥1 arm, the rrf
    score is exactly the recomputed 1/(60+rank) sum, and the output is
    rrf-descending with doc_id tiebreak."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        retrieval_hybrid_rrf,
    )

    rows = retrieval_hybrid_rrf(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.rank_sparse is not None or r.rank_dense is not None
        expect = 0.0
        if r.rank_sparse is not None:
            assert r.bm25 is not None
            expect += 1.0 / (60 + r.rank_sparse)
        if r.rank_dense is not None:
            assert r.cos_sim is not None
            expect += 1.0 / (60 + r.rank_dense)
        assert abs(r.rrf - round(expect, 6)) < 1e-9
    keys = [(-r.rrf, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_inverted_index_contract_and_python_parity(spark):
    """text_inverted_index: every token kept has df >= 5, post_rank is
    contiguous 1..<=3 ordered tf-desc/doc_id-asc, and one token's full
    posting head matches a pure-Python recount."""
    from collections import Counter, defaultdict

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_inverted_index,
    )

    got = text_inverted_index(spark, SF_SMALL).collect()
    assert got
    by_tok: dict[str, list] = defaultdict(list)
    for r in got:
        assert r.df >= 5
        by_tok[r.tok].append(r)
    for tok, rows in by_tok.items():
        rows.sort(key=lambda r: r.post_rank)
        assert [r.post_rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        keys = [(-r.tf, r.doc_id) for r in rows]
        assert keys == sorted(keys)
        assert len({r.df for r in rows}) == 1
        assert len({r.total_tf for r in rows}) == 1

    # pure-Python recount for the corpus-wide heaviest token
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "text").collect()
    tf: Counter = Counter()
    for d in docs:
        for t in d.text.strip().split():
            if t:
                tf[(t.lower(), d.doc_id)] += 1
    heaviest = max(by_tok, key=lambda t: by_tok[t][0].total_tf)
    per_doc = sorted(((cnt, doc) for (t, doc), cnt in tf.items()
                      if t == heaviest), key=lambda p: (-p[0], p[1]))
    expect_df = len(per_doc)
    expect_ttf = sum(c for c, _ in per_doc)
    rows = by_tok[heaviest]
    assert rows[0].df == expect_df and rows[0].total_tf == expect_ttf
    assert [(r.tf, r.doc_id) for r in rows] == per_doc[:3]


def test_cross_source_overlap_planted_matrix(spark, tmp_path):
    """corpus_cross_source_overlap on a planted 3-source lake: srcA and
    srcB share two fingerprints (one of them twice in B, one differing
    only in CASE — the fingerprint lowercases), srcC shares one exact
    body plus one MIRRORED doc (same 12-token opening, edited tail —
    the near-verbatim case exact body hashing misses) — the matrix
    reports exactly those counts, pairs are strictly ordered, and a
    never-shared body appears nowhere."""
    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_cross_source_overlap,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    body1, body2, body3, solo = "shared one", "shared two", "bridge", "solo"
    # 14-token opening; the mirror keeps tokens 1-12 and edits the tail
    long_a = "alpha beta gamma delta epsilon zeta eta theta iota " \
             "kappa lambda mu nu xi"
    long_c = "alpha beta gamma delta epsilon zeta eta theta iota " \
             "kappa lambda mu EDITED TAIL HERE"
    docs = [
        (0, body1, "en", "srcA", len(body1)),
        (1, body2, "en", "srcA", len(body2)),
        (2, body3, "en", "srcA", len(body3)),
        (3, body1, "en", "srcB", len(body1)),
        (4, body2.upper(), "en", "srcB", len(body2)),  # case-only variant
        (5, body2, "en", "srcB", len(body2)),   # body2 twice in B
        (6, body3, "en", "srcC", len(body3)),
        (7, solo, "en", "srcC", len(solo)),
        (8, long_a, "en", "srcA", len(long_a)),
        (9, long_c, "en", "srcC", len(long_c)),  # near-verbatim mirror
    ]
    lake = str(tmp_path / "overlap_lake")
    spark.createDataFrame(docs, schema).coalesce(1) \
        .write.parquet(f"{lake}/documents.parquet")
    rows = {(r.source_a, r.source_b): r
            for r in corpus_cross_source_overlap(spark, lake).collect()}
    assert set(rows) == {("srcA", "srcB"), ("srcA", "srcC")}
    ab = rows[("srcA", "srcB")]
    assert ab.n_shared_fps == 2
    assert ab.n_docs_a == 2 and ab.n_docs_b == 3
    ac = rows[("srcA", "srcC")]
    assert ac.n_shared_fps == 2
    assert ac.n_docs_a == 2 and ac.n_docs_b == 2
    assert all(a < b for a, b in rows)


def test_tokenizer_fertility_python_parity(spark):
    """tokenizer_fertility_report equals a pure-Python recount of
    bytes, whitespace words, and BPE-ish subwords per source."""
    import re
    from collections import defaultdict

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        tokenizer_fertility_report,
    )

    got = {r.source: r
           for r in tokenizer_fertility_report(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("source", "text").collect()
    pat = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    acc = defaultdict(lambda: [0, 0, 0, 0])
    for d in docs:
        a = acc[d.source]
        a[0] += 1
        a[1] += len(d.text.encode("utf-8"))
        a[2] += len(d.text.strip().split())
        a[3] += len(pat.findall(d.text))
    assert set(got) == set(acc)
    for src, (n, nb, nw, ns) in acc.items():
        r = got[src]
        assert (r.n_docs, r.total_bytes, r.total_words,
                r.total_subwords) == (n, nb, nw, ns)
        assert abs(r.fertility - round(ns / nw, 6)) < 1e-9
        assert abs(r.bytes_per_subword - round(nb / ns, 6)) < 1e-9


def test_curriculum_order_dense_and_phase_monotone(spark):
    """corpus_curriculum_order: seq is a dense 1..N permutation, phase
    is non-decreasing along seq (high quality trains first), and the
    in-phase order is exactly the (knuth-hash, doc_id) sort."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_curriculum_order,
    )

    rows = sorted(corpus_curriculum_order(spark, SF_SMALL).collect(),
                  key=lambda r: r.seq)
    n_docs = read_parquet_table(spark, SF_SMALL, "documents").count()
    assert [r.seq for r in rows] == list(range(1, n_docs + 1))
    assert len({r.doc_id for r in rows}) == n_docs
    phases = [r.phase for r in rows]
    assert phases == sorted(phases)
    assert all(0 <= p <= 3 for p in phases)
    keys = [(r.phase,
             ((r.doc_id % 2147483648) * 2654435761) % 4294967296,
             r.doc_id)
            for r in rows]
    assert keys == sorted(keys)


def test_join_cardinality_estimate_matches_executed_join(spark):
    """join_cardinality_estimate's n² algebra equals the EXECUTED
    partkey self-join row count for the top key, shares are in (0,1]
    and descending, and est_pairs == n_rows²."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        join_cardinality_estimate,
    )

    rows = join_cardinality_estimate(spark, SF_SMALL).collect()
    assert rows
    assert all(r.est_pairs == r.n_rows * r.n_rows for r in rows)
    ests = [r.est_pairs for r in rows]
    assert ests == sorted(ests, reverse=True)
    assert all(0 < r.share <= 1 for r in rows)

    li = read_parquet_table(spark, SF_SMALL, "lineitem")
    top = rows[0]
    a = li.where(F.col("l_partkey") == top.l_partkey).alias("a")
    b = li.where(F.col("l_partkey") == top.l_partkey).alias("b")
    actual = a.join(b, F.col("a.l_partkey") == F.col("b.l_partkey")).count()
    assert actual == top.est_pairs


def test_truncated_rerank_recall_vs_exact(spark):
    """ann_truncated_rerank: per-query ranks are contiguous 1..5,
    cos_full is exact (matches brute force for the same pair), and
    recall@5 vs single-stage exact search clears 0.85 — the measured
    cost of the 32-dim shortlist on the isotropic synthetic lake
    (deterministic, so this is a fixed number, not a flake)."""
    from collections import defaultdict

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        ann_truncated_rerank,
    )

    got = ann_truncated_rerank(spark, SF_SMALL).collect()
    by_q = defaultdict(list)
    for r in got:
        by_q[r.q_id].append(r)
    assert set(by_q) == set(range(8))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.cos_full for r in rows]
        assert sims == sorted(sims, reverse=True)

    emb = read_parquet_table(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 8) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    exact = brute_force_topk(queries, emb, k=5).collect()
    exact_sets = defaultdict(set)
    for r in exact:
        exact_sets[r.q_id].add(r.vec_id)
    hits = sum(len(exact_sets[q] & {r.vec_id for r in rows})
               for q, rows in by_q.items())
    recall = hits / (5 * len(by_q))
    assert recall >= 0.85, f"two-stage recall@5 {recall}"


def test_temperature_resample_flattens(spark):
    """corpus_temperature_resample: q sums to 1, expected_docs sums to
    the corpus size, and the boost ORDER is the reverse of the share
    order (smaller sources boosted more — the flattening contract);
    the raw-share order itself is preserved (alpha keeps monotonicity,
    it only compresses the range)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_temperature_resample,
    )

    rows = corpus_temperature_resample(spark, SF_SMALL).collect()
    assert len(rows) >= 2
    assert abs(sum(r.q for r in rows) - 1.0) < 1e-6
    n_total = sum(r.n_docs for r in rows)
    assert abs(sum(r.expected_docs for r in rows) - n_total) < 0.01 * n_total
    by_p = sorted(rows, key=lambda r: r.p)
    boosts = [r.boost for r in by_p]
    assert boosts == sorted(boosts, reverse=True)
    qs = [r.q for r in by_p]
    assert qs == sorted(qs)


def test_mixed_language_report_python_parity(spark):
    """text_mixed_language_report equals a pure-Python replay of the
    sentence split + stopword-density classification, and the count
    columns are internally consistent."""
    import re

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.functions.text import (
        EN_STOPWORDS,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        text_mixed_language_report,
    )

    got = {r.doc_id: r
           for r in text_mixed_language_report(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "text").collect()
    sw = set(EN_STOPWORDS)
    for d in docs:
        sents = [s.strip() for s in re.split(r"[.!?]+\s*", d.text)
                 if s.strip()]
        if not sents:
            assert d.doc_id not in got
            continue
        n_en = 0
        for s in sents:
            toks = s.strip().split()
            hits = sum(1 for t in toks if t.lower() in sw)
            if hits / len(toks) >= 0.08:
                n_en += 1
        r = got[d.doc_id]
        assert (r.n_sent, r.n_en) == (len(sents), n_en)
        assert r.n_other == r.n_sent - r.n_en
        assert r.is_mixed == (r.n_en > 0 and r.n_other > 0)
        assert abs(r.minority_share
                   - round(min(r.n_en, r.n_other) / r.n_sent, 6)) < 1e-9


def test_quality_ablation_consistent_with_gopher_flags(spark):
    """corpus_quality_ablation's fail / unique-fail counters equal a
    recount over text_gopher_quality's per-doc booleans."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_quality_ablation,
        text_gopher_quality,
    )

    flags = text_gopher_quality(spark, SF_SMALL).collect()
    cols = {"word_count": "pass_word_count",
            "mean_word_len": "pass_mean_word_len",
            "symbol_ratio": "pass_symbol_ratio",
            "stopwords": "pass_stopwords"}
    n_removed = sum(1 for f in flags if not f.pass_all)
    got = {r.rule: r for r in corpus_quality_ablation(spark, SF_SMALL)
           .collect()}
    assert set(got) == set(cols)
    for rule, col in cols.items():
        n_fail = sum(1 for f in flags if not f[col])
        n_unique = sum(
            1 for f in flags
            if not f[col] and all(f[c] for c in cols.values() if c != col))
        r = got[rule]
        assert (r.n_fail, r.n_unique_fail) == (n_fail, n_unique)
        assert abs(r.fail_share - round(n_fail / len(flags), 6)) < 1e-9
        assert abs(r.unique_share_of_removed
                   - round(n_unique / max(n_removed, 1), 6)) < 1e-9


def test_boilerplate_share_consistent_with_line_dedup_census(spark):
    """corpus_boilerplate_share's per-source dup counts equal a direct
    Python recount of the 10-token span census."""
    from collections import defaultdict

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        corpus_boilerplate_share,
    )

    got = {r.source: r
           for r in corpus_boilerplate_share(spark, SF_SMALL).collect()}
    docs = read_parquet_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "source", "text").collect()
    span_docs = defaultdict(set)
    per_doc_spans = {}
    for d in docs:
        toks = d.text.strip().split()
        spans = [" ".join(toks[i:i + 10])
                 for i in range(0, max(len(toks) - 1, 0) + 1, 10)]
        if not spans:
            spans = [""]
        per_doc_spans[d.doc_id] = spans
        for s in spans:
            span_docs[s].add(d.doc_id)
    dup = {s for s, ds in span_docs.items() if len(ds) >= 2}
    acc = defaultdict(lambda: [0, 0])
    for d in docs:
        for s in per_doc_spans[d.doc_id]:
            acc[d.source][0] += 1
            if s in dup:
                acc[d.source][1] += 1
    assert set(got) == set(acc)
    for src, (n, nd) in acc.items():
        r = got[src]
        assert (r.n_spans, r.n_dup_spans) == (n, nd)
        assert abs(r.dup_share - round(nd / n, 6)) < 1e-9


def test_grouped_arrow_stats_matches_expression_agg(spark):
    """grouped_arrow_lang_stats (applyInArrow kernel) is bit-identical
    to the plain expression GROUP BY it escapes from."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        grouped_arrow_lang_stats,
    )

    got = sorted(map(tuple, grouped_arrow_lang_stats(spark, SF_SMALL)
                     .collect()))
    expect = sorted(map(tuple, (
        read_parquet_table(spark, SF_SMALL, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_chars").cast("long").alias("min_chars"),
             F.max("n_chars").cast("long").alias("max_chars"),
             F.sum("n_chars").cast("long").alias("sum_chars"))
        .collect())))
    assert got == expect


def test_theta_overlap_exact_mode_set_algebra(spark):
    """agg_theta_sketch_overlap at small SF (cardinalities below the
    sketch's exact-mode threshold): estimates equal the true set
    algebra computed from collected user sets."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        agg_theta_sketch_overlap,
    )

    rows = agg_theta_sketch_overlap(spark, SF_SMALL).collect()
    assert rows
    ev = read_parquet_table(spark, SF_SMALL, "events") \
        .select("event_type", "user_id").collect()
    users: dict[str, set] = {}
    for r in ev:
        users.setdefault(r.event_type, set()).add(r.user_id)
    n_types = len(users)
    assert len(rows) == n_types * (n_types - 1) // 2
    for r in rows:
        assert r.type_a < r.type_b
        ua, ub = users[r.type_a], users[r.type_b]
        assert (r.n_a, r.n_b) == (len(ua), len(ub))
        assert r.n_union == len(ua | ub)
        assert r.n_intersect == len(ua & ub)
        assert abs(r.jaccard
                   - round(len(ua & ub) / len(ua | ub), 6)) < 1e-9


def test_rate_limit_sample_keeps_earliest(spark):
    """events_rate_limit_sample: <=3 rows per (user, hour), ranks
    contiguous from 1, and the kept rows are exactly the earliest by
    (ts, event_id) — verified by a Python replay."""
    from collections import defaultdict

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        events_rate_limit_sample,
    )

    got = defaultdict(list)
    for r in events_rate_limit_sample(spark, SF_SMALL).collect():
        got[(r.user_id, r.hour)].append(r)
    ev = read_parquet_table(spark, SF_SMALL, "events") \
        .select("event_id", "user_id",
                F.date_trunc("hour", "ts").alias("hour"), "ts").collect()
    full = defaultdict(list)
    for r in ev:
        full[(r.user_id, r.hour)].append((r.ts, r.event_id))
    assert set(got) == set(full)
    for key, rows in got.items():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        expect = [eid for _, eid in sorted(full[key])[:3]]
        assert [r.event_id for r in rows] == expect


def test_scd2_apply_version_chain_invariants(spark):
    """etl_scd2_apply invariants, recomputed independently in Python:
    updated keys carry a closed old version + an open new one, no-op
    batch rows do NOT version, batch-only keys insert one current row,
    and every key ends with exactly one is_current version."""
    from collections import defaultdict
    from datetime import date

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        etl_scd2_apply,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    bal = {r.c_custkey: round(r.c_acctbal, 2)
           for r in read_parquet_table(spark, SF_SMALL, "customer")
           .select("c_custkey", "c_acctbal").collect()}
    by_key = defaultdict(list)
    for r in etl_scd2_apply(spark, SF_SMALL).collect():
        by_key[r.custkey].append(r)

    t0, eff = date(1995, 1, 1), date(1996, 6, 1)
    for k, old in bal.items():
        rows = by_key.pop(k)
        if k % 7 == 0:                       # updated: closed + current
            assert len(rows) == 2
            closed, = [r for r in rows if not r.is_current]
            cur, = [r for r in rows if r.is_current]
            assert (closed.acctbal, closed.valid_from,
                    closed.valid_to) == (old, t0, eff)
            assert (cur.acctbal, cur.valid_from,
                    cur.valid_to) == (round(old + 50.0, 2), eff, None)
        else:                                # no-op or untouched: as-is
            (r,) = rows
            assert (r.acctbal, r.valid_from, r.valid_to,
                    r.is_current) == (old, t0, None, True)
    # the remainder must be exactly the -key-1 inserts, one current row
    assert set(by_key) == {-k - 1 for k in bal if k % 11 == 0}
    for k, rows in by_key.items():
        (r,) = rows
        assert (r.acctbal, r.valid_from, r.valid_to, r.is_current) == (
            bal[-k - 1], eff, None, True)


def test_quarantine_split_routes_exactly_the_planted_failures(spark):
    """etl_quarantine_split: the quarantined key set and the per-row
    tag strings equal an independent Python recomputation of the
    planted corruption rules, tags stay alphabetical, and clean rows
    never route."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        etl_quarantine_split,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    orders = read_parquet_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_custkey",
        "o_orderdate").collect()
    want = {}
    for r in orders:
        fails = []
        if r.o_orderkey % 61 == 0:
            fails.append("custkey_present")
        if r.o_orderkey % 67 == 0:
            fails.append("date_in_range")
        if r.o_orderkey % 53 == 0 or r.o_totalprice <= 0:
            fails.append("price_positive")
        if r.o_orderkey % 59 == 0:
            fails.append("status_domain")
        if fails:
            want[r.o_orderkey] = ",".join(fails)  # already alphabetical
    got = {r.orderkey: (r.failed_rules, r.n_failed)
           for r in etl_quarantine_split(spark, SF_SMALL).collect()}
    assert {k: v for k, (v, _) in got.items()} == want
    for tags, n in got.values():
        parts = tags.split(",")
        assert parts == sorted(parts) and n == len(parts)


def test_drift_psi_matches_python_and_flags_the_shift(spark):
    """table_drift_psi: per-bin terms equal an independent Python
    recomputation (same binning, same Laplace smoothing), every term is
    non-negative (PSI's (a-e)*ln(a/e) factors share sign), and the
    total flags the planted 7% inflation as a real shift (> 0)."""
    import math
    from collections import Counter

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        table_drift_psi,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    rows = read_parquet_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice").collect()
    binof = lambda p: min(int(p // 50_000), 11)
    old = Counter(binof(r.o_totalprice) for r in rows)
    new = Counter(
        binof(r.o_totalprice * 1.07 if r.o_orderkey % 3 == 0
              else r.o_totalprice)
        for r in rows if r.o_orderkey % 97 != 0)
    tot_old, tot_new = sum(old.values()), sum(new.values())
    want = {}
    for b in range(12):      # ALL 12 bins: the emitted terms ARE the PSI
        e = (old.get(b, 0) + 1) / (tot_old + 12)
        a = (new.get(b, 0) + 1) / (tot_new + 12)
        want[b] = round((a - e) * math.log(a / e), 6)

    rows12 = table_drift_psi(spark, SF_SMALL).collect()
    got = {r.bin: r.psi_term for r in rows12}
    assert got == want
    assert sum(got.values()) > 0               # the shift is detected
    assert all(v >= 0 for v in got.values())   # PSI terms can't go negative
    # completeness (ADVICE r9): each smoothed pct column sums to 1
    assert round(sum(r.expected_pct for r in rows12), 4) == 1.0
    assert round(sum(r.actual_pct for r in rows12), 4) == 1.0


def test_quarantine_split_fires_on_natural_dirt(spark, tmp_path):
    """etl_quarantine_split must route NATURALLY dirty rows, not just
    its mod-derived corruption: the real lake carries no violations, so
    this plants a lake where rows arrive already broken (negative
    price, NULL custkey, bogus status, far-future date) at keys none of
    the derivation mods touch — every rule must still fire, and a clean
    row at an untouched key must not route."""
    from datetime import datetime

    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        etl_quarantine_split,
    )

    # keys coprime to 53/59/61/67 so the mod-derivation leaves them be
    d0 = datetime(1997, 5, 1)
    rows = [
        (1, 100.0, "O", 10, d0),                       # clean
        (2, -5.0, "O", 10, d0),                        # natural bad price
        (3, 100.0, "X", 10, d0),                       # natural bad status
        (4, 100.0, "O", None, d0),                     # natural NULL custkey
        (5, 100.0, "O", 10, datetime(2031, 1, 1)),     # natural future date
        (7, 0.0, "Z", None, datetime(2040, 2, 2)),     # everything at once
    ]
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderdate", T.TimestampType()),
    ])
    lake = str(tmp_path / "dirty_lake")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(f"{lake}/orders.parquet")

    got = {r.orderkey: (r.failed_rules, r.n_failed)
           for r in etl_quarantine_split(spark, lake).collect()}
    assert 1 not in got                                 # clean row stays
    assert got[2] == ("price_positive", 1)
    assert got[3] == ("status_domain", 1)
    assert got[4] == ("custkey_present", 1)
    assert got[5] == ("date_in_range", 1)
    assert got[7] == ("custkey_present,date_in_range,"
                      "price_positive,status_domain", 4)


def test_drift_psi_smoothing_survives_disjoint_bins(spark, tmp_path):
    """table_drift_psi's Laplace claim under the worst case: a lake
    whose derived snapshot occupies a bin the old snapshot never had
    (and vice versa). Every term must come back finite and non-negative
    — the full-outer + add-one smoothing path, exercised for real."""
    import math

    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        table_drift_psi,
    )

    # keys !=0 mod 97 (nothing churns) and chosen so the 7% inflation
    # jumps keys%3==0 across the 50k bin edge: old bin 0 only, new gains
    # bin 1 for the inflated third
    rows = [(k, 48_000.0) for k in range(1, 31)]
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    lake = str(tmp_path / "edge_lake")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(f"{lake}/orders.parquet")

    got = {r.bin: r for r in table_drift_psi(spark, lake).collect()}
    assert set(got) == set(range(12))          # complete 12-bin spine
    assert got[1].n_old == 0 and got[1].n_new > 0      # new-only bin
    for b in range(2, 12):                     # both-empty spine bins:
        r = got[b]                             # equal totals here, so
        assert r.n_old == 0 and r.n_new == 0   # smoothed a == e and the
        assert r.psi_term == 0.0               # term is exactly zero
    for r in got.values():
        assert r.psi_term is not None and math.isfinite(r.psi_term)
        assert r.psi_term >= 0
        assert 0 < r.expected_pct < 1 and 0 < r.actual_pct < 1


def test_scd2_apply_exact_rows_on_controlled_dim(spark, tmp_path):
    """etl_scd2_apply on a 4-key dimension chosen to hit each branch
    exactly once: key 7 updates (two versions), key 5 arrives as a
    no-op (one untouched row), key 13 is absent from the batch (one
    untouched row), key 11 stays untouched AND spawns the shifted
    insert. The full expected relation is asserted literally."""
    from datetime import date

    from pyspark.sql import types as T

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.extensions import (
        etl_scd2_apply,
    )

    schema = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_acctbal", T.DoubleType()),
    ])
    lake = str(tmp_path / "dim_lake")
    spark.createDataFrame(
        [(5, 10.0), (7, 20.0), (11, 30.0), (13, 40.0)], schema) \
        .coalesce(1).write.parquet(f"{lake}/customer.parquet")

    t0, eff = date(1995, 1, 1), date(1996, 6, 1)
    got = sorted(
        (r.custkey, r.acctbal, r.valid_from, r.valid_to, r.is_current)
        for r in etl_scd2_apply(spark, lake).collect())
    assert got == [
        (-12, 30.0, eff, None, True),         # the -key-1 insert
        (5, 10.0, t0, None, True),            # no-op: never versions
        (7, 20.0, t0, eff, False),            # update: closed old
        (7, 70.0, eff, None, True),           # update: open new
        (11, 30.0, t0, None, True),           # untouched in the dim
        (13, 40.0, t0, None, True),           # absent from the batch
    ]


def test_sample_bernoulli_hash_threshold_exact(spark):
    """sample_bernoulli (Knuth-hash promoted in r10): the sampled key
    set equals an independent Python recomputation of the threshold
    predicate, the realized rate sits near the nominal 10 %, and
    membership is key-deterministic (identical on a re-read — the
    property df.sample() cannot give across re-partitioning)."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        sample_bernoulli,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    keys = [r.o_orderkey for r in read_parquet_table(
        spark, SF_SMALL, "orders").select("o_orderkey").collect()]
    want = {k for k in keys
            if ((k % 2147483648) * 2654435761) % 4294967296
            < int(0.1 * 4294967296)}
    got = {r.o_orderkey
           for r in sample_bernoulli(spark, SF_SMALL).collect()}
    assert got == want
    assert 0.05 < len(got) / len(keys) < 0.15
    again = {r.o_orderkey
             for r in sample_bernoulli(spark, SF_SMALL).collect()}
    assert again == got


def test_events_funnel_matches_python_walk(spark):
    """events_funnel: per-step user counts equal an independent Python
    recomputation of the ordered chain (t1 = first view, t2 = first
    click >= t1, t3 = first purchase >= t2), counts are monotone
    non-increasing, and conv_pct is each count over step 1's."""
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_funnel,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    by_user = {}
    for r in read_parquet_table(spark, SF_SMALL, "events").select(
            "user_id", "ts", "event_type").collect():
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    n = [0, 0, 0]
    for evs in by_user.values():
        t1 = min((ts for ts, et in evs if et == "view"), default=None)
        if t1 is None:
            continue
        n[0] += 1
        t2 = min((ts for ts, et in evs
                  if et == "click" and ts >= t1), default=None)
        if t2 is None:
            continue
        n[1] += 1
        if any(et == "purchase" and ts >= t2 for ts, et in evs):
            n[2] += 1

    rows = {r.step: r for r in events_funnel(spark, SF_SMALL).collect()}
    assert [rows[k + 1].n_users for k in range(3)] == n
    assert [rows[k + 1].step_name for k in range(3)] == [
        "view", "click", "purchase"]
    assert n[0] >= n[1] >= n[2] > 0            # non-vacuous at this sf
    for k in range(3):
        assert rows[k + 1].conv_pct == round(n[k] / n[0], 6)


def test_events_funnel_ordering_on_planted_lake(spark, tmp_path):
    """ADVICE r10 #1: at sf0.001/sf0.01 every view-user fully converts,
    so the real-lake test cannot distinguish the ordered chain from
    plain per-event-type existence counts.  Plant a lake where order
    is the ONLY thing separating the two:

    - u1 converts in order (view < click < purchase)   -> steps 1,2,3
    - u2's only click precedes their first view (their purchase even
      follows the view)                                -> step 1 only
    - u3's only purchase lands after the view but BEFORE their first
      qualifying click                                 -> steps 1,2
    - u4 has all three types in exactly reversed order -> step 1 only

    Ordered counts must be strictly decreasing [4, 2, 1]; an
    implementation that drops the ts >= t_{k-1} constraints counts
    [4, 3, 3] (u2/u4 have clicks, u2/u3/u4 have purchases)."""
    import datetime

    import pandas as pd

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_funnel,
    )

    t0 = datetime.datetime(2024, 3, 1, 9, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # u1: in-order full conversion
        (1, at(60), 1, "view", 1.0, "{}"),
        (2, at(65), 1, "click", 1.0, "{}"),
        (3, at(70), 1, "purchase", 1.0, "{}"),
        # u2: click strictly before first view; purchase after view
        # but no qualifying click ever exists -> t2 null -> t3 null
        (4, at(0), 2, "click", 1.0, "{}"),
        (5, at(60), 2, "view", 1.0, "{}"),
        (6, at(90), 2, "purchase", 1.0, "{}"),
        # u3: purchase after view but before the first qualifying click
        (7, at(60), 3, "view", 1.0, "{}"),
        (8, at(62), 3, "purchase", 1.0, "{}"),
        (9, at(65), 3, "click", 1.0, "{}"),
        # u4: fully reversed
        (10, at(0), 4, "purchase", 1.0, "{}"),
        (11, at(30), 4, "click", 1.0, "{}"),
        (12, at(60), 4, "view", 1.0, "{}"),
    ]
    pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                "event_type", "value", "props"]) \
      .to_parquet(str(tmp_path / "events.parquet"), index=False)

    got = {r.step: r for r in events_funnel(spark, str(tmp_path)).collect()}
    assert [got[k].n_users for k in (1, 2, 3)] == [4, 2, 1]
    assert [got[k].conv_pct for k in (1, 2, 3)] == [1.0, 0.5, 0.25]


def test_events_cohort_retention_matches_python(spark):
    """events_cohort_retention (plan upgraded r10 — single-shuffle
    collect_set, no join/count-distinct): the (cohort, offset) matrix
    equals an independent Python recomputation over distinct
    user-weeks, and every user appears in their own cohort's offset-0
    cell."""
    from datetime import timedelta

    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans.relational import (
        events_cohort_retention,
    )
    from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.sources.tables import (
        read_parquet_table,
    )

    weeks = {}
    for r in read_parquet_table(spark, SF_SMALL, "events").select(
            "user_id", "ts").collect():
        d = r.ts.date()
        monday = d - timedelta(days=d.weekday())
        weeks.setdefault(r.user_id, set()).add(monday)
    want = {}
    for wks in weeks.values():
        c0 = min(wks)
        for w in wks:
            k = (w - c0).days // 7
            want[(c0, k)] = want.get((c0, k), 0) + 1

    got = {(r.cohort_week, r.week_offset): r.n_users
           for r in events_cohort_retention(spark, SF_SMALL).collect()}
    assert got == want
    n_users_total = len(weeks)
    assert sum(v for (c, k), v in got.items() if k == 0) == n_users_total

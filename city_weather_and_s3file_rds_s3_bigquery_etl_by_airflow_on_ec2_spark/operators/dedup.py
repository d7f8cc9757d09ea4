"""Deduplication operators for LLM-corpus pipelines (SURVEY.md §2.13):
exact, content-hash, MinHash-LSH, SimHash, and n-gram Jaccard.

Scale design notes
------------------
- Exact/hash dedup is one hash-aggregate shuffle on the dedup key —
  the minimal possible plan; at 100 TB prefer the *hash* variant so
  the shuffle key is 32 fixed bytes instead of the document body.
- MinHash-LSH: banding turns near-dup detection from O(n²) pairs into
  an equi-join on (band_id, band_hash) buckets — the only join shape
  that survives web-scale corpora. Built from native Catalyst
  expressions (shingle → minhash → AND-amplified band), no ML
  pipeline or sparse vectors.
- SimHash: 64-bit signature per doc via one Arrow-batched pandas UDF
  (per-token hashing is not expressible as Catalyst expressions), then
  near-dup candidates = equality on rotated signature bands.
- n-gram Jaccard: exact verification metric; pairs are generated
  banded (same language + near length) to bound the candidate set, the
  same blocking idea LSH automates.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens

# token_jaccard_pairs: rows per (block key) above which a block leaves
# the exact prefix-filter path for the banded-MinHash detour, and the
# detour's fixed geometry (single-token minhash, 8 bands × 2 rows,
# per-(block, band) bucket ceiling, hash seed)
MAX_BLOCK_SIZE = 100_000
DEGRADE_NUM_BANDS = 8
DEGRADE_ROWS_PER_BAND = 2
DEGRADE_MAX_BAND_BUCKET = 1024
DEGRADE_SEED = 42


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Collapse exact duplicates on ``key_cols``: keep the minimum id
    per group and report multiplicity. One hash-agg shuffle; partial
    aggregation (map-side combine) applies automatically."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col),
             F.count(F.lit(1)).alias("dup_count"))
    )


def hash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on sha256(text): shuffles 32-byte digests, not
    document bodies — the at-scale variant of ``exact_dedup``."""
    hashed = df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_sha"))
    return (
        hashed.groupBy("content_sha")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def cap_band_buckets(banded: DataFrame, max_band_bucket: int,
                     keys: tuple[str, ...] = ("band_idx", "band_hash"),
                     ) -> DataFrame:
    """Drop LSH band keys whose bucket exceeds ``max_band_bucket``
    documents — the standard document-frequency ceiling (Leskovec et
    al., MMDS §3.4; Gyawali et al. 2020 use the same cap at
    web scale).  A bucket of width w emits w(w-1)/2 candidate pairs,
    so one globally hot band key (boilerplate-heavy corpora: cookie
    banners, templates, license headers) turns the band equi-join
    quadratic no matter how well everything else scales.  Dropping a
    bucket wider than the ceiling only suppresses pairs among docs
    that agree on an entire band — near-identical docs that (a) still
    collide in the other ``num_bands - 1`` bands unless they are
    boilerplate-hot there too, and (b) are exactly the population
    exact/content-hash dedup already collapses.  Recall impact is
    planted-tested in tests/test_operators.py.

    Plan shape: one extra groupBy on (band_idx, band_hash) — partial
    aggregation collapses even a 30 %-of-corpus hot key to ONE row per
    map task, so the width census never concentrates rows — then a
    left_anti join against the (tiny) over-cap key set, which AQE
    broadcasts.  Both reuse the band join's own shuffle key.

    ``keys`` widens the bucket identity for blocked variants (r7: the
    token_jaccard degrade path buckets within (block key, band))."""
    keys = list(keys)
    wide = (banded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_bucket_w"))
            .where(F.col("_bucket_w") > max_band_bucket)
            .select(*keys))
    return banded.join(wide, keys, "left_anti")


def _minhash_hash_exprs(hash_family: str):
    """The two hash expressions the MinHash signature stage is built
    from, per family:

    * ``"xxhash64"`` — the PRODUCTION family: Spark's native 64-bit
      xxHash, one whole-stage-codegen expression per shingle, the
      cheapest 64-bit hash the JVM exposes.
    * ``"md5"`` — the CROSS-ENGINE family (VERDICT r10 #1, the
      ``dedup_simhash_pairs`` promotion pattern): minhash_i(s) =
      first 15 hex chars of md5(s || '|' || (seed+i)) parsed base-16
      (60 bits, sign-safe in BIGINT on both engines), and the band
      key the ':'-joined decimal spelling of its ``rows_per_band``
      minhashes.  Bit-identical in DuckDB —
      ``('0x' || substr(md5(s || '|' || k), 1, 15))::BIGINT`` — so
      the ENTIRE detector (shingle → signature → AND-amplified band →
      candidate join → exact shingle-Jaccard verify) replays under
      the SQL oracle.  ~2× the signature-stage cost of xxhash64;
      correctness twin, not the scale path.

    Returns ``(shingle_hash(s_col, k_col), band_hash(sig_cols))``
    where ``k_col`` is the INT hash-function id (seed + i) as a Column
    — since r13 the signature iterates hash functions with a nested
    ``transform`` over ``sequence(seed, seed + num_hashes - 1)``
    (guide §5: one expression subtree instead of ``num_hashes``
    independent copies, which dominated the operator's driver-side
    Catalyst analysis time), so the id arrives as the sequence element
    rather than a per-function literal.  An IntegerType value hashes
    identically whether literal or computed, and its decimal string
    spelling is unchanged, so both families' hashes are bit-identical
    to the former per-literal construction."""
    if hash_family == "xxhash64":
        def shingle_hash(s: Column, k: Column) -> Column:
            return F.xxhash64(s, k)

        def band_hash(parts: list[Column]) -> Column:
            return F.xxhash64(*parts)
    elif hash_family == "md5":
        def shingle_hash(s: Column, k: Column) -> Column:
            return F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", s, k.cast("string"))),
                    1, 15),
                16, 10).cast("long")

        def band_hash(parts: list[Column]) -> Column:
            return F.concat_ws(":", *[p.cast("string") for p in parts])
    else:
        raise ValueError(f"unknown minhash hash_family: {hash_family!r}")
    return shingle_hash, band_hash


def minhash_lsh_pairs_native(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int = 3,
    num_bands: int = 8,
    rows_per_band: int = 2,
    max_exact_jaccard_distance: float | None = None,
    seed: int = 42,
    max_band_bucket: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidates as pure Catalyst expressions — the
    Spark-first fast path (no ML pipeline, no sparse vectors):

    1. shingle: sliding ``shingle_size``-token windows via
       ``transform(sequence(...))`` over the token array;
    2. minhash: per hash function i, ``array_min(transform(shingles,
       s -> xxhash64(s, i)))`` — one whole-stage-codegen pass for all
       ``num_bands × rows_per_band`` functions;
    3. band with AND-amplification: each band's key combines
       ``rows_per_band`` minhashes (collision prob s^r per band —
       without this, one globally-popular shingle hashing small makes
       a hot band key and the self-join degenerates toward n²);
    4. exact verify on candidates only: *shingle*-set Jaccard — the
       same metric minhash approximates (token-set Jaccard is far
       looser on small vocabularies and must not be mixed in here).

    Everything stays JVM-side; the shuffles are the narrow band-hash
    equi-join, the narrow candidate dedup, and the two shingle-set
    attach joins over the surviving pairs. Collision probability for
    shingle-jaccard s: 1-(1-s^r)^b.

    ``max_band_bucket`` (skew defense, VERDICT r5 #1): when set, band
    keys whose bucket exceeds that many documents are dropped before
    the self-join via :func:`cap_band_buckets` — the hot-key guard for
    boilerplate-dominated corpora where AND-amplification alone can't
    keep a 30 %-of-corpus template out of one bucket.
    """
    banded, sets = _minhash_banded(df, text_col, id_col, shingle_size,
                                   num_bands, rows_per_band, seed,
                                   hash_family=hash_family)
    if max_band_bucket is not None:
        # persist the narrow band relation first (id + 2 numeric cols ×
        # num_bands rows/doc): the width census and the anti-join would
        # otherwise each re-derive the full shingle→minhash lineage —
        # measured 1.9× end-to-end at sf0.1 without the cache.
        # scoped_persist: released by the caller's post-action
        # release_persisted() boundary (operators/cache.py)
        from .cache import scoped_persist
        banded = scoped_persist(banded)
        banded = cap_band_buckets(banded, max_band_bucket)
    cands = band_join_candidates(banded, id_col)
    return _verify_shingle_jaccard(cands, sets, id_col,
                                   max_exact_jaccard_distance)


def band_join_candidates(banded: DataFrame, id_col: str) -> DataFrame:
    """The LSH candidate self-join: equi-join the narrow
    (id, band_idx, band_hash) relation with itself and dedup the
    resulting (id_a, id_b) pairs.  Factored out so the skew test in
    tests/test_plan_quality.py executes EXACTLY the production join
    (AQE skew-split gate, VERDICT r5 #1) — a hot band key here is an
    ordinary shuffled-join skew and OptimizeSkewedJoin splits it."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int,
    num_bands: int,
    rows_per_band: int,
    seed: int,
    carry_cols: tuple[str, ...] = (),
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Shared signature stage of the LSH family: returns
    ``(banded, sets)`` where ``banded`` is the narrow
    (id, band_idx, band_hash) relation the candidate join runs on and
    ``sets`` is (id, shingle_set) for the exact verify re-attach.
    ``carry_cols`` rides extra (narrow) key columns through the banded
    relation so blocked variants can band-join within a block key.
    ``hash_family`` selects the signature hashes
    (:func:`_minhash_hash_exprs`): native xxhash64 (production) or the
    md5-based cross-engine family the SQL oracle can replay."""
    shingle_hash, band_hash = _minhash_hash_exprs(hash_family)

    carry = [F.col(c) for c in carry_cols]
    toks = df.select(F.col(id_col), *carry,
                     tokens(F.col(text_col)).alias("toks")) \
             .where(F.size("toks") >= shingle_size)
    shingle_expr = F.transform(
        F.sequence(F.lit(0), F.size("toks") - shingle_size),
        lambda i: F.concat_ws(" ", F.slice("toks", i + 1, shingle_size)),
    )
    # Band join and pair dedup run NARROW — (id, band_idx, band_hash)
    # only. A near-dup cluster of size k collides in every band, so the
    # join emits ~bands × k²/2 rows per cluster; carrying shingle arrays
    # through that (and through the dropDuplicates shuffle) turns a
    # 30 MB shuffle into a multi-GB one and measured 57× super-linear on
    # a 10× corpus whose clusters grew 10-wide (scale-lake replicas).
    # Shingle sets are re-attached to the ~|pairs| survivors afterwards;
    # AQE broadcasts the attach joins while the doc table fits and
    # switches to shuffle joins past that — the 100 TB shape.
    #
    # ONE nested-transform banding expression (r13, guide §5 — VERDICT
    # r12 #4): the former construction built num_hashes INDEPENDENT
    # copies of the minhash subtree (`F.array(*[array_min(transform(
    # shingles, hash_i)) ...])`) plus num_bands struct trees over it,
    # and Catalyst re-walks that whole width at every downstream
    # transformation — measured ~0.7 s of driver-side analysis per
    # dedup_minhash_lsh build, linear in num_hashes.  Iterating bands
    # as DATA (transform over sequence(0, num_bands-1)) plans one
    # constant-size subtree in which every hash function id
    # k = seed + band_idx·rows_per_band + r appears — and is evaluated —
    # exactly once per row, the same total work as before (each minhash
    # feeds exactly one band key).  Values are bit-identical: an
    # IntegerType id hashes/prints the same whether literal or
    # computed.  (A sig-array intermediate + element_at would NOT be
    # safe here: without CreateArray the optimizer cannot statically
    # simplify the extracts, and inlining the signature into the
    # generator re-computes all num_hashes minhashes per reference —
    # measured 14× exec.)  Nested one-parameter lambdas only — a
    # two-parameter transform lambda is called (element, index), the
    # r11 degeneracy bug class the suite's AST lint pins.
    def _minhash_fn(bi, r: int):
        # closure factory over the OUTER lambda's band-index Column
        # `bi` and the python row index `r` (arity-1 inner lambda only
        # — the AST lint): hash-function id k = seed + bi·rows_per_band
        # + r, the same ids in the same order as the former
        # sig[bi·rows_per_band + r]
        k = bi * F.lit(rows_per_band) + F.lit(seed + r)
        return lambda s: shingle_hash(s, k)

    def _band_struct(bi):
        return F.struct(
            bi.alias("band_idx"),
            band_hash([
                F.array_min(F.transform(F.col("shingles"),
                                        _minhash_fn(bi, r)))
                for r in range(rows_per_band)
            ]).alias("band_hash"))

    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)), _band_struct)
    shingled = toks.withColumn("shingles", shingle_expr)
    banded = shingled.select(
        id_col, *carry,
        F.explode(band_structs).alias("band"),
    ).select(id_col, *carry_cols, "band.band_idx", "band.band_hash")
    sets = shingled.select(
        id_col, F.array_distinct("shingles").alias("shingle_set"))
    return banded, sets


def _verify_shingle_jaccard(
    cands: DataFrame,
    sets: DataFrame,
    id_col: str,
    max_exact_jaccard_distance: float | None,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard verify over candidate (id_a, id_b)
    pairs; ``sets_b`` lets the bipartite (incremental) variant attach
    the two sides from different relations."""
    right = sets if sets_b is None else sets_b
    cands = (
        cands
        .join(sets.select(F.col(id_col).alias("id_a"),
                          F.col("shingle_set").alias("ss_a")), "id_a")
        .join(right.select(F.col(id_col).alias("id_b"),
                           F.col("shingle_set").alias("ss_b")), "id_b")
    )
    inter = F.size(F.array_intersect("ss_a", "ss_b")).cast("double")
    uni = F.size(F.array_union("ss_a", "ss_b")).cast("double")
    out = cands.select(
        "id_a", "id_b",
        F.round(F.lit(1.0) - inter / uni, 4).alias("jaccard_distance"))
    if max_exact_jaccard_distance is not None:
        out = out.where(
            F.col("jaccard_distance") <= max_exact_jaccard_distance)
    return out


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int = 3,
    num_bands: int = 8,
    rows_per_band: int = 2,
    max_exact_jaccard_distance: float | None = None,
    seed: int = 42,
    max_band_bucket: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Incremental corpus dedup: MinHash-LSH candidates between a NEW
    batch and an EXISTING corpus (bipartite band join — never
    new×new or corpus×corpus), the shape a continuously-ingesting
    training-data pipeline actually runs: the corpus side's band table
    is precomputable and bucketed by (band_idx, band_hash), so each
    incoming batch shuffles only ITS OWN bands plus the candidate
    pairs — corpus scan stays narrow and join-pruned at 100 TB.

    Output: (id_a = new id, id_b = corpus id, jaccard_distance), exact
    shingle-Jaccard verified like ``minhash_lsh_pairs_native``. Both
    sides must use the same hash ``seed``/band geometry (the corpus
    bands are only reusable if the signature family is pinned).

    ``max_band_bucket`` caps BOTH sides (ADVICE r6): the bipartite
    bucket cost is w_new × w_old, so a boilerplate-hot incoming batch
    is just as able to go quadratic against surviving corpus buckets
    as a hot corpus template is against the batch.

    Sides are expected to be id-disjoint; if a batch is replayed after
    it was already merged into the corpus, equal-id self-pairs are
    filtered out defensively, but the same document present on both
    sides under DIFFERENT ids is indistinguishable from a real
    near-dup by construction — dedupe on content hash upstream."""
    banded_new, sets_new = _minhash_banded(
        new_df, text_col, id_col, shingle_size, num_bands, rows_per_band,
        seed, hash_family=hash_family)
    banded_old, sets_old = _minhash_banded(
        corpus_df, text_col, id_col, shingle_size, num_bands, rows_per_band,
        seed, hash_family=hash_family)
    if max_band_bucket is not None:
        # cap BOTH sides (ADVICE r6): bipartite bucket cost is
        # w_new × w_old — the corpus is the side a hot template
        # accumulates in over time, but a template-heavy incoming
        # batch (a crawl dump of one site) makes w_new the unbounded
        # factor against every surviving sub-cap corpus bucket.
        # Persist first for the same reason as the native variant: the
        # width census, the anti-join, and the band join must share one
        # materialization of each side's signatures (scoped — released
        # by the caller's release_persisted() boundary).
        from .cache import scoped_persist
        banded_old = scoped_persist(banded_old)
        banded_old = cap_band_buckets(banded_old, max_band_bucket)
        banded_new = scoped_persist(banded_new)
        banded_new = cap_band_buckets(banded_new, max_band_bucket)
    n, c = banded_new.alias("n"), banded_old.alias("c")
    cands = (
        n.join(c, on=["band_idx", "band_hash"])
        .where(F.col(f"n.{id_col}") != F.col(f"c.{id_col}"))
        .select(F.col(f"n.{id_col}").alias("id_a"),
                F.col(f"c.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_shingle_jaccard(cands, sets_new, id_col,
                                   max_exact_jaccard_distance,
                                   sets_b=sets_old)


_SIMHASH_BITS = 64


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (md5-based token hashes —
    stable across Python processes, unlike builtin hash()). Arrow-
    batched; one pass per document."""
    def one(text: str) -> int:
        if text is None:
            return 0
        weights = [0] * _SIMHASH_BITS
        for tok in text.split():
            h = int.from_bytes(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            for b in range(_SIMHASH_BITS):
                weights[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(_SIMHASH_BITS):
            if weights[b] > 0:
                sig |= 1 << b
        # two's-complement into signed 64-bit for Spark LongType
        return sig - (1 << 64) if sig >= (1 << 63) else sig
    return texts.map(one)


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col), simhash64(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       band_bits: int = 16) -> DataFrame:
    """SimHash near-dup candidates: split the 64-bit signature into
    64/band_bits bands and equi-join on (band_idx, band_value) — any
    pair within Hamming distance < #bands collides on ≥1 band
    (pigeonhole). Equi-join keeps it shuffle-based at scale."""
    n_bands = _SIMHASH_BITS // band_bits
    sigs = simhash_signatures(df, text_col, id_col)
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band_idx"),
                     F.shiftrightunsigned("simhash", i * band_bits)
                      .bitwiseAND(F.lit(mask)).alias("band_val"))
            for i in range(n_bands)
        ])).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band_idx", "band_val"], how="inner")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
             .alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def prefix_filter_rows(
    t: DataFrame,
    id_col: str,
    join_keys: list[str],
    min_jaccard: float,
) -> DataFrame:
    """PPJoin prefix rows for ``token_jaccard_pairs``: under a global
    rarest-first token order, emit each doc's (n - ⌈t·n⌉ + 1)-token
    prefix as (id, *join_keys, tok) rows.  Factored out of the
    operator (r12) so the work census (``tools/diag_jaccard_pairs.py``)
    measures exactly the production candidate stage — the
    ``diag_minhash_pairs`` pattern.  ``t`` must carry a ``tokset``
    array column."""
    t_eff = min_jaccard - 1e-4             # margin for round(jac, 4)
    tok_rows = t.select(id_col, *join_keys, F.explode("tokset").alias("tok"))
    freq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_freq"))
    ordered = (
        tok_rows.join(freq, "tok")        # AQE: broadcast while vocab fits
        .groupBy(id_col, *join_keys)
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("tok_freq", "tok"))),
            lambda s: s.tok).alias("ord_toks"))
    )
    n = F.size("ord_toks")
    prefix_len = n - F.ceil(n.cast("double") * F.lit(t_eff)).cast("int") + 1
    return (
        ordered.select(
            id_col, *join_keys,
            F.explode(F.slice("ord_toks", 1, F.greatest(prefix_len, F.lit(1))))
             .alias("tok"))
    )


def prefix_join_candidates(
    prefix_rows: DataFrame,
    id_col: str,
    join_keys: list[str],
) -> DataFrame:
    """Distinct candidate pairs from the prefix×prefix equi-join on
    (*join_keys, tok) — the blocked PPJoin candidate stage, shared by
    ``token_jaccard_pairs`` and the work census."""
    pa, pb = prefix_rows.alias("pa"), prefix_rows.alias("pb")
    return (
        pa.join(pb, on=[*join_keys, "tok"])
        .where(F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
        .select(F.col(f"pa.{id_col}").alias("id_a"),
                F.col(f"pb.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def token_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    length_col: str | None = None,
    length_band: int = 8,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over blocked candidate pairs.

    Blocking (equality on ``block_cols`` + optional length band on
    ``length_col``) bounds the pair count the way LSH banding does, but
    deterministically — this operator doubles as the ground-truth
    verifier for the probabilistic dedupers. The join stays an
    equi-join on the block key (length banding joins on the coarse
    band id, then filters the exact band) so it never degenerates to a
    cross product.

    Contract (VERDICT r1 #5): pair count is quadratic *within* a
    block, and (lang, len-band) blocks grow linearly with the corpus —
    at web scale this operator is the small-SF verifier, NOT the
    production dedup path (that is ``minhash_lsh_pairs_native``).
    ``MAX_BLOCK_SIZE`` enforces the contract at runtime.

    Oversized-block handling (VERDICT r6 #4): any block larger than
    ``MAX_BLOCK_SIZE`` DEGRADES instead of failing — its rows are
    routed off the quadratic prefix-filter path onto a banded MinHash
    candidate path *within the same block key* (single-token features,
    so the minhash approximates exactly the token-set Jaccard this
    operator verifies), capped per (block, band) bucket by
    ``DEGRADE_MAX_BAND_BUCKET`` via :func:`cap_band_buckets`.
    Survivor candidates are exact-verified like every other pair, so
    returned jaccards stay exact; what is lost is RECALL inside
    oversized blocks only (collision prob 1-(1-s^r)^b ≈ 0.90 at s=0.5
    with b=8, r=2, minus cap losses on hot-template mass, which
    exact/content-hash dedup owns anyway) — at 100 TB a single hot
    (lang × len-band) block then costs bounded work instead of killing
    the whole job.  The check triggers ONE eager metadata-scale probe
    job at build time (the column-pruned block census, persisted and
    shared with the guard's broadcast join) so the LSH detour — whose
    lineage would add a full text-column corpus scan per execution —
    is attached ONLY when an oversized block exists; healthy block
    profiles keep the plain prefix-filter plan."""
    if min_jaccard <= 0.0:
        raise ValueError(
            "token_jaccard_pairs requires min_jaccard > 0: prefix-filtered "
            "candidate generation only reaches pairs that share a token, so "
            "token-disjoint (jaccard 0.0) same-block pairs are unreachable "
            "by construction")
    join_keys = list(block_cols) + (["len_band"] if length_col else [])
    if not join_keys:
        raise ValueError("token_jaccard_pairs requires block_cols and/or "
                         "length_col — an unblocked exact Jaccard is a "
                         "cross product")
    # Guard: count block sizes from a column-pruned scan (no
    # tokenization), keep ONLY the oversized blocks — normally an empty
    # set — and broadcast-left-join them onto `t`.  The tokset
    # expression carries a raise_error branch for oversized blocks;
    # the degrade filter below makes it runtime-unreachable, but the
    # guard when() is a load-bearing optimizer barrier: without it, Catalyst infers `size(tokenize(text)) > 0` from
    # the downstream explode (InferFiltersFromGenerate) and pushes it
    # into the parquet scan; the filtered scan's *static* size estimate
    # then collapses below autoBroadcastJoinThreshold and the planner
    # statically picks BroadcastHashJoin for every join in the operator
    # — including broadcasting the multi-million-row candidate side of
    # the verify joins through the driver. Measured ≥9× slower at the
    # 10× lake (≥600 s vs 66 s) and an OOM risk at 100 TB. raise_error
    # is non-deterministic to Catalyst, so the barrier blocks the
    # filter inference and the plan stays shuffle-join + AQE, which
    # upgrades genuinely-small sides to broadcast from RUNTIME stats.
    cap = MAX_BLOCK_SIZE
    blk_sel = [F.col(c) for c in block_cols]
    if length_col:
        blk_sel.append(
            (F.col(length_col) / length_band).cast("long").alias("len_band"))
    from .cache import scoped_persist
    oversized = (
        df.select(*blk_sel)
        .groupBy(*join_keys)
        .agg(F.count(F.lit(1)).alias("_blk_n"))
        .where(F.col("_blk_n") > cap)
    )
    # Degrade probe (r7): attach the banded-LSH detour ONLY when an
    # oversized block actually exists — otherwise the detour's lineage
    # would cost one extra full TEXT-column corpus scan at every
    # execution even on healthy block profiles (the common case).  The
    # probe is an eager metadata-scale job over the column-pruned block
    # census (no text column), same pattern as prefix_sum's offset
    # jobs; the census is scoped-persisted so the probe and the guard's
    # broadcast join share one materialization.
    oversized = scoped_persist(oversized)
    degrade = bool(oversized.take(1))
    sel = [F.col(id_col), *[F.col(c) for c in block_cols],
           F.array_distinct(tokens(F.col(text_col))).alias("tokset")]
    if length_col:
        sel.append((F.col(length_col) / length_band).cast("long").alias("len_band"))
    t_all = df.select(*sel).join(F.broadcast(oversized), on=join_keys,
                                 how="left")
    if degrade:
        # the prefix-filter path sees only sub-cap rows; oversized-block
        # rows take the banded-minhash detour below.  The raise_error
        # branch is runtime-unreachable but MUST stay in the expression
        # tree — it is the optimizer barrier (see the guard comment
        # above), and Catalyst does not prune CaseWhen branches from
        # upstream filter constraints.
        t_all = t_all.where(F.col("_blk_n").isNull())
    t = (
        t_all
        .withColumn(
            "tokset",
            F.when(F.col("_blk_n").isNull(), F.col("tokset")).otherwise(
                F.raise_error(F.concat(
                    F.lit("token_jaccard_pairs: block of "),
                    F.col("_blk_n").cast("string"),
                    F.lit(f" rows exceeds MAX_BLOCK_SIZE={cap}; "
                          "exact Jaccard is quadratic per block - use "
                          "minhash_lsh_pairs_native for production dedup, "
                          "or raise the cap")))))
        .drop("_blk_n"))
    # r6: persist the per-doc tokset relation — it feeds the token
    # frequency census, the rarest-first ordering, AND both verify
    # re-attach joins; uncached, the scan+tokenize lineage executes 4×
    # (scoped — released by the caller's release_persisted() boundary)
    t = scoped_persist(t)
    # --- candidate generation: prefix-filtered self-join -------------
    # (Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity Search",
    # WWW 2007; Xiao, Wang, Lin & Yu, "Efficient Similarity Joins for
    # Near Duplicate Detection", WWW 2008 (PPJoin) — public papers.)
    # Enumerating every within-block pair and intersecting toksets is
    # quadratic in block size and measured 60× super-linear on a 10×
    # corpus. Instead: under a global rarest-first token order, any pair
    # with jaccard ≥ t must share a token inside BOTH sides'
    # (n - ⌈t·n⌉ + 1)-token prefixes — jac ≥ t gives |inter| ≥ t·|union|
    # ≥ t·max(n_a, n_b), and the standard prefix-filter lemma then makes
    # prefix(a) ∩ prefix(b) ≠ ∅ at those lengths (PPJoin's index/probe
    # scheme). So the inverted-index self-join is PREFIX × PREFIX — the
    # r3 full×prefix shape indexed every token occurrence; prefix-only
    # joins ~40 % fewer rows per side and emits ~2× fewer raw pairs for
    # the same candidate set. Hot tokens (stopwords) sort last and never
    # enter a prefix, so index fanout stays bounded at scale. Exact
    # intersect/union then runs on candidates only.
    prefix_rows = prefix_filter_rows(t, id_col, join_keys, min_jaccard)
    cands = prefix_join_candidates(prefix_rows, id_col, join_keys)
    sets = t.select(id_col, "tokset")
    if degrade:
        # --- degrade path: banded minhash WITHIN oversized blocks ----
        # Single-token features (shingle_size=1): array_distinct(tokens)
        # IS this operator's tokset, so the minhash approximates the
        # exact metric being verified.  Band keys include the block key
        # (carry_cols) so candidates never cross blocks, and hot
        # (block, band) buckets are dropped by the document-frequency
        # ceiling — identical-template mass belongs to exact dedup.
        osel = [F.col(id_col), F.col(text_col),
                *[F.col(c) for c in block_cols]]
        if length_col:
            osel.append((F.col(length_col) / length_band).cast("long")
                        .alias("len_band"))
        over_docs = df.select(*osel).join(
            F.broadcast(oversized.select(*join_keys)), on=join_keys,
            how="inner")
        banded_o, sets_o = _minhash_banded(
            over_docs, text_col, id_col, 1, DEGRADE_NUM_BANDS,
            DEGRADE_ROWS_PER_BAND, DEGRADE_SEED, carry_cols=tuple(join_keys))
        banded_o = scoped_persist(banded_o)
        banded_o = cap_band_buckets(
            banded_o, DEGRADE_MAX_BAND_BUCKET,
            keys=(*join_keys, "band_idx", "band_hash"))
        oa, ob = banded_o.alias("oa"), banded_o.alias("ob")
        cands_lsh = (
            oa.join(ob, on=[*join_keys, "band_idx", "band_hash"])
            .where(F.col(f"oa.{id_col}") < F.col(f"ob.{id_col}"))
            .select(F.col(f"oa.{id_col}").alias("id_a"),
                    F.col(f"ob.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        # blocks partition rows, and a block is either over- or
        # sub-cap, so the two candidate sets are disjoint by
        # construction — plain union, no cross-path dedup needed
        cands = cands.unionByName(cands_lsh)
        sets = sets.unionByName(
            sets_o.select(id_col, F.col("shingle_set").alias("tokset")))
    # --- exact verify on candidates only ------------------------------
    pairs = (
        cands
        .join(sets.select(F.col(id_col).alias("id_a"),
                          F.col("tokset").alias("ts_a")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"),
                          F.col("tokset").alias("ts_b")), "id_b")
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    uni = F.size(F.array_union("ts_a", "ts_b"))
    jac = inter.cast("double") / uni.cast("double")
    return (
        pairs.select(
            "id_a", "id_b",
            F.round(jac, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def dedup_clusters(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets
    the minimum id of its duplicate cluster (the canonical-survivor
    assignment used to collapse near-dup groups in corpus cleaning).

    Iterative min-label propagation on DataFrames: each round joins
    current labels across (symmetrized) edges and keeps the per-node
    minimum; converges in O(component diameter) rounds — near-dup
    clusters are shallow, so a handful of shuffles. The loop's only
    driver-side action is the convergence check (a count, no data
    collect). For billion-edge or deep-chain graphs use
    ``dedup_clusters_star`` (same contract, O(log diameter) rounds,
    oracle-equivalent — see registry ``dedup_cluster_assign_star``).
    """
    # materialize edges once and truncate label lineage per round —
    # without this every convergence check re-derives the whole edge
    # computation and the plan grows exponentially with iterations
    sym = (edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
           .unionByName(
               edges.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
           .localCheckpoint())
    labels = nodes.select(F.col(id_col).alias("node"),
                          F.col(id_col).alias("label")).localCheckpoint()
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nlabel")))
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(F.col("node"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("nlabel"), F.col("label")))
                     .alias("label"))
            .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), on="node")
                   .where(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("cluster_id"))


def dedup_clusters_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond", public) — the billion-edge alternative to
    ``dedup_clusters``' label propagation, previously documented there
    as the scale path and now implemented.

    Per round (all plain DataFrame ops — two groupBy shuffles):

    * large-star: for each node u, m = min(Γ(u) ∪ {u}); every STRICTLY
      LARGER neighbor re-attaches to m — long chains collapse toward
      their minimum in O(log diameter) rounds instead of the
      propagation loop's O(diameter);
    * small-star: edges oriented toward the larger endpoint; each
      node's smaller-or-equal neighbors all re-attach to the minimum.

    Convergence when the edge set is a fixed point (every component a
    star centered on its minimum id). Same contract as
    ``dedup_clusters``: (id_col, cluster_id = component min), isolated
    nodes label themselves. ``localCheckpoint`` truncates per-round
    lineage exactly like the propagation loop."""
    e = (edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
         .where(F.col("u") != F.col("v"))
         .dropDuplicates(["u", "v"])
         .localCheckpoint())
    for _ in range(max_iterations):
        # ---- large-star ----
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        large = (sym.join(mins, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .dropDuplicates(["u", "v"]))
        # ---- small-star (edges oriented toward the larger endpoint) ----
        o = large.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
        mins2 = o.groupBy("u").agg(F.min("v").alias("mn"))
        small = (o.join(mins2, "u")
                 .select(F.col("v").alias("u"), F.col("mn").alias("v"))
                 .unionByName(mins2.select(F.col("u"),
                                           F.col("mn").alias("v")))
                 .where(F.col("u") != F.col("v"))
                 .dropDuplicates(["u", "v"])
                 .localCheckpoint())
        # fixed point: identical edge sets (cheap: anti-join both ways
        # short-circuited by limit(1))
        grew = small.join(e, ["u", "v"], "left_anti").limit(1).count()
        shrank = e.join(small, ["u", "v"], "left_anti").limit(1).count()
        e = small
        if grew == 0 and shrank == 0:
            break
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("label"))
    return (nodes.select(F.col(id_col).alias("node"))
            .join(labels, "node", "left")
            .select(F.col("node").alias(id_col),
                    F.coalesce(F.col("label"), F.col("node"))
                     .alias("cluster_id")))

"""Extension query registry: the LLM-training-data-pipeline operators
(SURVEY.md §2.13) over the ``documents`` and ``embeddings`` tables —
dedup, similarity search, text analysis, multimodal plumbing.

Same contract as plans/relational.py: builders take (spark, sf_dir);
oracle SQL lives in plans/registry.py next to each name. Probabilistic
operators (MinHash-LSH, SimHash, RP-LSH ANN) are rows-only for the
driver and are instead ground-truthed in tests against their exact
counterparts at small SF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.vectors import as_double, dot, norm
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.multimodal import attach_media_columns, decode_and_extract
from ..sources.tables import load_tables


def _t(spark: SparkSession, sf_dir: str, *names: str):
    dfs = load_tables(spark, sf_dir, names)
    return [dfs[n] for n in names]


def _r6(x: float) -> float:
    """Half-away-from-zero rounding to 6 places for ORACLE-FACING
    driver-local scalars (ADVICE r11 #3).  The oracle side's round()
    is rewritten by registry._fix_rounds to a DECIMAL(38,6) cast —
    half-away-from-zero — while builtin round() is half-even, so an
    exact .xxxxxx5 tie would hash-mismatch.  Quantizing the EXACT
    binary expansion (Decimal(x), not Decimal(repr(x))) with
    ROUND_HALF_UP pins the same rule on the Python side.  (True
    decimal ties are unreachable for binary doubles — 10⁶ carries a
    5⁶ factor no dyadic rational has — so this provably preserves
    every existing hash; the point is the rule is now explicit, not
    an accident of tie-impossibility.)"""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(x).quantize(Decimal("0.000001"),
                                     rounding=ROUND_HALF_UP))


# ------------------------------------------------------------------- dedup —

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate collapse on the raw text key: keep min doc_id per identical body, report multiplicity (one hash-agg shuffle)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return D.exact_dedup(documents.select("doc_id", "text"),
                         key_cols=["text"], id_col="doc_id") \
            .select("doc_id", "dup_count")


def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on sha256(text): shuffles 32-byte digests instead of document bodies -- the at-scale exact-dedup variant."""
    (documents,) = _t(spark, sf_dir, "documents")
    return D.hash_dedup(documents, "text", "doc_id")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + exact verify (rows-only:
    candidate set is hash-dependent). Uses the native expression-only
    implementation; the pyspark.ml variant remains in operators.dedup
    and is cross-checked in tests.

    max_band_bucket=512 is the hot-band skew guard (VERDICT r5 #1):
    inert on these lakes (widest observed bucket ≈ cluster width ≈ 10)
    but it bounds any one band key's join fanout to 512²/2 pairs at
    ANY corpus size — planted-boilerplate behavior is executed-tested
    in tests/test_operators.py."""
    (documents,) = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_native(documents, "text", "doc_id",
                                      max_exact_jaccard_distance=0.5,
                                      max_band_bucket=512)


def dedup_minhash_lsh_sqltwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_minhash_lsh`` under the CROSS-ENGINE hash family
    (VERDICT r10 #1, the ``dedup_simhash_pairs``/``ann_ivf_topk``
    promotion pattern): the SAME operator —
    ``minhash_lsh_pairs_native`` with identical shingle/band geometry
    (3-token shingles, 8 bands × 2 rows, exact-verify distance ≤ 0.5,
    hot-band cap 512) — with ``hash_family="md5"``, whose minhashes
    (first 15 hex chars of md5(shingle || '|' || (42+i)), base-16) and
    ':'-joined band keys DuckDB reproduces bit-for-bit.  The oracle
    replays the ENTIRE detector in SQL: tokenize → shingle → 16
    minhashes → AND-amplified banding → QUALIFY bucket cap →
    candidate self-join → exact shingle-set-Jaccard verify, so every
    plan stage the production xxhash64 entry runs (only the hash
    expression differs) is hash-verified cross-engine.  The xxhash64
    entry stays the bench/scale path — native hashing is ~2× cheaper
    in the signature stage."""
    (documents,) = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_native(documents, "text", "doc_id",
                                      max_exact_jaccard_distance=0.5,
                                      max_band_bucket=512,
                                      hash_family="md5")


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup candidates, capped to close pairs by
    hamming distance.

    Promoted rows-only -> oracle in r9: the pandas-UDF signature is
    md5-based (engine-neutral by design — operators/dedup.simhash64),
    so the DuckDB oracle recomputes the 64-bit signatures, the 4x16
    banding, and the bit_count(xor) hamming verification in SQL and
    the driver hash-verifies the whole detector — the Arrow-batched
    UDF path included."""
    (documents,) = _t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(documents, "text", "doc_id") \
            .where(F.col("hamming") <= 12)


def dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over language+length-blocked pairs —
    the deterministic ground truth for the probabilistic dedupers."""
    (documents,) = _t(spark, sf_dir, "documents")
    return deterministic_jaccard_edges(documents)


# -------------------------------------------------------------- similarity —

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a fixed query subset (vec_id < 20) —
    broadcast queries over the corpus, no corpus shuffle."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 20) \
                        .select(F.col("vec_id").alias("q_id"), "embedding")
    return S.brute_force_topk(queries, embeddings, k=5)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection-LSH candidates + exact re-rank, with an
    IN-ENTRY recall floor (r9, VERDICT r8 #4: ann_recall_report's
    exact-baseline comparison folded into the entry itself).

    Still rows-only — the candidate set is hash-dependent by design —
    but no longer only a row count: the entry joins its own output
    against the exact brute-force top-k, attaches the overall
    ``recall_at_k`` (mean per-query hit fraction, rounded to 4), and
    FAILS the run via ``assert_true`` if recall drops below 0.6 — the
    same floor tests/test_operators.py pins at small sf.  A silent
    LSH regression (bucketing bug, seed drift, re-rank break) now
    turns the driver row red instead of passing as 'some rows came
    back'.

    Plan cost: the exact baseline is the already-registry-checked
    brute-force top-k over the same broadcast 20-query set — one extra
    map-side pass over the corpus, and the recall join is top-k-sized
    (100 rows), never corpus-sized.  The assert_true rides the final
    filter so Catalyst cannot prune it."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 20) \
                        .select(F.col("vec_id").alias("q_id"), "embedding")
    approx = S.lsh_topk(queries, embeddings, k=5)
    exact = S.brute_force_topk(queries, embeddings, k=5) \
             .select("q_id", "vec_id")
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (exact.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")))
    recall = (n_exact.join(hits, "q_id", "left")
              .agg(F.round(F.avg(F.coalesce(F.col("n_hit"), F.lit(0))
                                 / F.col("n_exact")), 4)
                   .alias("recall_at_k")))
    return (approx.crossJoin(F.broadcast(recall))
            .where(F.coalesce(
                F.assert_true(F.col("recall_at_k") >= 0.6,
                              "ann_lsh_topk recall_at_k fell below the "
                              "0.6 floor vs the exact brute-force top-k"),
                F.lit(True))))


def ann_lsh_topk_sqltwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_lsh_topk``'s capability under a fully CROSS-ENGINE
    detector (VERDICT r11 #2, the ``dedup_minhash_lsh_sqltwin`` /
    ``ann_ivf_topk`` promotion pattern): sign-random-projection LSH
    candidates + exact cosine re-rank + the SAME in-entry
    ``recall_at_k`` column and 0.6 ``assert_true`` floor — with every
    stage oracle-replayable.  ``operators/similarity.rp_lsh_topk``:
    vectors quantize to integers
    (floor(x·1000) of the identical double both engines read from
    parquet), hyperplane components are integers from the repo's
    63-bit-safe Knuth multiplicative hash, so every sign bit is an
    INTEGER dot-product comparison — no float order-dependence
    anywhere before the re-rank, whose rounded-cosine arithmetic
    ``ann_cosine_topk`` already proves oracle-exact.  The DuckDB
    oracle replays the ENTIRE pipeline: plane generation → integer
    quantization → 64 sign bits → 16 packed 4-bit bucket keys →
    bucket equi-join → exact cosine re-rank → per-query top-5 → the
    recall-vs-brute-force arithmetic itself, bit-for-bit.  The
    pyspark.ml ``ann_lsh_topk`` entry stays the API-surface sibling
    (its JVM-internal Gaussian hyperplanes are hash-dependent by
    design — correctly rows-only).  Geometry (16 tables × 4 bits) measured at recall
    0.87/0.83 vs exact top-5 at sf0.001/sf0.01."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 20) \
                        .select(F.col("vec_id").alias("q_id"), "embedding")
    approx = S.rp_lsh_topk(queries, embeddings, k=5)
    exact = S.brute_force_topk(queries, embeddings, k=5) \
             .select("q_id", "vec_id")
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (exact.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")))
    recall = (n_exact.join(hits, "q_id", "left")
              .agg(F.round(F.avg(F.coalesce(F.col("n_hit"), F.lit(0))
                                 / F.col("n_exact")), 4)
                   .alias("recall_at_k")))
    return (approx.crossJoin(F.broadcast(recall))
            .where(F.coalesce(
                F.assert_true(F.col("recall_at_k") >= 0.6,
                              "ann_lsh_topk_sqltwin recall_at_k fell below "
                              "the 0.6 floor vs the exact brute-force top-k"),
                F.lit(True))))


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics (avg/min/max) and dimension check over the embedding table -- pure expression vector math."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    return (
        embeddings.select(
            "label",
            norm(v).alias("l2"),
            F.size("embedding").cast("long").alias("dim"))
        .groupBy("label")
        .agg(F.round(F.avg("l2"), 6).alias("avg_norm"),
             F.round(F.min("l2"), 6).alias("min_norm"),
             F.round(F.max("l2"), 6).alias("max_norm"),
             F.max("dim").alias("dim"),
             F.count(F.lit(1)).alias("n_vecs"))
    )


def embedding_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, then each vector's dot product with its
    label centroid — a grouped vector aggregation entirely in Catalyst
    expressions (posexplode → avg per dimension → re-assemble)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", "label",
                          F.posexplode(as_double(F.col("embedding")))
                           .alias("pos", "x"))
    centroids = (e.groupBy("label", "pos").agg(F.avg("x").alias("cx")))
    joined = (
        e.join(centroids, on=["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sum(F.col("x") * F.col("cx")), 6).alias("dot_centroid"))
    )
    return joined


# ----------------------------------------------------------- text analysis —

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token census: token count, mean token length, and stopword ratio, all as Catalyst expressions."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.round(TX.mean_token_length("text"), 4).alias("mean_tok_len"),
        F.round(TX.stopword_ratio("text"), 4).alias("stop_ratio"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite per-document quality score (length, punctuation, stopword signals) -- the C4/Gopher-style cheap filter stage."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id", "lang",
        TX.quality_score("text").alias("quality"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language identification per document, returned beside the lake's true label for accuracy audits."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        TX.lang_pred("text").alias("lang_pred"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two document fingerprints per row: sha256 content hash and a base-31 rolling hash (polynomial over code points)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        TX.fingerprint_sha("text").alias("sha_fp"),
        TX.rolling_hash("text").alias("roll_fp"),
    )


def text_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency profile (the n-gram-counting shape
    used for LM data analysis): explode tokens → count → top-50."""
    (documents,) = _t(spark, sf_dir, "documents")
    return (
        documents.select(F.explode(TX.tokens("text")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok"))
        .limit(50)
    )


# -------------------------------------------------------------- multimodal —

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct conventions: project the
    metadata of the wrapped payload column."""
    (documents,) = _t(spark, sf_dir, "documents")
    m = attach_media_columns(documents, "text")
    return m.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("payload_sha"),
    )


def multimodal_arrow_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` payload metadata (operators/multimodal.py
    ``arrow_batch_meta``): the Arrow-native batch surface — RecordBatch
    in, pyarrow.compute kernels out, no pandas materialization — over
    the wrapped binary column; byte/frame/parity census per payload,
    fully SQL-expressible and oracle-checked."""
    (documents,) = _t(spark, sf_dir, "documents")
    from ..operators.multimodal import arrow_batch_meta
    return arrow_batch_meta(attach_media_columns(documents, "text"))


def udf_scalar_iter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (SCALAR_ITER — the §2.11 family
    for expensive per-task initialization: load a tokenizer/model ONCE
    per executor task, then stream Arrow batches through it).  The
    "expensive init" here is a compiled regex whose per-batch use
    reproduces the engine's whitespace tokenization exactly, so the
    entry is oracle-checked against the pure-expression token count —
    proving the iterator UDF's batch loop, not just its signature."""
    import re

    (documents,) = _t(spark, sf_dir, "documents")

    # NOTE: the Iterator[pd.Series] hints must resolve from MODULE
    # globals (postponed annotations + pandas_udf signature inspection)
    @F.pandas_udf("long")
    def tok_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        pat = re.compile(r"\s+")          # once per task, not per batch
        for s in batches:
            yield s.map(lambda x: len(pat.split(x.strip())))

    return documents.select(
        "doc_id", tok_count(F.col("text")).alias("n_tokens"))


def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str,
                             frame_samples: int = 64) -> DataFrame:
    """REAL audio container round-trip, oracle-checked end-to-end:
    quantize each user's event values to 16-bit PCM, ENCODE a genuine
    RIFF/WAVE payload per user (stdlib ``wave`` inside
    ``applyInPandas``), then DECODE it back with
    ``operators.multimodal.wav_rms_energy`` and emit per-frame RMS.
    The DuckDB oracle recomputes the identical RMS straight from the
    quantized values (row_number framing + sqrt(avg(s²))) — so a
    single flipped byte anywhere in the RIFF header layout, PCM
    little-endian packing, or frame arithmetic hash-mismatches the
    entry.  This closes the gap the planted-lake test opened: the
    audio tier is now exercised per-round by the driver gate, not only
    by pytest.

    Scale shape: one keyed shuffle groups samples per payload;
    encode/decode run executor-local over Arrow batches; payload bytes
    never shuffle after assembly."""
    from ..operators.multimodal import wav_rms_energy

    (events,) = _t(spark, sf_dir, "events")
    q = F.greatest(F.lit(-32768.0),
                   F.least(F.lit(32767.0),
                           F.floor(F.col("value") * 10.0))).cast("int")
    samples = events.select("user_id", "ts", "event_id", q.alias("s"))

    def make_wav(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import wave

        pdf = pdf.sort_values(["ts", "event_id"])
        pcm = pdf["s"].to_numpy().astype("<i2").tobytes()
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(pcm)
        return pd.DataFrame({"doc_id": [int(pdf["user_id"].iloc[0])],
                             "media_bytes": [buf.getvalue()]})

    wavs = samples.groupBy("user_id").applyInPandas(
        make_wav, "doc_id long, media_bytes binary")
    out = wav_rms_energy(wavs, frame_samples=frame_samples)
    return out.select(
        F.col("doc_id").alias("user_id"), "frame_idx", "sample_offset",
        "n_samples", F.round("rms", 4).alias("rms"))


def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image container round-trip, oracle-checked (the PNG sibling
    of ``multimodal_wav_roundtrip``): manufacture a genuine spec-valid
    PNG per document with dimensions derived from lake columns
    (width = doc_id % 200 + 1, height = n_chars % 150 + 1), then decode
    it back through the production resolution path's CRC-verified IHDR
    parser and emit the dims it READ OUT OF THE BYTES.  The DuckDB
    oracle recomputes the dims from the lake columns directly, so any
    defect in the PNG byte layout, the CRC arithmetic, or the parser
    hash-mismatches the entry per-round — the image codec tier is now
    driver-gated, not only pytest-tested.

    Scale shape: encode and decode both run inside one mapInPandas
    task chain; payload bytes never shuffle."""
    from collections.abc import Iterator as _It

    from ..operators.multimodal import (
        FEATURE_SCHEMA,
        encode_png,
        png_header_codec,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    src = documents.select(
        "doc_id",
        (F.col("doc_id") % 200 + 1).cast("int").alias("w"),
        (F.col("n_chars") % 150 + 1).cast("int").alias("h"))

    def run(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode_png(int(w), int(h), gray=int(d) % 256)
                        for d, w, h in zip(pdf["doc_id"], pdf["w"],
                                           pdf["h"])]
            dims = [png_header_codec(p) for p in payloads]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": pd.Series([d[0] for d in dims], dtype="int32"),
                "height": pd.Series([d[1] for d in dims], dtype="int32"),
                "n_bytes": pd.Series([len(p) for p in payloads],
                                     dtype="int64"),
            })

    return (src.mapInPandas(run, FEATURE_SCHEMA)
            .select("doc_id", "width", "height"))


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode/feature-extract plumbing pinned to the
    deterministic stub codec (``codec=None``): the DuckDB oracle
    encodes the sha-derived dims, so this registry entry must stay
    environment-independent even when PIL is installed (ADVICE r2).
    Real-codec auto-resolution remains available via
    ``decode_and_extract(df)`` default."""
    (documents,) = _t(spark, sf_dir, "documents")
    m = attach_media_columns(documents, "text")
    return decode_and_extract(m, "doc_id", codec=None)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the ANN
    analog of Jaccard blocking): same-label pairs with cosine ≥ 0.3.
    The label block keeps the pair join an equi-join at scale; an
    unblocked variant would route through LSH candidates first."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", "label",
                          as_double(F.col("embedding")).alias("v"))
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (
        F.sqrt(dot(F.col("a.v"), F.col("a.v")))
        * F.sqrt(dot(F.col("b.v"), F.col("b.v"))))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.3)
    )


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword-boundary token count: letter runs, digit runs,
    and single punctuation marks each count as one token (the regex
    approximation of a byte-pair tokenizer's pre-tokenization)."""
    (documents,) = _t(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
         .cast("long").alias("n_bpeish"),
        TX.token_count("text").alias("n_ws_tokens"),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cluster-pruned ANN (deterministic coarse quantizer).

    Promoted rows-only -> oracle in r9 (VERDICT r8 #4 direction): the
    operator was always deterministic — hash-sampled centroids, argmax
    cosine assignment, nprobe probing, exact re-rank inside probed
    clusters — and the ONLY obstacle to an oracle was the Spark-
    private xxhash64 centroid selection.  With the selection moved to
    the repo's standard Knuth arithmetic hash (cross-engine
    evaluable), the ENTIRE approximate index — pruning included — is
    hash-verified against DuckDB, not just recall-floor-tested; recall
    vs brute force stays tested in tests/."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 20) \
                        .select(F.col("vec_id").alias("q_id"), "embedding")
    return S.ivf_topk(queries, embeddings, k=5)


def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the
    deterministic blocked-Jaccard pairs (≥0.4), canonical min-id label
    per document. Oracle: recursive CTE reachability in DuckDB."""
    (documents,) = _t(spark, sf_dir, "documents")
    edges = deterministic_jaccard_edges(documents)
    return D.dedup_clusters(documents.select("doc_id"), edges)


def dedup_cluster_assign_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract and SQL oracle as ``dedup_cluster_assign`` but
    through the large-star/small-star algorithm
    (``D.dedup_clusters_star``) — O(log diameter) rounds, the
    billion-edge path. Both implementations being oracle-exact against
    the identical recursive CTE is the equivalence proof."""
    (documents,) = _t(spark, sf_dir, "documents")
    edges = deterministic_jaccard_edges(documents)
    return D.dedup_clusters_star(documents.select("doc_id"), edges)


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus + a changed-flag so the oracle
    exercises both the rewrite and the comparison."""
    (documents,) = _t(spark, sf_dir, "documents")
    red = TX.redact_pii("text")
    return documents.select(
        "doc_id",
        red.alias("clean_text"),
        (red != F.col("text")).alias("was_redacted"),
    )


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token chunks, stride 24) —
    the tokenize→chunk shape that feeds LM training; expression-only
    (sequence → transform → posexplode), no Python per row."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    chunk_starts = F.sequence(
        F.lit(0),
        F.greatest(F.lit(0),
                   F.floor((F.size(toks) - 1) / F.lit(24)).cast("int") * 24),
        F.lit(24))
    chunks = F.transform(
        chunk_starts,
        lambda s: F.concat_ws(" ", F.slice(toks, s + 1, 32)))
    return (documents
            .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
            .withColumn("n_chunk_tokens",
                        F.size(F.split(F.col("chunk_text"), r"\s+")).cast("long")))


def text_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quality sampling: top-10 documents per language by
    the deterministic quality score (doc_id tiebreak) — the
    keep-the-best corpus downsampling shape."""
    from pyspark.sql import Window
    (documents,) = _t(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id", "lang", TX.quality_score("text").alias("quality"))
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .select("lang", "doc_id", "quality", "rk"))


def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which documents share ≥1 3-token
    shingle with a probe document (doc_id 0 stands in for a benchmark
    probe set). Exploded shingles join on equality — the scalable
    contamination plan (probe side broadcast at real scale)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
    sh = documents.where(F.size(toks) >= 3).select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
    probe = (sh.where(F.col("doc_id") == 0)
             .select(F.col("shingle").alias("probe_shingle")).distinct())
    return (sh.where(F.col("doc_id") != 0)
            .join(F.broadcast(probe),
                  sh.shingle == probe.probe_shingle)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_shingles")))


# -------------------------------------------------- corpus curation (r4) —

def corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-balancing quota pass: cap every source at 25 kept
    documents, preferring the highest deterministic quality score
    (doc_id tiebreak), and report per-source volume / kept count /
    kept-quality mean. The keep set is one row_number window per
    source; the kept-quality sum goes through DECIMAL so the
    cross-partition addition order cannot perturb double bits (the
    registry-wide determinism rule). At 100 TB this is one shuffle on
    source with AQE skew-splitting for mega-sources."""
    from pyspark.sql import Window
    (documents,) = _t(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id", "source", TX.quality_score("text").alias("quality"))
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= 25
    return (
        ranked.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(kept.cast("long")).alias("n_kept"),
             F.sum(F.when(kept, F.col("quality")).otherwise(F.lit(0.0))
                    .cast("decimal(18,4)")).alias("_qsum"))
        .select("source", "n_docs", "n_kept",
                F.round(F.col("_qsum").cast("double") / F.col("n_kept"), 4)
                 .alias("kept_avg_quality"))
    )


def text_repetition_score(spark: SparkSession, sf_dir: str,
                          scan_tokens: int = 512) -> DataFrame:
    """Within-document repetition / boilerplate detection: distinct-
    token ratio and the share of the single most-repeated token. Pure
    higher-order array expressions — zero shuffle, zero Python — the
    cheap gate that drops template/spam pages before expensive dedup.

    The repetition scan is CAPPED at the first ``scan_tokens`` tokens
    (512 — the standard boilerplate-gate window; VERDICT r4 #4): the
    distinct-vs-rescan form is O(distinct·scan) per document, so
    uncapped it turns a diverse 100 k-token web page into a ~10¹⁰-
    comparison straggler row. Capped, per-document cost is bounded by
    scan_tokens² regardless of document length; ``n_tokens`` still
    reports the FULL length so downstream gates can combine both."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks_full = TX.tokens("text")
    n = F.size(toks_full)
    toks = F.slice(toks_full, 1, scan_tokens)
    m = F.size(toks)
    uniq = F.array_distinct(toks)
    top = F.array_max(
        F.transform(uniq, lambda t: F.size(F.filter(toks, lambda x: x == t))))
    return documents.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(F.size(uniq).cast("double") / m, 4).alias("distinct_ratio"),
        F.round(top.cast("double") / m, 4).alias("top_token_ratio"),
    )


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021, public) rule-based quality gates,
    one boolean per rule plus the inputs: word count in [20, 100k],
    mean word length in [3, 10], symbol-to-char ratio < 0.1, and ≥ 2
    hits from a required-stopword list. Pure Catalyst expressions —
    the cheap first-pass corpus filter; at 100 TB this is a
    zero-shuffle map with pruned column reads."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_words = F.size(toks).cast("long")
    mean_len = F.round(
        F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
        .cast("double") / n_words, 4)
    sym_ratio = F.round(TX.punct_ratio("text"), 4)
    stop_hits = TX.stopword_count("text")
    pass_wc = (n_words >= 20) & (n_words <= 100_000)
    pass_mwl = (mean_len >= 3.0) & (mean_len <= 10.0)
    pass_sym = sym_ratio < 0.1
    pass_stop = stop_hits >= 2
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        stop_hits.alias("stop_hits"),
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_sym.alias("pass_symbol_ratio"),
        pass_stop.alias("pass_stopwords"),
        (pass_wc & pass_mwl & pass_sym & pass_stop).alias("pass_all"),
    )


def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration over the embeddings table:
    assign every vector to its nearest of 8 fixed seed centroids (the
    vectors with vec_id 0-7 — deterministic, so the step is
    oracle-checkable), then report per-centroid member count and
    inertia (sum of squared L2 distances, DECIMAL-summed so the
    cross-partition addition order cannot perturb double bits).

    Plan: broadcast the 8 centroids, one zero-shuffle map computes all
    8 distances per row; the argmin is ``min(struct(dist2, c_id))``
    per vector — lexicographic struct ordering is exactly (distance
    asc, centroid-id tiebreak), and partial aggregation collapses the
    8-row fanout map-side, so the exchange carries one NARROW
    (vec_id, dist2, c_id) row per vector, never the embedding arrays
    (r5 review: the earlier window-based argmin shuffled the 8×
    exploded rows including both 64-dim arrays). Then one 8-group
    rollup. The iterative driver (re-running with updated centroids)
    keeps the same per-step shape at 100 TB."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    cents = embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("centroid"))
    sq = F.aggregate(
        F.zip_with(as_double(F.col("embedding")),
                   as_double(F.col("centroid")),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x)
    d = embeddings.crossJoin(F.broadcast(cents)).select(
        "vec_id", "c_id", sq.alias("dist2"))
    best = d.groupBy("vec_id").agg(
        F.min(F.struct("dist2", "c_id")).alias("b"))
    return (best.groupBy(F.col("b.c_id").alias("c_id"))
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.round(F.sum(F.col("b.dist2").cast("decimal(28,10)"))
                          .cast("double"), 4).alias("inertia")))


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch × existing-corpus) MinHash-LSH dedup:
    documents with doc_id >= 400 play the incoming batch, the rest the
    standing corpus (rows-only: candidate set is hash-dependent; the
    bipartite operator is ground-truthed against planted cross-side
    near-dups in tests)."""
    (documents,) = _t(spark, sf_dir, "documents")
    new_batch = documents.where(F.col("doc_id") >= 400)
    corpus = documents.where(F.col("doc_id") < 400)
    return D.minhash_lsh_pairs_incremental(
        new_batch, corpus, "text", "doc_id",
        max_exact_jaccard_distance=0.5)


def dedup_incremental_lsh_sqltwin(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """``dedup_incremental_lsh`` under the CROSS-ENGINE md5 hash family
    (r11, same promotion pattern as ``dedup_minhash_lsh_sqltwin``):
    the SAME bipartite operator — ``minhash_lsh_pairs_incremental``
    with the identical batch/corpus split (doc_id >= 400), geometry,
    and verify threshold — with ``hash_family="md5"``, so the DuckDB
    oracle replays the ENTIRE continuous-ingest shape: both sides'
    signatures, the new×corpus band join (never new×new or
    corpus×corpus), candidate dedup, and the exact shingle-Jaccard
    verify across sides.  The xxhash64 entry stays the scale-set
    path."""
    (documents,) = _t(spark, sf_dir, "documents")
    new_batch = documents.where(F.col("doc_id") >= 400)
    corpus = documents.where(F.col("doc_id") < 400)
    return D.minhash_lsh_pairs_incremental(
        new_batch, corpus, "text", "doc_id",
        max_exact_jaccard_distance=0.5, hash_family="md5")


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (max-abs scaling): the
    standard storage/bandwidth reduction before ANN indexing at corpus
    scale. scale = max|x|/127; q_i = floor(x_i/scale + 0.5) — explicit
    round-half-up-toward-+inf so Spark and the DuckDB oracle agree
    bit-for-bit (both engines run the identical double ops; float→
    double widening is exact). Quantized values serialize via
    array_join (r3 rule: arrays stringify at the final projection
    only). Expression-only; zero shuffle."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    xs = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xs, F.abs))
    scale = F.nullif(amax, F.lit(0.0)) / F.lit(127.0)
    q = F.transform(
        xs, lambda x: F.coalesce(
            F.floor(x / scale + F.lit(0.5)), F.lit(0)).cast("int"))
    return embeddings.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(F.transform(q, lambda v: v.cast("string")), ",")
         .alias("q_csv"),
    )


def deterministic_jaccard_edges(documents: DataFrame) -> DataFrame:
    """Deterministic near-dup edge set: the quadratic-capped
    token-Jaccard verifier over (lang, 16-char length band) blocks.
    Exact and reproducible — what the DuckDB recursive-CTE oracle can
    mirror — but bounded by the runtime n² block guard, so it is the
    ORACLE edge source, not the scale path."""
    return D.token_jaccard_pairs(
        documents, "text", "doc_id",
        block_cols=["lang"], length_col="n_chars", length_band=16,
        min_jaccard=0.4)


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean and variance for each of
    the 64 embedding dimensions) — the feature-normalization /
    whitening precursor every embedding pipeline runs before indexing.
    posexplode → groupBy(dim): map-side partial aggregation collapses
    each task's exploded rows to 64 partials before the shuffle, so
    the exchange moves #tasks×64 rows regardless of corpus size.
    Sums go through DECIMAL so cross-partition addition order cannot
    perturb double bits (registry determinism rule)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select(
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "x"))
    n = F.count(F.lit(1))
    sx = F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
    sxx = F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")) \
           .cast("double")
    return (e.groupBy("dim")
            .agg(n.alias("n_vecs"),
                 F.round(sx / n, 4).alias("dim_mean"),
                 F.round(sxx / n - (sx / n) * (sx / n), 4)
                  .alias("dim_var")))


def text_ngram_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram spans: every 5-token window that
    occurs in ≥2 distinct documents, with document- and occurrence-
    counts — the candidate-generation stage of exact substring dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better", public). One explode + one hash-agg shuffle keyed
    on the gram (map-side combine collapses within-task repeats);
    production variants key on a gram HASH to keep shuffle rows
    narrow — semantics identical."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 5),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 5)))
    g = documents.where(F.size(toks) >= 5).select(
        "doc_id", F.explode(grams).alias("gram"))
    return (g.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .where(F.col("n_docs") >= 2))


def dedup_keep_best_deterministic(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Canonical-survivor selection over the DETERMINISTIC exact-Jaccard
    edge set: per near-dup cluster keep the best-quality member (doc_id
    tiebreak) and report cluster size -- the oracle-checkable variant of
    :func:`dedup_keep_best` (whose default LSH edges are probabilistic)."""
    return dedup_keep_best(spark, sf_dir,
                           edges_fn=deterministic_jaccard_edges)


def dedup_keep_best(spark: SparkSession, sf_dir: str,
                    edges_fn=None) -> DataFrame:
    """Canonical-survivor selection: for every near-dup cluster, keep
    the member with the best quality score (doc_id tiebreak) and report
    cluster size. This is the step that actually SHRINKS the corpus
    after dedup finds the duplicates; plan = the cluster propagation +
    one broadcast-friendly join + one window over clusters.

    ``edges_fn`` maps the documents DataFrame to an (id_a, id_b) edge
    set and selects the candidate generator (VERDICT r4 #3):

    * default ``None`` — the PRODUCTION path: ``minhash_lsh_pairs_native``
      at the same jaccard >= 0.4 threshold. Banded LSH never goes
      all-pairs, so this is the composition that survives 100 TB.
    * the registry's oracle entry passes
      ``deterministic_jaccard_edges`` explicitly: LSH recall is
      probabilistic (1-(1-s^r)^b), so a SQL oracle can only mirror the
      exact verifier's graph.
    """
    from pyspark.sql import Window
    (documents,) = _t(spark, sf_dir, "documents")
    if edges_fn is None:
        edges = D.minhash_lsh_pairs_native(
            documents, "text", "doc_id",
            max_exact_jaccard_distance=0.6,
            max_band_bucket=512)   # same skew guard as dedup_minhash_lsh
    else:
        edges = edges_fn(documents)
    # star variant: O(log diameter) rounds — with the billion-edge LSH
    # graph this entry advertises, the propagation loop's O(diameter)
    # would be the weak link (r5 review); both clusterers are
    # oracle-equivalent so the oracle entry is unaffected
    clusters = D.dedup_clusters_star(documents.select("doc_id"),
                                     edges.select("id_a", "id_b"))
    scored = documents.select(
        "doc_id", TX.quality_score("text").alias("quality"))
    members = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id"))
    return (
        members.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
              .alias("keep_doc_id"),
             F.max(F.when(F.col("rk") == 1, F.col("quality")))
              .alias("best_quality"))
    )


# ------------------------------------------------- round-5 additions —

def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level global dedup: chunk each document into
    non-overlapping 10-token spans, drop every span whose exact text
    occurs in >= 2 distinct documents ANYWHERE in the corpus, and
    reassemble the surviving text per document (C4 does this with
    3-sentence spans; the synthetic corpus has no sentence marks, so
    fixed token spans stand in).

    Plan shape: expression-only chunking (slice over sequence, order
    carried by chunk index — no order-unstable collect_list), one
    global groupBy(span_text) for the duplicate census (map-side
    partial agg; at 100 TB this is the standard shuffle-on-content
    census, same shape as exact dedup), broadcast-joinable census
    filter, then re-aggregate per doc with sort_array(struct(idx, txt))
    for a deterministic reassembly."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    span_starts = F.sequence(
        F.lit(0),
        F.greatest(F.lit(0),
                   F.floor((F.size(toks) - 1) / F.lit(10)).cast("int") * 10),
        F.lit(10))
    spans = F.transform(
        span_starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, 10)))
    exploded = (documents
                .select("doc_id", F.posexplode(spans)
                        .alias("span_idx", "span_text")))
    dup_spans = (exploded.groupBy("span_text")
                 .agg(F.count_distinct("doc_id").alias("n_docs"))
                 .where(F.col("n_docs") >= 2)
                 .select("span_text"))
    kept = exploded.join(dup_spans, "span_text", "left_anti")
    return (kept.groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(
                        F.struct(F.col("span_idx"), F.col("span_text")))),
                    lambda s: s["span_text"]), " ").alias("clean_text"),
                 F.count(F.lit(1)).alias("n_spans_kept")))


def corpus_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign every document to the output
    shard in which its token interval starts, under a 2 000-token
    budget per shard, in doc_id order — via the two-phase
    quantile-bucketed prefix sum (operators/packing.py), NOT the
    single-partition global window the equivalent SQL implies."""
    from ..operators.packing import pack_by_budget
    (documents,) = _t(spark, sf_dir, "documents")
    sized = documents.select(
        "doc_id", TX.token_count("text").alias("n_tokens"))
    return (pack_by_budget(sized, "n_tokens", ["doc_id"], budget=2000)
            .select("doc_id", "n_tokens", "shard_id"))


def sample_weighted(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES /
    Efraimidis-Spirakis): key = u^(1/w) with w = n_chars and u a
    length-agnostic arithmetic hash of doc_id (Knuth multiplicative,
    pure integer expression so the DuckDB oracle computes the
    identical doubles) — take the k largest keys.

    The top-k is a TakeOrderedAndProject (per-partition partial top-k,
    k rows to the driver), not a global sort — the one shape that
    makes weighted corpus subsampling viable at 100 TB.

    Determinism bound: the multiply stays inside BIGINT for
    doc_id < 2^63 / 2654435761 ≈ 3.5e9; beyond that Spark's wrap
    differs from a wider-integer engine. For larger id spaces derive
    u from xxhash64(doc_id) instead (engine-internal, not
    cross-engine-checkable)."""
    (documents,) = _t(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * F.lit(2654435761).cast("long"))
         % F.lit(4294967296).cast("long") + 1).cast("double") / 4294967297.0
    key = F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double"))
    return (documents
            .select("doc_id", "n_chars",
                    F.round(key, 9).alias("sample_key"),
                    key.alias("__k"))
            .orderBy(F.col("__k").desc(), F.col("doc_id"))
            .limit(k)
            .drop("__k"))


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (idf = ln(N/df), N = corpus
    size, ties broken by term) — the classic keyword-extraction shape.
    Two shuffles: term-frequency groupBy and the per-doc top-k window;
    the document-frequency table is corpus-vocabulary-sized and
    broadcast into the join.

    r6 restructure: df is derived FROM the persisted tf census —
    tf rows are distinct (doc, term) pairs, so df(term) is a plain row
    count per term.  Before, df ran its own groupBy over a second
    explode of the corpus, tokenizing every document twice."""
    from pyspark.sql import Window

    from ..operators.cache import scoped_persist
    (documents,) = _t(spark, sf_dir, "documents")
    n_docs = documents.count()  # scalar; one metadata-scale job
    terms = documents.select(
        "doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = scoped_persist(terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (tf.join(F.broadcast(df_), "term")
            .withColumn("tfidf",
                        F.round(F.col("tf").cast("double")
                                * F.log(F.lit(float(n_docs))
                                        / F.col("df").cast("double")), 9))
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= 3)
            .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                    "tfidf", "rk"))


def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram collocations by pointwise mutual information:
    pmi = ln(c(ab) * T / (c(a) * c(b))) over adjacent token pairs with
    c(ab) >= 25, T = total bigram count.  Bigrams come from zipping the
    token array with its own tail (arrays_zip of two slices — pure
    expression, order-exact); the unigram table is vocabulary-sized and
    broadcast twice."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w2"))
    bigrams = (documents.where(F.size(toks) >= 2)
               .select(F.explode(pairs).alias("p"))
               .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    bg = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    # unigram counts measured over the SAME positional population as
    # the bigram heads/tails would double-count interior tokens; the
    # standard estimator just uses raw token counts
    uni = (documents.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    total_bg = bg.agg(F.sum("c_ab")).collect()[0][0]
    return (bg.where(F.col("c_ab") >= 25)
            .join(F.broadcast(uni.withColumnRenamed("w", "w1")
                              .withColumnRenamed("c", "c_a")), "w1")
            .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                              .withColumnRenamed("c", "c_b")), "w2")
            .select("w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
                    F.round(F.log(F.col("c_ab").cast("double")
                                  * F.lit(float(total_bg))
                                  / (F.col("c_a").cast("double")
                                     * F.col("c_b").cast("double"))), 9)
                    .alias("pmi")))


def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means TRAINING (k=8, seeds = vec_id 0-7) via the
    driver-loop-over-stateless-jobs pattern in operators/clustering.py
    — per-cluster member count and inertia of the trained model.

    Promoted rows-only -> oracle in r9 (VERDICT r8 #4): the registry
    entry runs a FIXED 2 Lloyd rounds (``tol=0.0``) with
    ``exact_means=True`` — DECIMAL-summed centroid updates are
    addition-order-free, so assignment -> update -> assignment ->
    update -> final assignment is bit-deterministic and the DuckDB
    oracle replays the step algebra twice
    (``plans/registry._kmeans_unrolled_sql(2)``); the whole TRAIN path
    (not just one step) is hash-verified.  The convergence-driven
    variant (tol-bounded, data-dependent iteration count) stays in
    operators/clustering.py with its NumPy Lloyd parity test."""
    from ..operators.clustering import kmeans_train
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    seeds = [r["embedding"]
             for r in embeddings.where(F.col("vec_id") < 8)
                                .select("vec_id", "embedding")
                                .orderBy("vec_id").collect()]
    _, assigned, _ = kmeans_train(embeddings, seeds, max_iter=2,
                                  tol=0.0, exact_means=True)
    return (assigned.groupBy("c_id")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.round(F.sum(F.col("dist2").cast("decimal(28,10)"))
                          .cast("double"), 4).alias("inertia")))


def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 95/5 train/validation split by a pure-arithmetic
    document hash (same Knuth multiplicative scheme as
    ``sample_weighted`` — reproducible across engines and runs, no RNG
    state).  Hash-based splits are the only kind that survive corpus
    re-ingestion: membership depends on the id alone, not on row order
    or partitioning.  Zero shuffles — the split is a projection."""
    (documents,) = _t(spark, sf_dir, "documents")
    # 63-bit-safe Knuth hash: fold below 2^31 before the multiply
    # (ADVICE r7 sweep — Spark wraps silently past ~3.47e9 ids while
    # DuckDB raises, breaking cross-engine determinism at 100 TB scale)
    h = ((F.col("doc_id") % F.lit(2147483648))
         * F.lit(2654435761).cast("long")) % F.lit(4294967296).cast("long")
    return documents.select(
        "doc_id", "lang", "source",
        F.when(h < F.lit(int(0.95 * 4294967296)), F.lit("train"))
         .otherwise(F.lit("val")).alias("split"))


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced mixture resampling: downsample every source to the
    size of the SMALLEST source, keeping each source's docs in
    deterministic hash order (hash, doc_id tiebreak) — the
    equal-mixture construction for training-data blending.

    Plan: one metadata-scale count job derives the per-source floor;
    one window shuffle on ``source`` ranks docs by the arithmetic
    hash; the rank filter is applied before any further work.  At
    100 TB with few sources the window keys are coarse — the rank is
    per-source sequential, so a hash-threshold approximation (no
    window) is the fallback for single-source-dominated corpora."""
    from pyspark.sql import Window
    (documents,) = _t(spark, sf_dir, "documents")
    floor_n = (documents.groupBy("source").count()
               .agg(F.min("count")).collect()[0][0])
    # 63-bit-safe Knuth hash: fold below 2^31 before the multiply
    # (ADVICE r7 sweep — Spark wraps silently past ~3.47e9 ids while
    # DuckDB raises, breaking cross-engine determinism at 100 TB scale)
    h = ((F.col("doc_id") % F.lit(2147483648))
         * F.lit(2654435761).cast("long")) % F.lit(4294967296).cast("long")
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id"))
    return (documents
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= F.lit(int(floor_n)))
            .select("doc_id", "source", "rk"))


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch media resize to 32x32 through the Arrow mapInPandas
    plumbing (operators/multimodal.resize_media).  With the stub tier
    (no image codec in this container) the output payload is the
    documented sha-repeat fake, which IS SQL-expressible — so unlike
    the decode entry the resize transform is fully oracle-checked,
    payload bytes included; the PIL tier on text payloads falls back
    to the identical bytes, keeping the oracle tier-independent.

    Driver contract (VERDICT r6 #1): the payload is projected as
    ``hex(resized_bytes)`` — an injective STRING encoding, so the
    byte-exactness claim is unchanged — because raw BinaryType
    columns crash the driver's pandas-based canonicalizer
    (``bytearray`` is unhashable).  The raw-bytes production path is
    covered by the resize_media unit tests."""
    from ..operators.multimodal import attach_media_columns, resize_media
    (documents,) = _t(spark, sf_dir, "documents")
    media = attach_media_columns(documents, "text")
    out = resize_media(media, 32, 32)
    return out.select("doc_id", "width", "height",
                      F.hex("resized_bytes").alias("resized_hex"),
                      "n_bytes")


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling (every 4th fixed 256-byte frame) —
    the one-row-to-many-frames fanout through mapInPandas; frame
    chunking is deterministic, so offsets AND frame payload bytes are
    oracle-checked (ASCII corpus: char slicing == byte slicing).

    Driver contract (VERDICT r6 #1): frame payload projected as
    ``hex(frame_bytes)`` (injective, byte-exactness preserved) —
    see multimodal_resize for why BinaryType can't face the driver."""
    from ..operators.multimodal import attach_media_columns, sample_frames
    (documents,) = _t(spark, sf_dir, "documents")
    media = attach_media_columns(documents, "text")
    out = sample_frames(media, frame_size=256, stride=4)
    return out.select("doc_id", "frame_idx", "byte_offset",
                      F.hex("frame_bytes").alias("frame_hex"))


def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus data card — the dataset-documentation
    rollup (docs, token volume, mean length, corpus share) published
    next to a training corpus.  Integer sums only (token/char counts),
    so no cross-partition float-order hazard; one shuffle on the
    coarse (source, lang) key; corpus total is a metadata-scale
    driver literal."""
    (documents,) = _t(spark, sf_dir, "documents")
    total = documents.count()
    return (documents
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(TX.token_count("text")).alias("total_tokens"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars"))
            .select("source", "lang", "n_docs", "total_tokens",
                    F.round(F.col("total_chars").cast("double")
                            / F.col("n_docs"), 4).alias("mean_chars"),
                    F.round(F.col("n_docs").cast("double")
                            / F.lit(float(total)), 6).alias("corpus_share")))


def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank iteration over the deterministic near-dup edge set
    (operators/graph.py) from the uniform vector — rank documents by
    near-duplication centrality.  The step is pure relational algebra
    (degree agg + contribution join + per-destination DECIMAL sum +
    dangling-mass redistribution), so it is fully oracle-checked; the
    iterative driver is ``graph_pagerank``."""
    from ..operators.graph import pagerank_step
    (documents,) = _t(spark, sf_dir, "documents")
    edges = deterministic_jaccard_edges(documents)
    return pagerank_step(documents.select("doc_id"),
                         edges.select("id_a", "id_b"))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PageRank over the deterministic near-dup edge
    set — the driver loop over the stateless oracle-checked step, same
    pattern as k-means training.

    Promoted rows-only -> oracle in r9 (VERDICT r8 #4): the registry
    entry runs a FIXED 5 iterations (``tol=0.0`` — the shift check
    never fires), which makes the whole loop SQL-expressible as five
    unrolled replays of the step algebra (``_pagerank_unrolled_sql``
    in plans/registry.py); every per-iteration sum is DECIMAL-exact
    and every double op is written in the same IEEE order on both
    engines, so the composition — not just one step — is bit-exact
    against DuckDB.  The convergence-driven variant (``tol > 0``,
    data-dependent iteration count, hence not SQL-expressible) stays
    in operators/graph.py and keeps its NumPy power-iteration parity
    test."""
    from ..operators.graph import pagerank
    (documents,) = _t(spark, sf_dir, "documents")
    edges = deterministic_jaccard_edges(documents)
    ranks, _ = pagerank(documents.select("doc_id"),
                        edges.select("id_a", "id_b"),
                        max_iter=5, tol=0.0)
    return ranks.select("doc_id", F.round("rank", 9).alias("rank"))


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning capstone as ONE lineage (the §2.13
    composition proof, extension-side analog of the reference DAG's
    single-app pipeline): C4-style span dedup → boilerplate drop
    (docs reduced to <2 surviving spans) → minimum-length gate
    (>=20 clean tokens) → token-budget shard packing of the survivors
    in doc_id order.  Every stage is the already-oracle-checked
    operator, composed; the oracle replays the same SQL end to end,
    so the composition itself is bit-exact-verified, not just the
    parts.

    Plan: span census shuffle + per-doc reassembly (text_line_dedup),
    narrow filters, then the two-phase prefix-sum (no global-window
    funnel) — nothing in the composition adds a shuffle beyond its
    stages."""
    from ..operators.packing import pack_by_budget
    cleaned = text_line_dedup(spark, sf_dir)
    sized = (cleaned.where(F.col("n_spans_kept") >= 2)
             .select("doc_id",
                     TX.token_count("clean_text").alias("n_tokens"))
             .where(F.col("n_tokens") >= 20))
    return (pack_by_budget(sized, "n_tokens", ["doc_id"], budget=2000)
            .select("doc_id", "n_tokens", "shard_id"))


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the deterministic near-dup edge
    set (operators/graph.py triangle_counts): the clustering-coefficient
    building block — distinguishes tight near-dup cliques (template spam,
    mirrored pages) from loose chains that happen to share one hub.
    Oriented wedge join, no double counting; fully oracle-checked."""
    from ..operators.graph import triangle_counts
    (documents,) = _t(spark, sf_dir, "documents")
    edges = deterministic_jaccard_edges(documents)
    return triangle_counts(edges.select("id_a", "id_b"))


def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance fuzzy self-join: candidate pairs from the
    same (lang, length-band) block — identical blocking contract as
    dedup_token_jaccard — scored by levenshtein over the 40-char
    normalized prefix, kept at distance <= 20.  The character-level
    complement to token-level Jaccard: catches small in-token edits
    (typos, OCR noise) that token-set similarity misses entirely.

    Scale: levenshtein is O(len^2) per pair, so it NEVER runs
    all-pairs — only inside the banded blocks (bounded like
    token_jaccard's verify stage), and the 40-char prefix cap bounds
    the DP matrix at 1600 cells regardless of document length.
    Expression-only (Spark's levenshtein is JVM codegen)."""
    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "doc_id", "lang",
        (F.col("n_chars") / 16).cast("long").alias("len_band"),
        F.substring("text", 1, 40).alias("pfx"))
    a, b = t.alias("a"), t.alias("b")
    return (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.len_band") == F.col("b.len_band"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
                    .alias("edit_dist"))
            .where(F.col("edit_dist") <= 20))


def text_top_tokens_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4): corpus-wide
    top-20 tokens from ONE pass with a bounded-memory summary — the
    sketch analog of text_ngram_profile's exact count→sort→limit.

    Why it matters at 100 TB: the exact profile shuffles every distinct
    token; the sketch keeps a fixed-size state per partition and merges
    map-side, so the shuffle is O(maxItemsTracked), independent of
    vocabulary size.  Rows-only: tie order at the cutoff is
    sketch-internal; tests assert the returned (token, freq) pairs
    equal the exact counts whenever maxItemsTracked >= vocabulary
    (where the sketch is provably exact)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = (documents.select(F.explode(TX.tokens("text")).alias("tok"))
            .where(F.length("tok") > 0))
    sketch = toks.agg(F.expr(
        "approx_top_k(tok, 20, 100000)").alias("top"))
    return (sketch.select(F.explode("top").alias("e"))
            .select(F.col("e.item").alias("tok"),
                    F.col("e.count").alias("freq")))


def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization storage codes for the embedding corpus
    (operators/clustering.py pq_train/pq_encode): m=4 subspaces x
    k=16 centroids — 64-dim float vectors compressed to 4 codes.
    Rows-only (iterative k-means training); roundtrip and
    error-monotonicity are ground-truthed in tests.

    Driver surface (VERDICT r9 #1): the raw ``pq_codes array<int>``
    crashes the driver's pandas canonicalizer (lists are unhashable),
    so this entry projects the codes injectively as a '-'-joined
    STRING — same convention as the hex() rule for BinaryType.  The
    array stays on the operator API (``pq_encode``) and in tests."""
    from ..operators.clustering import pq_encode, pq_train
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    books = pq_train(embeddings, m=4, k=16, max_iter=5)
    return (pq_encode(embeddings, books)
            .select("vec_id",
                    F.concat_ws("-", F.col("pq_codes").cast(
                        "array<string>")).alias("pq_code_str"),
                    F.round("recon_err", 6).alias("recon_err")))


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: train m=4 x k=16 codebooks, ADC-score the
    code table against the fixed query subset, exact re-rank the
    shortlist (operators/similarity.py pq_adc_topk).  Completes the
    ANN ladder: brute force (exact baseline) -> LSH / IVF (candidate
    pruning) -> PQ (compressed-domain scan).  Rows-only; recall vs
    brute force in tests."""
    from ..operators.clustering import pq_encode, pq_train
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    # L2-normalize before quantizing: ADC scores L2 distance, and on
    # the unit sphere L2² = 2 - 2·cos, so the compressed-domain ranking
    # agrees with the cosine metric the re-rank (and the exact
    # baseline) uses.  Without this the two metrics disagree whenever
    # vector norms vary and recall collapses.
    v = as_double(F.col("embedding"))
    unit = embeddings.select(
        "vec_id",
        F.transform(v, lambda x: x / norm(v)).alias("embedding"))
    # m=8 x k=64: recall@5 ~0.7 with a 4x re-rank shortlist on this
    # corpus (m=4 x k=16 measured ~0.34 — too coarse for 64-dim);
    # codes are still only 8 x 6 bits per vector
    books = pq_train(unit, m=8, k=64, max_iter=5)
    codes = pq_encode(unit, books).select("vec_id", "pq_codes")
    queries = unit.where(F.col("vec_id") < 20) \
                  .select(F.col("vec_id").alias("q_id"), "embedding")
    return S.pq_adc_topk(queries, codes, embeddings, books, k=5)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75)
    for a fixed query over the corpus: tf / document-length / df
    statistics composed exactly as in the textbook formula, top-20 by
    rounded score with doc_id tiebreak.  The sparse-retrieval
    complement to the dense ANN family — fully oracle-checked since
    every statistic is a deterministic aggregate.

    Plan: one token-explode census (map-side combined), a term-df
    broadcast (|query| rows), scalar N/avgdl broadcast, score as a
    per-(doc,term) expression summed per doc.  The corpus shuffles
    ONLY (doc_id, term) rows for query terms — at 100 TB an inverted
    index materializes the same census once for all queries."""
    k1, b = 1.2, 0.75
    terms = ["data", "spark", "window"]
    (documents,) = _t(spark, sf_dir, "documents")
    toks = (documents.select("doc_id",
                             F.explode(TX.tokens("text")).alias("tok"))
            .where(F.length("tok") > 0))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (toks.where(F.col("tok").isin(terms))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dft = tf.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    scored = (tf.join(F.broadcast(dft), "tok")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .select(
                  "doc_id",
                  (F.log((F.col("n_docs") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5) + 1.0)
                   * (F.col("tf") * (k1 + 1))
                   / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                          / F.col("avgdl"))))
                  .alias("s")))
    return (scored.groupBy("doc_id")
            .agg(F.round(F.sum("s"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id"))
            .limit(20))


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: confusion matrix of the
    heuristic language-ID against the labeled corpus, with per-cell
    corpus share — the eval rollup every curation classifier needs
    next to its predictions (text_lang_id emits the raw pairs).  One
    coarse-key aggregate; share is derived from a window total so the
    matrix stays one job."""
    (documents,) = _t(spark, sf_dir, "documents")
    pairs = documents.select(
        F.col("lang").alias("lang_true"),
        TX.lang_pred("text").alias("lang_pred"))
    counts = (pairs.groupBy("lang_true", "lang_pred")
              .agg(F.count(F.lit(1)).alias("n")))
    # scalar total via keyless aggregate + broadcast cross join (an
    # unpartitioned window here would funnel the matrix through a
    # non-reduced SinglePartition exchange — the suite lint's target)
    total = counts.agg(F.sum("n").alias("__tot"))
    return (counts.crossJoin(F.broadcast(total))
            .select("lang_true", "lang_pred", "n",
                    F.round(F.col("n").cast("double") / F.col("__tot"), 6)
                    .alias("share")))


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-analysis of two DETERMINISTIC near-dup detectors: the
    token-set Jaccard verifier vs the character-level levenshtein
    fuzzy join, bucketed into both / jaccard-only / levenshtein-only
    pair counts.  The operational report a curation pipeline uses to
    tune thresholds before trusting a detector family; both inputs are
    oracle-checked entries, so the agreement rollup is too."""
    (documents,) = _t(spark, sf_dir, "documents")
    jac = deterministic_jaccard_edges(documents).select("id_a", "id_b")
    lev = fuzzy_join_levenshtein(spark, sf_dir).select("id_a", "id_b")
    j = jac.withColumn("in_jac", F.lit(1))
    l_ = lev.withColumn("in_lev", F.lit(1))
    both = j.join(l_, ["id_a", "id_b"], "full_outer")
    method = (F.when(F.col("in_jac").isNotNull()
                     & F.col("in_lev").isNotNull(), "both")
              .when(F.col("in_jac").isNotNull(), "jaccard_only")
              .otherwise("levenshtein_only"))
    return (both.select(method.alias("method"))
            .groupBy("method").agg(F.count(F.lit(1)).alias("n_pairs")))


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup candidates for media payloads: a
    64-bit fingerprint banded SimHash-style (4 x 16-bit bands; one
    shared band promotes a pair) and verified by nibble-wise hamming
    distance <= 6 — the image-dedup shape (pHash banding) over the
    engine's multimodal column conventions.

    Fingerprint stand-in: the first 16 hex chars of the sha256 of the
    payload's 64-char OPENING (this container has no image codec —
    resolve_codec()'s tier policy; a real pHash drops into the same
    16-hex-char contract and NOTHING downstream changes).  Prefix
    locality is the stand-in's analog of pHash's low-frequency bias:
    mirrored/re-encoded assets share openings (header + leading
    content) while tails drift — and unlike the full-payload sha used
    before r8, it produces real pairs at the driver's sf0.01 lake
    (the full-body key had ZERO duplicates there, making the oracle
    comparison vacuously green).  Fingerprints still only collide
    deterministically, so the result is fully oracle-checked; with a
    real pHash the same plan yields true near-dups.

    The fingerprint is derived from ``media_bytes`` — the opaque
    payload column attach_media_columns wraps — decoded through the
    stub-codec text tier (this lake's payloads ARE UTF-8 text, the
    documented stand-in) and sliced in CHARACTERS so the hashed bytes
    agree with the DuckDB oracle's ``substr(text, 1, 64)`` for any
    UTF-8 payload: a raw byte-slice of the binary column could split
    a multi-byte code point AND DuckDB's sha256 only consumes VARCHAR
    (ADVICE r8: before this, the fingerprint read the raw text column
    and the attached media columns were dead weight — now the payload
    column is load-bearing; media_meta stays attached per the column
    conventions and Catalyst prunes it from this plan, which is the
    conventions working as designed).  Plan: 4 narrow band equi-joins
    unioned, distinct, then expression-only hamming on the candidates
    (never all-pairs).
    """
    from ..operators.multimodal import attach_media_columns
    (documents,) = _t(spark, sf_dir, "documents")
    payload_text = F.decode(F.col("media_bytes"), "UTF-8")
    ph = (attach_media_columns(documents, "text")
          .select("doc_id",
                  F.substring(
                      F.sha2(F.encode(F.substring(payload_text, 1, 64),
                                      "UTF-8"), 256),
                      1, 16).alias("ph")))
    bands = [F.substring("ph", 4 * i + 1, 4).alias(f"b{i}")
             for i in range(4)]
    t = ph.select("doc_id", "ph", *bands)
    cand = None
    for i in range(4):
        a, b = t.alias("a"), t.alias("b")
        pairs_i = (a.join(b, (F.col(f"a.b{i}") == F.col(f"b.b{i}"))
                          & (F.col("a.doc_id") < F.col("b.doc_id")))
                   .select(F.col("a.doc_id").alias("id_a"),
                           F.col("b.doc_id").alias("id_b"),
                           F.col("a.ph").alias("ph_a"),
                           F.col("b.ph").alias("ph_b")))
        cand = pairs_i if cand is None else cand.unionAll(pairs_i)
    cand = cand.distinct()

    hexs = F.lit("0123456789abcdef")

    def _nibs(col_name: str):
        return F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.call_function(
                "instr", hexs,
                F.call_function("substr", F.col(col_name), i, F.lit(1)))
            - F.lit(1))

    ham = F.aggregate(
        F.zip_with(_nibs("ph_a"), _nibs("ph_b"),
                   lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0), lambda acc, v: acc + v)
    return (cand.select("id_a", "id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= 6))


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means clusters as the blocking structure,
    pairwise cosine only WITHIN each cluster — the semantic analog of
    MinHash banding that made embedding dedup tractable for LAION/
    web-scale corpora.  Centroids here are the 8 deterministic seed
    vectors (vec_id < 8, same contract as ``embedding_kmeans_step``)
    so the whole composition is oracle-checkable.

    Plan shape: (1) broadcast the 8 centroids, argmin assignment via
    ``min(struct(dist2, c_id))`` — partial aggregation collapses the
    8-row fanout map-side, the exchange carries one narrow row per
    vector; (2) re-attach the vectors by vec_id (one hash join);
    (3) the pair generator is an EQUI-join on the cluster id, so the
    quadratic is bounded per cluster — at 100 TB the cluster count
    scales with the corpus (SemDeDup uses ~50k clusters for LAION-440M)
    keeping each block tiny, and no all-pairs shape ever appears.
    Output: same-cluster near-dup pairs (cos >= 0.3; SemDeDup keeps
    the lowest-id member of each pair set, which downstream
    ``dedup_clusters``/``dedup_keep_best`` composes exactly as for the
    token-based edge sets."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("centroid"))
    sq = F.aggregate(
        F.zip_with(F.col("v"), F.col("centroid"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    d = e.crossJoin(F.broadcast(cents)).select("vec_id", "c_id",
                                               sq.alias("dist2"))
    best = (d.groupBy("vec_id")
            .agg(F.min(F.struct("dist2", "c_id")).alias("b"))
            .select("vec_id", F.col("b.c_id").alias("c_id")))
    assigned = e.join(best, "vec_id")
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (
        F.sqrt(dot(F.col("a.v"), F.col("a.v")))
        * F.sqrt(dot(F.col("b.v"), F.col("b.v"))))
    return (a.join(b, (F.col("a.c_id") == F.col("b.c_id"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.c_id").alias("cluster_id"),
                    F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    F.round(cos, 6).alias("cos_sim"))
            .where(F.col("cos_sim") >= 0.3))


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring (the CCNet/C4-style
    "perplexity filter" in its simplest trainable form, Wenzek et al.
    2020): fit an add-one-smoothed unigram LM on the corpus itself,
    then score every document by its mean negative log-likelihood per
    token — documents full of rare junk tokens score high and get
    culled.

    Plan: one token-census shuffle (map-side partial counts), a 1-row
    scalar aggregate for (N, |V|) broadcast by construction, then the
    token stream re-joins the frequency table on the token — at our
    size AQE broadcasts the vocabulary side; at open-web vocabulary
    sizes it degrades gracefully to a hash join keyed on the token,
    never anything quadratic.  Per-token log-probs are cast to
    DECIMAL(28,12) before the per-document sum so cross-partition
    addition order cannot perturb double bits (r5 rule, same as
    ``embedding_dim_stats``)."""
    (documents,) = _t(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.explode(TX.tokens("text")).alias("t")
    ).select("doc_id", F.lower(F.col("t")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    scal = freq.agg(F.sum("cnt").alias("n_total"),
                    F.count(F.lit(1)).alias("n_vocab"))
    logp = F.log((F.col("cnt") + 1).cast("double")
                 / (F.col("n_total").cast("double")
                    + F.col("n_vocab").cast("double")))
    scored = (tok.join(freq, "tok")
              .crossJoin(F.broadcast(scal))
              .select("doc_id", logp.cast("decimal(28,12)").alias("lp")))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(-(F.sum("lp").cast("double")) / F.count(F.lit(1)), 4)
         .alias("nll_per_token"))


def corpus_seq_pack(spark: SparkSession, sf_dir: str,
                    seq_len: int = 128) -> DataFrame:
    """GPT-style fixed-length sequence packing WITH cross-boundary
    splitting: concatenate the corpus in deterministic doc_id order
    into back-to-back ``seq_len``-token training sequences; a document
    that straddles a boundary contributes one segment row to every
    sequence it overlaps.  This is the complement of
    ``corpus_shard_pack`` (which never splits a document): pretraining
    loaders pack exactly this way so no sequence is padded.

    Plan: the global token offset comes from the two-phase
    ``operators.packing.prefix_sum`` (quantile-bucketed ranges +
    per-bucket window + broadcast offsets — NO single-partition global
    window), then the per-document fanout is a pure expression:
    ``explode(sequence(first_seq, last_seq))`` emits one row per
    overlapped sequence and the segment arithmetic is closed-form.
    Zero additional shuffles beyond the one bucket exchange; output
    rows ≈ docs + crossings, never tokens."""
    from ..operators.packing import prefix_sum
    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select("doc_id", TX.token_count("text").alias("n_toks"))
    ps = prefix_sum(t, "n_toks", ["doc_id"], out_col="cum")
    L = F.lit(seq_len).cast("long")
    start = F.col("cum") - F.col("n_toks")
    end = F.col("cum")
    rows = ps.select(
        "doc_id", "n_toks", start.alias("tok_start"), end.alias("tok_end"),
        F.explode(F.sequence(F.floor(start / L),
                             F.floor((end - 1) / L))).alias("seq_id"))
    seg_start = F.greatest(F.col("tok_start"), F.col("seq_id") * L)
    seg_end = F.least(F.col("tok_end"), (F.col("seq_id") + 1) * L)
    return rows.select(
        "doc_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        (seg_start - F.col("seq_id") * L).cast("long").alias("offset_in_seq"),
        (seg_end - seg_start).cast("long").alias("n_seg_tokens"))


def corpus_token_budget_sample(spark: SparkSession, sf_dir: str,
                               budget: int = 2000) -> DataFrame:
    """Quality-greedy corpus selection under a token budget: rank
    documents by the deterministic quality score (desc, doc_id
    tiebreak) and keep the prefix whose token mass fits the budget —
    the "take the best B tokens" step of data-mixing recipes
    (quality-ordered greedy selection, cf. DoReMi/quality-filter
    pipelines).  A document is kept iff its running total STARTS
    inside the budget (same start-offset rule as
    ``operators.packing.pack_by_budget``, so the cut is well-defined
    and the last kept doc may overshoot).

    Plan: quality is a zero-shuffle expression; the running total is
    the two-phase ``prefix_sum`` keyed on (-quality, doc_id) — one
    bucket-id exchange, NO global single-partition window — and the
    budget cut is a pure filter on the prefix sum.  At 100 TB this is
    exactly the shard-packing shape plus a broadcastable scalar."""
    from ..operators.packing import prefix_sum
    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "doc_id",
        TX.quality_score("text").alias("quality"),
        TX.token_count("text").alias("n_toks"),
    ).withColumn("neg_q", -F.col("quality"))
    # stop_after=budget (r8): prune range buckets past the cut BEFORE
    # the selection window — see corpus_loader_pipeline
    ps = prefix_sum(t, "n_toks", ["neg_q", "doc_id"], out_col="cum_tokens",
                    stop_after=budget)
    return (ps.where(F.col("cum_tokens") - F.col("n_toks") < budget)
            .select("doc_id", "quality", "n_toks", "cum_tokens"))


def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str,
                         n_epochs: int = 2) -> DataFrame:
    """Deterministic per-epoch corpus shuffle order: every epoch
    re-permutes the documents by a Knuth multiplicative hash of
    (doc_id, epoch) and assigns a dense 1-based rank within the epoch
    — the reshuffle-every-epoch contract of a pretraining data loader,
    reproducible across runs and engines (no RNG state; the permutation
    IS the hash order).

    Plan: the rank comes from ONE two-phase ``serial_id`` pass over
    the combined (epoch << 32 | hash) key — no global funnel, no
    per-epoch driver loop — and the per-epoch rank is recovered
    arithmetically as ``global_id - epoch * n_docs`` (every epoch
    carries exactly the full corpus).  The doc count rides in as a
    broadcast scalar."""
    from ..operators.ids import serial_id
    (documents,) = _t(spark, sf_dir, "documents")
    d = documents.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in range(n_epochs)]))
         .alias("epoch"))
    # 63-bit-safe Knuth hash: fold below 2^31 before the multiply
    # (ADVICE r7 sweep — Spark wraps silently past ~3.47e9 ids while
    # DuckDB raises, breaking cross-engine determinism at 100 TB scale)
    skey = (((F.col("doc_id")
              + F.col("epoch").cast("long") * F.lit(1000003))
             % F.lit(2147483648))
            * F.lit(2654435761)) % F.lit(4294967296)
    k = d.select(
        "doc_id", "epoch", skey.alias("skey"),
        (F.col("epoch").cast("long") * F.lit(4294967296) + skey)
        .alias("gkey"))
    ranked = serial_id(k, ["gkey", "doc_id"], id_col="gid")
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    return (ranked.crossJoin(F.broadcast(n))
            .select("epoch",
                    (F.col("gid")
                     - F.col("epoch").cast("long") * F.col("n_docs"))
                    .alias("shuffle_rank"),
                    "doc_id"))


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging over the event stream — the
    monitoring/data-validation pass a 100 TB ingest runs before
    training data is admitted.  Population mean/σ per event_type are
    derived from DECIMAL-summed power sums (Σx, Σx², the r5 rule used
    by ``embedding_dim_stats``/``agg_higher_moments``) so both engines
    build bit-identical doubles; events with |z| >= 2 are reported.

    Plan: one partial-aggregated shuffle on event_type (4 groups),
    stats re-attach by broadcast, the z filter is map-side."""
    (events,) = _t(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
         .alias("s2"))
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    st = stats.select("event_type", mean.alias("mu"),
                      F.sqrt(var).alias("sigma"))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (events.join(F.broadcast(st), "event_type")
            .select("event_id", "event_type", "value",
                    F.round(z, 4).alias("zscore"))
            .where(F.abs(F.col("zscore")) >= 2.0))


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier flagging — the heavy-tail-safe
    sibling of ``events_anomaly_zscore``: mean/σ are themselves
    dragged by the outliers they should flag, while the median and the
    median-absolute-deviation have a 50 % breakdown point (Hampel
    1974; the 1.4826 factor rescales MAD to σ under normality).
    Events with |value − median| > 3·1.4826·MAD for their type are
    reported with the robust z-score.

    Plan: two exact-median aggregates on event_type (4 groups — the
    per-group sort is bounded by the largest type, the same cost class
    as the existing exact-percentile entries) with broadcast
    re-attach; the flag filter is map-side.  Groups whose MAD is zero
    (>50 % identical values) are excluded — the score is undefined
    there, stated in the oracle too."""
    (events,) = _t(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.median("value").alias("med"))
    dev = (events.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.median("adev").alias("mad"), F.first("med").alias("med"))
    rz = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (events.join(F.broadcast(mad), "event_type")
            .where(F.col("mad") > 0)
            .where(F.abs(rz) > 3.0)
            .select("event_id", "event_type", "value",
                    F.round("med", 4).alias("med"),
                    F.round("mad", 4).alias("mad"),
                    F.round(rz, 4).alias("robust_z")))


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits) —
    the information-density quality signal that separates natural prose
    from keyword stuffing / boilerplate repetition (low entropy) at a
    glance: H = log₂(n) − (Σ c·log₂ c)/n over per-doc token counts.

    Plan: one (doc, token) census shuffle with map-side combine, then
    a per-doc reduce — both keyed, no window; the per-term products are
    DECIMAL(28,12)-cast before summation so cross-partition addition
    order cannot perturb double bits (r5 rule)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.transform(TX.tokens("text"), lambda t: F.lower(t))
    census = (documents.select("doc_id", F.explode(toks).alias("tok"))
              .groupBy("doc_id", "tok")
              .agg(F.count(F.lit(1)).alias("c")))
    term = (F.col("c") * F.log2(F.col("c").cast("double"))) \
        .cast("decimal(28,12)")
    agg = census.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(term).alias("s"))
    h = (F.log2(F.col("n_tokens").cast("double"))
         - F.col("s").cast("double") / F.col("n_tokens"))
    return agg.select("doc_id", "n_tokens",
                      F.round(h, 6).alias("token_entropy"))


def text_feature_hashing(spark: SparkSession, sf_dir: str,
                         n_buckets: int = 64) -> DataFrame:
    """Hashing-trick bag-of-words features (Weinberger et al. 2009):
    every token is hashed into one of ``n_buckets`` feature slots and
    counted — the fixed-dimension, vocabulary-free featurizer that
    feeds linear quality classifiers (e.g. the fastText-style page
    scorer in CCNet-like pipelines).  The hash is the repo's
    cross-engine polynomial rolling hash (``functions.text
    .rolling_hash``, already oracle-proven by ``text_fingerprint``),
    NOT an engine-private hash — so the featurizer is bit-reproducible
    anywhere, which is what rules out train/serve hash skew.

    Output is the sparse form (doc_id, bucket, n_tokens).  Plan: one
    map-side-combined shuffle on (doc_id, bucket); the hash itself is
    a zero-shuffle higher-order expression."""
    (documents,) = _t(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.explode(TX.tokens("text")).alias("t")
    ).select("doc_id", F.lower(F.col("t")).alias("tok"))
    # tokens are whitespace-normalized by construction, so the hash's
    # trim/regex pass is a no-op — skip it (r13, bit-identical; see
    # rolling_hash_prenormalized)
    bucket = TX.rolling_hash_prenormalized(F.col("tok")) % F.lit(n_buckets)
    return (tok.select("doc_id", bucket.alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).alias("n_tokens")))


def ann_range_search(spark: SparkSession, sf_dir: str,
                     min_cos: float = 0.35) -> DataFrame:
    """Radius (range) similarity search — the other half of the ANN
    API surface: instead of "the k nearest", return EVERY corpus
    vector within a cosine radius of each query (the retrieval shape
    for near-dup audits and threshold-calibrated retrieval).

    Plan: even leaner than top-k — the broadcast-queries × streaming-
    corpus map computes the similarity and the radius cut is a pure
    filter, so there is NO shuffle at all (top-k at least repartitions
    the WindowGroupLimit-reduced candidates); the 100 TB corpus
    streams through map tasks once."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    q = (embeddings.where(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("q_id"),
                 as_double(F.col("embedding")).alias("qv")))
    c = embeddings.select("vec_id", as_double(F.col("embedding")).alias("cv"))
    cos = dot(F.col("qv"), F.col("cv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv")))
        * F.sqrt(dot(F.col("cv"), F.col("cv"))))
    return (c.crossJoin(F.broadcast(q))
            .where(F.col("q_id") != F.col("vec_id"))
            .select("q_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
            .where(F.col("cos_sim") >= min_cos))


def embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (whitening without rotation):
    z_i = (x_i - μ_i)/σ_i over the corpus — the normalization pass
    embedding pipelines run before indexing/clustering so no dimension
    dominates the metric.  μ/σ come from the same DECIMAL-summed power
    sums as ``embedding_dim_stats`` (bit-identical cross-engine); the
    standardized values are serialized as half-up-scaled 1e-4 integers
    (the ``embedding_quantize_int8`` CSV rule — float→string
    formatting is engine-specific, scaled ints are not).

    Plan: one 64-group stats shuffle, stats collapse to a single
    broadcast row of (dim-sorted) μ/σ arrays, and the standardization
    is a zero-shuffle ``zip_with`` over the streaming corpus — at
    100 TB the stats pass is a metadata-sized partial agg and the
    apply pass is map-only."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    d = e.select(F.posexplode("v").alias("dim", "x"))
    s1 = F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
    s2 = F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")) \
          .cast("double")
    n = F.count(F.lit(1))
    st = d.groupBy("dim").agg(
        (s1 / n).alias("mu"),
        F.sqrt(s2 / n - (s1 / n) * (s1 / n)).alias("sigma"))
    packed = st.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("dim", "mu", "sigma")))
         .alias("sms"))
    mus = F.transform(F.col("sms"), lambda s: s.mu)
    sds = F.transform(F.col("sms"), lambda s: s.sigma)
    centered = F.zip_with(F.col("v"), mus, lambda a, b: a - b)
    z_scaled = F.zip_with(
        centered, sds,
        lambda a, b: F.floor(a / b * 10000 + F.lit(0.5)).cast("long"))
    return (e.crossJoin(F.broadcast(packed))
            .select("vec_id",
                    F.array_join(
                        F.transform(z_scaled, lambda v: v.cast("string")),
                        ",").alias("z_csv")))


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality feature extraction: fixed-size waveform frames →
    per-frame energy, completing the modality triad (image decode/
    resize/phash, video frame-sample, audio frame-energy).  The
    "decoder" is the deterministic sha-derived stand-in tier (see
    ``operators.multimodal.frame_energy``), which keeps chunking,
    offsets AND the feature value SQL-expressible — so unlike a real
    codec this stub path is fully oracle-checked end to end; a real
    PCM RMS slots into the same schema."""
    from ..operators.multimodal import attach_media_columns, frame_energy
    (documents,) = _t(spark, sf_dir, "documents")
    media = attach_media_columns(documents, "text", media_type="audio")
    return frame_energy(media)


def ml_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib interop: the SAME near-dup candidate problem solved
    through ``pyspark.ml``'s HashingTF → MinHashLSH →
    approxSimilarityJoin pipeline over 3-token SHINGLE sets (the same
    discriminative unit as the native operator; seeded, so
    deterministic per build).  Rows-only by design, like the native
    ``dedup_minhash_lsh``: the candidate set is hash-dependent;
    planted-near-dup recall is ground-truthed in tests.

    Scale note: MLlib's approxSimilarityJoin explodes one row per
    (vector, hash-table) and equi-joins on the hash value — the same
    banded-join shape as the native operator (operators/dedup.py),
    which remains the first choice because it skips the ml.Vector
    boxing and keeps everything in Tungsten rows; this entry exists to
    prove the ml.feature surface composes with the engine's tables."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    (documents,) = _t(spark, sf_dir, "documents")
    t = TX.tokens("text")
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(t) - 3),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, 3)))
    toks = (documents.where(F.size(t) >= 3)
            .select("doc_id", shingles.alias("toks")))
    tf = HashingTF(inputCol="toks", outputCol="features",
                   numFeatures=1 << 14, binary=True)
    feats = tf.transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes",
                    numHashTables=8, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5,
                                       distCol="jaccard_dist")
    return (pairs
            .where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
            .select(F.col("datasetA.doc_id").alias("id_a"),
                    F.col("datasetB.doc_id").alias("id_b"),
                    F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist")))


def ml_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine classifier training (MLlib interop #2): DISTILL the
    deterministic stopword-ratio language gate (``functions.text
    .lang_pred``, the rule ``#stopwords − 0.08·#tokens ≥ 0`` — exactly
    linear in token-count space) into a hashed bag-of-words logistic
    regression — the train-the-filter loop (CCNet's fastText
    language/quality models) run entirely inside the engine, no export
    step.  The gate is the training target rather than the raw lang
    column because this synthetic lake draws every language from ONE
    shared 31-token vocabulary: true-language is deliberately NOT
    linearly learnable here (the tests document that ceiling), while
    gate distillation has a provable margin — which is what makes
    near-perfect train agreement a meaningful check instead of luck.
    Rows-only by design: LBFGS coefficients are not a SQL oracle
    target; agreement and calibration are ground-truthed in tests.

    Scale: HashingTF is a map-only expression over tokens (fixed 4096
    dims, vocabulary-free); LogisticRegression aggregates gradients
    tree-wise per iteration (treeAggregate — no driver funnel of row
    data); scoring is again map-only."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id",
        (TX.lang_pred("text") == "en").cast("double").alias("label"),
        F.transform(TX.tokens("text"), F.lower).alias("toks"))
    tf = HashingTF(inputCol="toks", outputCol="features",
                   numFeatures=1 << 12, binary=False)
    feats = tf.transform(toks)
    lr = LogisticRegression(maxIter=50, regParam=0.0,
                            featuresCol="features", labelCol="label")
    model = lr.fit(feats)
    # Drop the training summary before scoring: it pins the
    # SparkSession into the model, and a session whose
    # ObservationManager is live (any df.observe() earlier in the
    # process — e.g. the observed_counts entry) is not
    # java-serializable, so transform's task closure would fail with
    # NotSerializableException. Scala package-private setSummary is
    # public at the JVM level, so py4j can clear it directly.
    try:
        model._java_obj.setSummary(
            spark.sparkContext._jvm.scala.Option.empty())
    except Exception:
        pass  # summary layout changed — transform may still work
    scored = model.transform(feats)
    return scored.select(
        "doc_id",
        F.col("label").cast("long").alias("gate_en"),
        F.col("prediction").cast("long").alias("pred_en"),
        F.round(vector_to_array(F.col("probability"))[1], 3).alias("p_en"))


def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (the chunking granularity below
    ``text_chunking``'s token windows): split on terminal punctuation
    runs, emit (doc_id, sentence_idx, sentence, n_sent_tokens) — the
    unit for sentence-level dedup/quality filters.  RE2-safe pattern
    (no lookbehind) shared verbatim with the oracle; posexplode
    fanout, zero Python."""
    (documents,) = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+\s*"), F.trim),
        lambda s: s != "")
    return (documents
            .select("doc_id",
                    F.posexplode(sents).alias("sentence_idx", "sentence"))
            .withColumn("n_sent_tokens",
                        F.size(F.split(F.col("sentence"), r"\s+"))
                        .cast("long")))


def corpus_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report — the decision artifact a corpus owner
    reads before picking a method: for exact normalization dedup and
    for near-dup clustering (deterministic Jaccard edges), how many
    documents and tokens would be removed keeping one canonical doc
    per group, as absolute counts and corpus share.  Composes the
    oracle-checked building blocks (exact groups, cluster assign), so
    the rollup itself is fully oracle-checked — unlike sampling-based
    estimates this IS the exact answer at any scale: two hash-agg
    shuffles plus the O(diameter) cluster rounds already measured
    sublinear."""
    (documents,) = _t(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", TX.token_count("text").alias("n_toks"),
        F.lower(F.trim(F.col("text"))).alias("norm"))
    tot = tok.agg(F.count(F.lit(1)).alias("nd"),
                  F.sum("n_toks").alias("nt"))

    ex_groups = tok.groupBy("norm").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("n_toks").alias("n"))
    ex = ex_groups.agg(
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("docs_removed"),
        F.coalesce(F.sum((F.col("cnt") - 1) * F.col("n")), F.lit(0))
         .alias("tokens_removed"))

    clusters = D.dedup_clusters(
        documents.select("doc_id"), deterministic_jaccard_edges(documents))
    jr = (clusters.join(tok, "doc_id")
          .where(F.col("doc_id") != F.col("cluster_id"))
          .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("docs_removed"),
               F.coalesce(F.sum("n_toks"), F.lit(0))
                .alias("tokens_removed")))

    out = (ex.select(F.lit("exact").alias("method"), "docs_removed",
                     "tokens_removed")
           .unionByName(jr.select(F.lit("jaccard").alias("method"),
                                  "docs_removed", "tokens_removed")))
    return (out.crossJoin(F.broadcast(tot))
            .select("method",
                    F.col("docs_removed").cast("long"),
                    F.col("tokens_removed").cast("long"),
                    F.round(F.col("docs_removed") / F.col("nd"), 6)
                     .alias("pct_docs"),
                    F.round(F.col("tokens_removed") / F.col("nt"), 6)
                     .alias("pct_tokens")))


def _loader_budget_selection(spark: SparkSession, sf_dir: str,
                             budget: int) -> DataFrame:
    """The loader's CORPUS-SCALE stage, factored out (ADVICE r12 #4)
    so ``tests/test_plan_quality.test_loader_pipeline_no_single_
    partition`` lints exactly the production selection sub-plan
    instead of a hand-replicated copy: quality-greedy token-budget cut
    via the two-phase ``stop_after``-pruned prefix sum.

    Zero-token docs are filtered BEFORE the cut (ADVICE r12 #2): they
    carry no tokens, so the selection is unchanged wherever they could
    appear — but admitting them under the cut would (a) let ``sel``
    grow with corpus size (breaking the ≤-budget boundedness the
    downstream ``bounded_input`` windows assert BY CONSTRUCTION), and
    (b) feed ``start == end`` rows into the descending-``F.sequence``
    edge in the packing fanout (``sequence(a, a-1)`` emits spurious
    rows).  With the filter the bound is exact: every selected doc
    bears ≥ 1 token, so ``sel`` holds < budget docs at ANY corpus
    size."""
    from ..operators.packing import prefix_sum
    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "doc_id",
        TX.quality_score("text").alias("quality"),
        TX.token_count("text").alias("n_toks"),
    ).withColumn("neg_q", -F.col("quality")).where(F.col("n_toks") > 0)
    # stop_after=budget (r8): the selection consumes only rows whose
    # running total BEFORE the row is < budget, so prefix_sum prunes
    # every range bucket past the cut BEFORE the selection window —
    # at 100 TB the greedy cut windows the selected prefix, never the
    # whole corpus (values of retained rows are unchanged; the .where
    # below is the exact in-bucket cut)
    return (prefix_sum(t, "n_toks", ["neg_q", "doc_id"], out_col="sel_cum",
                       stop_after=budget)
            .where(F.col("sel_cum") - F.col("n_toks") < budget)
            .select("doc_id", "n_toks"))


def corpus_loader_pipeline(spark: SparkSession, sf_dir: str,
                           budget: int = 2000,
                           seq_len: int = 128) -> DataFrame:
    """Capstone #2 (the loader-side sibling of
    ``corpus_clean_pipeline``): quality-greedy token-budget SELECTION →
    fixed-length sequence PACKING with cross-boundary splitting →
    deterministic epoch-0 SHUFFLE of the packed sequences, composed as
    ONE lineage and oracle-replayed end-to-end in SQL — i.e. the
    pretraining dataloader's whole batch plan, produced inside the
    engine.  Per sequence: how many docs contribute, how many tokens
    it holds (the last may be ragged), and its epoch-0 load order.

    Plan: ONE corpus-scale two-phase prefix sum (the selection cut,
    stop_after-pruned) + expression fanout + one 128-token-group
    aggregate + budget-bounded global windows for the token offsets
    and the epoch-shuffle rank (r12: everything downstream of the
    budget cut is metadata-scale BY CONSTRUCTION — ≤ budget tokens'
    worth of docs, ≤ ~budget/seq_len sequences — so the two-phase
    forms' eager driver jobs were pure overhead there; see the
    ``bounded_input`` notes inline).  Composition adds NO shuffle
    beyond the stages' own, and the corpus-scale stage was measured
    sublinear at the 10× lake (BENCH_scale_r05.json).

    The corpus-scale prefix_sum triggers two eager metadata jobs plus
    the main lineage, so without a cache the documents scan and its
    text expressions re-ran per job (measured 2.4× end-to-end at
    sf0.1, r6 — the BASELINE.md round-6 note); it persists its own
    input (MEMORY_AND_DISK), which covers the per-doc scoring
    relation."""
    from ..operators.ids import serial_id
    from ..operators.packing import prefix_sum
    sel = _loader_budget_selection(spark, sf_dir, budget)

    # bounded_input (r12): sel is the BUDGET CUT's output — the greedy
    # selection stops once the quality-ordered running total reaches
    # budget (2000 tokens), and zero-token docs are filtered before
    # the cut (ADVICE r12 #2, see _loader_budget_selection), so sel
    # holds < budget docs BY CONSTRUCTION at ANY corpus size.  The
    # global running-total window over it moves a budget-bounded
    # relation, never the corpus; the corpus-scale stage above keeps
    # the two-phase stop_after-pruned prefix_sum.
    # Eliminates 3 eager driver jobs per bench pass (guide §5).
    ps = prefix_sum(sel, "n_toks", ["doc_id"], out_col="cum",
                    bounded_input=True)
    L = F.lit(seq_len).cast("long")
    start = F.col("cum") - F.col("n_toks")
    end = F.col("cum")
    segs = ps.select(
        "doc_id", start.alias("tok_start"), end.alias("tok_end"),
        F.explode(F.sequence(F.floor(start / L),
                             F.floor((end - 1) / L))).alias("seq_id"))
    seg_tokens = (F.least(F.col("tok_end"), (F.col("seq_id") + 1) * L)
                  - F.greatest(F.col("tok_start"), F.col("seq_id") * L))
    seqs = (segs.groupBy("seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(seg_tokens).cast("long").alias("n_seq_tokens")))

    # 63-bit-safe Knuth hash: fold below 2^31 before the multiply
    # (ADVICE r7 sweep — Spark wraps silently past ~3.47e9 ids while
    # DuckDB raises, breaking cross-engine determinism at 100 TB scale)
    skey = (((F.col("seq_id") % F.lit(2147483648))
             * F.lit(2654435761)) % F.lit(4294967296))
    # bounded_input (r12): seqs has ≤ ceil((budget + longest selected
    # doc's overshoot)/seq_len) rows by construction — seq_id only
    # ranges over the packed 128-token groups of the ≤-budget selected
    # prefix — so the epoch-shuffle rank is a window over a handful of
    # rows at ANY corpus size; the two-phase form's three eager driver
    # jobs (boundary sketch, tie sub-sketch batch, offset collect) were
    # pure overhead here (guide §5).
    ranked = serial_id(seqs.withColumn("skey", skey),
                       ["skey", "seq_id"], id_col="shuffle_rank",
                       bounded_input=True)
    return ranked.select(F.col("seq_id").cast("long").alias("seq_id"),
                         "shuffle_rank", "n_docs", "n_seq_tokens")


def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization step URL-level
    web-corpus dedup keys on (CommonCrawl-style): lowercase
    scheme+host, drop the default port, strip tracking parameters
    (utm_*/ref) and fragments, trim the trailing slash.  Pure regexp
    chain shared semantically with the oracle; the dedup key is then
    an exact groupBy — URLs here are synthesized from lake columns
    with per-doc-parity variants so the normalizer provably merges
    them (the dup flag is part of the output)."""
    (documents,) = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://"))
         .otherwise(F.lit("https://")),
        F.upper(F.col("source")), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), (F.col("doc_id") / 2).cast("long"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("?utm_source=feed&utm_campaign=x"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#section-2"))
         .otherwise(F.lit("")))
    c = F.regexp_replace(raw, r"#.*$", "")
    c = F.regexp_replace(c, r"\?utm_[^#]*$", "")
    # rebuild from extracts — no backreference-replacement syntax, so
    # the identical patterns run verbatim in the oracle: lowercase the
    # host, drop the default :443 port (authority = [^/]*, so the port
    # never leaks into the path), keep path case, trim trailing slash
    host = F.lower(F.regexp_extract(c, r"^[A-Za-z]+://([^/:?#]+)", 1))
    path = F.regexp_extract(c, r"^[A-Za-z]+://[^/]*(.*)$", 1)
    c = F.concat(F.lit("https://"), host,
                 F.regexp_replace(path, r"/$", ""))
    out = documents.select("doc_id", raw.alias("raw_url"),
                           c.alias("canonical_url"))
    from pyspark.sql import Window
    w = Window.partitionBy("canonical_url")
    return out.withColumn(
        "n_raw_variants",
        F.count(F.lit(1)).over(w).cast("long"))


def text_content_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived UUID (the RFC-4122 version-5
    SHAPE over the document sha — stable across engines and
    re-ingestions, unlike ``uuid()``): the canonical doc-id scheme for
    corpus lineage, formatted 8-4-4-4-12 with version/variant nibbles
    pinned.  Pure string expressions; the oracle reproduces the same
    slicing over the same sha256."""
    (documents,) = _t(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    uuid5ish = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(F.lit("8"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12))
    return documents.select("doc_id", uuid5ish.alias("content_uuid"))


def corpus_dsir_weights(spark: SparkSession, sf_dir: str,
                        n_buckets: int = 64,
                        target_quality: float = 0.6) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al., NeurIPS 2023): score every raw document by
    how target-like its hashed n-gram profile is,
    ``log w(x) = sum_b c_x[b] * (log p_tgt[b] - log p_raw[b])`` over
    ``n_buckets`` hashed unigram+bigram features with add-one
    smoothing.  The "target domain" here is the corpus' own
    high-quality slice (``quality_score >= target_quality`` — the
    deterministic gate this engine already oracle-proves elsewhere),
    so the whole operator is closed-form and bit-reproducible: the
    feature hash is the cross-engine polynomial rolling hash
    (``text_feature_hashing``'s), NOT an engine-private hash.

    Plan shape (the 100-TB story): one (doc, bucket) map-side-combined
    shuffle builds per-doc sparse features; the bucket marginals for
    raw AND target collapse out of the SAME census via conditional
    sums (no second pass over the corpus); the lambda table is
    ``n_buckets`` rows — broadcast by construction — and the final
    per-doc reduce is a second combine on doc_id.  Nothing scales with
    vocabulary; per-bucket products are cast to DECIMAL(28,12) before
    summing so cross-partition addition order cannot perturb double
    bits (r5 rule)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.transform(TX.tokens("text"), lambda t: F.lower(t))
    bi_pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w2"))
    # bigrams are trimmed: ``F.trim`` strips spaces only, so text that
    # starts or ends with \t, \n or \r splits into an empty boundary
    # token, and its boundary bigram would be ' foo' / 'foo '
    grams = F.concat(
        toks,
        F.transform(bi_pairs,
                    lambda p: F.trim(F.concat_ws(" ", p["w1"], p["w2"]))))
    # LEAN per-gram rolling hash (r13, guide §2.3 — strip no-op work
    # from the hot loop): ``TX.rolling_hash`` first normalizes its
    # input (trim + regexp_replace(\s+, ' ')).  Tokens hold no
    # whitespace (the empty one hashes to 0 on both paths) and a
    # trimmed bigram holds at most one inner ' ', so that pass is an
    # identity on every gram here: bit-identical to ``rolling_hash`` at
    # one trim per bigram instead of a trim and a regex per gram (the
    # DuckDB oracle trims its bigrams the same way).  Census
    # first-materialization measured 1.72–2.0 s → 1.33 s at sf0.1.
    #
    # (Two rejected variants, measured: a per-token (h, 31^len)
    # composition that computes each bigram hash in O(1) — the struct
    # accumulator's per-char allocation cost more than the saved
    # characters (2.6–3.3 s); and an element_at-composed form whose
    # array sub-expressions inline per reference and go quadratic
    # (45 s) — the same inlining trap documented in
    # operators/dedup._minhash_banded.)
    gram_hashes = F.transform(
        grams, lambda g: TX.rolling_hash_prenormalized(g))
    # The target flag is deliberately NOT projected alongside the
    # explode: CollapseProject would inline the quality expression
    # (stopword ArrayFilter + two regexes over the FULL text) into the
    # post-generate projection and re-evaluate it once per GRAM row —
    # measured as a 2-cpu multi-minute straggler at the sf1 lake.
    # Instead the per-doc flag is computed once on the 1-row-per-doc
    # side and joined back onto the already-combined (doc, bucket)
    # census, which is ~3x smaller than the gram stream.
    feat = documents.select(
        "doc_id", F.explode(gram_hashes).alias("gram_h")
    ).select(
        "doc_id",
        (F.col("gram_h") % F.lit(n_buckets)).alias("bucket"))
    # persist the combined census (narrow: ≤ n_buckets rows/doc of 3
    # numeric cols): it feeds BOTH the marginals and the final per-doc
    # reduce, and without the cache the gram explode+hash shuffle —
    # the operator's dominant cost — executes twice (no ReusedExchange
    # fires across the two consumers; verified in the executed plan,
    # r6).  Scoped: released at the caller's release_persisted().
    from ..operators.cache import scoped_persist
    doc_feat = scoped_persist(feat.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")))
    flags = documents.select(
        "doc_id",
        (TX.quality_score("text") >= F.lit(target_quality)).alias("is_tgt"))
    marg = (doc_feat.join(flags, "doc_id")
            .groupBy("bucket").agg(
                F.sum("cnt").alias("raw_cnt"),
                F.sum(F.when(F.col("is_tgt"), F.col("cnt")).otherwise(0))
                 .alias("tgt_cnt")))
    tot = marg.agg(F.sum("raw_cnt").alias("r_tot"),
                   F.sum("tgt_cnt").alias("t_tot"))
    lam = (marg.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.log((F.col("tgt_cnt") + 1).cast("double")
               / (F.col("t_tot") + n_buckets).cast("double"))
         - F.log((F.col("raw_cnt") + 1).cast("double")
                 / (F.col("r_tot") + n_buckets).cast("double")))
        .alias("lam")))
    scored = doc_feat.join(F.broadcast(lam), "bucket").select(
        "doc_id", "cnt",
        (F.col("cnt") * F.col("lam")).cast("decimal(28,12)").alias("w"))
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.round(F.sum("w").cast("double"), 6).alias("log_weight"))


def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank the
    corpus by unigram-LM NLL per token (``text_unigram_logprob``'s
    oracle-proven score) and split it into head / middle / tail
    thirds — the standard triage that keeps "head" for pretraining and
    drops or down-samples "tail".

    The global rank does NOT use a partitionless window: it rides the
    two-phase ``operators.ids.serial_id`` (quantile-bucketed ranges +
    per-bucket window + broadcast offsets), and the tertile label is
    closed-form arithmetic ``((rank-1)*3) div n`` on a broadcast doc
    count — so both the score and the split cost one extra
    metadata-sized pass over the already-computed scores."""
    from ..operators.ids import serial_id
    scores = text_unigram_logprob(spark, sf_dir)
    ranked = serial_id(scores, ["nll_per_token", "doc_id"], id_col="rnk")
    n = scores.agg(F.count(F.lit(1)).alias("n_docs"))
    tertile = F.floor((F.col("rnk") - 1) * 3 / F.col("n_docs"))
    label = (F.when(tertile == 0, "head")
             .when(tertile == 1, "middle")
             .otherwise("tail"))
    return (ranked.crossJoin(F.broadcast(n))
            .select("doc_id", "n_tokens", "nll_per_token",
                    label.alias("ppl_bucket")))


def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (the change-data-feed shape a lakehouse MERGE
    pipeline consumes): given two versions of a table, emit one row per
    insert / update / delete with old and new values — here the "new"
    snapshot is derived deterministically from the lake (drop keys
    ≡0 mod 97, bump price on keys ≡0 mod 13, insert fresh −key−1 keys
    for keys ≡0 mod 101 — strictly negative, outside the non-negative
    key domain at every SF)
    so the diff is oracle-replayable.

    Plan: ONE full-outer join on the primary key plus row-level
    comparison — the minimal diff plan; at 100 TB both snapshots
    shuffle once on the key (or zero times if both are bucketed by it,
    `sources/layout.py`), and unchanged rows are dropped before any
    downstream work."""
    (orders,) = _t(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice")
    modified = (orders.where(F.col("o_orderkey") % 97 != 0)
                .select("o_orderkey",
                        F.when(F.col("o_orderkey") % 13 == 0,
                               F.round(F.col("o_totalprice") + 10.0, 2))
                         .otherwise(F.col("o_totalprice"))
                         .alias("o_totalprice")))
    inserted = (orders.where(F.col("o_orderkey") % 101 == 0)
                .select((-F.col("o_orderkey") - 1).alias("o_orderkey"),
                        "o_totalprice"))
    new = modified.unionByName(inserted)
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"),
               "full_outer")
    change = (F.when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
              .when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
              .when(F.col("o.o_totalprice") != F.col("n.o_totalprice"),
                    F.lit("update")))
    return (j.select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey"))
         .alias("orderkey"),
        change.alias("change_type"),
        F.col("o.o_totalprice").alias("old_price"),
        F.col("n.o_totalprice").alias("new_price"))
        .where(F.col("change_type").isNotNull()))


def etl_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance — the warehouse-ETL companion
    to `table_snapshot_diff` (that op EMITS a change feed; this op
    CONSUMES one into a versioned dimension, the shape the reference's
    RDS→warehouse load would need the day a dimension starts changing;
    ref README.md:78-103 loads dimensions as truncate-and-replace,
    which loses history — SCD2 is the standard fix).

    The change batch is derived deterministically from the lake so the
    whole apply is oracle-replayable: customers ≡0 mod 7 arrive with a
    bumped balance (updates), ≡0 mod 5 (and not mod 7) arrive
    byte-identical (no-op rows — a MERGE must NOT version those), and
    fresh keys arrive as −key−1 for ≡0 mod 11 (strictly negative, so
    provably outside the non-negative key domain at every SF — ADVICE
    r9: a fixed +10⁸ shift collides with real custkeys past SF ≈ 667,
    and bare negation would collide at key 0).
    Effective date 1996-06-01 closes superseded versions.

    Plan: ONE full-outer join on the business key, then a
    conditionally-built array of 1–2 version structs exploded — no
    second join, no window. At 100 TB the dimension and the batch each
    shuffle once on the key (zero times when both are bucketed by it),
    and the no-op suppression drops unchanged keys before the explode."""
    (customer,) = _t(spark, sf_dir, "customer")
    eff = F.to_date(F.lit("1996-06-01"))
    t0 = F.to_date(F.lit("1995-01-01"))
    dim = customer.select(F.col("c_custkey").alias("dk"),
                          F.round(F.col("c_acctbal"), 2).alias("dbal"))
    base = customer.select(F.col("c_custkey").alias("bk"),
                           F.round(F.col("c_acctbal"), 2).alias("bbal"))
    updates = (base.where(F.col("bk") % 7 == 0)
               .select("bk", F.round(F.col("bbal") + 50.0, 2).alias("bbal")))
    noops = base.where((F.col("bk") % 5 == 0) & (F.col("bk") % 7 != 0))
    inserts = (base.where(F.col("bk") % 11 == 0)
               .select((-F.col("bk") - 1).alias("bk"), "bbal"))
    batch = updates.unionByName(noops).unionByName(inserts)

    j = dim.join(batch, dim.dk == batch.bk, "full_outer")

    def ver(key, bal, vfrom, vto, cur):
        return F.struct(key.alias("custkey"), bal.alias("acctbal"),
                        vfrom.alias("valid_from"), vto.alias("valid_to"),
                        cur.alias("is_current"))

    no_date = F.lit(None).cast("date")
    changed = (F.col("dk").isNotNull() & F.col("bk").isNotNull()
               & (F.col("dbal") != F.col("bbal")))
    rows = (
        F.when(changed, F.array(
            ver(F.col("dk"), F.col("dbal"), t0, eff, F.lit(False)),
            ver(F.col("dk"), F.col("bbal"), eff, no_date, F.lit(True))))
        .when(F.col("dk").isNotNull(), F.array(          # dim-only or no-op
            ver(F.col("dk"), F.col("dbal"), t0, no_date, F.lit(True))))
        .otherwise(F.array(                              # batch-only insert
            ver(F.col("bk"), F.col("bbal"), eff, no_date, F.lit(True)))))
    return (j.select(F.explode(rows).alias("v"))
            .select("v.custkey", "v.acctbal", "v.valid_from",
                    "v.valid_to", "v.is_current"))


def table_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two table snapshots via the
    Population Stability Index — the standard "did this feed shift
    under me?" check a production warehouse/corpus load runs per batch
    (completing the monitoring triad: `table_profile` describes ONE
    snapshot, `table_snapshot_diff` lists row-level changes, this
    scores the DISTRIBUTIONAL shift; the reference reloads its tables
    blind, README.md:104-118).

    The "new" snapshot is derived deterministically from the lake so
    the score is oracle-replayable: keys ≡0 mod 97 churn out, and keys
    ≡0 mod 3 get a 7 % price inflation — a real mean-shift the PSI
    must flag. Prices bin into 12 fixed-width 50 k buckets (top bucket
    open-ended) and both histograms are Laplace-smoothed, so no bin's
    log-ratio can blow up on an empty cell.

    PSI convention: per-bin term (actual−expected)·ln(actual/expected),
    summed by the consumer; total < 0.1 ≙ stable, > 0.25 ≙ major shift.
    ALL 12 bins are emitted (ADVICE r9: censuses joined onto a fixed
    12-row bin spine, not onto each other), so the emitted psi_term
    rows sum to the COMPLETE smoothed PSI — bins empty in both
    snapshots contribute their small nonzero term — and each pct
    column sums to exactly 1.

    Plan: two parquet scans → two 12-row hash-aggs broadcast onto the
    12-row spine — partial aggregation map-side, nothing but bin
    counts ever shuffles; at 100 TB this costs exactly the two scans."""
    (orders,) = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def binned(df):
        b = F.least(F.floor(F.col("o_totalprice") / 50_000.0),
                    F.lit(11)).cast("int")
        return df.select(b.alias("bin")).groupBy("bin") \
                 .agg(F.count(F.lit(1)).alias("n"))

    old = binned(orders)
    new = binned(orders.where(k % 97 != 0).select(
        k.alias("o_orderkey"),
        F.when(k % 3 == 0, F.col("o_totalprice") * 1.07)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice")))

    # fixed 12-row bin spine: bins absent from BOTH snapshots still
    # emit their (smoothed, tiny) term, so the output is the complete
    # PSI; Laplace add-one over the 12-bin support smooths empty cells
    spine = spark.range(12).select(F.col("id").cast("int").alias("bin"))
    j = (spine
         .join(F.broadcast(old.withColumnRenamed("n", "n_old")),
               "bin", "left")
         .join(F.broadcast(new.withColumnRenamed("n", "n_new")),
               "bin", "left")
         .select("bin",
                 F.coalesce("n_old", F.lit(0)).alias("n_old"),
                 F.coalesce("n_new", F.lit(0)).alias("n_new")))
    # single-partition window over ≤12 bin rows: a driver-sized no-op,
    # not the global-funnel anti-pattern (the corpus never windows)
    from pyspark.sql import Window
    w = Window.partitionBy()
    tot_old = F.sum("n_old").over(w)
    tot_new = F.sum("n_new").over(w)
    exp_pct = (F.col("n_old") + 1) / (tot_old + 12)
    act_pct = (F.col("n_new") + 1) / (tot_new + 12)
    return (j.select(
        "bin", "n_old", "n_new",
        F.round(exp_pct, 6).alias("expected_pct"),
        F.round(act_pct, 6).alias("actual_pct"),
        F.round((act_pct - exp_pct) * F.log(act_pct / exp_pct), 6)
         .alias("psi_term"))
    )


def etl_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation-rule quarantine routing — the row-level complement of
    `table_expectations` (that op REPORTS table-level pass/fail
    metrics; this op ROUTES the failing rows, tagged with every rule
    they broke, to the quarantine side a production loader replays
    after repair; the reference pipeline has no bad-record path at all
    — a silent-corruption hazard its README never addresses).

    The dirty feed is derived deterministically from the lake (orders
    ≡0 mod 53 get a negated price, ≡0 mod 59 an out-of-domain status,
    ≡0 mod 61 a NULL custkey, ≡0 mod 67 a far-future date) so the
    split is oracle-replayable and non-vacuous at every SF.

    `failed_rules` is a concat_ws over WHEN-guarded literals (both
    engines skip NULLs), listed in fixed alphabetical order so the tag
    string is deterministic. Plan: pure narrow map + filter — ZERO
    shuffles; at 100 TB the quarantine path costs one scan and the
    rule predicates sit in the same WholeStageCodegen as the scan."""
    (orders,) = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dirty = orders.select(
        k.alias("orderkey"),
        F.when(k % 53 == 0, -F.col("o_totalprice"))
         .otherwise(F.col("o_totalprice")).alias("price"),
        F.when(k % 59 == 0, F.lit("X"))
         .otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(k % 61 == 0, F.lit(None).cast("long"))
         .otherwise(F.col("o_custkey")).alias("custkey"),
        F.when(k % 67 == 0, F.to_timestamp(F.lit("2099-01-01 00:00:00")))
         .otherwise(F.col("o_orderdate")).alias("orderdate"))
    fails = [  # alphabetical: tag-string order is part of the contract
        ("custkey_present", F.col("custkey").isNull()),
        ("date_in_range",
         F.col("orderdate") >= F.to_timestamp(F.lit("2020-01-01 00:00:00"))),
        ("price_positive", F.col("price") <= 0),
        ("status_domain", ~F.col("status").isin("O", "F", "P")),
    ]
    tags = [F.when(cond, F.lit(name)) for name, cond in fails]
    n_failed = sum(cond.cast("int") for _, cond in fails)
    return (dirty
            .select("orderkey",
                    F.concat_ws(",", *tags).alias("failed_rules"),
                    n_failed.alias("n_failed"))
            .where(F.col("n_failed") >= 1))


def _bpe_tokens_expr():
    """Lowercased whitespace tokens with the ␞-sentinel guard — the
    shared tokenization of the BPE train/step/encode family (the guard
    keeps a literal merged-symbol glyph in raw text from colliding
    with symbols the fold creates)."""
    return F.filter(
        F.transform(TX.tokens("text"), lambda t: F.lower(t)),
        lambda t: ~t.contains("␞"))


def _bpe_merge_fold(toks_col, a: str, b: str):
    """Expression applying ONE learned merge (a, b) → "a␞b" to a token
    array with the standard greedy left-to-right scan — a zero-shuffle
    executor-local array fold, O(doc length)."""
    merged_sym = F.lit(f"{a}␞{b}")
    empty = F.array().cast("array<string>")
    return F.aggregate(
        toks_col, empty,
        lambda acc, t: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (t == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(merged_sym))
        ).otherwise(F.concat(acc, F.array(t))))


def _bpe_train_merges(spark: SparkSession, sf_dir: str,
                      n_merges: int) -> list[tuple[int, str, str, int]]:
    """The BPE training loop shared by ``text_bpe_train`` (which
    returns the merge table) and ``text_bpe_encode`` (which re-applies
    it): per round one map-side-combined pair census + a 1-row argmax,
    then a zero-shuffle corpus re-tokenization, persisted with the
    previous round's cache released."""
    from pyspark import StorageLevel

    (documents,) = _t(spark, sf_dir, "documents")
    cur = documents.select("doc_id", _bpe_tokens_expr().alias("toks")) \
                   .persist(StorageLevel.MEMORY_AND_DISK)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = F.arrays_zip(
            F.slice(F.col("toks"), 1,
                    F.greatest(F.size("toks") - 1, F.lit(0))).alias("w1"),
            F.slice(F.col("toks"), 2,
                    F.greatest(F.size("toks") - 1, F.lit(0))).alias("w2"))
        top = (cur.select(F.explode(pairs).alias("p"))
               .select(F.col("p.w1").alias("a"), F.col("p.w2").alias("b"))
               .where(F.col("a") != F.col("b"))
               .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt"))
               .orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect())
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, top[0].cnt
        merges.append((rank, a, b, int(cnt)))
        nxt = cur.select("doc_id",
                         _bpe_merge_fold(F.col("toks"), a, b).alias("toks")) \
                 .persist(StorageLevel.MEMORY_AND_DISK)
        nxt.count()          # materialize before releasing the parent
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return merges


def text_bpe_train(spark: SparkSession, sf_dir: str,
                   n_merges: int = 3) -> DataFrame:
    """Iterative BPE merge TRAINING (Sennrich et al. 2016) at token
    granularity: ``n_merges`` rounds of census → pick the most frequent
    adjacent pair (count desc, then lexicographic — a total order) →
    apply the merge corpus-wide, returning the learned merge table
    (rank, pair_a, pair_b, freq).  The multi-step sibling of
    ``text_bpe_merge_step``: later rounds can and do select pairs
    involving SYMBOLS CREATED by earlier merges, which no single-pass
    entry exercises.

    Scale shape (how you'd really train a tokenizer on 100 TB): per
    round, one map-side-combined (a,b) census shuffle + a driver-side
    1-row argmax (the merge table lives on the driver — it is K rows);
    the merge application is a zero-shuffle executor-local fold.  The
    re-tokenized corpus is persisted each round and the previous
    round's cache released, so round k costs one census over the
    current corpus, not k chained recomputes.  Oracle-checked as of
    r10: the K=3 loop unrolls into 3 census→argmax rounds in SQL, with
    each greedy merge re-spelled as a boundary-safe whole-token string
    replace applied twice (exactly equivalent for a ≠ b pairs — see
    the registry comment); ground truth additionally includes a
    pure-Python BPE trainer over the same lake in tests."""
    merges = _bpe_train_merges(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges, "rank int, pair_a string, pair_b string, freq long")


def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic BPE merge iteration over the token stream
    (Sennrich et al. 2016, at token granularity): census all adjacent
    token pairs, pick the most frequent (count desc, then lexicographic
    a, b — a total order), and apply the merge to every document with
    the standard greedy left-to-right scan.

    Self-pairs (a == b) are EXCLUDED from the census: greedy merging
    of a run of identical tokens consumes floor(run/2) pairs —
    run-length semantics the closed-form verifier below cannot
    express — while for a != b adjacent occurrences can never overlap,
    so ``n_merges == #{i : t[i]=a and t[i+1]=b}`` exactly.  That
    identity is the cross-check: the Spark side REALLY executes the
    stateful fold (an ``aggregate`` lambda that rebuilds each token
    array, merging pairs as it scans), returns ``size`` of the rebuilt
    array, and the DuckDB oracle recomputes ``n_after`` arithmetically
    — if the fold ever merged wrongly, the entry would hash-mismatch.

    Plan: the census is one map-side-combined (a,b) shuffle; the
    winning pair is a 1-row broadcast; the merge itself is a
    zero-shuffle per-row expression (executor-local, O(doc length))."""
    (documents,) = _t(spark, sf_dir, "documents")
    # Drop any raw token containing the ␞ sentinel BEFORE the census and
    # the fold (oracle filters identically): a literal "a␞b" token would
    # otherwise make the fold's last-element test match a merged symbol
    # and silently break the fold-vs-closed-form identity (ADVICE r5 #2).
    toks = F.filter(
        F.transform(TX.tokens("text"), lambda t: F.lower(t)),
        lambda t: ~t.contains("␞"))
    d = documents.select("doc_id", toks.alias("toks"))
    pairs = F.arrays_zip(
        F.slice(F.col("toks"), 1,
                F.greatest(F.size("toks") - 1, F.lit(0))).alias("w1"),
        F.slice(F.col("toks"), 2,
                F.greatest(F.size("toks") - 1, F.lit(0))).alias("w2"))
    census = (d.select(F.explode(pairs).alias("p"))
              .select(F.col("p.w1").alias("a"), F.col("p.w2").alias("b"))
              .where(F.col("a") != F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt"))
              .orderBy(F.col("cnt").desc(), "a", "b").limit(1))
    # merged symbol: "a␞b" (symbol-for-record-separator glyph) —
    # can never equal a raw whitespace-delimited token, so the fold's
    # "last element is a raw `a`" test stays sound after a merge
    merged_sym = F.concat(F.col("a"), F.lit("␞"), F.col("b"))
    empty = F.array().cast("array<string>")
    fold = F.aggregate(
        F.col("toks"), empty,
        lambda acc, t: F.when(
            # try_element_at: NULL (not an ANSI error) on the empty
            # accumulator, and NULL == a is falsy in the when-guard
            (F.try_element_at(acc, F.lit(-1)) == F.col("a"))
            & (t == F.col("b")),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged_sym))
        ).otherwise(F.concat(acc, F.array(t))))
    out = d.crossJoin(F.broadcast(census)).select(
        "doc_id", F.col("a").alias("pair_a"), F.col("b").alias("pair_b"),
        F.size("toks").cast("long").alias("n_before"),
        F.size(fold).cast("long").alias("n_after"))
    return out.select(
        "doc_id", "pair_a", "pair_b", "n_before",
        (F.col("n_before") - F.col("n_after")).alias("n_merges"), "n_after")


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scores C(A,B)=|A∩B|/|A| on the verified
    near-dup pair set — the measure that catches doc-inside-doc
    duplication (quote farms, boilerplate wrappers) which symmetric
    Jaccard under-reports: a short doc fully embedded in a long one
    has high containment but low Jaccard.

    Candidates are ``dedup_token_jaccard``'s deterministic PPJoin
    pairs (already oracle-proven), so this entry adds the containment
    arithmetic: re-attach each side's distinct token set and divide
    the intersection by EACH side's size.  Two keyed joins against a
    pair set that is tiny relative to the corpus (AQE broadcasts it);
    the set intersection is executor-local array math."""
    pairs = dedup_token_jaccard(spark, sf_dir)
    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "doc_id", F.array_distinct(TX.tokens("text")).alias("tokset"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (pairs
            .join(t.select(F.col("doc_id").alias("id_a"),
                           F.col("tokset").alias("sa")), "id_a")
            .join(t.select(F.col("doc_id").alias("id_b"),
                           F.col("tokset").alias("sb")), "id_b")
            .select("id_a", "id_b", "jaccard",
                    F.round(inter / F.size("sa"), 4).alias("containment_a"),
                    F.round(inter / F.size("sb"), 4).alias("containment_b")))


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup similarity graph — the
    summary a dedup audit reads first (a heavy-tailed distribution
    means hub documents / boilerplate; the PageRank and
    connected-components entries consume the same edge set).  Edges
    are ``dedup_token_jaccard``'s deterministic verified pairs, so the
    whole statistic is oracle-exact.

    Plan: symmetrize by unioning the two endpoint projections (no
    join), one combine on node id for degrees, one combine on degree
    for the histogram — two metadata-sized shuffles after the pair
    generation."""
    pairs = dedup_token_jaccard(spark, sf_dir)
    nodes = (pairs.select(F.col("id_a").alias("doc_id"))
             .unionAll(pairs.select(F.col("id_b").alias("doc_id"))))
    deg = nodes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select("degree", "n_docs"))


def text_vocab_table(spark: SparkSession, sf_dir: str,
                     min_freq: int = 5) -> DataFrame:
    """Frequency-ranked vocabulary table: corpus token census,
    frequency floor, then DENSE contiguous ``vocab_id`` by
    (freq desc, token) — the id-assignment step every tokenizer
    training run ends with (ids must be stable, gap-free, and
    reproducible across engines/runs).

    The id does NOT come from a partitionless row_number: it rides the
    two-phase ``operators.ids.serial_id`` over (-freq, token), so at a
    real vocabulary scale (millions of types) the ranking is still a
    bucketed window plus broadcast offsets."""
    from ..operators.ids import serial_id
    (documents,) = _t(spark, sf_dir, "documents")
    freq = (documents.select(F.explode(TX.tokens("text")).alias("t"))
            .select(F.lower(F.col("t")).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
            .where(F.col("freq") >= min_freq)
            .withColumn("neg_freq", -F.col("freq")))
    ranked = serial_id(freq, ["neg_freq", "token"], id_col="vocab_id")
    return ranked.select("vocab_id", "token", "freq")


def corpus_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token volume across sources — the
    concentration number a dataset card reports ("is the corpus five
    crawls in a trenchcoat?"): G = Σᵢⱼ|xᵢ−xⱼ| / (2·n·Σx) over
    per-source token counts.  The pairwise-difference identity is used
    ON PURPOSE: it needs no global sort or partitionless rank window —
    the per-source rollup is source-cardinality rows, its self
    cross-join is n² of a TINY relation (broadcast nested loop), and
    the whole thing reduces to one keyless aggregate."""
    (documents,) = _t(spark, sf_dir, "documents")
    per_src = documents.groupBy("source").agg(
        F.sum(TX.token_count("text")).alias("toks"))
    a, b = per_src.alias("a"), per_src.alias("b")
    pair_sum = (a.crossJoin(b)
                .agg(F.sum(F.abs(F.col("a.toks") - F.col("b.toks")))
                     .alias("dsum")))
    stats = per_src.agg(F.count(F.lit(1)).alias("n_sources"),
                        F.sum("toks").alias("total_tokens"))
    return (stats.crossJoin(F.broadcast(pair_sum))
            .select("n_sources", "total_tokens",
                    F.round(F.col("dsum").cast("double")
                            / (2.0 * F.col("n_sources")
                               * F.col("total_tokens")), 6).alias("gini")))


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event-type
    stream — the behavioral summary (and synthetic-session generator
    input) a product-analytics pipeline maintains: per (from, to) pair,
    the transition count and row-normalized probability.

    Plan: one per-user lag window (keyed shuffle), one coarse
    (from, to) aggregate — ≤ |types|² rows — and the row totals
    re-attach by broadcast."""
    from pyspark.sql import Window
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (events
             .select("user_id", "ts", "event_id",
                     F.col("event_type").alias("to_type"),
                     F.lag("event_type").over(w).alias("from_type"))
             .where(F.col("from_type").isNotNull()))
    trans = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (trans.join(F.broadcast(totals), "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n").cast("double") / F.col("row_n"), 6)
                     .alias("p")))


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the ranked vocabulary: OLS slope/intercept/R²
    of ln(freq) against ln(rank) — natural corpora sit near slope −1,
    and a corpus whose slope drifts far from it is template-heavy or
    vocabulary-collapsed (the data-card health check next to
    ``corpus_source_gini``).  Rank comes from the two-phase
    ``text_vocab_table`` (no partitionless window); the regression is
    Spark's one-pass mergeable-moment regr_* aggregates."""
    v = text_vocab_table(spark, sf_dir)
    x = F.log(F.col("vocab_id").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return v.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"))


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — one
    Markov order above ``text_unigram_logprob`` (the KenLM-direction
    upgrade of the CCNet perplexity filter):
    ``P(b|a) = (c(ab)+1) / (c(a)+|V|)``, per-document mean NLL over
    its bigrams.  Documents with fewer than 2 tokens have no bigrams
    and are excluded (mirrored in the oracle).

    Plan: the bigram census is one map-side-combined (a,b) shuffle and
    the unigram census one (a) shuffle; the scoring stream re-joins
    both (AQE broadcasts the vocabulary sides at our scale, degrades
    to hash joins keyed on the gram — never quadratic); |V| rides in
    as a broadcast scalar.  Per-bigram log-probs go through
    DECIMAL(28,12) before the per-doc sum (r5 bit-exactness rule)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.transform(TX.tokens("text"), lambda t: F.lower(t))
    d = documents.select("doc_id", toks.alias("tk")) \
                 .where(F.size("tk") >= 2)
    pairs = F.arrays_zip(
        F.slice(F.col("tk"), 1,
                F.greatest(F.size("tk") - 1, F.lit(0))).alias("a"),
        F.slice(F.col("tk"), 2,
                F.greatest(F.size("tk") - 1, F.lit(0))).alias("b"))
    bg = (d.select("doc_id", F.explode(pairs).alias("p"))
          .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")))
    c_ab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (documents.select(F.explode(toks).alias("a"))
           .groupBy("a").agg(F.count(F.lit(1)).alias("c_a")))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    lp = F.log((F.col("c_ab") + 1).cast("double")
               / (F.col("c_a") + F.col("v")).cast("double"))
    scored = (bg.join(c_ab, ["a", "b"]).join(uni, "a")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id", lp.cast("decimal(28,12)").alias("lp")))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-(F.sum("lp").cast("double")) / F.count(F.lit(1)), 4)
         .alias("nll_per_bigram"))


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ANN quality report: recall@k of every approximate
    index family (RP-LSH, IVF, PQ-ADC) against the exact brute-force
    top-k, as a 3-row table — the evaluation a retrieval stack runs
    before trading exactness for speed (rows-only: the approximate
    methods are hash/seed-dependent by design; the per-method recall
    floors are pinned in tests).

    Plan: the exact baseline computes ONCE; each method joins its
    (q_id, vec_id) hits against it (tiny keyed joins on the top-k
    result sets, not the corpus) and aggregates a per-query recall
    mean.  The loop is over the 3 METHOD NAMES — driver-side plan
    construction, not data movement."""
    exact = ann_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    methods = {"lsh": ann_lsh_topk, "ivf": ann_ivf_topk,
               "pq": ann_pq_topk}
    outs = []
    for name, fn in sorted(methods.items()):
        ap = fn(spark, sf_dir).select("q_id", "vec_id")
        hits = (exact.join(ap, ["q_id", "vec_id"])
                .groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")))
        per_q = (n_exact.join(hits, "q_id", "left")
                 .select("q_id", F.coalesce(F.col("n_hit"), F.lit(0))
                         .alias("n_hit"), "n_exact"))
        outs.append(per_q.agg(
            F.round(F.avg(F.col("n_hit") / F.col("n_exact")), 4)
             .alias("mean_recall"),
            F.count(F.lit(1)).cast("long").alias("n_queries"))
            .select(F.lit(name).alias("method"),
                    "mean_recall", "n_queries"))
    rep = outs[0]
    for o in outs[1:]:
        rep = rep.unionAll(o)
    return rep


def dedup_cap_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall cost of the band-bucket skew cap (VERDICT r6
    #8): run the native MinHash-LSH dedup UNCAPPED and with the
    production cap (``max_band_bucket=512``, exactly as
    ``dedup_minhash_lsh``) over the same lake, and report per variant
    the exact-verified pair count and pair recall vs the uncapped run
    — so the cap's recall cost is a number in the artifact, not a
    prose argument.  Capping only DROPS band keys, so the capped
    candidate set (hence its verified pairs) is a strict subset of the
    uncapped one and recall = n_capped / n_uncapped.  Rows-only
    (hash-dependent); the planted boilerplate lake in tests pins where
    the cap must bite (hot-template buckets) and must not (width-2
    near-dup buckets)."""
    (documents,) = _t(spark, sf_dir, "documents")
    uncapped = D.minhash_lsh_pairs_native(
        documents, "text", "doc_id", max_exact_jaccard_distance=0.5)
    capped = D.minhash_lsh_pairs_native(
        documents, "text", "doc_id", max_exact_jaccard_distance=0.5,
        max_band_bucket=512)
    nu = uncapped.agg(F.count(F.lit(1)).cast("long").alias("n_uncapped"))
    nc = capped.agg(F.count(F.lit(1)).cast("long").alias("n_capped"))
    return (nu.crossJoin(nc)
            .select(F.explode(F.array(
                F.struct(F.lit("uncapped").alias("variant"),
                         F.col("n_uncapped").alias("n_pairs"),
                         F.lit(1.0).alias("recall")),
                F.struct(F.lit("capped_512").alias("variant"),
                         F.col("n_capped").alias("n_pairs"),
                         F.round(F.col("n_capped").cast("double")
                                 / F.greatest(F.col("n_uncapped"),
                                              F.lit(1)).cast("double"),
                                 4).alias("recall")))).alias("r"))
            .select("r.*"))


def join_spatial_grid_radius(spark: SparkSession, sf_dir: str,
                             radius: float = 0.05) -> DataFrame:
    """Grid-blocked spatial radius self-join over the embeddings lake
    — thin wrapper over :func:`grid_radius_join_frame` (factored out,
    r7, so the hot-cell AQE skew gate executes the EXACT production
    join on a planted frame, the band_join_candidates pattern)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return grid_radius_join_frame(embeddings, radius=radius)


def grid_radius_join_frame(embeddings: DataFrame,
                           radius: float = 0.05) -> DataFrame:
    """Grid-blocked spatial radius self-join: all point pairs within
    ``radius`` in the (dim0, dim1) plane of the embedding space — the
    classic fixed-grid spatial join (cell size = radius, each left
    point probes its 3x3 cell neighborhood).  Distance <= r bounds the
    per-axis cell delta to {-1,0,1}, so the 9-offset fanout is
    COMPLETE: every qualifying pair is found exactly once (the
    offset is determined by the two cells), no dedup pass needed.

    Plan shape (the 100-TB story): a 9x fanout of one side then a pure
    equi-join on the (cell_x, cell_y) composite key — hash-partitioned
    both sides, never an n² cross product and never a theta-join; the
    exact distance test is a map-side filter on the matched cells.
    Density skew (a hot cell) is ordinary equi-join skew — AQE's
    skew-join split applies as-is (EXECUTED proof:
    tests/test_plan_quality.py hot-cell gate, r7)."""
    r = F.lit(float(radius))
    v = as_double(F.col("embedding"))
    pts = embeddings.select(
        "vec_id",
        F.element_at(v, 1).alias("x"),
        F.element_at(v, 2).alias("y"))
    pts = pts.select(
        "vec_id", "x", "y",
        F.floor(F.col("x") / r).alias("cx"),
        F.floor(F.col("y") / r).alias("cy"))
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    a9 = (pts.select(
            F.col("vec_id").alias("id_a"),
            F.col("x").alias("xa"), F.col("y").alias("ya"),
            "cx", "cy", F.explode(offsets).alias("o"))
          .select("id_a", "xa", "ya",
                  (F.col("cx") + F.col("o.dx")).alias("cxb"),
                  (F.col("cy") + F.col("o.dy")).alias("cyb")))
    b = pts.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("cx").alias("cxb"), F.col("cy").alias("cyb"))
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    dist = F.sqrt(dx * dx + dy * dy)
    return (a9.join(b, ["cxb", "cyb"])
            .where((F.col("id_a") < F.col("id_b")) & (dist <= r))
            .select("id_a", "id_b", F.round(dist, 6).alias("dist")))


def text_trigram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification (the Cavnar-Trenkle
    n-gram family in its generative add-one-smoothed form): train one
    trigram LM per language on the corpus' own ``lang`` labels, score
    every document under all five, predict the argmin-NLL language —
    the REAL multilingual classifier next to the stopword-density
    heuristic (``text_lang_id``) and its MLlib distillation.  Self-
    trained on the full corpus (a profile census, not a held-out
    eval); fully deterministic, so fully oracle-checked.

    Plan: one char-trigram census keyed on (lang, tri) builds the
    profiles; the scoring stream fans each doc-trigram across the
    5-row broadcast language dim and LEFT-joins the profile table
    (absent combos take the add-one default) — a hash join keyed on
    the trigram, linear in corpus chars x n_langs, never quadratic.
    Per-trigram log-probs go through DECIMAL(28,12) before the
    per-(doc, lang) sum (r5 rule), so the argmin ordering is
    bit-identical cross-engine; ties break on lang code."""
    from pyspark.sql import Window
    (documents,) = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    d = documents.select("doc_id", F.col("lang").alias("true_lang"),
                         norm.alias("nt")).where(F.length("nt") >= 3)
    tri = (d.select(
        "doc_id", "true_lang",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.length("nt") - 2),
            lambda i: F.col("nt").substr(i, F.lit(3)))).alias("tri")))
    prof = (tri.groupBy(F.col("true_lang").alias("lang"), "tri")
            .agg(F.count(F.lit(1)).alias("c")))
    totals = prof.groupBy("lang").agg(F.sum("c").alias("t"))
    vocab = prof.select("tri").distinct().agg(
        F.count(F.lit(1)).alias("v"))
    langs = totals.select("lang", "t")
    fan = (tri.select("doc_id", "true_lang", "tri")
           .crossJoin(F.broadcast(langs)))
    scored = (fan.join(prof, ["lang", "tri"], "left")
              .crossJoin(F.broadcast(vocab))
              .select(
                  "doc_id", "true_lang", "lang",
                  F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
                        .cast("double")
                        / (F.col("t") + F.col("v")).cast("double"))
                  .cast("decimal(28,12)").alias("lp")))
    per_lang = scored.groupBy("doc_id", "true_lang", "lang").agg(
        (-(F.sum("lp").cast("double")) / F.count(F.lit(1))).alias("nll"))
    w = Window.partitionBy("doc_id").orderBy("nll", "lang")
    return (per_lang.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", "true_lang",
                    F.col("lang").alias("pred_lang"),
                    F.round(F.col("nll"), 4).alias("nll_per_tri")))


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct 5-gram spans that occur NOWHERE else in the corpus — the
    complement of ``text_ngram_dup_spans``'s duplicate census, read
    per document: low novelty means the document is assembled from
    corpus-repeated spans (boilerplate / template / memorization
    risk), the triage signal Lee et al. 2021 motivates.

    Plan: one distinct (doc, gram) census, one gram-keyed
    doc-frequency aggregate, and a rejoin on the gram (map-side
    combine everywhere, AQE broadcasts the df table only if it is
    small — the join itself is hash-keyed, never quadratic)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 5),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 5)))
    dg = (documents.where(F.size(toks) >= 5)
          .select("doc_id", F.explode(grams).alias("gram"))
          .distinct())
    df_g = dg.groupBy("gram").agg(
        F.count(F.lit(1)).alias("doc_freq"))
    return (dg.join(df_g, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_distinct_grams"),
                 F.sum(F.when(F.col("doc_freq") == 1, 1).otherwise(0))
                  .alias("n_novel"),
                 F.round(
                     F.sum(F.when(F.col("doc_freq") == 1, 1).otherwise(0))
                     / F.count(F.lit(1)), 4).alias("novelty_ratio")))


def embedding_outlier_knn(spark: SparkSession, sf_dir: str,
                          k: int = 5) -> DataFrame:
    """k-NN-distance outlier scoring for embeddings: each vector's
    score is 1 − mean cosine similarity to its k nearest neighbors
    WITHIN its label block — vectors far from everything in their own
    cluster are mislabeled/corrupt-embedding candidates (the distance-
    based outlier family; the embedding-pipeline data-quality
    complement of ``events_anomaly_zscore``).

    Plan: the label block bounds the pair quadratic exactly like
    ``dedup_embedding_cosine``/SemDeDup — block size is a data
    constant, block count scales with the corpus — and the top-k mean
    is a per-vector window over the blocked pairs (rank <= k with
    (sim desc, neighbor id) tiebreak for determinism)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    from pyspark.sql import Window
    e = embeddings.select("vec_id", "label",
                          as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("id_a"), "label",
                 F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"),
                 F.col("label").alias("label_b"), F.col("v").alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va")))
        * F.sqrt(dot(F.col("vb"), F.col("vb"))))
    pairs = (a.join(b, (F.col("label") == F.col("label_b"))
                    & (F.col("id_a") != F.col("id_b")))
             .select("id_a", "label", "id_b", cos.alias("sim")))
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), "id_b")
    topk = pairs.withColumn("rn", F.row_number().over(w)) \
                .where(F.col("rn") <= k)
    mean_sim = (F.sum(F.col("sim").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)))
    return (topk.groupBy(F.col("id_a").alias("vec_id"), "label")
            .agg(F.round(F.lit(1.0) - mean_sim, 4)
                 .alias("knn_outlier_score")))


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components of the embedding table
    (operators/clustering.pca_power) — one (component, dim, loading)
    row per coordinate plus that component's eigenvalue and
    explained-variance ratio.  Cluster work is ONE pass (the d²-cell
    Gramian census, map-side combined — d² is metadata at d=64); the
    deflated power iteration runs driver-local on the 64×64
    covariance, the same regime split Spark ML's RowMatrix uses.

    Oracle-checked as of r11 (VERDICT r10 #5, the kmeans-train
    fixed-iteration unroll): THIS ENTRY pins ``tol=0.0`` so the
    iteration count is exactly ``max_iter`` = 1000 on every engine —
    the synthetic lake's spectrum is near-flat (λ2/λ1 ≈ 0.987), so
    racing a drift-based early stop to an ill-conditioned limit
    diverges across engines at ~1e-5, while the FIXED 1000-step
    iterate v_K = norm(C^K·v0) is a deterministic function both
    engines reproduce to ~1e-13.  The DuckDB oracle replays the whole
    procedure in SQL: Gramian census → covariance → the same
    recursive 1000-step deflated power iteration from the same start
    vectors → Rayleigh eigenvalues → sign flip.  The drift-based
    early stop stays the operator default for production use; ground
    truth additionally includes a NumPy eigendecomposition in tests
    (on a well-separated planted spectrum, where the limit IS
    well-conditioned)."""
    from ..operators.clustering import pca_power
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    comps, eigs, total_var, _ = pca_power(embeddings, n_components=2,
                                          max_iter=1000, tol=0.0)
    rows = [(c, d, _r6(comps[c][d]), _r6(eigs[c]),
             _r6(eigs[c] / total_var))
            for c in range(len(comps)) for d in range(len(comps[c]))]
    return spark.createDataFrame(
        rows, "component: int, dim: int, loading: double, "
              "eigenvalue: double, explained_var_ratio: double")


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: per (user, day) the ordered
    event-type path string, then the 20 most frequent paths with
    session and distinct-user counts — the product-analytics "top
    paths" report (the sequential complement of
    ``events_markov_transitions``'s first-order view).

    Determinism: the in-session order is (ts, event_id, event_type)
    — the synthetic lake's event_id is NOT unique (TESTDATA.md), so
    the event_type tiebreak pins a total order; ``array_sort`` over
    the struct gives exactly that ordering.

    Plan: three strictly-narrowing hash-agg shuffles — the (user_id,
    day) path build (collect_list partial-aggregates map-side; path
    length is bounded by events-per-user-day, a data constant), the
    count-distinct expansion on (path, user_id), and the final path
    census — then a TakeOrderedAndProject top-20; no window, no
    global sort, no join.  At 100 TB the path census keys are
    heavy-tailed but every shuffle row is pre-combined map-side —
    ordinary AQE territory."""
    (events,) = _t(spark, sf_dir, "events")
    steps = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type")))
    paths = (events
             .groupBy("user_id", F.to_date("ts").alias("day"))
             .agg(F.array_join(
                 F.transform(steps, lambda s: s["event_type"]),
                 ">").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.count_distinct("user_id").alias("n_users"))
            .orderBy(F.col("n_sessions").desc(), F.col("path"))
            .limit(20))


def _doc_row_hash():
    """Canonical 60-bit BIGINT fingerprint of a documents row — the
    first 15 hex chars of md5 over a unit-separator concat of every
    column (nulls → a sentinel distinct from the empty string), shared
    by ``table_checksum`` and ``corpus_export_manifest`` so shard
    checksums and table checksums compose."""
    canon = F.concat_ws(
        "\x1f",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("lang"), F.lit("\\N")),
        F.coalesce(F.col("source"), F.lit("\\N")),
        F.col("n_chars").cast("string"),
        F.md5("text"))
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine migration-validation fingerprint of the documents
    table: per source, the row count plus two order-insensitive
    checksums of a canonical row serialization — BIT_XOR (the
    overflow-free standard) and a DECIMAL(38,0) sum (catches the
    pairwise-swap corruptions XOR is blind to).  Any engine that can
    md5 a string reproduces these numbers exactly, which is the point:
    after a 100 TB copy, comparing one tiny (source, count, xor, sum)
    relation per side verifies the move.

    Row hash: the first 15 hex chars of md5 over a unit-separator
    canonical concat (nulls → a sentinel, so null and empty-string
    disagree), parsed as a BIGINT — 60 bits, collision-safe for a
    fingerprint (shared with ``corpus_export_manifest`` via
    ``_doc_row_hash``).  Plan: pure map-side expression + one hash-agg
    on ``source``; nothing but (source, partial aggregates) ever
    shuffles."""
    (documents,) = _t(spark, sf_dir, "documents")
    rh = _doc_row_hash()
    return (documents.select("source", rh.alias("rh"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.bit_xor("rh").alias("checksum_xor"),
                 F.sum(F.col("rh").cast("decimal(38,0)"))
                  .cast("string").alias("checksum_sum")))


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→validation contamination report: every validation document
    that has a near-duplicate (exact token-set Jaccard ≥ 0.4, the
    ``dedup_token_jaccard`` metric) on the TRAIN side of the
    ``corpus_train_val_split`` hash split — the split-leakage check an
    eval set needs before its numbers mean anything (same concern as
    ``text_contamination_check``, but against the corpus's own split
    rather than an external benchmark).

    Composition, not new machinery: the pair relation is
    ``operators/dedup.token_jaccard_pairs`` (blocked PPJoin prefix
    filtering, oversized-block degrade — every scale property carries
    over), and because the split is PURE ARITHMETIC on doc_id (the
    Knuth multiplicative hash, reproducible on any engine), membership
    is recomputed from the pair's own id columns — attaching splits
    costs ZERO extra joins, a projection over the pair stream.

    Output: one row per leaked validation doc — how many train-side
    near-dups hit it and the worst (max) jaccard; downstream this IS
    the eval-set drop list."""
    (documents,) = _t(spark, sf_dir, "documents")
    pairs = deterministic_jaccard_edges(documents)

    def _is_val(c):
        # 63-bit-safe fold (ADVICE r7 sweep) — must stay identical to
        # corpus_train_val_split's membership hash
        h = ((c % F.lit(2147483648)) * F.lit(2654435761).cast("long")) \
            % F.lit(4294967296).cast("long")
        return h >= F.lit(int(0.95 * 4294967296))

    va, vb = _is_val(F.col("id_a")), _is_val(F.col("id_b"))
    return (pairs
            .where(va != vb)                    # cross-split pairs only
            .select(F.when(va, F.col("id_a")).otherwise(F.col("id_b"))
                     .alias("val_doc_id"),
                    "jaccard")
            .groupBy("val_doc_id")
            .agg(F.count(F.lit(1)).alias("n_train_dups"),
                 F.round(F.max("jaccard"), 4).alias("max_jaccard")))


def table_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table over the quasi-identifier
    generalization ladder (Sweeney 2002): level 0 = (nation, segment,
    1000-unit balance band), level 1 = (nation, segment), level 2 =
    (nation).  Per level: the table's k (smallest equivalence-class
    size), class count, how many rows sit in classes below k=5, and
    that re-identification-risk fraction — the governance question
    "how far must we generalize before every row hides in a crowd of
    5?" answered as one relation.

    Plan: the ladder is a prefix chain, so ONE ``rollup`` shuffle
    computes all three class censuses (grouping_id() labels the
    level; the grand-total row is filtered out); the per-level report
    is a second metadata-scale aggregate over class counts.  At
    100 TB this is exactly the two-phase shape a privacy scan needs —
    no per-level re-scan, no window, partial aggregation map-side."""
    (customer,) = _t(spark, sf_dir, "customer")
    k_req = 5
    bal_band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    cls = (customer
           .select("c_nationkey", "c_mktsegment", bal_band.alias("bal_band"))
           .rollup("c_nationkey", "c_mktsegment", "bal_band")
           .agg(F.count(F.lit(1)).alias("n"),
                F.grouping_id().alias("gid"))
           .where(F.col("gid") != 7))           # drop the grand total
    level = (F.when(F.col("gid") == 0, 0)
              .when(F.col("gid") == 1, 1)
              .otherwise(2)).alias("level")
    n_rows = F.sum("n")
    below = F.sum(F.when(F.col("n") < k_req, F.col("n")).otherwise(0))
    return (cls.groupBy(level)
            .agg(F.count(F.lit(1)).alias("n_classes"),
                 F.min("n").alias("k_anonymity"),
                 below.alias("n_rows_below_k"),
                 F.round(below / n_rows, 4).alias("frac_below_k"),
                 F.round(n_rows / F.count(F.lit(1)), 4)
                  .alias("avg_class_size")))


def text_bpe_encode(spark: SparkSession, sf_dir: str,
                    n_merges: int = 3) -> DataFrame:
    """Tokenizer APPLICATION — the half of the BPE loop
    ``text_bpe_train`` leaves on the table: train ``n_merges`` merges,
    then encode the whole corpus with them and report the per-language
    compression ledger (docs, raw vs encoded token totals, surviving
    merged symbols, compression fraction) — the number that tells you
    what the tokenizer actually buys on your data.

    Scale shape: training is the shared K-round census loop
    (``_bpe_train_merges``); the ENCODER is its real payload — the K
    learned merges are driver metadata folded into ONE chained
    zero-shuffle expression (``_bpe_merge_fold`` applied in rank
    order), so encoding 100 TB is a single embarrassingly-parallel map
    stage plus the per-language metadata-scale hash-agg.  No Python in
    the hot path, no UDF — the fold lambdas run in Catalyst.

    ``n_merged_final`` counts merged symbols SURVIVING in the output
    (nested merges absorb earlier symbols, so it can undershoot
    ``toks_raw - toks_encoded``, the number of merge operations).
    Oracle-checked as of r11 (VERDICT r10 #5): the K=3 train unroll
    that promoted ``text_bpe_train`` extends with a third
    boundary-safe double-replace rewrite and the per-language ledger
    over raw vs encoded token lists; ground truth additionally
    includes a pure-Python train+encode reference in tests, checked
    per-document on a planted nested-merge lake and in aggregate on
    the real one."""
    merges = _bpe_train_merges(spark, sf_dir, n_merges)
    (documents,) = _t(spark, sf_dir, "documents")
    toks = _bpe_tokens_expr()
    enc = toks
    for _rank, a, b, _freq in merges:
        enc = _bpe_merge_fold(enc, a, b)
    d = documents.select(
        "lang",
        F.size(toks).alias("n_raw"),
        F.size(enc).alias("n_enc"),
        F.size(F.filter(enc, lambda t: t.contains("␞")))
         .alias("n_merged"))
    return (d.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_raw").alias("toks_raw"),
                 F.sum("n_enc").alias("toks_encoded"),
                 F.sum("n_merged").alias("n_merged_final"),
                 F.round(F.lit(1.0)
                         - F.sum("n_enc") / F.sum("n_raw"), 4)
                  .alias("compression")))


def lineitem_copurchase_lift(spark: SparkSession, sf_dir: str,
                             k: int = 20) -> DataFrame:
    """Market-basket co-purchase mining over orders: the ``k`` part
    pairs most often bought together, with support counts and LIFT
    (n_ab·N / (n_a·n_b)) — the classic association-rule head, done the
    way it scales.

    Plan: ONE orderkey hash-agg collects each order's distinct-part
    basket (basket width is bounded by order size — a data constant,
    ≤13 on this lake); the pair list is generated INSIDE the basket
    row by an index-windowed ``transform`` over the sorted basket
    (bounded ~w²/2 fanout per order, no self-join of the fact table);
    one map-side-combined pair census; per-part order counts are a
    second small census BROADCAST onto the top pairs; N is a scalar
    broadcast.  The naive alternative — lineitem ⋈ lineitem on
    orderkey — shuffles the fact table twice and explodes skewed
    orders quadratically IN THE JOIN; here the quadratic term is
    bounded inside a map expression and only (pair, 1) rows shuffle.

    Determinism: baskets are distinct+sorted, pairs ordered
    (part_a < part_b), top-k by (n_both desc, part_a, part_b) — a
    total order."""
    from ..operators.cache import scoped_persist

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # baskets feeds THREE censuses (pairs, per-part, total) — persist
    # so the fact table is scanned and orderkey-shuffled exactly once
    # (scoped: released at the caller's release_persisted() boundary)
    baskets = scoped_persist(
        lineitem.groupBy("l_orderkey")
                .agg(F.array_sort(F.collect_set("l_partkey"))
                      .alias("parts")))
    arr = F.col("parts")
    pairs = F.flatten(F.transform(
        arr,
        lambda x, i: F.transform(
            F.slice(arr, i + 2,
                    F.greatest(F.size(arr) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("part_a"), y.alias("part_b")))))
    pair_counts = (baskets
                   .select(F.explode(pairs).alias("p"))
                   .select("p.part_a", "p.part_b")
                   .groupBy("part_a", "part_b")
                   .agg(F.count(F.lit(1)).alias("n_both"))
                   .orderBy(F.col("n_both").desc(), "part_a", "part_b")
                   .limit(k))
    part_counts = (baskets.select(F.explode("parts").alias("part"))
                   .groupBy("part")
                   .agg(F.count(F.lit(1)).alias("n_orders")))
    totals = baskets.agg(F.count(F.lit(1)).alias("n_total"))
    pa = part_counts.select(F.col("part").alias("part_a"),
                            F.col("n_orders").alias("n_a"))
    pb = part_counts.select(F.col("part").alias("part_b"),
                            F.col("n_orders").alias("n_b"))
    return (pair_counts
            .join(F.broadcast(pa), "part_a")
            .join(F.broadcast(pb), "part_b")
            .crossJoin(F.broadcast(totals))
            .select("part_a", "part_b", "n_both", "n_a", "n_b",
                    F.round(F.col("n_both") * F.col("n_total")
                            / (F.col("n_a") * F.col("n_b")), 4)
                     .alias("lift")))


def corpus_export_manifest(spark: SparkSession, sf_dir: str,
                           budget: int = 2000) -> DataFrame:
    """Export manifest for the packed training shards: per output
    shard (the ``corpus_shard_pack`` token-budget assignment) its doc
    count, token total, covered doc_id range, and an order-insensitive
    content checksum (BIT_XOR of the ``_doc_row_hash`` fingerprint,
    the ``table_checksum`` convention) — the index file a training
    loader reads INSTEAD of listing 100 TB of objects, and the per-
    shard receipt that lets any later reader verify its shard arrived
    intact (shard checksums XOR together into the table-level one, so
    the manifest composes up to ``table_checksum``).

    Plan: the two-phase quantile-bucketed prefix sum assigns shards
    (no global window — ``operators/packing.pack_by_budget``), then
    ONE shard_id hash-agg with map-side partials; the manifest
    relation is #shards rows — metadata scale.  The physical write
    (``partitionBy(shard_id)``) is exercised in tests with a
    read-back manifest recomputation; the entry itself stays pure."""
    from ..operators.packing import pack_by_budget
    (documents,) = _t(spark, sf_dir, "documents")
    sized = documents.select(
        "doc_id", "lang", "source", "n_chars", "text",
        TX.token_count("text").alias("n_tokens"))
    packed = pack_by_budget(sized, "n_tokens", ["doc_id"], budget=budget)
    return (packed
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc_id"),
                 F.max("doc_id").alias("last_doc_id"),
                 F.bit_xor(_doc_row_hash()).alias("checksum_xor")))


def events_hot_keys(spark: SparkSession, sf_dir: str,
                    k: int = 20) -> DataFrame:
    """Pre-join shuffle-skew diagnostic: the ``k`` heaviest join-key
    values of the events fact (user_id), each with its row count,
    share of the table, and skew multiplier vs a uniform key
    distribution (share × #distinct keys) — the census you run BEFORE
    shuffling 100 TB on a key, to decide between plain AQE, salting,
    or a broadcast of the hot slice (the same diagnosis the minhash
    band cap and the spatial hot-cell gate automate downstream).

    Plan: one map-side-combined key census; the table totals are a
    keyless scalar aggregate over the census (metadata-scale exchange)
    broadcast back onto the TakeOrderedAndProject top-k — no window,
    no global sort, nothing but (key, partial count) ever shuffles."""
    (events,) = _t(spark, sf_dir, "events")
    from ..operators.cache import scoped_persist
    census = scoped_persist(
        events.groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_rows")))
    totals = census.agg(
        F.sum("n_rows").alias("total"),
        F.count(F.lit(1)).alias("n_keys"))
    return (census
            .orderBy(F.col("n_rows").desc(), "user_id")
            .limit(k)
            .crossJoin(F.broadcast(totals))
            .select("user_id", "n_rows",
                    F.round(F.col("n_rows") / F.col("total"), 6)
                     .alias("share"),
                    F.round(F.col("n_rows") * F.col("n_keys")
                            / F.col("total"), 4).alias("skew_x")))


def text_quality_classifier_score(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier step of
    the modern curation stack (CCNet / DCLM style), as pure plumbing:
    hash each document's distinct lowercased tokens to 60-bit feature
    ids, look every feature up in a LINEAR MODEL, average the weights
    into a score, threshold into the keep flag.  The model here is a
    deterministic arithmetic surrogate (weight(f) = Knuth-hash(f)
    mapped to [-1, 1)) so the whole path is cross-engine oracle-exact;
    a trained model drops in as a broadcast (feature_id → weight) map
    join with nothing downstream changing.

    Numeric determinism: weights are exact multiples of 2⁻³¹ (the
    feature id is folded below 2³¹ BEFORE the Knuth multiply, keeping
    the product inside BIGINT on every engine), so summing a few
    hundred of them in doubles is EXACT and feature order cannot
    matter — the score is bit-identical however either engine orders
    the distinct set.

    Plan: ZERO shuffles — tokenize, hash, weight, and fold all happen
    inside one map-stage expression chain per row; at 100 TB this is
    scan-bound, the shape a classifier sweep must have."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(
        F.transform(TX.tokens("text"), lambda t: F.lower(t)))

    def weight(t):
        fid = F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        u = ((fid % F.lit(2147483648).cast("long"))
             * F.lit(2654435761).cast("long")) \
            % F.lit(4294967296).cast("long")
        return u.cast("double") / F.lit(2147483648.0) - F.lit(1.0)

    score = (F.aggregate(F.transform(toks, weight),
                         F.lit(0.0), lambda acc, x: acc + x)
             / F.size(toks))
    return (documents
            .where(F.size(toks) > 0)
            .select("doc_id", "lang",
                    F.size(toks).alias("n_feats"),
                    F.round(score, 6).alias("quality_score"),
                    (score > 0).alias("keep")))


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missed-duplicate candidates via common-neighbor link prediction
    (operators/graph.link_prediction_scores) over the deterministic
    near-dup edge set: non-adjacent doc pairs sharing near-dup
    neighbors, scored by neighborhood Jaccard — the cluster-repair
    review queue after a dedup pass.  Fully oracle-exact."""
    from ..operators.graph import link_prediction_scores
    (documents,) = _t(spark, sf_dir, "documents")
    edges = deterministic_jaccard_edges(documents)
    return link_prediction_scores(edges.select("id_a", "id_b"))


def join_hot_slice_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remedy `events_hot_keys` diagnoses, executed
    (operators/skew.hot_slice_join): the 10 heaviest l_orderkey values
    join MAP-SIDE against a broadcast of just their orders rows while
    the cold remainder takes the ordinary shuffle join — so at 100 TB
    the rows that would have melted one reducer never shuffle at all.
    The oracle is the PLAIN inner join + rollup, so the rewrite's
    equivalence (hot ∪ cold ≡ join) is hash-checked every round; the
    post-join priority rollup keeps the compared relation at 5 rows.
    DECIMAL-summed revenue so partition addition order cannot perturb
    double bits."""
    from ..operators.skew import hot_slice_join
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    j = hot_slice_join(lineitem, orders, "l_orderkey", "o_orderkey",
                       n_hot=10)
    return (j.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.round(F.sum((F.col("l_extendedprice")
                                 * (1 - F.col("l_discount")))
                                .cast("decimal(28,10)")).cast("double"),
                          2).alias("revenue")))


def ann_dim_truncation_report(spark: SparkSession, sf_dir: str,
                              n_queries: int = 12,
                              trunc_dim: int = 16) -> DataFrame:
    """Matryoshka-style dimension-truncation ablation (Kusupati et al.
    2022, public): for each query vector, the exact top-1 neighbor
    under FULL-dimension cosine vs under the first ``trunc_dim``
    coordinates only — the measurement you run before shipping
    truncated embeddings to cut ANN index cost 4×.  One row per query:
    both neighbors, both similarities, and the agreement flag.

    Plan: queries broadcast over the corpus (same shape as
    `ann_cosine_topk`), but both argmaxes come from ONE
    map-side-combined aggregation — `max(struct(sim, -vec_id))` per
    query — so the corpus streams once and only n_queries partial
    structs per task ever shuffle.  No window, no sort, no second
    scan.  Ties break to the lowest vec_id on both engines (the
    negated id inside the struct ordering ≡ the oracle's
    `ORDER BY sim DESC, vec_id`)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    q = (embeddings.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("q_id"),
                 as_double(F.col("embedding")).alias("qv")))
    c = embeddings.select("vec_id", as_double(F.col("embedding")).alias("cv"))
    qv, cv = F.col("qv"), F.col("cv")
    tq, tc = F.slice(qv, 1, trunc_dim), F.slice(cv, 1, trunc_dim)
    sims = (c.crossJoin(F.broadcast(q))
             .where(F.col("q_id") != F.col("vec_id"))
             .select("q_id", "vec_id",
                     F.round(dot(qv, cv) / (norm(qv) * norm(cv)), 6)
                      .alias("sim_full"),
                     F.round(dot(tq, tc) / (norm(tq) * norm(tc)), 6)
                      .alias("sim_trunc")))
    best = sims.groupBy("q_id").agg(
        F.max(F.struct(F.col("sim_full").alias("s"),
                       (-F.col("vec_id")).alias("nv"))).alias("bf"),
        F.max(F.struct(F.col("sim_trunc").alias("s"),
                       (-F.col("vec_id")).alias("nv"))).alias("bt"))
    return best.select(
        "q_id",
        (-F.col("bf.nv")).alias("nn_full"),
        F.col("bf.s").alias("sim_full"),
        (-F.col("bt.nv")).alias("nn_trunc"),
        F.col("bt.s").alias("sim_trunc"),
        (F.col("bf.nv") == F.col("bt.nv")).alias("agree"))


def corpus_quality_calibration(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Reliability report for the model-based quality filter: bin the
    classifier surrogate score (`text_quality_classifier_score`
    arithmetic) into 8 fixed-width buckets over [-1, 1) and report,
    per bucket, how often the rule-based Gopher gate
    (`text_gopher_quality` pass_all) agrees — the calibration check
    you run before trusting a learned filter to delete 100 TB.  Both
    signals derive from the SAME document row, so the whole per-doc
    stage is one zero-join map projection; the only shuffle is the
    8-bucket rollup (map-side combined, metadata-scale).

    Numeric determinism: the score is exact (weights are multiples of
    2⁻³¹, one final division), so round-to-6 and the bucket floor are
    bit-identical cross-engine; per-bucket means are DECIMAL-summed."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks_all = TX.tokens("text")
    feats = F.array_distinct(F.transform(toks_all, lambda t: F.lower(t)))

    def weight(t):
        fid = F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        u = ((fid % F.lit(2147483648).cast("long"))
             * F.lit(2654435761).cast("long")) \
            % F.lit(4294967296).cast("long")
        return u.cast("double") / F.lit(2147483648.0) - F.lit(1.0)

    score_r = F.round(
        F.aggregate(F.transform(feats, weight),
                    F.lit(0.0), lambda acc, x: acc + x) / F.size(feats), 6)
    n_words = F.size(toks_all).cast("long")
    mean_len = F.round(
        F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
        .cast("double") / n_words, 4)
    gold = ((n_words >= 20) & (n_words <= 100_000)
            & (mean_len >= 3.0) & (mean_len <= 10.0)
            & (F.round(TX.punct_ratio("text"), 4) < 0.1)
            & (TX.stopword_count("text") >= 2))
    per_doc = (documents.where(F.size(feats) > 0)
               .select(F.floor((score_r + 1.0) * 4).alias("score_bin"),
                       score_r.alias("score_r"),
                       gold.cast("int").alias("gold_pass")))
    return (per_doc.groupBy("score_bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("gold_pass").alias("n_gold_pass"),
                 F.round(F.sum("gold_pass").cast("double")
                         / F.count(F.lit(1)), 4).alias("gold_pass_rate"),
                 F.round(F.sum(F.col("score_r").cast("decimal(28,10)"))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .alias("mean_score")))


# ------------------------------------------------------- r7c extensions —

def join_salted_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long-tail skew remedy (operators/skew.salted_replicate_join),
    executed: every lineitem row is salted into 8 deterministic
    sub-keys and orders is replicated 8× map-side, so the join key
    becomes (l_orderkey, salt) and NO single reducer ever receives a
    whole hot key — the classic full-salting rewrite for skew that has
    no usable hot-key cutoff (where ``hot_slice_join``'s census +
    broadcast trick does not apply).  The oracle is the PLAIN inner
    join + status rollup, so the rewrite's exactness is hash-checked
    every round.  DECIMAL-summed revenue so partition addition order
    cannot perturb double bits.  The fact is projected to the three
    surviving columns BEFORE salting: the operator's default salt
    hashes every fact column it is handed, and handing it the whole
    lineitem defeats parquet column pruning (the r12 sf10 plan read
    all 11 columns for this 3-column rollup)."""
    from ..operators.skew import salted_replicate_join
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    lineitem = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    orders = orders.select("o_orderkey", "o_orderstatus")
    j = salted_replicate_join(lineitem, orders, "l_orderkey", "o_orderkey",
                              salt_buckets=8)
    return (j.groupBy("o_orderstatus")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.round(F.sum((F.col("l_extendedprice")
                                 * (1 - F.col("l_discount")))
                                .cast("decimal(28,10)")).cast("double"),
                          2).alias("revenue")))


def ann_filtered_topk(spark: SparkSession, sf_dir: str,
                      k: int = 3) -> DataFrame:
    """Metadata-filtered exact ANN — the "filtered vector search" shape
    every production retrieval stack needs (predicate + top-k in one
    query): cosine top-k for a fixed query set restricted to corpus
    vectors with ``label < 5``.  The filter is a plain comparison so it
    reaches the parquet scan as a PushedFilter (plan-gated): at 100 TB
    the engine prunes non-matching row groups BEFORE any vector
    arithmetic, which is why filter-then-rank beats rank-then-filter
    (the latter can silently return < k survivors).  Same broadcast-
    queries / corpus-streams shape as ``ann_cosine_topk``; fully
    oracle-checked."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 8) \
                        .select(F.col("vec_id").alias("q_id"), "embedding")
    corpus = embeddings.where(F.col("label") < 5)
    return S.brute_force_topk(queries, corpus, k=k)


def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str,
                         n_arm: int = 50, k_rrf: int = 60,
                         k_out: int = 20) -> DataFrame:
    """Hybrid retrieval with Reciprocal-Rank Fusion (Cormack et al.
    2009): fuse the SPARSE arm (BM25 over fixed query terms — the
    ``text_bm25_topk`` statistics) with the DENSE arm (exact cosine
    against a fixed query vector, corpus vector ↔ document via
    vec_id = doc_id) by rrf = Σ 1/(k + rank), k = 60 — the standard
    score-free fusion that needs NO calibration between the two score
    distributions.

    Plan: each arm reduces to a ≤``n_arm``-row TakeOrderedAndProject
    (parallel partial top-k — the corpus itself is never globally
    sorted); ranks are then assigned by a row_number over those
    metadata-sized relations (the one Exchange SinglePartition moves
    ≤ n_arm rows by construction — whitelisted in the suite lint with
    this justification), fused by a full-outer join on doc_id so a
    doc found by only one arm still scores its single term.  Fully
    oracle-checked: both arm scores are rounded before ranking and
    ties break on doc_id, so ranks are cross-engine deterministic."""
    from pyspark.sql import Window
    k1, b = 1.2, 0.75
    terms = ["data", "spark", "window"]
    documents, embeddings = _t(spark, sf_dir, "documents", "embeddings")

    # --- sparse arm: BM25 (same statistics as text_bm25_topk) ---
    toks = (documents.select("doc_id",
                             F.explode(TX.tokens("text")).alias("tok"))
            .where(F.length("tok") > 0))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (toks.where(F.col("tok").isin(terms))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dft = tf.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    sparse = (tf.join(F.broadcast(dft), "tok")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .select(
                  "doc_id",
                  (F.log((F.col("n_docs") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5) + 1.0)
                   * (F.col("tf") * (k1 + 1))
                   / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                          / F.col("avgdl"))))
                  .alias("s"))
              .groupBy("doc_id")
              .agg(F.round(F.sum("s"), 6).alias("bm25"))
              .orderBy(F.col("bm25").desc(), F.col("doc_id"))
              .limit(n_arm))
    w_s = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    sparse_r = sparse.select("doc_id", "bm25",
                             F.row_number().over(w_s).alias("rank_sparse"))

    # --- dense arm: exact cosine vs the vec_id = 0 query vector ---
    qv = embeddings.where(F.col("vec_id") == 0) \
                   .select(as_double("embedding").alias("__qv"))
    dense = (embeddings.where(F.col("vec_id") != 0)
             .crossJoin(F.broadcast(qv))
             .select(F.col("vec_id").alias("doc_id"),
                     F.round(dot(as_double("embedding"), F.col("__qv"))
                             / (norm(as_double("embedding"))
                                * norm(F.col("__qv"))), 6)
                      .alias("cos_sim"))
             .orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
             .limit(n_arm))
    w_d = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    dense_r = dense.select("doc_id", "cos_sim",
                           F.row_number().over(w_d).alias("rank_dense"))

    # --- fusion ---
    fused = (sparse_r.join(dense_r, "doc_id", "full_outer")
             .select(
                 "doc_id", "bm25", "rank_sparse", "cos_sim", "rank_dense",
                 F.round(
                     F.when(F.col("rank_sparse").isNotNull(),
                            F.lit(1.0) / (k_rrf + F.col("rank_sparse")))
                      .otherwise(F.lit(0.0))
                     + F.when(F.col("rank_dense").isNotNull(),
                              F.lit(1.0) / (k_rrf + F.col("rank_dense")))
                        .otherwise(F.lit(0.0)), 6).alias("rrf")))
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(k_out)


def corpus_domain_reweight(spark: SparkSession, sf_dir: str,
                           eta: float = 4.0) -> DataFrame:
    """One exact domain-reweighting step for mixture optimization (the
    DoReMi direction, Xie et al. 2023, with a LINEAR multiplicative
    update instead of exponentiated-gradient so the whole step is
    cross-engine bit-exact): sources whose unigram-LM NLL per token
    EXCEEDS the corpus mean — i.e. the domains the reference model
    fits worst — get their mixture share multiplied by
    (1 + eta · excess) and the shares renormalized.  The report a
    pretraining pipeline recomputes between mixture epochs.

    Plan: ONE token-census shuffle (map-side combined) + the
    vocabulary-keyed re-join from ``text_unigram_logprob``, collapsed
    to a per-SOURCE rollup (≤ |sources| rows); every downstream step
    (corpus scalars, excess, renormalization) is arithmetic over that
    metadata-sized relation with DECIMAL sums, so addition order can
    never perturb bits.  At 100 TB the census is the only data-sized
    stage and it is the same census the perplexity entries already
    share."""
    (documents,) = _t(spark, sf_dir, "documents")
    tok = documents.select(
        "source", F.explode(TX.tokens("text")).alias("t")) \
        .select("source", F.lower("t").alias("tok"))
    f = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    s = f.agg(F.sum("cnt").alias("n_total"),
              F.count(F.lit(1)).alias("n_vocab"))
    lp = (tok.join(f, "tok")
          .crossJoin(F.broadcast(s))
          .select("source",
                  F.log((F.col("cnt") + 1).cast("double")
                        / (F.col("n_total").cast("double")
                           + F.col("n_vocab").cast("double")))
                  .cast("decimal(28,12)").alias("lp")))
    per_src = (lp.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.round(-F.sum("lp").cast("double")
                            / F.count(F.lit(1)), 6).alias("nll")))
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.round(F.sum(
            (F.col("nll") * F.col("n_tokens")).cast("decimal(28,10)"))
            .cast("double") / F.sum("n_tokens"), 6).alias("nll_corpus"))
    w = (per_src.crossJoin(F.broadcast(totals))
         .select(
             "source", "n_tokens", "nll", "nll_corpus",
             F.round(F.col("n_tokens").cast("double")
                     / F.col("tot_tokens"), 6).alias("base_share"),
             F.round(F.greatest(F.lit(0.0),
                                F.col("nll") - F.col("nll_corpus")), 6)
              .alias("excess")))
    w = w.withColumn(
        "raw",
        F.round(F.col("base_share") * (1.0 + eta * F.col("excess")), 6)
         .cast("decimal(18,6)"))
    z = w.agg(F.sum("raw").alias("z"))
    return (w.crossJoin(F.broadcast(z))
            .select("source", "n_tokens", "nll", "base_share", "excess",
                    F.round(F.col("raw").cast("double")
                            / F.col("z").cast("double"), 6)
                     .alias("new_share"))
            .orderBy("source"))


def corpus_negative_sample(spark: SparkSession, sf_dir: str,
                           n_anchors: int = 16, k: int = 4,
                           p_candidate: float = 0.25) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor document, ``k`` pseudo-uniform negatives drawn by a
    Knuth-hash rank over (anchor, candidate), excluding the anchor
    itself and any EXACT duplicate of it (same md5 body — a verbatim
    copy is a false negative that poisons the contrastive loss).

    Scale shape: the anchor batch (a training batch, bounded by
    construction) broadcasts; the corpus streams through ONE map stage
    where the pair hash is computed and the ``p_candidate`` prefilter
    bounds the surviving fanout to ≈ p·|corpus| rows per anchor BEFORE
    any shuffle; the per-anchor top-k is a window partitioned by
    anchor over that bounded candidate set.  No RNG state: re-runs,
    retried tasks, and the DuckDB oracle all agree bit-exactly."""
    (documents,) = _t(spark, sf_dir, "documents")
    anchors = (documents.where(F.col("doc_id") < n_anchors)
               .select(F.col("doc_id").alias("anchor_id"),
                       F.md5("text").alias("__a_h")))
    cands = documents.select(F.col("doc_id").alias("cand_id"),
                             F.md5("text").alias("__c_h"))
    # 60-bit-safe Knuth hash of the pair: fold below 2^31 before the
    # multiply so the product stays in BIGINT on every engine.
    u = (((F.col("anchor_id") * F.lit(1000003).cast("long")
           + F.col("cand_id")) % F.lit(2147483648).cast("long"))
         * F.lit(2654435761).cast("long")) % F.lit(4294967296).cast("long")
    threshold = int(p_candidate * 4294967296)
    pairs = (cands.crossJoin(F.broadcast(anchors))
             .where(F.col("cand_id") != F.col("anchor_id"))
             .where(F.col("__c_h") != F.col("__a_h"))
             .withColumn("__u", u)
             .where(F.col("__u") < threshold))
    from pyspark.sql import Window
    w = Window.partitionBy("anchor_id").orderBy("__u", "cand_id")
    return (pairs.withColumn("neg_rank", F.row_number().over(w))
            .where(F.col("neg_rank") <= k)
            .select("anchor_id", "neg_rank", "cand_id", "__u")
            .withColumnRenamed("__u", "pair_hash"))


# ------------------------------------------------------- r7d extensions —

def text_inverted_index(spark: SparkSession, sf_dir: str,
                        min_df: int = 5, cap: int = 3) -> DataFrame:
    """Capped inverted-index build — the retrieval-infra sibling of
    ``text_bm25_topk`` (which SCORES fixed terms; this MATERIALIZES the
    index): per lowercased token, document frequency, total term
    frequency, and the top-``cap`` postings by (tf DESC, doc_id) — the
    impact-ordered index truncation of WAND-family engines, where only
    the highest-impact postings per term are kept hot.

    Scale shape: ONE (token, doc) census shuffle with map-side combine,
    a token-keyed rollup for df/ttf, and the posting cap via a window
    over the token key that compiles to WindowGroupLimit (plan-gated)
    — each reducer keeps ``cap`` rows per token streaming, it never
    buffers a stopword's full posting list.  ``min_df`` drops hapax
    noise the way a real index drops terms below the scoring floor.
    Fully oracle-checked (rank ties broken by doc_id)."""
    from pyspark.sql import Window
    (documents,) = _t(spark, sf_dir, "documents")
    tf = (documents.select(
              "doc_id", F.explode(TX.tokens("text")).alias("t"))
          .where(F.length("t") > 0)
          .select("doc_id", F.lower("t").alias("tok"))
          .groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    stats = tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"))
    w = Window.partitionBy("tok").orderBy(F.col("tf").desc(), "doc_id")
    top = (tf.withColumn("post_rank", F.row_number().over(w))
           .where(F.col("post_rank") <= cap))
    return (top.join(stats.where(F.col("df") >= min_df), "tok")
            .select("tok", "df", "total_tf", "post_rank", "doc_id", "tf"))


def corpus_cross_source_overlap(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Cross-source mirror matrix — which sources mirror each other:
    for every unordered source pair, how many distinct document
    FINGERPRINTS (md5 of the lowercased 12-token prefix — the cheap
    near-verbatim mirror detector: syndicated/mirrored copies edit
    tails and boilerplate far more often than openings) appear in
    both, and how many physical docs each side contributes under
    those shared fingerprints.  The provenance diagnosis a data card
    needs before mixture weighting: two sources that share half their
    fingerprints are one source for deduplication purposes, and
    `corpus_domain_reweight` shares would double-count them.  (An
    exact-body variant is this same plan with ``md5(text)`` as the
    key; the prefix key additionally catches the
    mirrored-with-appended-footer copies exact hashing misses.)

    Scale shape: one hash-agg shuffle to the (fingerprint, source,
    n_docs) census — 16-byte digests shuffle, bodies never do — then
    a fingerprint-keyed self-join whose per-key fanout is bounded by
    the SOURCE CARDINALITY (≤ |sources|² pairs per fingerprint, and
    |sources| is metadata-sized), then a pair-keyed rollup.  No
    window, no global sort; fully oracle-checked."""
    (documents,) = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(
        " ", F.slice(TX.tokens(F.lower(F.col("text"))), 1, 12)))
    census = (documents.select(fp.alias("h"), "source")
              .groupBy("h", "source")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    a, b = census.alias("a"), census.alias("b")
    pairs = a.join(
        b, (F.col("a.h") == F.col("b.h"))
           & (F.col("a.source") < F.col("b.source")), "inner")
    return (pairs.groupBy(F.col("a.source").alias("source_a"),
                          F.col("b.source").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_fps"),
                 F.sum(F.col("a.n_docs")).alias("n_docs_a"),
                 F.sum(F.col("b.n_docs")).alias("n_docs_b")))


def tokenizer_fertility_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility report — the compression check
    run before committing a tokenizer to a 100 TB corpus: bytes,
    whitespace words, and BPE-ish subword tokens (the
    ``text_bpe_token_count`` pre-tokenization regex) rolled up per
    source, with fertility = subwords/word and bytes/subword.  A
    source whose fertility is an outlier (dense code, non-Latin text)
    inflates its effective token share relative to its byte share —
    exactly the discrepancy this report surfaces next to
    ``corpus_domain_reweight``'s token-based shares.

    Scale shape: all three counts are per-row expressions folded by
    ONE partial-aggregated shuffle on source (map-side combine; no
    explode — the regex counts matches without materializing them).
    DECIMAL-free: every sum is over BIGINTs, ratios rounded at the
    end, so cross-engine bits cannot drift."""
    (documents,) = _t(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    per_doc = documents.select(
        "source",
        F.octet_length("text").cast("long").alias("nb"),
        TX.token_count("text").alias("nw"),
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
         .cast("long").alias("ns"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nb").alias("total_bytes"),
                 F.sum("nw").alias("total_words"),
                 F.sum("ns").alias("total_subwords"))
            .select("source", "n_docs", "total_bytes", "total_words",
                    "total_subwords",
                    F.round(F.col("total_subwords").cast("double")
                            / F.col("total_words"), 6).alias("fertility"),
                    F.round(F.col("total_bytes").cast("double")
                            / F.col("total_subwords"), 6)
                     .alias("bytes_per_subword")))


def agg_theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap matrix via Datasketches THETA sketches
    (Spark 4 `theta_*`) — the set-operation sketch family above HLL:
    theta supports INTERSECTION and DIFFERENCE estimates, which
    HLL-union algebra cannot express.  Per event-type pair: distinct
    users of each side, of the union, of the intersection, and the
    Jaccard — the "how much do these segments overlap" question that
    an exact COUNT(DISTINCT) join makes a full shuffle of user ids,
    and a theta sketch answers from |types| × 4 KB of state.

    At this SF every per-type cardinality (150) sits below the sketch's
    k = 4096 exact-mode threshold, so the estimates are EXACT and the
    entry is fully oracle-checked against the set-algebra ground truth;
    at 100 TB the same plan returns (1 ± ε) estimates from the same
    constant-size state — the trade the operator exists to make.

    Plan: one partial-aggregated shuffle builds the 5-row sketch
    relation; the pairwise stage is a `<` self-join OVER THAT 5-ROW
    RELATION (metadata-sized nested loop by construction — |types|²
    pairs of 4 KB sketches, never data)."""
    (events,) = _t(spark, sf_dir, "events")
    sk = (events.groupBy("event_type")
          .agg(F.theta_sketch_agg("user_id").alias("sk"),
               F.count_distinct("user_id").alias("n")))
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(F.broadcast(b),
                   F.col("a.event_type") < F.col("b.event_type"), "inner")
    n_union = F.theta_sketch_estimate(
        F.theta_union(F.col("a.sk"), F.col("b.sk")))
    n_int = F.theta_sketch_estimate(
        F.theta_intersection(F.col("a.sk"), F.col("b.sk")))
    return pairs.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"),
        n_union.alias("n_union"), n_int.alias("n_intersect"),
        F.round(n_int.cast("double") / n_union, 6).alias("jaccard"))


def events_rate_limit_sample(spark: SparkSession, sf_dir: str,
                             k: int = 3) -> DataFrame:
    """Deterministic per-key rate limiting at ingest: keep the FIRST
    ``k`` events per (user, hour), drop the rest — the bot/flood
    damper a 100 TB event ingest applies before anything downstream
    sees the stream.  Deterministic (ts order, event_id tiebreak), so
    re-runs and replayed batches keep identical rows — the idempotence
    a rate limiter needs to compose with at-least-once delivery.

    Plan: ONE keyed window that compiles to WindowGroupLimit — each
    reducer keeps ≤ k rows per (user, hour) streaming, the flood rows
    are discarded at the shuffle reader, never buffered."""
    from pyspark.sql import Window
    (events,) = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy("user_id", hour).orderBy("ts", "event_id")
    return (events
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .where(F.col("rn") <= k)
            .select("event_id", "user_id", hour.alias("hour"), "rn"))


def corpus_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate diagnosis — the data-card view of what
    `text_line_dedup` REMOVES: for each source, how many of its
    10-token spans are corpus-wide duplicates (same span text in ≥ 2
    distinct documents) and the share.  A source dominated by
    duplicated spans is template boilerplate (navigation chrome,
    license footers) — the C4 removal step's per-provenance report,
    read BEFORE deciding whether a source is worth keeping at all.

    Plan: the same expression-only span chunking as `text_line_dedup`,
    ONE content-keyed census shuffle (two-phase count-distinct), the
    dup flag joins back on span text (content-keyed equi-join, the
    standard shuffle-on-content shape), and a |sources|-row rollup
    ends it.  Spans shuffle as hashes of ≤ ~60-char strings; document
    bodies never move twice."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    span_starts = F.sequence(
        F.lit(0),
        F.greatest(F.lit(0),
                   F.floor((F.size(toks) - 1) / F.lit(10)).cast("int") * 10),
        F.lit(10))
    spans_arr = F.transform(
        span_starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, 10)))
    spans = documents.select(
        "doc_id", "source", F.explode(spans_arr).alias("span_text"))
    dup = (spans.groupBy("span_text")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .where(F.col("nd") >= 2)
           .select("span_text", F.lit(1).alias("is_dup")))
    flagged = spans.join(dup, "span_text", "left")
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.coalesce(F.col("is_dup"), F.lit(0)).cast("long"))
                  .alias("n_dup_spans"))
            .select("source", "n_spans", "n_dup_spans",
                    F.round(F.col("n_dup_spans").cast("double")
                            / F.col("n_spans"), 6).alias("dup_share")))


def grouped_arrow_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped map (`applyInArrow`, Spark 4) — the §2.11
    UDF-family member below `applyInPandas`: each language group
    crosses into Python as a ``pyarrow.Table`` (zero pandas
    conversion, zero per-row objects) and a pure ``pyarrow.compute``
    kernel reduces it.  The oracle is the plain GROUP BY, proving the
    Arrow exchange is lossless for the engine's integer types.

    Scale contract (same as every grouped-map op): ONE GROUP is fully
    materialized in worker memory, so this path is for bounded-group
    custom kernels (here: 5 languages); unbounded keys belong on the
    expression path (`agg_*`), which every other entry uses.  The
    kernel computes column-level min/max/sum through SIMD-backed
    ``pyarrow.compute``, never iterating rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    (documents,) = _t(spark, sf_dir, "documents")

    def stats(table: "pa.Table") -> "pa.Table":
        nc = table.column("n_chars")
        return pa.table({
            "lang": pa.array([table.column("lang")[0].as_py()], pa.string()),
            "n_docs": pa.array([table.num_rows], pa.int64()),
            "min_chars": pa.array([pc.min(nc).as_py()], pa.int64()),
            "max_chars": pa.array([pc.max(nc).as_py()], pa.int64()),
            "sum_chars": pa.array([pc.sum(nc).as_py()], pa.int64()),
        })

    return (documents.select("lang", "n_chars")
            .groupBy("lang")
            .applyInArrow(stats,
                          schema=("lang string, n_docs long, "
                                  "min_chars long, max_chars long, "
                                  "sum_chars long")))


def text_mixed_language_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-document code-switching screen at SENTENCE granularity —
    the CCNet-style sub-document language pass: classify every
    sentence with the stopword-density heuristic (`text_lang_id`'s
    rule, applied below the doc level), then roll up per document:
    sentence counts per class, the minority share, and the mixed
    flag.  A doc whose label says 'en' but whose minority share is
    high is a concatenation artifact (boilerplate + foreign body) —
    the kind of doc a doc-level classifier admits and a sentence-level
    one catches.

    Plan: the sentence fanout is the `text_sentence_split` posexplode;
    classification is a map-side expression on each sentence; ONE
    doc-keyed rollup ends it.  Zero joins, zero Python."""
    (documents,) = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+\s*"), F.trim),
        lambda s: s != "")
    per_sent = (documents
                .select("doc_id", F.col("lang").alias("doc_lang"),
                        F.explode(sents).alias("sentence"))
                .withColumn("is_en",
                            (TX.stopword_ratio("sentence") >= 0.08)
                            .cast("long")))
    agg = (per_sent.groupBy("doc_id", "doc_lang")
           .agg(F.count(F.lit(1)).alias("n_sent"),
                F.sum("is_en").alias("n_en")))
    n_other = F.col("n_sent") - F.col("n_en")
    minority = F.least(F.col("n_en"), n_other)
    return agg.select(
        "doc_id", "doc_lang", "n_sent", "n_en",
        n_other.alias("n_other"),
        F.round(minority.cast("double") / F.col("n_sent"), 6)
         .alias("minority_share"),
        ((F.col("n_en") > 0) & (n_other > 0)).alias("is_mixed"))


def corpus_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ablation of the Gopher quality gates — the attribution
    report you read before tightening a filter on 100 TB: for each of
    the four rules, how many documents it fails, how many it UNIQUELY
    removes (they pass the other three — dropping the rule would
    re-admit exactly these), both as corpus shares.  A rule with high
    fail count but zero unique removals is redundant; one with high
    unique removals is load-bearing.

    Plan: the four booleans are `text_gopher_quality`'s zero-shuffle
    map expressions; ONE keyless aggregate folds the corpus to a
    single row of nine counters; the per-rule unpivot happens on that
    ONE-row relation (metadata-sized — the Generate never sees data).
    """
    (documents,) = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_words = F.size(toks).cast("long")
    mean_len = F.round(
        F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
        .cast("double") / n_words, 4)
    sym_ratio = F.round(TX.punct_ratio("text"), 4)
    stop_hits = TX.stopword_count("text")
    flags = documents.select(
        ((n_words >= 20) & (n_words <= 100_000)).alias("p_wc"),
        ((mean_len >= 3.0) & (mean_len <= 10.0)).alias("p_mwl"),
        (sym_ratio < 0.1).alias("p_sym"),
        (stop_hits >= 2).alias("p_stop"))
    rules = ["p_wc", "p_mwl", "p_sym", "p_stop"]
    fail_n = [F.sum((~F.col(r)).cast("long")).alias(f"fail_{r}")
              for r in rules]
    uniq_n = []
    for r in rules:
        others = [F.col(o) for o in rules if o != r]
        only = ~F.col(r)
        for o in others:
            only = only & o
        uniq_n.append(F.sum(only.cast("long")).alias(f"uniq_{r}"))
    one = flags.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum((~(F.col("p_wc") & F.col("p_mwl")
                             & F.col("p_sym") & F.col("p_stop")))
                          .cast("long")).alias("n_removed"),
                    *fail_n, *uniq_n)
    name = {"p_wc": "word_count", "p_mwl": "mean_word_len",
            "p_sym": "symbol_ratio", "p_stop": "stopwords"}
    stacked = one.select(
        "n_docs", "n_removed",
        F.explode(F.array(*[
            F.struct(F.lit(name[r]).alias("rule"),
                     F.col(f"fail_{r}").alias("n_fail"),
                     F.col(f"uniq_{r}").alias("n_unique_fail"))
            for r in rules])).alias("s"))
    return stacked.select(
        F.col("s.rule").alias("rule"),
        F.col("s.n_fail").alias("n_fail"),
        F.col("s.n_unique_fail").alias("n_unique_fail"),
        F.round(F.col("s.n_fail").cast("double") / F.col("n_docs"), 6)
         .alias("fail_share"),
        F.round(F.col("s.n_unique_fail").cast("double")
                / F.greatest(F.col("n_removed"), F.lit(1)), 6)
         .alias("unique_share_of_removed"))


def join_cardinality_estimate(spark: SparkSession, sf_dir: str,
                              k: int = 10) -> DataFrame:
    """Pre-join output-cardinality estimate for the lineitem partkey
    SELF-join (the exact join `lineitem_copurchase_lift` executes):
    per-key row counts from one census, estimated pair fanout n² per
    key, and each key's share of the total estimated output — the
    "will this join explode?" report you run over a 100 TB fact
    BEFORE committing the shuffle, sibling of `events_hot_keys`
    (which diagnoses reducer skew; this predicts OUTPUT volume).

    Plan: ONE map-side-combined census shuffle; the total Σn² rides
    back as a broadcast scalar; the top-k is TakeOrderedAndProject.
    The estimate is exact algebra over counts — no sampling — so the
    oracle proves it bit-for-bit."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    census = (lineitem.groupBy("l_partkey")
              .agg(F.count(F.lit(1)).alias("n_rows")))
    est = census.select(
        "l_partkey", "n_rows",
        (F.col("n_rows") * F.col("n_rows")).alias("est_pairs"))
    tot = est.agg(F.sum("est_pairs").alias("tot_pairs"))
    return (est.crossJoin(F.broadcast(tot))
            .select("l_partkey", "n_rows", "est_pairs",
                    F.round(F.col("est_pairs").cast("double")
                            / F.col("tot_pairs"), 9).alias("share"))
            .orderBy(F.col("est_pairs").desc(), "l_partkey")
            .limit(k))


def ann_truncated_rerank(spark: SparkSession, sf_dir: str,
                         trunc_dim: int = 32, shortlist: int = 100,
                         k: int = 5) -> DataFrame:
    """Two-stage ANN, the production retrieval shape: a CHEAP pass
    scores every corpus vector by cosine over the first ``trunc_dim``
    of 64 dims (Matryoshka-style prefix truncation — half the
    arithmetic and memory traffic per candidate; trained Matryoshka
    embeddings concentrate signal in the prefix, so production
    deployments truncate far deeper — the synthetic lake's isotropic
    vectors need 32 of 64 dims for 0.9 recall, measured in tests,
    not assumed), keeps a
    ``shortlist`` per query, and only the shortlist pays full-width
    exact cosine for the final top-``k``.  Unlike LSH/IVF the
    shortlist rule is deterministic, so the WHOLE two-stage pipeline
    is oracle-checked bit-exactly — recall loss vs single-stage exact
    search is measured in tests, not assumed.

    Plan: queries broadcast twice (both stages), the corpus streams
    once per stage but stage 2's scan is ``shortlist``-bounded rows
    per query via a semi-join on the stage-1 WindowGroupLimit; no
    corpus×corpus product anywhere."""
    from pyspark.sql import Window
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        as_double("embedding").alias("qv"))
    corpus = embeddings.select(
        "vec_id", as_double("embedding").alias("cv"))
    qt = queries.select(
        "q_id", F.slice("qv", 1, trunc_dim).alias("qt"))
    ct = corpus.select(
        "vec_id", F.slice("cv", 1, trunc_dim).alias("ct"))
    w1 = Window.partitionBy("q_id").orderBy(
        F.col("sim_t").desc(), "vec_id")
    short = (ct.crossJoin(F.broadcast(qt))
             .where(F.col("q_id") != F.col("vec_id"))
             .select("q_id", "vec_id",
                     F.round(dot(F.col("ct"), F.col("qt"))
                             / (norm(F.col("ct")) * norm(F.col("qt"))), 6)
                      .alias("sim_t"))
             .withColumn("r1", F.row_number().over(w1))
             .where(F.col("r1") <= shortlist)
             .select("q_id", "vec_id"))
    w2 = Window.partitionBy("q_id").orderBy(
        F.col("cos_full").desc(), "vec_id")
    return (short.join(corpus, "vec_id")
            .join(F.broadcast(queries), "q_id")
            .select("q_id", "vec_id",
                    F.round(dot(F.col("cv"), F.col("qv"))
                            / (norm(F.col("cv")) * norm(F.col("qv"))), 6)
                     .alias("cos_full"))
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("q_id", "rank", "vec_id", "cos_full"))


def corpus_temperature_resample(spark: SparkSession, sf_dir: str,
                                alpha: float = 0.3) -> DataFrame:
    """Temperature-scaled source resampling (the multilingual
    pretraining mixture rule, Conneau & Lample 2019 direction):
    resampled share qᵢ = pᵢ^α / Σ pⱼ^α over the per-source document
    shares pᵢ, α = 0.3 — flattens the source distribution so
    long-tail sources are seen more than their raw frequency, the
    complement of `corpus_domain_reweight`'s loss-driven step.  Also
    reports the boost factor qᵢ/pᵢ and the expected epoch document
    count under the new shares.

    Plan: one count-rollup shuffle to a ≤|sources|-row relation;
    every power/normalization is arithmetic over that metadata-sized
    relation with the Σ riding back as a broadcast scalar.  pᵢ and
    pᵢ^α are rounded to fixed precision BEFORE the normalization on
    both engines, so cross-engine float drift cannot enter."""
    (documents,) = _t(spark, sf_dir, "documents")
    per = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("n_total"))
    p = (per.crossJoin(F.broadcast(tot))
         .select("source", "n_docs", "n_total",
                 F.round(F.col("n_docs").cast("double")
                         / F.col("n_total"), 9).alias("p")))
    p = p.withColumn(
        "p_alpha",
        F.round(F.pow(F.col("p"), F.lit(alpha)), 9)
         .cast("decimal(18,9)"))
    z = p.agg(F.sum("p_alpha").alias("z"))
    return (p.crossJoin(F.broadcast(z))
            .select("source", "n_docs", "p",
                    F.round(F.col("p_alpha").cast("double")
                            / F.col("z").cast("double"), 9).alias("q"),
                    F.round(F.col("p_alpha").cast("double")
                            / F.col("z").cast("double")
                            / F.col("p"), 6).alias("boost"),
                    F.round(F.col("p_alpha").cast("double")
                            / F.col("z").cast("double")
                            * F.col("n_total"), 3).alias("expected_docs"))
            .orderBy("source"))


def corpus_curriculum_order(spark: SparkSession, sf_dir: str,
                            n_phases: int = 4) -> DataFrame:
    """Curriculum training order: documents binned into ``n_phases``
    fixed-width quality bands (the ``text_quality_score`` heuristic
    over [0, 1]) and given ONE dense global sequence number that walks
    the phases low-quality-last — i.e. easy/clean docs first within a
    deterministic in-phase shuffle (Knuth hash of doc_id), the
    data-ordering contract of curriculum pretraining, reproducible
    across runs and engines.

    Scale shape: the phase is a map-side expression (fixed-width bins
    of a BOUNDED score — no quantile estimation, no global sort to
    find phase boundaries), and the global sequence number is the
    two-phase distributed ``serial_id`` over the combined
    (phase << 33 | hash) key — range-bucketed prefix sums, plan-gated
    elsewhere to never collapse to a single partition.  Output is the
    training-order manifest: (seq, phase, doc_id)."""
    from ..operators.ids import serial_id
    (documents,) = _t(spark, sf_dir, "documents")
    # phase 0 = highest quality (trains first); score==1.0 clamps into
    # the top band rather than opening phase n_phases.
    q = TX.quality_score("text")
    phase = F.least(F.floor((F.lit(1.0) - q) * n_phases),
                    F.lit(n_phases - 1)).cast("long")
    # 63-bit-safe Knuth hash: fold doc_id below 2^31 before the multiply
    # (max product (2^31-1)*2654435761 ~ 5.7e18 < 2^63-1), as
    # corpus_negative_sample does for its pair hash.  Without the fold,
    # doc_id > ~3.47e9 overflows BIGINT — Spark wraps silently (non-ANSI)
    # while DuckDB raises, so the cross-engine-deterministic order claim
    # would break exactly at the 100 TB scale this entry targets.
    skey = (((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296))
    d = documents.select(
        "doc_id", phase.alias("phase"), skey.alias("skey"),
        (phase * F.lit(8589934592) + skey).alias("gkey"))
    return (serial_id(d, ["gkey", "doc_id"], id_col="seq")
            .select("seq", "phase", "doc_id"))

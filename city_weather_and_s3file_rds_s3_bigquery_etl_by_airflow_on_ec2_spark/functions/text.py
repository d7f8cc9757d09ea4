"""Text-analysis column expressions (SURVEY.md §2.13 — the
training-data-pipeline surface: tokenization, quality scoring,
language ID, fingerprinting).

Everything here is a pure Catalyst expression (split / regexp /
higher-order array functions) — deliberately *SQL-expressible* so each
operator can be oracle-checked against DuckDB, and JVM-side so the hot
path scales. The only Python-UDF text op in the engine is simhash
(operators/dedup.py), which needs per-token hashing outside Spark's
expression surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded English stopword list (public, standard function words).
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are",
)

WORD_SPLIT_RE = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    return F.split(F.trim(_c(text)), WORD_SPLIT_RE)


def token_count(text: Column | str) -> Column:
    """Token count as BIGINT (matches DuckDB ``len(...)``)."""
    return F.size(tokens(text)).cast("long")


def stopword_count(text: Column | str,
                   stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tokens(text), lambda t: F.array_contains(stop_arr, F.lower(t)))
    ).cast("long")


def stopword_ratio(text: Column | str) -> Column:
    return stopword_count(text) / token_count(text)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    t = _c(text)
    stripped = F.regexp_replace(t, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.length(t)


def mean_token_length(text: Column | str) -> Column:
    t = _c(text)
    return (F.length(F.regexp_replace(t, r"\s+", ""))
            / token_count(text))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1]-ish quality heuristic: rewards stopword
    presence and moderate token length, penalizes punctuation — the
    standard cheap pre-filter shape for LLM corpus cleaning. Formula is
    fixed and mirrored verbatim in the DuckDB oracle."""
    return F.round(
        F.lit(0.5) * F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
        + F.lit(0.3) * F.least(token_count(text) / F.lit(50.0), F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(text) * 10.0, F.lit(1.0))),
        4,
    )


def lang_pred(text: Column | str, threshold: float = 0.08) -> Column:
    """N-gram-free heuristic language ID: English stopword density.
    Docs whose stopword ratio ≥ threshold classify 'en', else 'other'.
    (A real system chains per-language stoplists; the operator shape —
    expression-only classify over tokens — is what scales.)"""
    return F.when(stopword_ratio(text) >= F.lit(threshold), F.lit("en")) \
            .otherwise(F.lit("other"))


def fingerprint_sha(text: Column | str, nchars: int = 16) -> Column:
    """Content fingerprint: first ``nchars`` hex chars of sha256 of the
    whitespace-normalized lowercase text. Normalization makes the
    fingerprint robust to spacing — the cheap canonical-form dedup key."""
    norm = F.lower(F.regexp_replace(F.trim(_c(text)), r"\s+", " "))
    return F.substring(F.sha2(norm, 256), 1, nchars)


def rolling_hash(text: Column | str, mod: int = 1_000_000_007,
                 base: int = 31) -> Column:
    """Polynomial rolling hash over character code points:
    h ← (h·base + codepoint) mod p, over the whitespace-normalized
    text — an order-sensitive document fingerprint computed entirely
    with higher-order array expressions (no UDF), reproducible in any
    engine with per-character code-point access."""
    norm = F.regexp_replace(F.trim(_c(text)), r"\s+", " ")
    codes = F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c) % F.lit(mod),
    )


def rolling_hash_prenormalized(text: Column | str,
                               mod: int = 1_000_000_007,
                               base: int = 31) -> Column:
    """``rolling_hash`` minus its normalization pass, for inputs that
    are already whitespace-normalized: no whitespace at either end and
    no run of it inside.  Tokens from :func:`tokens` qualify (the empty
    one hashes to 0 on both paths).  Two tokens joined with ' ' qualify
    only once trimmed: ``F.trim`` strips spaces only, so text starting
    or ending with \\t, \\n or \\r leaves an empty boundary token and
    the joined bigram reads ' foo' / 'foo '.  On qualifying inputs the
    values are bit-identical to :func:`rolling_hash` while skipping a
    regex per hashed string on the hot explode paths (r13, guide
    §2.3).  Callers own the normalization proof; arbitrary text must
    keep using :func:`rolling_hash`."""
    codes = F.transform(F.split(_c(text), ""),
                        lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c) % F.lit(mod),
    )


def redact_pii(text: Column | str) -> Column:
    """Regex-based PII scrubbing (corpus-cleaning staple): masks
    email-shaped tokens, long digit runs (phone/ids), and 16-digit
    card-shaped sequences. Pure regexp_replace chain — JVM-side, order
    matters (most specific first) and is part of the operator contract."""
    t = _c(text)
    t = F.regexp_replace(t, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                         "<EMAIL>")
    t = F.regexp_replace(t, r"\b\d{13,19}\b", "<CARD>")
    t = F.regexp_replace(t, r"\b\d{7,12}\b", "<NUM>")
    return t

"""Text-analysis operators for training-data pipelines (extension ops,
SURVEY §2.8 / BASELINE north-star): language ID, quality scoring, token
counting, fingerprinting.

All pure Column expressions — JVM-side, codegen-friendly, no UDFs; they
run at scan speed on 100 TB of documents. Each has a matching DuckDB
oracle in plans/llmops.py.

Two kernels serve the whole text family: :func:`tokens` is the only
whitespace tokenizer, and :func:`ngrams` the only word-n-gram builder.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import spread

# Small closed-class marker sets per language — the classic cheap
# language-ID heuristic (function words are the strongest n-gram
# signal). Deterministic and shared verbatim with the SQL oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "es", "y"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "it",
)

# BPE-ish token pattern: runs of word chars, or single non-space
# punctuation — approximates subword pre-tokenization.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization, empty-safe."""
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != "")


def token_count(c: Column | str, toks: Column | None = None) -> Column:
    return F.size(tokens(c) if toks is None else toks)


def bpe_ish_token_count(c: Column | str) -> Column:
    """Token count under the BPE-ish regex (regexp_count is a single
    codegen'd pass — no explode)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def stopword_ratio(c: Column | str, toks: Column | None = None) -> Column:
    """Fraction of tokens that are stopwords — int/int division, so the
    double result is bit-deterministic across engines."""
    if toks is None:
        toks = tokens(c)
    stops = F.filter(toks, lambda x: F.lower(x).isin(*STOPWORDS))
    return F.size(stops).cast("double") / F.size(toks).cast("double")


def alpha_ratio(c: Column | str) -> Column:
    """Fraction of characters that are ASCII letters or space."""
    col = F.col(c) if isinstance(c, str) else c
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z ]", ""))
    return alpha.cast("double") / F.length(col).cast("double")


def quality_score(c: Column | str, toks: Column | None = None) -> Column:
    """Composite quality heuristic in [0, ~3]: favors mid-length docs
    with normal stopword density and alphabetic content. Weights are
    integers over exact ratios, so cross-engine deterministic."""
    n = token_count(c, toks)
    length_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(0.0)
    return length_ok + stopword_ratio(c, toks) + alpha_ratio(c)


def predict_lang(c: Column | str, toks: Column | None = None) -> Column:
    """Argmax over marker counts with deterministic tie-break (language
    name order); 'und' when nothing matches."""
    if toks is None:
        toks = tokens(c)
    scored = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(*markers)))
        scored.append(F.struct(hits.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scored))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def fingerprint_hex(c: Column | str) -> Column:
    """Document fingerprint: md5 over the whitespace-normalized text.
    (md5 agrees byte-for-byte with the DuckDB oracle's md5.)"""
    col = F.col(c) if isinstance(c, str) else c
    return F.md5(F.trim(F.regexp_replace(col, r"\s+", " ")))


def fingerprint_int64(c: Column | str) -> Column:
    """First 60 bits of the md5 as a non-negative bigint — a compact
    join/partition key for dedup at scale."""
    return F.conv(F.substring(fingerprint_hex(c), 1, 15), 16, 10).cast("long")


ROLL_BASE = 1000003  # polynomial base (prime, > any 28-bit token hash gap)
ROLL_MOD = 2147483647  # 2^31 - 1: keeps acc*base + tok within BIGINT under ANSI


def rolling_fingerprint(c: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over whitespace tokens:
    fp = fold(tokens, 0, (acc, t) -> (acc * BASE + h28(t)) mod M) with
    h28 = first 7 md5 hex digits. Unlike ``fingerprint_hex`` (whole-doc
    md5), this is incremental — the same fold extends to streamed chunks
    or windowed shingles — and stays in exact BIGINT arithmetic, so it
    never overflows under ANSI mode and agrees bit-for-bit with the
    DuckDB ``list_reduce`` oracle."""
    tok_h = lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long")
    return F.aggregate(
        tokens(c),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(ROLL_BASE) + tok_h(x)) % F.lit(ROLL_MOD),
    )


def ngrams(toks: str, n: int) -> Column:
    """Word n-grams of the token array in column ``toks``, space-joined
    in order; ``[]`` when it holds fewer than ``n`` tokens. The only
    word-n-gram builder in the package.

    Takes the NAME of a token column the caller has already
    materialized: codegen does not common-subexpression-eliminate across
    a lambda boundary, so a tokenizing expression inside the window
    lambda would be re-evaluated per window, O(len²) per document.

    Each window is ``n`` ``element_at`` calls. One ``slice`` per window
    lost: ``ngram_diversity`` (n = 1, 2, 3) took 3.12 s of executor CPU
    against 2.64 s for ``element_at``, and its one win, at n = 32 in
    ``decontaminate_exact``, was inside the run-to-run spread (sf0.1,
    4 cores, warm medians of 8; NOTES.md "One n-gram kernel")."""
    w = F.col(toks)
    # sequence(1, 0) would count DOWN in Spark, so arrays shorter than n
    # get an empty index array. Guard the indexes, not the result: an
    # empty-array literal branch makes the elements nullable, Catalyst
    # then adds isnotnull(shingle) to one side of a shingle join only,
    # and the two sides stop sharing one shuffle.
    starts = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
    )


def dup_trigram_ratio(tri: Column) -> Column:
    """Gopher-style repetition signal: fraction of the word trigrams in
    ``tri`` (an ``ngrams(toks, 3)`` column) that repeat an earlier
    trigram of the same document. int/int division → bit-deterministic
    double."""
    n_tri = F.size(tri)
    n_uniq = F.size(F.array_distinct(tri))
    return F.when(
        n_tri > 0,
        (n_tri - n_uniq).cast("double") / n_tri.cast("double"),
    ).otherwise(F.lit(0.0))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full per-document stats frame: one narrow scan, all expressions.

    The token array is materialized once and shared by every
    token-derived feature (token count, stopword ratio, quality,
    language markers) — the inline spelling tokenized ~10× per row
    because CSE skips higher-order-function subtrees."""
    tk = F.col("__w")
    return (
        spread(df)
        .select(id_col, text_col, tokens(text_col).alias("__w"))
        .select(
            id_col,
            token_count(text_col, tk).alias("n_tokens"),
            bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
            F.length(text_col).alias("n_chars_measured"),
            stopword_ratio(text_col, tk).alias("stop_ratio"),
            alpha_ratio(text_col).alias("alpha_ratio"),
            quality_score(text_col, tk).alias("quality"),
            predict_lang(text_col, tk).alias("pred_lang"),
            fingerprint_hex(text_col).alias("fp_hex"),
            fingerprint_int64(text_col).alias("fp_int"),
        )
    )


# PII redaction patterns, applied in this order (most-specific first so
# the phone pattern can't swallow an SSN or IP before they're tagged).
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("IPV4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("PHONE", r"\+?\d[\d\s().-]{7,}\d"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Regex PII redaction (emails, SSNs, IPv4s, phone-ish digit runs)
    — the scrubbing pass a training pipeline runs before tokenization.
    Each pattern is counted on the progressively-redacted text (no
    double counting), then replaced with its [TAG]. Pure codegen'd
    regexp_count/regexp_replace chain — no UDF, scales linearly."""
    redacted = F.col(text_col)
    n_total = F.lit(0)
    for tag, pat in PII_PATTERNS:
        n_total = n_total + F.regexp_count(redacted, F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, f"[{tag}]")
    return df.withColumn(out_col, redacted).withColumn(
        "n_redactions", n_total.cast("int")
    )


# --- §2.7 UDTF surface --------------------------------------------------------
def sentence_split_udtf():
    """Python UDTF (table function) seam — the §2.7 surface for
    row→rows expansions whose logic genuinely needs Python (the
    reference has no UDTF surface at all; SURVEY §2.7). Demonstrated
    with sentence segmentation; the suite pins it against the built-in
    split+posexplode spelling on the shared simple grammar, which is
    also the engine's UDF policy in one line: built-ins when the
    semantics fit, the UDTF seam when they don't.

    Returns the udtf object; register with
    ``spark.udtf.register("sentence_split", sentence_split_udtf())`` or
    call directly over a lateral join.
    """
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF contract
            if text is None:
                return
            parts = [
                s.strip()
                for s in re.split(r"(?<=[.!?])\s+", text.strip())
                if s.strip()
            ]
            for i, s in enumerate(parts):
                yield i, s

    return SentenceSplit

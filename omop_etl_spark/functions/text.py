"""Text-analysis column functions for large-scale document pipelines.

All functions are pure ``pyspark.sql.functions`` compositions — JVM-side,
whole-stage-codegen friendly, no Python UDFs in the hot path. They take
and return :class:`~pyspark.sql.Column` so they compose into any
DataFrame plan (100 TB-safe: narrow, per-row transforms).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "bpe_token_count",
    "token_signature",
    "punct_ratio",
    "mean_token_length",
    "quality_score",
    "pii_scrub",
    "pii_counts",
    "STOPWORDS",
]

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small + deterministic; real deployments swap
#: in their own lists.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den"),
}


def tokens(text: Column | str, sep: str = r"\s+") -> Column:
    """Whitespace tokens with empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, sep), lambda x: x != F.lit(""))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


#: BPE-ish pre-tokenizer: letter runs, digit runs, and single
#: non-alphanumeric marks — the GPT-2-style pre-split that upper-bounds
#: the BPE merge count. RE2/Java-regex portable (no lookarounds), so
#: SQL oracles replicate it verbatim with ``regexp_extract_all``.
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish pre-split — the cheap,
    JVM-side proxy for "how many tokens would a BPE tokenizer emit"
    used to budget training corpora without shipping a vocab."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), 0))


def token_signature(text: Column | str) -> Column:
    """Order-insensitive content signature: the sorted set of distinct
    single-space tokens, re-joined. Two documents that are permutations
    of the same token set collide — the exact-dedup normalization key.

    Uses a literal single-space split (not ``\\s+``) so the signature is
    reproducible in ANSI SQL engines (DuckDB ``string_split``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_join(F.array_sort(F.array_distinct(F.split(c, " "))), " ")


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not [A-Za-z0-9 ]."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[A-Za-z0-9 ]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(
        F.lit(0.0)
    )


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Crude [0,1] document-quality heuristic: penalize very short docs,
    high punctuation density, and degenerate mean token length."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    len_ok = F.least(n / F.lit(20.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    mtl = mean_token_length(c)
    mtl_ok = F.when((mtl >= 3) & (mtl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return len_ok * punct_ok * mtl_ok


def lang_id(text: Column | str) -> Column:
    """Stopword-hit language ID with deterministic tie-breaking: the
    language with the most stopword hits wins; ties go to the
    lexicographically smallest language code (so the prediction is
    reproducible in any engine as a CASE chain)."""
    toks = tokens(text)
    hits = {}
    for code, ws in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in ws])
        hits[code] = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    codes = sorted(STOPWORDS)  # lexicographic precedence on ties
    expr = F.lit(codes[-1])
    for code in reversed(codes[:-1]):
        cond = None
        for other in codes:
            if other == code:
                continue
            c = hits[code] >= hits[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(code)).otherwise(expr)
    return expr


#: PII patterns, restricted to the RE2 ∩ Java-regex subset (no
#: lookarounds, no backrefs) so SQL oracles replicate the scrub
#: byte-for-byte. Swap in jurisdiction-specific patterns in production.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}"


def pii_scrub(text: Column | str) -> Column:
    """Redact emails then phone numbers with typed placeholders —
    the minimum-viable PII pass a training corpus runs before anything
    else. Pure JVM ``regexp_replace`` chain: codegen-friendly, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, PII_EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(out, PII_PHONE_PATTERN, "<PHONE>")


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(email_count, phone_count) per document — the audit metric
    emitted alongside the scrub."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.regexp_count(c, F.lit(PII_EMAIL_PATTERN)),
        F.regexp_count(c, F.lit(PII_PHONE_PATTERN)),
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the order-insensitive
    token signature — identical in any engine with md5."""
    return F.md5(token_signature(text))

"""Text-analysis scalar helpers for large-scale training-data pipelines.

North-star extensions beyond the reference's surface (BASELINE.json):
language-ID, quality scoring, token counting, fingerprinting, shingling.
Everything is built-in-expression based (codegen, no Python in the row
path) so it holds up on a 100 TB documents table. Tokenization is defined
once here so the Spark queries and any external SQL oracle can agree
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# shared, oracle-reproducible tokenizer: lowercase, split on non-alphanumeric
TOKEN_SPLIT_RE = "[^a-z0-9]+"

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "es": ["el", "la", "los", "de", "que", "y"],
    "fr": ["le", "les", "des", "et", "est", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col: Column | str, max_tokens: int | None = None) -> Column:
    """array<string> of lowercase alphanumeric tokens (empty strings
    removed). ``max_tokens`` truncates the array — the scale guard for
    pathological documents (one 1 GB doc otherwise concentrates its
    whole token stream in a single task through every per-doc window /
    shingle path); real curation pipelines cap doc length for the same
    reason. Default None = exact semantics (all oracle-checked queries
    use the default)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != F.lit(""))
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    return toks


def token_count(col: Column | str) -> Column:
    """Whitespace-ish token count (codegen: split+size, no UDF)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-like proxy: count word pieces + digits + punctuation marks.

    Pattern kept RE2-compatible so external SQL engines can reproduce it:
    runs of letters (≤4 chars per piece approximated by ceil(len/4)),
    digits, and single punctuation.
    """
    c = F.col(col) if isinstance(col, str) else col
    word_chars = F.length(F.regexp_replace(F.lower(c), "[^a-z]", ""))
    digits = F.length(F.regexp_replace(c, "[^0-9]", ""))
    punct = F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", ""))
    return (F.ceil(word_chars / F.lit(4)) + digits + punct).cast("long")


def _punct_raw(c: Column) -> Column:
    non_alnum = F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", ""))
    return non_alnum / F.greatest(F.length(c), F.lit(1))


def _alpha_raw(c: Column) -> Column:
    alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    return alpha / F.greatest(F.length(c), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    from data_warehouse_punta_fina_spark.functions.money import pround6

    return pround6(_punct_raw(F.col(col) if isinstance(col, str) else col))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    from data_warehouse_punta_fina_spark.functions.money import pround6

    sw = stopwords or STOPWORDS_EN
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return pround6(hits / F.greatest(F.size(toks), F.lit(1)))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: favors mid-length docs with low
    punctuation and high alphabetic density. Composed from RAW (unrounded)
    ratios, rounded once at the end — the formula any oracle mirrors."""
    from data_warehouse_punta_fina_spark.functions.money import pround6

    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(_punct_raw(c) * F.lit(5.0), F.lit(1.0))
    alpha = _alpha_raw(c)
    return pround6((len_score + punct_pen + alpha) / F.lit(3.0))


def _count_in(toks: Column, values: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*values)))


def lang_id(col: Column | str) -> Column:
    """Stopword-marker language heuristic: pick the language with the most
    marker-token hits; ties and zero-hit rows → 'und'."""
    toks = tokens(col)
    scores = {lang: _count_in(toks, markers) for lang, markers in LANG_MARKERS.items()}
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    # deterministic priority order on ties: en > es > fr > de (first match wins)
    for lang in reversed(langs):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over characters (mod 1e9+7) — a document
    fingerprint computable in-order inside one row, so it is exactly
    reproducible by any engine that folds left over the characters."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(mod),
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """array<string> of n-word shingles (space-joined), distinct."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0)))
    # element_at per position (O(n) total) instead of slice-per-shingle (O(n²))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(k + 1)) for k in range(n)])
    )
    # guard: docs shorter than n tokens get a single shingle of all tokens
    return F.array_distinct(
        F.when(F.size(toks) >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))
    )


# PII-ish patterns for pretraining-corpus scrubbing. Deliberately simple,
# anchored, and engine-portable (same regex dialect in Spark and DuckDB):
# emails, URLs, and long digit runs (phone/card/account numbers).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"[0-9][0-9 ().+-]{7,}[0-9]", "<NUMBER>"),
]


def redact_pii(col: Column | str) -> Column:
    """Scrub emails / URLs / long digit runs to typed placeholder tokens —
    the standard pretraining-data redaction pass, as a chain of codegen
    ``regexp_replace`` calls (no Python in the row path)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def _placeholder_count(c: Column, token: str) -> Column:
    # occurrences = (len(x) - len(remove(x))) / len(token)
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(token), F.lit(""))))
        / F.lit(len(token))
    ).cast("int")


def pii_hits(col: Column | str) -> Column:
    """How many PII placeholder substitutions :func:`redact_pii` made —
    length delta per pattern is avoided on purpose (overlaps); count the
    placeholders in the redacted text instead, MINUS any placeholder
    literals already present in the raw text (those are not
    substitutions). Each pattern's delta is clamped at 0: a raw
    placeholder literal ADJACENT to a PII match can be swallowed by the
    greedy URL pattern (e.g. 'https://a.b/<NUMBER>' redacts to '<URL>',
    destroying the raw '<NUMBER>' literal), which would otherwise drive
    the per-pattern count negative and undercount the total.

    Known residual limit: the count is a deterministic, order-independent
    METRIC, not an exact substitution count — when a destroyed raw
    placeholder coexists with a real PII hit of the SAME type (raw
    'https://a.b/<NUMBER> call 12345678901'), their per-pattern deltas
    cancel and that hit goes uncounted. Counting alone cannot separate
    the two; the oracle mirrors the same formula, so cross-engine parity
    always holds."""
    c = F.col(col) if isinstance(col, str) else col
    red = redact_pii(c)
    n = F.lit(0)
    for _, token in PII_PATTERNS:
        n = n + F.greatest(
            _placeholder_count(red, token) - _placeholder_count(c, token), F.lit(0)
        )
    return n

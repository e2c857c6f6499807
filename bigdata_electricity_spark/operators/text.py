"""Text-analysis operators over the documents table (north-star extension).

Training-data-pipeline text ops: tokenization stats, quality scoring,
language-ID heuristic, document fingerprinting. Everything is built-in
expression-level Spark (regexp/array functions) — no Python UDFs, so the
hot path stays inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN_RE = r"\S+"
WORD_OR_PUNCT_RE = r"\w+|[^\w\s]"  # BPE-ish pre-tokenizer split


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace runs, trim — canonical form for
    fingerprinting/dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def token_count(col: Column) -> Column:
    """Whitespace token count (regexp_count stays JVM-side)."""
    return F.regexp_count(col, F.lit(TOKEN_RE))


def bpe_ish_token_count(col: Column) -> Column:
    """Word-or-punctuation token count — approximates a BPE pre-tokenizer."""
    return F.regexp_count(col, F.lit(WORD_OR_PUNCT_RE))


def distinct_token_ratio(col: Column) -> Column:
    """|unique tokens| / |tokens| — repetition signal for quality filters.

    Tokens are \\S+ runs (same alphabet as :func:`token_count`), NOT a
    split on a literal space: split-based tokenization manufactures
    empty-string tokens from leading/multiple whitespace and disagrees
    with DuckDB's string_split on tabs/newlines (docs edge sweep).
    A token-less text (empty or all-whitespace) has no defined ratio →
    NULL, and composite scores built on it inherit the NULL."""
    tokens = F.regexp_extract_all(col, F.lit(r"\S+"), 0)
    return F.when(
        F.size(tokens) > 0, F.size(F.array_distinct(tokens)) / F.size(tokens)
    )


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n = F.length(col)
    return F.when(n == 0, 0.0).otherwise(
        F.regexp_count(col, F.lit(r"[^\w\s]")).cast("double") / n.cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]: length saturation at 50 tokens ×
    diversity.

    Mirrors the shape of published quality heuristics (length,
    repetition); deliberately simple and SQL-expressible so the oracle can
    verify it.
    """
    n_tokens = token_count(col).cast("double")
    length_component = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    return length_component * 0.5 + distinct_token_ratio(col) * 0.5


# Tiny per-language stopword signatures for the heuristic language ID.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "que"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "les", "des", "est"],
    "zh": ["的", "是", "了", "在"],
}


def _lang_score(col: Column, words: list[str]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pattern))


def predict_language(col: Column) -> Column:
    """Stopword-count language ID: argmax over per-language signature hits;
    'und' (undetermined) when nothing matches. Pure expression — a
    when-chain over greatest(), no UDF."""
    scores = {lang: _lang_score(col, words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, "und")
    # Deterministic tie-break: alphabetical language order.
    for lang in sorted(scores):
        expr = expr.when(scores[lang] == best, lang)
    return expr.otherwise("und")


POSITIVE_WORDS = ["good", "great", "excellent", "best", "love", "happy"]
NEGATIVE_WORDS = ["bad", "terrible", "worst", "hate", "awful", "poor"]


def sentiment_label(col: Column) -> Column:
    """Keyword-count sentiment: positive/negative/neutral by which
    signature list hits more (ties → neutral). The wordlist approach of
    the classic large-scale Spark sentiment pipelines — expression-only,
    so it runs inside codegen like the lang-ID heuristic."""
    pos = _lang_score(col, POSITIVE_WORDS)
    neg = _lang_score(col, NEGATIVE_WORDS)
    return (
        F.when(pos > neg, "positive").when(neg > pos, "negative").otherwise("neutral")
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. Content-addressed
    identity for exact dedup; stable across engines (md5 of UTF-8 bytes)."""
    return F.md5(F.encode(normalize_text(col), "UTF-8"))


# PII redaction — ordered so structured classes win before the generic
# digit-run class eats their digits (email's local part may itself hold
# digits; card before phone before number). Patterns are intersection-of
# Java-regex and RE2 syntax: no backrefs or lookaround, so the SAME
# string runs on Spark (java.util.regex) and on RE2-based engines.
# Placeholders are digit-free on purpose — a digit in a placeholder
# (e.g. "<IPV4>") would be re-redacted by the later number pass.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", "<IPADDR>", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("card", "<CARD>", r"\b\d{13,16}\b"),
    ("phone", "<PHONE>", r"\+?\d[\d().\s-]{7,14}\d"),
    ("number", "<NUMBER>", r"\d+"),
]


def redact_pii(col: Column, classes: tuple[str, ...] | None = None) -> Column:
    """Replace PII-shaped spans with ``<CLASS>`` placeholder tokens.

    The pre-training scrub pass: emails, IPv4s, card-length digit runs,
    phone-shaped sequences, then bare numbers — applied in that order as
    chained ``regexp_replace`` (each a codegen'd JVM expression; the
    chain is one projection, no extra pass over the data). Classes not
    listed in ``classes`` are skipped, preserving relative order.

    Redaction REPLACES rather than drops so token offsets stay roughly
    aligned for downstream chunking, and the placeholder vocabulary is
    closed (auditable with a regexp_count over the output).
    """
    out = col
    for name, placeholder, pat in PII_PATTERNS:
        if classes is not None and name not in classes:
            continue
        out = F.regexp_replace(out, pat, placeholder)
    return out

"""Text analysis column functions for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting.

Everything here is a **pure Spark Column expression** (built-in
``pyspark.sql.functions`` + higher-order array lambdas) — JVM-side, inside
whole-stage codegen, no Python in the hot path. Each function has an exact
ANSI-SQL twin used as the DuckDB oracle (see __spark_entry__.oracle_sql);
where semantics could diverge between engines (regex dialects, float
rounding) the expressions are deliberately restricted to the common subset.
The one Python function, ``py_tokens``, is the twin of ``tokens`` that the
Arrow kernels tokenize with, so the tokenizer of all three engines lives
here.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Tiny on purpose: broadcast as literals into codegen.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "para"],
}
PUNCT_CLASS = "[.,;:!?]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization with empty-token filtering (BPE-ish regex
    splits are layered on top where needed)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


# Java's regex \s is the ASCII class [ \t\n\x0B\f\r]; Python re's \s would
# also match Unicode whitespace (a silent divergence on e.g. NBSP)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str) -> list[str]:
    """The Python twin of ``tokens(lower(col))`` for the Arrow kernels:
    lowercase, split on Java's whitespace class, drop empty tokens."""
    return [t for t in _JAVA_WS.split(text.lower()) if t]


def token_count(col: Column) -> Column:
    """Token count == number of maximal non-whitespace runs: counting
    ``\\S+`` matches is exactly ``size(filter(split(col, '\\s+'), != ''))``
    (same Java \\s class on both sides) but runs as one codegen'd regexp
    pass instead of an interpreted split+filter HOF chain (r7; equality
    pinned in tests/test_dedup_kernels.py)."""
    return F.regexp_count(col, F.lit(r"\S+")).cast("long")


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(PUNCT_CLASS)).cast("long")


# BPE-ish pre-tokenization: letter runs, digit runs, single non-space symbols
# (the GPT-2-style pre-tokenizer shape, restricted to the regex subset both
# Java and RE2 evaluate identically)
SUBWORD_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def subword_count(col: Column) -> Column:
    """BPE-ish token count (pre-tokenizer piece count, upper bound on merged
    BPE tokens)."""
    return F.regexp_count(col, F.lit(SUBWORD_PATTERN)).cast("long")


def stopword_hits(col: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def stopword_hits_from_lower_tokens(lower_toks: Column, lang: str) -> Column:
    """:func:`stopword_hits` over a PRE-COMPUTED lowercased token array —
    identical expression tail, minus the per-language re-tokenization.
    Callers evaluating several languages over one text (lang_guess) name
    the token array once in a prior select (r7, the dedup.py plan-shape
    note: Catalyst only CSEs multiply-referenced projection OUTPUTS)."""
    words = STOPWORDS[lang]
    return F.size(F.filter(lower_toks, lambda t: t.isin(*words))).cast("long")


def lang_guess_from_hits(hits: dict[str, Column]) -> Column:
    """The :func:`lang_guess` argmax/tie-break tail over pre-computed
    per-language hit columns — bit-identical decision logic."""
    best = F.greatest(*hits.values())
    out = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        out = F.when(hits[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def lang_guess(col: Column) -> Column:
    """Argmax of per-language stopword hits; deterministic tie-break by the
    fixed language order en > fr > de > es, 'und' when no hits at all."""
    return lang_guess_from_hits(
        {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    )


# PII scrubbing: conservative patterns in the Java/RE2 common regex subset.
# Replacement order matters — URLs first (they can embed @ and digits), then
# emails, then long digit runs (phone-ish).
PII_URL = r"https?://[^\s]+"
PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+"
PII_PHONE = r"\+?[0-9][0-9\-]{6,}[0-9]"

SQL_SCRUB_PII = (
    "regexp_replace(regexp_replace(regexp_replace({c}, "
    "'https?://[^\\s]+', '<URL>', 'g'), "
    "'[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'), "
    "'\\+?[0-9][0-9\\-]{{6,}}[0-9]', '<PHONE>', 'g')"
)


def scrub_pii(col: Column) -> Column:
    """Mask URLs, emails, and long digit runs (phone-ish) with placeholder
    tokens — the standard pre-training privacy pass, as pure codegen'd
    regexp_replace chain. Conservative by design: patterns restricted to
    the Java/RE2 common subset so the DuckDB twin (SQL_SCRUB_PII) is exact."""
    out = F.regexp_replace(col, PII_URL, "<URL>")
    out = F.regexp_replace(out, PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def canonical_url(col: Column) -> Column:
    """Canonical URL form for URL-level dedup (the first dedup key a web
    corpus applies, before any content hashing): lowercase, scheme dropped,
    leading ``www.`` dropped, query string / fragment dropped, trailing
    slashes dropped. Pure codegen'd regexp_replace chain; exact DuckDB twin
    in SQL_CANONICAL_URL."""
    out = F.regexp_replace(F.lower(F.trim(col)), r"^https?://", "")
    out = F.regexp_replace(out, r"^www\.", "")
    out = F.regexp_replace(out, r"[?#].*$", "")
    return F.regexp_replace(out, r"/+$", "")


SQL_CANONICAL_URL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower(trim({c})), '^https?://', ''), '^www\\.', ''), "
    "'[?#].*$', ''), '/+$', '')"
)


def quality_score_from(n_tok: Column, n_punct: Column, col: Column) -> Column:
    """:func:`quality_score`'s arithmetic tail over pre-computed token and
    punctuation counts — the identical IEEE expression sequence, letting
    callers that already materialized a token array (plans/curation.py)
    skip the re-tokenization."""
    n_chars = F.length(col).cast("double")
    len_sat = F.least(F.lit(1.0), n_tok.cast("double") / F.lit(40.0))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * F.lit(5.0))
    mean_tok = n_chars / F.greatest(n_tok.cast("double"), F.lit(1.0))
    tok_ok = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_sat * punct_ok * tok_ok, 4)


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation x punctuation
    sanity x mean-token-length sanity. Rounded to 4 decimals so the oracle
    comparison is float-stable across engines."""
    return quality_score_from(token_count(col), punct_count(col), col)


def word_ngrams(tok_col: Column, n: int) -> Column:
    """Sliding word n-grams over a token array, joined with single spaces.
    Pure higher-order-function expression (sequence -> transform -> slice ->
    array_join): JVM-side, zero shuffle, linear in token count. Empty array
    when the document has fewer than ``n`` tokens."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tok_col) - (n - 1)),
        lambda i: F.array_join(F.slice(tok_col, i, n), " "),
    )
    return F.when(F.size(tok_col) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def sql_word_ngrams(toks: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` over a token-list expression."""
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE []::VARCHAR[] END"
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the casefolded, whitespace-collapsed
    text. Engine-portable (md5 is identical everywhere), used as the exact-
    dedup key at 100 TB scale (hash-groupBy, no payload shuffle)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


# --- exact SQL twins (DuckDB dialect) ---------------------------------------

SQL_TOKENS = "list_filter(string_split_regex({c}, '\\s+'), t -> t <> '')"
SQL_TOKEN_COUNT = f"len({SQL_TOKENS})"
SQL_PUNCT_COUNT = "len(regexp_extract_all({c}, '[.,;:!?]'))"
SQL_SUBWORD_COUNT = "len(regexp_extract_all({c}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
SQL_FINGERPRINT = "md5(regexp_replace(lower(trim({c})), '\\s+', ' ', 'g'))"


def sql_stopword_hits(c: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = SQL_TOKENS.format(c=c)
    return f"len(list_filter(list_transform({toks}, t -> lower(t)), t -> t IN ({words})))"


def sql_lang_guess(c: str) -> str:
    hit = {lang: sql_stopword_hits(c, lang) for lang in STOPWORDS}
    greatest = "greatest(" + ", ".join(hit.values()) + ")"
    case = "'und'"
    for lang in reversed(list(STOPWORDS)):
        case = f"CASE WHEN {hit[lang]} = {greatest} THEN '{lang}' ELSE {case} END"
    return f"CASE WHEN {greatest} > 0 THEN {case} ELSE 'und' END"


def sql_quality_score(c: str) -> str:
    n_tok = SQL_TOKEN_COUNT.format(c=c)
    n_chars = f"length({c})::DOUBLE"
    len_sat = f"least(1.0, ({n_tok})::DOUBLE / 40.0)"
    punct_ratio = f"({SQL_PUNCT_COUNT.format(c=c)})::DOUBLE / greatest({n_chars}, 1.0)"
    punct_ok = f"1.0 - least(1.0, ({punct_ratio}) * 5.0)"
    mean_tok = f"{n_chars} / greatest(({n_tok})::DOUBLE, 1.0)"
    tok_ok = f"CASE WHEN {mean_tok} >= 3.0 AND {mean_tok} <= 12.0 THEN 1.0 ELSE 0.5 END"
    return f"round(({len_sat}) * ({punct_ok}) * ({tok_ok}), 4)"

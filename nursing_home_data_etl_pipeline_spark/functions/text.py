"""Text-analysis functions — all column expressions over built-in
``pyspark.sql.functions``: JVM-side, whole-stage-codegen'd, zero Python in
the hot path (a per-row UDF here would be 10-100x slower at 100 TB). The
reference has no row-level text functions (SURVEY.md §2.6) — pure
capability-gap surface. Case-folding contract: ``lower()`` is Java's FULL
Unicode folding; the code points where that diverges from DuckDB's
utf8proc (İ, ß/ẞ, ſ, Dž-class digraphs, U+FB00-FB06 ligatures, ΐ/ΰ, ŉ,
and Final_Sigma context) are excluded from oracle-gated fixtures BY
POLICY — the engine ships Java's behavior, which is what Spark users get.
Full policy + probe notes: docs/DESIGN.md#text-case-folding."""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .vectors import round_half_away

#: BPE-ish token pattern: word pieces or single non-space punctuation.
TOKEN_PATTERN = r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"

#: Tiny embedded stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "für", "nicht"),
}


def words(text: Column) -> Column:
    """Whitespace tokenization -> array<string>; NULL text -> NULL. BOTH
    ends trimmed of ALL whitespace (regexp, not space-only ``F.trim``);
    text blank after the trim — tab/newline-only included — yields the
    EMPTY array, never ''-tokens, so ``size(words(x))`` is a real word
    count. DuckDB twin: :func:`duck_words_sql`, keep in lockstep."""
    trimmed = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def duck_trim_sql(expr: str) -> str:
    """DuckDB twin of Spark's ``F.trim``: strip ASCII SPACE (0x20) ONLY.
    Bare ``trim()`` strips all of Unicode Zs (NBSP, U+3000, ...) and
    fingerprinted an NBSP-padded doc differently (round-8 probe). Every
    F.trim oracle twin must use this helper, never bare ``trim()``."""
    return f"regexp_replace({expr}, '^ +| +$', '', 'g')"


def duck_norm_sql(col: str = "text") -> str:
    """DuckDB SQL twin of :func:`normalize_text`: lower, collapse every
    Java-``\\s`` run to one space, then SPACE-ONLY trim (``duck_trim_sql``
    — bare ``trim()`` would over-strip NBSP/U+3000, which Spark's ``F.trim``
    keeps). One generator so every fingerprint/shingle oracle shares it."""
    return duck_trim_sql(
        f"regexp_replace(lower({col}), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"
    )


def duck_words_sql(col: str = "text") -> str:
    """DuckDB SQL twin of :func:`words` for the oracle queries: full
    whitespace trim on both ends, blank -> empty array (regexp_split of a
    blank string would yield ``['']`` — one phantom word)."""
    t = f"regexp_replace({col}, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')"
    return (
        f"(CASE WHEN {t} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array({t}, '[ \\t\\n\\x0B\\f\\r]+') END)"
    )


def token_count(text: Column) -> Column:
    """BPE-ish token count: word pieces + punctuation marks."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def avg_word_len(text: Column, w: Column | None = None) -> Column:
    """Mean word length, rounded to 6. Pass a pre-materialized word array
    ``w`` for multi-stat queries: ``words(text)`` inside HOF lambdas
    inlines the tokenizer per element (measured 2x slower at sf0.1); a
    bound attribute evaluates once per row. Same contract on every stat
    below."""
    w = words(text) if w is None else w
    # Σ length(word) == length(array_join(w, '')) — words carry no NULLs;
    # codegen'd join, not an interpreted HOF fold (r15, 0.40 -> 0.21 s).
    total = F.length(F.array_join(w, "")).cast("double")
    # round_half_away, not F.round: count-derived ratios hit 7-decimal
    # repr midpoints where F.round and DuckDB ROUND disagree (round 8)
    return round_half_away(total / F.greatest(F.size(w), F.lit(1)), 6)


def distinct_word_ratio(text: Column, w: Column | None = None) -> Column:
    """Lexical diversity: |set(words)| / |words| — low values flag boilerplate
    and repetition-heavy documents."""
    w = words(text) if w is None else w
    return round_half_away(
        F.size(F.array_distinct(w)) / F.greatest(F.size(w), F.lit(1)).cast("double"),
        6,
    )


def _stopword_hits(w: Column, lang: str) -> Column:
    """Occurrences of ``lang``'s stopwords in the word array ``w`` — a
    codegen'd regex count over the space-rejoined words instead of an
    interpreted per-element HOF filter (round 15). Words are \\s+-split so
    none contains a space: the join is unambiguous, and the zero-width
    lookarounds make whole-token matches that mirror array_contains
    equality (consecutive hits overlap only at the shared space). NULL w
    -> NULL join -> size() = -1, exactly the HOF's size(NULL)."""
    # re.escape keeps the alternation literal if a future stopword carries
    # a regex metacharacter; a whitespace-bearing entry would break the
    # token-boundary assumption itself, so refuse it loudly (ADVICE r15).
    assert all(not any(ch.isspace() for ch in s) for s in STOPWORDS[lang]), (
        f"STOPWORDS[{lang!r}] contains whitespace — the space-rejoin "
        "token-boundary rewrite assumes single-token entries"
    )
    alt = "|".join(re.escape(s) for s in STOPWORDS[lang])
    joined = F.concat(F.lit(" "), F.array_join(w, " "), F.lit(" "))
    return F.size(F.regexp_extract_all(
        joined, F.lit(f"(?<= )(?:{alt})(?= )"), 0))


def stopword_ratio(text: Column, lang: str = "en", w: Column | None = None) -> Column:
    """Fraction of words that are stopwords of ``lang``. ``w``, if given,
    must be lower-cased words."""
    w = words(F.lower(text)) if w is None else w
    return round_half_away(
        _stopword_hits(w, lang) / F.greatest(F.size(w), F.lit(1)).cast("double"), 6
    )


def quality_score(text: Column, w: Column | None = None) -> Column:
    """Composite heuristic quality score in [0, 1]: length sweet spot,
    lexical diversity, low punctuation noise. Deterministic, engine-portable
    arithmetic (rounded at the end).
    """
    w = words(text) if w is None else w
    n_words = F.size(w).cast("double")
    length_score = F.least(n_words / F.lit(50.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(w)) / F.greatest(
        F.size(w), F.lit(1)
    ).cast("double")
    noise = F.length(text) - F.length(F.regexp_replace(text, r"[^a-zA-Z0-9_\s]", ""))
    noise_score = F.lit(1.0) - F.least(
        noise / F.greatest(F.length(text), F.lit(1)).cast("double") * 5, F.lit(1.0)
    )
    return round_half_away((length_score + diversity + noise_score) / 3, 6)


def lang_id(text: Column, w: Column | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    'und' (undetermined) when no list scores above zero. Ties break by
    language code order — deterministic. ``w``, if given, must be
    lower-cased words."""
    w = words(F.lower(text)) if w is None else w
    scores = [(lang, _stopword_hits(w, lang)) for lang in sorted(STOPWORDS)]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    for lang, score in reversed(scores):  # earlier langs win ties
        out = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lower, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (hex string).
    Portable across engines; used as the exact-dedup key."""
    return F.md5(normalize_text(text))


#: PII patterns applied in order — ORDER IS LOAD-BEARING (email before
#: hostname, SSN/IP before CARD, CARD before PHONE; dashes FIRST in
#: character classes) and RE2-compatible so the DuckDB oracle reproduces
#: them verbatim: docs/DESIGN.md#text-pii-order.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d(?:[- ]?\d){12,15}\b", "<CARD>"),
    (r"\+?\d{1,3}[- .]?\(?\d{2,4}\)?[- .]?\d{3,4}[- .]?\d{3,4}", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Mask common PII shapes (emails, card/SSN-like numbers, phones,
    IPv4) with typed placeholders — chained JVM ``regexp_replace``:
    map-only, codegen'd, linear at 100 TB. Heuristic by design (favors
    recall on common shapes); layer a model-based detector behind
    ``mapInPandas`` where higher fidelity is required."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_hit_count(text: Column) -> Column:
    """Number of PII placeholder insertions ``redact_pii`` would make — a
    per-document risk score, filterable without materializing the redacted
    text. Design notes: docs/DESIGN.md#text-pii-hit-count"""
    red = redact_pii(text)

    def _count(src: Column, token: str) -> Column:
        return (
            (F.length(src) - F.length(F.replace(src, F.lit(token), F.lit(""))))
            / F.length(F.lit(token))
        ).cast("long")

    total = F.lit(0).cast("long")
    for _, token in PII_PATTERNS:
        total = total + _count(red, token) - _count(text, token)
    return total

"""Text operators — all pure Catalyst expressions (no Python UDFs).

Reference parity (SURVEY §2.8-2.9) plus the text-analysis extensions a
training-data pipeline needs (language-ID heuristic, quality scoring,
token counting, fingerprinting). Everything here compiles into
whole-stage-codegen'd JVM expressions, which is the 10-100x-over-UDF
path at 100 TB:

* ``strip_html`` replaces the reference's pickled ``remove_html_tags``
  Python UDF (``_lib_dq_helpers.py:78-82``) with ``regexp_replace``.
* ``sentiment_*`` replaces the TextBlob UDF (``_lib_dq_helpers.py:84-95``)
  with a deterministic lexicon scorer expressible in ANSI SQL, so the
  DuckDB oracle can mirror it exactly (SURVEY §7.3).
* ``extract_domain`` generalizes the URL-domain regex (``02:70``).
* ``word_count`` fixes the reference's ``length(content)`` mislabeled as
  a word count (``02:71``): a real token count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from news_data_pipeline_spark.functions.exact import settled_round

HTML_TAG_RE = "<[^>]*>"
DOMAIN_RE = r"https?://(?:www\.)?([^/]+)"
# BPE-ish tokenizer: runs of word chars OR single non-space punctuation.
TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Deterministic sentiment lexicon (same lists are inlined into the DuckDB
# oracle SQL — keep in sync with queries/catalog.py).
POSITIVE_WORDS = ("fast", "good", "great", "win", "up", "love", "small", "value")
NEGATIVE_WORDS = ("slow", "bad", "fail", "down", "error", "hate", "big", "dup")

# Tiny per-language stopword markers for the language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ein"),
}


def strip_html(col: Column) -> Column:
    """Remove HTML tags — pure ``regexp_replace``, no UDF."""
    return F.regexp_replace(col, HTML_TAG_RE, "")


def extract_domain(col: Column) -> Column:
    """Domain from a URL (reference regex, ``02:70``)."""
    return F.regexp_extract(col, DOMAIN_RE, 1)


# ASCII control chars minus tab/LF/CR: VT/FF/NUL/etc. are stripped (to
# a space) HERE; tab/LF/CR survive to the whitespace collapse below.
# Explicit ranges, not \p{Cntrl}: Java and RE2 disagree on property
# classes, and the DuckDB oracle must match byte-for-byte.
CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
# Explicit class for the same reason: Java's \s includes \x0B, RE2's
# does not. \f and \x0B are defensively redundant after CTRL_RE (kept
# so either regex is safe to apply alone); keep the two engines'
# classes identical — this constant and the documents_cleaned oracle
# (queries/llmdata.py) must change together.
WS_RE = r"[ \t\n\r\f\x0B]+"


def clean_text(col: Column) -> Column:
    """Corpus text normalization — pure Catalyst, no UDF: control
    characters stripped, all whitespace runs collapsed to single
    spaces, ends trimmed. The standard first pass before tokenization /
    shingling / quality scoring; a narrow map that runs at scan speed
    on any corpus size."""
    no_ctrl = F.regexp_replace(col, CTRL_RE, " ")
    return F.trim(F.regexp_replace(no_ctrl, WS_RE, " "))


def word_count(col: Column, *, compat_reference: bool = False) -> Column:
    """Whitespace token count; 0 for empty/blank strings.

    ``compat_reference=True`` reproduces the reference's
    ``content_word_count`` byte-for-byte, which is actually a CHARACTER
    count (``length(col("content"))`` mislabeled as word count,
    ``02_silver_transformation_news_articles.py:71``) — only for
    migrations that must match the reference's silver tables exactly.
    """
    if compat_reference:
        return F.length(col)
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def token_count(col: Column) -> Column:
    """BPE-ish token count: word runs + individual punctuation marks."""
    return F.regexp_count(col, F.lit(TOKEN_RE))


def char_count(col: Column) -> Column:
    return F.length(col)


def _word_matches(col: Column, words: tuple[str, ...]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pattern))


def sentiment_polarity(col: Column) -> Column:
    """(positive hits - negative hits) / max(word_count, 1), rounded.

    Deterministic stand-in for the reference's TextBlob polarity
    (``_lib_dq_helpers.py:84-95``) so the oracle can reproduce it.
    """
    pos = _word_matches(col, POSITIVE_WORDS)
    neg = _word_matches(col, NEGATIVE_WORDS)
    denom = F.greatest(word_count(col), F.lit(1))
    # settled integer-ratio round (see language_score) — and this one is
    # SIGN-MIXED, where round() implementations diverge even harder
    # (half-away-from-zero vs half-up-toward-+inf on negative half-ways)
    return settled_round((pos - neg) / denom.cast("double"), 4)


def sentiment_label(polarity: Column) -> Column:
    """3-way label, same cutpoints as the reference (``:89-95``)."""
    return (
        F.when(polarity > 0, F.lit("positive"))
        .when(polarity < 0, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )


def language_score(col: Column, lang: str) -> Column:
    """Marker-stopword hits per token for one language."""
    hits = _word_matches(col, LANG_MARKERS[lang])
    # settled_round, not F.round: marker/token counts are small integers,
    # so the ratio lands on exact half-way cells (1/32 etc.) where
    # round() implementations disagree across engines and DuckDB builds
    return settled_round(
        hits / F.greatest(token_count(col), F.lit(1)).cast("double"), 4
    )


def detect_language(col: Column, threshold: float = 0.02) -> Column:
    """Pick the highest-scoring language, deterministic tie-break by
    language code; 'und' when nothing clears ``threshold``."""
    scores = [(lang, language_score(col, lang)) for lang in sorted(LANG_MARKERS)]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so earlier (alphabetically first) langs win ties
    for lang, score in reversed(scores):
        out = F.when((score == best) & (best >= threshold), F.lit(lang)).otherwise(out)
    return out


def punct_ratio(col: Column) -> Column:
    puncts = F.regexp_count(col, F.lit(r"[^\w\s]"))
    # settled integer-ratio round (see language_score)
    return settled_round(
        puncts / F.greatest(F.length(col), F.lit(1)).cast("double"), 4
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation.

    Spec: 0.5 * min(word_count/50, 1) + 0.3 * (1 - punct_ratio)
          + 0.2 * (words between 5 and 5000).
    """
    wc = word_count(col)
    length_part = F.least(wc / F.lit(50.0), F.lit(1.0)) * 0.5
    punct_part = (F.lit(1.0) - punct_ratio(col)) * 0.3
    band_part = F.when((wc >= 5) & (wc <= 5000), F.lit(0.2)).otherwise(F.lit(0.0))
    # the parts are rationals with small denominators (50ths, settled
    # 4dp punct ratio), so half-way cells at 4dp are common — settle
    return settled_round(length_part + punct_part + band_part, 4)


def fingerprint(col: Column) -> Column:
    """Normalization fingerprint: md5 of lowercased alphanumeric content.

    Collapsing whitespace/punctuation first makes the fingerprint stable
    under formatting-only edits — the exact-dedup key for documents.
    """
    normalized = F.regexp_replace(F.lower(col), r"[^a-z0-9]", "")
    return F.md5(normalized)


# PII patterns, applied in order. Conservative shapes: the goal is
# training-data hygiene, not perfect NER — swap in a model-based pass
# via mapInPandas where recall matters more than throughput.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Replace email/IP/SSN/phone-shaped spans with typed placeholders —
    a chain of ``regexp_replace`` (codegen'd; order matters: emails
    before phones so digits in addresses aren't half-eaten)."""
    out = col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_count(col: Column) -> Column:
    """How many PII spans were redacted — counted as placeholders in the
    redacted text, so overlapping patterns (an SSN also matches the
    phone shape) count once, matching what redaction actually did."""
    tokens = "|".join(t for _, t in PII_PATTERNS)
    return F.regexp_count(redact_pii(col), F.lit(tokens))



# The Gopher quality-rule stopword list (Rae et al. 2021 §A1.1: a
# document must contain at least two of these to pass the rule).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(col: Column) -> dict[str, Column]:
    """The Gopher quality-filter rules as named integer flag columns.

    word count in [50, 100000]; mean word length in [3, 10]; '#'/'...'
    symbol-to-word ratio <= 0.1; >= 2 distinct required stopwords.
    Ratio rules compare exact integer cross-products (sum_word_chars vs
    3*n_words, 10*n_symbols vs n_words) — no division, no float, so the
    flags are bit-identical on any engine. All codegen'd regex/length
    arithmetic over one projection.
    """
    lower = F.lower(col)
    n_words = word_count(col).cast("long")
    n_word_chars = F.length(F.regexp_replace(col, r"\s", "")).cast("long")
    n_symbols = F.regexp_count(col, F.lit(r"#|\.\.\.")).cast("long")
    n_stop = sum(
        (F.regexp_count(lower, F.lit("\\b" + w + "\\b")) > 0).cast("int")
        for w in GOPHER_STOPWORDS
    )
    f_wc = (n_words >= 50) & (n_words <= 100000)
    f_mwl = (n_word_chars >= 3 * n_words) & (n_word_chars <= 10 * n_words)
    f_sym = 10 * n_symbols <= n_words
    f_stop = n_stop >= 2

    def flag(cond: Column) -> Column:
        # a NULL text fails every rule (0), like SQL's CASE WHEN
        return F.coalesce(cond.cast("int"), F.lit(0))

    return {
        "n_words": n_words,
        "flag_word_count": flag(f_wc),
        "flag_mean_word_length": flag(f_mwl),
        "flag_symbol_ratio": flag(f_sym),
        "flag_stopwords": flag(f_stop),
        "pass_gopher": flag(f_wc & f_mwl & f_sym & f_stop),
    }


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a crawled URL — the key under which a crawl
    pipeline deduplicates fetches: lowercase + trim, fragment dropped,
    tracking parameters (``utm_*`` prefix) removed with the remaining
    query-string order preserved, dangling ``?`` and ALL trailing path
    slashes stripped (one-slash stripping would not be idempotent on
    ``//`` tails — Hypothesis-caught).

    Pure Catalyst (regexp_replace / split / filter / array_join) —
    a 100-TB URL column canonicalizes as a narrow map with no Python.
    The prefix test is ``substring(p, 1, 4) == 'utm_'`` rather than a
    LIKE pattern so the SQL oracle mirrors it without underscore-
    wildcard escaping hazards.
    """
    u = F.lower(F.trim(url))
    u = F.regexp_replace(u, r"#.*", "")
    base = F.regexp_replace(
        F.regexp_replace(u, r"\?.*", ""), r"/+$", ""
    )
    query = F.regexp_extract(u, r"\?(.*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & (F.substring(p, 1, 4) != F.lit("utm_")),
    )
    canon_q = F.array_join(kept, "&")
    return F.when(
        F.length(canon_q) > 0, F.concat(base, F.lit("?"), canon_q)
    ).otherwise(base)

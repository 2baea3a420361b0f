"""Text-analysis column builders (training-data-pipeline surface).

All pure Catalyst expressions (no Python UDFs): tokenization, n-gram
shingling, quality metrics, lexicon-based language ID, and md5 document
fingerprints.  Regex patterns are kept in the common subset of Java regex
(Spark) and RE2 (DuckDB) so oracle SQL behaves identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# words(text): lowercase, trim, split on runs of whitespace
def words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


# BPE-ish subword tokens: letter runs, digit runs, or single other non-space
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_PATTERN), 0))


def shingles_w(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a words column; docs with fewer than n
    words yield an empty array (guarded explicitly — Spark's
    sequence(1, 0) would produce a DESCENDING [1,0], not an empty list).

    Formulation matters: shingle i is built by zipping n SHIFTED SLICES of
    the token array, never by ``element_at(w, i+j)`` inside a transform
    lambda.  Catalyst's CollapseProject inlines the upstream ``split()``
    into every lambda argument occurrence, so the element_at form
    re-tokenizes the document once per shingle element (measured ~7× wall
    slowdown on the sf0.1 corpus); the slice/zip form evaluates the array
    O(n) times per ROW and fuses into whole-stage codegen."""
    length = F.size(w) - (n - 1)
    acc = F.slice(w, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(w, j + 1, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(w) >= n, acc).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Convenience wrapper over raw text; for hot paths project words(col)
    into a column first and use shingles_w (see note there)."""
    return shingles_w(words(col), n)


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# tiny per-language lexicons for the n-gram/lexicon language-ID heuristic;
# deterministic and identically expressible in SQL
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with"),
    "es": ("el", "la", "de", "que", "con"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "mit"),
    "zh": ("的", "是", "在", "了", "和"),
}


def _lexicon_hits_w(w: Column, lexicon: tuple[str, ...]) -> Column:
    return F.size(F.filter(w, lambda t: t.isin(*lexicon)))


def lang_scores_w(w: Column) -> dict[str, Column]:
    return {lang: _lexicon_hits_w(w, lex) for lang, lex in LANG_LEXICON.items()}


def lang_id_w(w: Column) -> Column:
    """argmax over lexicon hit counts; ties and all-zero fall back to 'und'
    then alphabetical language order (deterministic).

    Takes a pre-tokenized words column: tokenizing once and reusing the array
    keeps split() out of the plan's repeated subexpressions (Catalyst does
    not CSE the 10+ occurrences this expression family would otherwise emit —
    measured 7× slower)."""
    scores = lang_scores_w(w)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed alphabetical chain so the FIRST alphabetical winner is applied last
    for lang in sorted(scores, reverse=True):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def lang_id(col: Column | str) -> Column:
    return lang_id_w(words(col))


def stopword_ratio_w(w: Column) -> Column:
    hits = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(w) == 0, F.lit(0.0)).otherwise(hits / F.size(w))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    nonpunct = F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - nonpunct) / F.length(c)
    )


def avg_word_len_w(w: Column) -> Column:
    total = F.aggregate(w, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(w) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(w)
    )


def quality_score_w(text: Column, w: Column) -> Column:
    """Deterministic [0,1] quality heuristic over (raw text, tokenized words):
    rewards mid-length docs, sane word lengths, and stopword presence;
    penalizes punctuation soup."""
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    wl = avg_word_len_w(w)
    wl_score = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_score = F.least(stopword_ratio_w(w) * 5.0, F.lit(1.0))
    return F.round(
        0.4 * len_score + 0.3 * wl_score + 0.2 * sw_score + 0.1 * (1.0 - punct_ratio(text)),
        6,
    )


def quality_score(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return quality_score_w(c, words(c))


def fingerprint(col: Column | str, nchars: int = 16) -> Column:
    """Document fingerprint: md5 prefix of whitespace-normalized lowercase
    text (the rolling-hash fingerprint role, cross-engine-identical)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.substring(F.md5(normalized), 1, nchars)

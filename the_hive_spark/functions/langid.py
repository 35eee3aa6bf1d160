"""Heuristic language identification — stopword-profile n-gram scoring.

The standard lightweight approach (the public-domain heuristic behind
tools like langid/cld fallbacks): tokenize, count hits against small
per-language stopword profiles, argmax the normalized hit rate. All of
it compiles to JVM column expressions (split / filter /
array_contains) — no Python in the hot path, and the identical logic
is expressible in ANSI-ish SQL for the DuckDB oracle
(operators/text_analysis.py::doc_langid).

Deliberately tiny profiles: language ID at corpus scale needs recall
on confident cases, not 100-language coverage; unknowns fall through
to 'und' below the confidence floor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Most-frequent function words per language (public frequency lists).
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for",
           "on", "with", "as", "was", "at", "by", "this", "are"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "den", "mit",
           "nicht", "ein", "eine", "auf", "für", "im", "dem", "des"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "que",
           "pour", "dans", "qui", "sur", "pas", "au", "avec"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "en", "un", "una",
           "es", "por", "con", "para", "no", "se", "del"],
}

MIN_HITS_PPM = 40_000  # <4% stopword hits ⇒ 'und' (undetermined)


def _tokens(text_col: str) -> str:
    return f"filter(split(lower({text_col}), '[^a-zA-Zäöüéèêàç]+'), t -> length(t) > 0)"


def tokens_expr(text_col: str = "text") -> Column:
    """The tokenizer as a standalone Column — materialize it ONCE into
    a column and pass that column's name to the `_from_tokens` variants
    below: inlining `_tokens` into every per-language expression makes
    codegen run the regex split 5× per row (measured ~4× slower)."""
    return F.expr(_tokens(text_col))


def lang_hit_counts_from_tokens(toks_sql: str) -> dict[str, Column]:
    """Per-language hit counts over an existing token-array expression
    or column name."""
    out = {}
    for lang, words in STOPWORD_PROFILES.items():
        arr = ", ".join(f"'{w}'" for w in words)
        out[lang] = F.expr(
            f"size(filter({toks_sql}, t -> array_contains(array({arr}), t)))"
        )
    return out


def detect_language(text_col: str = "text") -> Column:
    """Argmax language code over inline tokenization (compat form —
    tokenizes once per language expression; see detect_language_from_tokens)."""
    return detect_language_from_tokens(_tokens(text_col))


def detect_language_from_tokens(toks_sql: str) -> Column:
    """Argmax language code ('und' below the confidence floor) over an
    existing token-array expression or column name.

    Ties break by language-code order (deterministic across engines).
    """
    n = F.greatest(F.expr(f"size({toks_sql})"), F.lit(1))
    hits = lang_hit_counts_from_tokens(toks_sql)
    best_lang = F.lit("und")
    best_ppm = F.lit(MIN_HITS_PPM - 1).cast("bigint")
    # forward alphabetical: the first language processed keeps ties
    # (later ones need strictly greater), so 'de' beats 'en' on a tie
    for lang in sorted(hits):
        ppm = F.floor(1000000.0 * hits[lang] / n).cast("bigint")
        take = ppm >= F.greatest(best_ppm + 1, F.lit(MIN_HITS_PPM))
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_ppm = F.when(take, ppm).otherwise(best_ppm)
    return best_lang

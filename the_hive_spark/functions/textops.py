"""Scalar text/normalization helpers (SURVEY.md §2.7 F7-F13, §2.9 U2/U5).

Every function returns a JVM column expression; the "AI" operators'
deterministic fallbacks live here so correctness tests bind to pure
expressions (the real LLM providers are config-gated and untested for
equality — SURVEY.md §7.3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# U5 fallback keyword lists (analyst.go:269-292, tagger.go:172-194)
RULE_FALLBACK_KEYWORDS = ["confidential", "pricing", "secret"]
TAG_FALLBACK_KEYWORDS = ["legal", "finance", "urgent", "proposal"]


def normalize_answer(raw: Column) -> Column:
    """F7/U2 YES-NO normalization (ai/question.go:127-137): contains
    "YES" → YES, else contains "NO" → NO, default NO."""
    up = F.upper(raw)
    return (
        F.when(F.instr(up, "YES") > 0, F.lit("YES"))
        .when(F.instr(up, "NO") > 0, F.lit("NO"))
        .otherwise(F.lit("NO"))
    )


def answer_question_fallback(question: Column, content: Column) -> Column:
    """U2 deterministic yes/no: does the content contain any rule
    keyword? (the analyst.go:269-292 fallback path)."""
    low = F.lower(content)
    hit = F.lit(False)
    for kw in RULE_FALLBACK_KEYWORDS:
        hit = hit | (F.instr(low, kw) > 0)
    return F.when(hit, F.lit("YES")).otherwise(F.lit("NO"))


def normalize_tags(raw: Column, cap: int = 5) -> Column:
    """F8 tag normalization (tagger.go:140-168): strip markdown fences,
    JSON-parse the array, trim entries, ensure a '#' prefix, cap at 5.
    Unparseable input → empty array (the reference falls back to
    keyword tags, which callers layer separately)."""
    stripped = F.regexp_replace(raw, r"```(json)?", "")
    parsed = F.from_json(F.trim(stripped), "array<string>")
    nonempty = F.filter(parsed, lambda t: F.length(F.trim(t)) > 0)
    hashed = F.transform(
        nonempty,
        lambda t: F.when(
            F.startswith(F.trim(t), F.lit("#")), F.trim(t)
        ).otherwise(F.concat(F.lit("#"), F.trim(t))),
    )
    return F.coalesce(F.slice(hashed, 1, cap), F.array().cast("array<string>"))


def fallback_tags(content: Column, cap: int = 5) -> Column:
    """U5 keyword tags: '#<kw>' per keyword present (tagger.go:172-194)."""
    low = F.lower(content)
    hits = F.array_compact(
        F.array(
            *[
                F.when(F.instr(low, kw) > 0, F.lit(f"#{kw}"))
                for kw in TAG_FALLBACK_KEYWORDS
            ]
        )
    )
    return F.slice(hits, 1, cap)


def extract_client_ip(xff: Column, real_ip: Column, remote_addr: Column) -> Column:
    """F11 client-IP resolution (search_handler.go:193-212):
    X-Forwarded-For first entry, else X-Real-IP, else RemoteAddr with
    the :port suffix stripped."""
    first_xff = F.trim(F.split(xff, ",")[0])
    bare_remote = F.regexp_replace(remote_addr, r":\d+$", "")
    return (
        F.when((xff.isNotNull()) & (F.length(F.trim(xff)) > 0), first_xff)
        .when((real_ip.isNotNull()) & (F.length(F.trim(real_ip)) > 0), F.trim(real_ip))
        .otherwise(bare_remote)
    )


def mask_key(key: Column) -> Column:
    """F12 API-key masking (config_handler.go:232-243):
    first 3 + '****' + last 4; short keys mask entirely."""
    return F.when(
        F.length(key) >= 8,
        F.concat(F.substring(key, 1, 3), F.lit("****"), F.substring(key, -4, 4)),
    ).otherwise(F.lit("****"))

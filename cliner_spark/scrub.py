"""Text scrubbing / redaction for corpus preparation: emails, URLs, phone
numbers, and long digit runs replaced by typed placeholders — the standard
PII-hygiene pass before transcripts enter a training corpus.

Pure `regexp_replace` / `regexp_extract_all` expressions (JVM-side, inside
whole-stage codegen — no UDFs). Patterns deliberately avoid lookaround and
backreferences so the same pattern string runs identically under Java
regex (Spark) and RE2 (DuckDB oracle / Go tooling).

Order matters and is fixed: URL before EMAIL (URLs can embed '@'), then
PHONE, then bare digit runs — each later pattern sees the earlier
placeholders, never raw text it might partially re-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (pattern, placeholder), applied in order
SCRUB_RULES: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\d{6,}", "<ID>"),
]


def count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).cast("bigint")


def scrub(
    df: DataFrame,
    text_col: str = "text",
    rules: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Adds `scrubbed` plus a total redaction count. Counting happens on the
    progressively-scrubbed text (same order as replacement), so overlapping
    patterns are attributed exactly once — the counts sum to the number of
    placeholders inserted."""
    rules = rules or SCRUB_RULES
    cur = F.coalesce(F.col(text_col), F.lit(""))
    n = F.lit(0).cast("bigint")
    for pat, repl in rules:
        n = n + count_matches(cur, pat)
        cur = F.regexp_replace(cur, pat, repl)
    return df.withColumn("scrubbed", cur).withColumn("n_redactions", n)

"""Result highlighting (reference intended query:
docs/features/query-expansion-nlp.md:297-300 — HighlightBuilder on
title + content with <mark>/</mark> tags).

Deterministic rule, shared by the Spark column expressions and the
DuckDB oracle twin (one source of truth, two dialects):

- snippet window: centered on the FIRST occurrence (case-insensitive,
  substring) of any query term, ``lead`` chars of left context,
  ``width`` chars long; documents with no match fall back to the
  document head.  '...' is prepended/appended when text was cut.
- marking: a term occurrence is marked where the TOKENIZER would have
  produced it as a token — i.e. at token boundaries, which for this
  code-aware analyzer are non-alphanumeric characters AND camelCase
  case boundaries.  ``\\b`` alone would miss every camelCase hit
  (query "merge" scores ``mergeBuffer`` via the camel-splitting
  tokenizer, but ``\\bmerge\\b`` never matches it).  Concretely, one
  regex pass with two alternatives:

  1. start-or-non-alnum  +  term (case-insensitive)  +
     (uppercase | non-alnum | end)           — plain + camelHead hits
  2. lowercase/digit  +  Term/TERM variant  +
     (uppercase | non-alnum | end)           — camelTail hits

  A SINGLE regexp_replace pass is load-bearing: replacement text is
  never rescanned, so inserted <mark> tags cannot be re-matched by a
  query term like "mark".  Adjacent term occurrences separated by one
  character leave the second unmarked (the separator is consumed by
  the first match) — identically in both dialects, and cosmetic only.

Query terms come from the shared tokenizer, so they are ^[a-z0-9]+$
and regex-safe without escaping.  Both Java regex and RE2 support the
group-local ``(?i:...)`` flag and ordered alternation used here; the
two left contexts are mutually exclusive, so the alternation order
never matters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_NO_MATCH = 1 << 30
WIDTH = 160
LEAD = 60


def _mark_pattern(terms: list[str]) -> str:
    ci = "|".join(terms)
    camel = []
    for t in terms:
        camel.append(t[0].upper() + t[1:])
        if len(t) > 1:
            camel.append(t.upper())
    return (
        r"(^|[^a-zA-Z0-9])((?i:" + ci + r"))([A-Z]|[^a-zA-Z0-9]|$)"
        r"|([a-z0-9])(" + "|".join(camel) + r")([A-Z]|[^a-zA-Z0-9]|$)"
    )


def mark_col(col, terms: list[str]):
    """Wrap every tokenizer-boundary term match in <mark> tags."""
    if not terms:
        return col
    return F.regexp_replace(
        col, _mark_pattern(terms), "$1$4<mark>$2$5</mark>$3$6"
    )


def _mark_sql(expr: str, terms: list[str]) -> str:
    pat = _mark_pattern(terms).replace("'", "''")
    return (
        f"regexp_replace({expr}, '{pat}', "
        "'\\1\\4<mark>\\2\\5</mark>\\3\\6', 'g')"
    )


def plain_snippet_col(text_col):
    """F11 plain snippet (no highlighting): first ~200 chars cut at a
    word boundary past 100 when possible, '...' appended when
    truncated.  The ONE definition of the expression — the engine
    meta path, the use-case DTO mapping and the contract twins all
    share it so the projection can never drift."""
    from pyspark.sql import functions as F

    c = text_col if not isinstance(text_col, str) else F.col(text_col)
    sub = F.substring(c, 1, 200)
    cut = F.regexp_extract(sub, r"^([\s\S]{100,199}) ", 1)
    return F.when(F.length(c) <= 200, c).otherwise(
        F.when(F.length(cut) > 0, F.concat(cut, F.lit("..."))).otherwise(
            F.concat(sub, F.lit("..."))
        )
    )


def plain_snippet_py(text: str | None) -> str | None:
    """Python twin of ``plain_snippet_col`` for the serving tier.  The
    greedy ``^([\\s\\S]{100,199}) `` match keeps everything before the
    LAST space at character index 100..199, which is one ``rfind``."""
    if text is None or len(text) <= 200:
        return text
    p = text.rfind(" ", 100, 200)
    return (text[:p] if p >= 0 else text[:200]) + "..."


def highlight_snippet_col(text_col, terms: list[str],
                          width: int = WIDTH, lead: int = LEAD):
    """Query-term-centered, <mark>-highlighted snippet column."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(text)
    if terms:
        first = F.least(
            *[
                F.when(F.instr(low, t) > 0, F.instr(low, t)).otherwise(
                    F.lit(_NO_MATCH)
                )
                for t in terms
            ],
            F.lit(_NO_MATCH),
        )
    else:
        first = F.lit(_NO_MATCH)
    start = F.when(first == _NO_MATCH, F.lit(1)).otherwise(
        F.greatest(F.lit(1), first - lead)
    )
    snip = mark_col(F.substring(text, start, width), terms)
    pre = F.when(start > 1, F.lit("...")).otherwise(F.lit(""))
    post = F.when(start + width <= F.length(text), F.lit("...")).otherwise(
        F.lit("")
    )
    return F.concat(pre, snip, post)


def highlight_snippet_sql(text_expr: str, terms: list[str],
                          width: int = WIDTH, lead: int = LEAD) -> str:
    """DuckDB twin of ``highlight_snippet_col`` (same rule, same
    constants; RE2 backrefs are \\1 and the case-insensitivity is
    group-local in the pattern, NOT an 'i' flag — the camelTail
    alternative is case-sensitive by design)."""
    if not terms:
        firsts = str(_NO_MATCH)
    else:
        parts = ", ".join(
            f"(CASE WHEN strpos(lower({text_expr}), '{t}') > 0 "
            f"THEN strpos(lower({text_expr}), '{t}') "
            f"ELSE {_NO_MATCH} END)"
            for t in terms
        )
        firsts = f"least({parts}, {_NO_MATCH})"
    start = (
        f"(CASE WHEN {firsts} = {_NO_MATCH} THEN 1 "
        f"ELSE greatest(1, {firsts} - {lead}) END)"
    )
    marked = (
        _mark_sql(f"substr({text_expr}, {start}, {width})", terms)
        if terms
        else f"substr({text_expr}, {start}, {width})"
    )
    return (
        f"(CASE WHEN {start} > 1 THEN '...' ELSE '' END) || {marked} || "
        f"(CASE WHEN {start} + {width} <= length({text_expr}) "
        f"THEN '...' ELSE '' END)"
    )

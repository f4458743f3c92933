"""Ranking blends and result diversification (reference X7/X8/X9/W5).

From SE/domain/ranking/service/MachineLearningRankingService.java:
- :19-47  linear blend 0.35*BM25 + 0.25*PageRank + 0.20*quality
          + 0.15*CTR + 0.05*freshness, clamped to [0, 1],
- :52-59  freshness = exp(-0.01 * age_days)                    (X8)
- :80-104 per-domain diversification, max 2 results per domain (W5)
and the intended ES function_score multiply boost
log1p(factor * pagerank) (docs/features/query-expansion-nlp.md:280-287, X7).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BLEND_WEIGHTS = {
    "bm25": 0.35,
    "pagerank": 0.25,
    "quality": 0.20,
    "ctr": 0.15,
    "freshness": 0.05,
}


def ml_blend_col(
    bm25norm, pagerank, quality, ctr=None, freshness=None
):
    """X9: weighted blend of [0,1] features, clamped to [0,1]."""
    ctr = ctr if ctr is not None else F.lit(0.0)
    freshness = freshness if freshness is not None else F.lit(0.0)
    w = BLEND_WEIGHTS
    s = (
        w["bm25"] * bm25norm
        + w["pagerank"] * pagerank
        + w["quality"] * quality
        + w["ctr"] * ctr
        + w["freshness"] * freshness
    )
    return F.least(F.greatest(s, F.lit(0.0)), F.lit(1.0))


def freshness_col(age_days):
    """X8: exp(-0.01 * age_days)."""
    return F.exp(-0.01 * age_days.cast("double"))


# --- sortBy key derivations (SearchRequestDTO.java:19 declares
# sortBy in {relevance, date, pagerank}; the ES adapter never applies
# it — SURVEY §2.1 S6 — so these implement the declared semantics).
# The synthetic corpus carries no real dates or link graph, so both
# keys are DETERMINISTIC pure functions of docid: exact integer math
# that Spark, DuckDB and numpy all evaluate identically, which is what
# lets the contract entries hash-gate the sort machinery itself.
PUBLISH_RANGE_DAYS = 2557  # seven years of synthetic publish dates
RANK_MOD = 1000003  # prime; Knuth-hash rank in [0, 1)


def pub_day_col(docid_col):
    """Synthetic publish day (offset 0..PUBLISH_RANGE_DAYS-1):
    (docid * 16807) % 2557 — 16807 = 7^5, the Lehmer multiplier, so
    consecutive docids land on scattered days."""
    return (docid_col.cast("long") * F.lit(16807)) % F.lit(
        PUBLISH_RANGE_DAYS
    )


def pub_day_np(docids) -> np.ndarray:
    """numpy twin of pub_day_col: int64 day offsets."""
    return (np.asarray(docids, dtype=np.int64) * 16807) % PUBLISH_RANGE_DAYS


def quality_py(content: str, toks: "list[str] | None" = None) -> float:
    """Pure-Python twin of quality_col — the SAME IEEE-double op
    order, so threshold comparisons land identically.  Used by the
    serving tier's legacy-docmap fallback and the test oracles."""
    from search_engine_spark.tokenizer import py_tokenize

    if toks is None:
        toks = py_tokenize(content)
    n = len(toks)
    uniq = 0.0 if n == 0 else len(set(toks)) / n
    awl = 0.0 if n == 0 else sum(len(t) for t in toks) / n
    return (
        0.3 * min(len(content) / 5000.0, 1.0)
        + 0.2 * min(n / 800.0, 1.0)
        + 0.3 * uniq
        + 0.2 * min(awl / 6.0, 1.0)
    )


PUBLISH_EPOCH = "2018-01-01"  # day offset 0 of the synthetic calendar


def day_offset(value) -> int:
    """SearchRequestDTO ``dateFrom``/``dateTo`` (ISO date strings,
    SearchRequestDTO.java:22-23) -> synthetic day offset: days since
    PUBLISH_EPOCH.  Ints pass through as already-computed offsets.
    Offsets outside [0, PUBLISH_RANGE_DAYS) are legal — they simply
    match nothing / everything, like an ES range on an empty span."""
    if isinstance(value, int):
        return value
    import datetime as _dt

    epoch = _dt.date.fromisoformat(PUBLISH_EPOCH)
    return (_dt.date.fromisoformat(str(value)) - epoch).days


def hash_rank_col(docid_col):
    """Synthetic per-doc static rank in [0, 1): Knuth multiplicative
    hash mod a prime, divided exactly (one IEEE division of exact
    integers — bit-identical in every engine)."""
    h = (docid_col.cast("long") * F.lit(2654435761)) % F.lit(RANK_MOD)
    return h.cast("double") / F.lit(float(RANK_MOD))


def hash_rank_np(docids) -> np.ndarray:
    """numpy twin of hash_rank_col: float64 ranks in [0, 1)."""
    h = (np.asarray(docids, dtype=np.int64) * 2654435761) % RANK_MOD
    return h.astype(np.float64) / float(RANK_MOD)


def pagerank_boost_col(score, pagerank, factor: float = 2.0):
    """X7: ES function_score MULTIPLY with log1p(factor * pagerank)."""
    return score * F.log1p(F.lit(factor) * pagerank)


def quality_col(content_col, tokens_col_):
    """F13 content quality (TextProcessingService.java:131-163)."""
    doclen = F.size(tokens_col_)
    doclen_d = doclen.cast("double")
    uniq_ratio = F.when(doclen == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(tokens_col_)) / doclen_d
    )
    sum_wlen = F.aggregate(
        F.transform(tokens_col_, lambda x: F.length(x)),
        F.lit(0),
        lambda a, x: a + x,
    )
    avg_wlen = F.when(doclen == 0, F.lit(0.0)).otherwise(
        sum_wlen.cast("double") / doclen_d
    )
    return (
        0.3 * F.least(F.length(content_col) / 5000.0, F.lit(1.0))
        + 0.2 * F.least(doclen_d / 800.0, F.lit(1.0))
        + 0.3 * uniq_ratio
        + 0.2 * F.least(avg_wlen / 6.0, F.lit(1.0))
    )


def diversify(
    df: DataFrame,
    group_col: str,
    score_col: str,
    per_group: int = 2,
    k: int | None = None,
    tiebreak_col: str = "docid",
) -> DataFrame:
    """W5: keep at most `per_group` rows per group, then global top-k."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(tiebreak_col)
    )
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_group)
        .drop("_rn")
        .orderBy(F.desc(score_col), F.asc(tiebreak_col))
    )
    return out.limit(k) if k else out

"""One clause plan per query family, shared by every executor.

A plan is a query's scoring clauses as rows
``(term, w, avgdl, bscale, clause, fld, req)`` plus ``n_required``:

- ``term`` is the index term (title terms carry TITLE_PREFIX);
- ``w`` multiplies the term's BM25 idf (expansion and field boosts
  fold into idf, so block-max bounds stay exact);
- ``avgdl``/``bscale`` are the term's field statistics
  (``field_stats``);
- rows sharing ``(clause, fld)`` add up, fields within a clause
  combine by MAX (ES dis_max / BEST_FIELDS), clauses add up;
- ``req >= 0`` marks a row whose req id counts toward
  ``n_required`` (conjunctive mode and minimum_should_match).

Three builders, one per family: ``plain_plan`` (search, fuzzy, prefix
and their batch and serving forms), ``fields_plan`` (BM25F-style
cross-field SUM) and ``composed_plan`` (the reference's composed
query).  Both executors consume the same plan: the Spark one joins it
to the pruned segment scan through ``plan_idf_table``, the no-Spark
one scores it per slab through ``query/wand.plan_topk``; the kernel
follows from the plan alone (``ClausePlan.dis_max``).
"""

from __future__ import annotations

from typing import NamedTuple

PLAN_SCHEMA = (
    "term string, w double, avgdl double, bscale double, "
    "clause int, fld int, req int"
)


class ClausePlan(NamedTuple):
    rows: list
    n_required: int = 0

    @property
    def dis_max(self) -> bool:
        """True when some clause spans two fields: its score is a MAX
        over fields, which only slab_topk_adv computes.  Every other
        plan is a plain sum over rows (slab_topk).  Sum plans with
        ``n_required`` give each row its own req id, so the sum
        kernel's per-chunk count equals the distinct-req count."""
        flds: dict[int, int] = {}
        for r in self.rows:
            if flds.setdefault(r[4], r[5]) != r[5]:
                return True
        return False


def field_stats(meta) -> tuple[tuple[float, float], tuple[float, float]]:
    """((avgdl, bound scale) of content, same of title) from an index's
    meta.  The bound scale max(1, avgdl / norm_avgdl) inflates
    block-max bounds encoded at an older, smaller avgdl (appends); a
    field with no tokens (avgdl 0, e.g. every title tokenizes to
    nothing) has no chunks to bound, so its scale is 1."""
    out = []
    for av_key, norm_key in (
        ("avgdl", "norm_avgdl"), ("avgdl_title", "norm_avgdl_title")
    ):
        av = float(meta.get(av_key) or 0.0)
        norm = float(meta.get(norm_key) or 0.0)
        out.append((av, max(1.0, av / norm) if av and norm else 1.0))
    return out[0], out[1]


def query_weights(
    query: str, expand: bool = False, intent: bool = False
) -> dict[str, float]:
    """{term: weight} of a plain query: its tokens at 1.0, or the
    reference's expansion (``expand``), plus the TUTORIAL-intent
    should-terms (``intent``)."""
    from search_engine_spark.tokenizer import tokenize_query

    if expand:
        from search_engine_spark.query.expansion import expand_query

        weights = expand_query(query)
    else:
        weights = {t: 1.0 for t in tokenize_query(query)}
    if intent:
        from search_engine_spark.query.intent import intent_extra_weights

        for t, w in intent_extra_weights(query).items():
            weights.setdefault(t, w)
    return weights


def plain_plan(
    weights: dict[str, float], stats, n_required: int = 0
) -> ClausePlan:
    """Content-only weighted terms, each its own clause and req id."""
    av, bs = stats[0]
    return ClausePlan(
        [(t, float(w), av, bs, i, 0, i)
         for i, (t, w) in enumerate(weights.items())],
        n_required,
    )


def fields_plan(
    query: str, stats, expand: bool = False, intent: bool = False
) -> ClausePlan:
    """Field-weighted terms (title^3/content^1, synonyms title^2/
    content^0.8 with ``expand``), summed across fields; ``intent``
    adds the TUTORIAL should-terms as content-only rows at weight 1.0.
    A query with no field terms has an empty plan."""
    from search_engine_spark.config import TITLE_PREFIX
    from search_engine_spark.query.expansion import field_weights

    (av_c, bs_c), (av_t, bs_t) = stats
    fw = field_weights(query, expand=expand)
    rows: list[tuple] = []
    for t, w_c, w_t in fw:
        rows.append((t, float(w_c), av_c, bs_c, len(rows), 0, -1))
        rows.append(
            (TITLE_PREFIX + t, float(w_t), av_t, bs_t, len(rows), 1, -1)
        )
    if intent and fw:
        from search_engine_spark.query.intent import intent_extra_weights

        have = {t for t, _wc, _wt in fw}
        for t, w in intent_extra_weights(query).items():
            if t not in have:
                rows.append((t, float(w), av_c, bs_c, len(rows), 0, -1))
    return ClausePlan(rows)


def composed_plan(query: str, stats, mode: str = "or") -> ClausePlan:
    """The composed query (query/advanced.py) with field statistics:
    ``mode="and"`` requires every corrected original term, in either
    field (one req id per term)."""
    from search_engine_spark.config import TITLE_PREFIX
    from search_engine_spark.query.advanced import (
        FLD_CONTENT,
        advanced_plan,
        plan_orig_terms,
    )

    (av_c, bs_c), (av_t, bs_t) = stats
    orig = plan_orig_terms(query)
    req_of = {t: i for i, t in enumerate(orig)}
    rows = []
    for clause, fld, t, w in advanced_plan(query):
        req = req_of.get(t, -1) if clause == 0 else -1
        if fld == FLD_CONTENT:
            rows.append((t, float(w), av_c, bs_c, clause, 0, req))
        else:
            rows.append(
                (TITLE_PREFIX + t, float(w), av_t, bs_t, clause, 1, req)
            )
    return ClausePlan(rows, len(orig) if mode == "and" else 0)


def plan_idf_table(spark, df_table, plans: dict, n_docs: float):
    """The broadcast side of the Spark executor's segment join: every
    plan row whose term the index holds, with ``idf`` = w * BM25 idf
    from the df table, as (term, idf, avgdl, bscale, clause, fld, req)
    — plus ``qid`` when ``plans`` is a batch ({qid: plan}; a single
    query is {None: plan})."""
    from pyspark.sql import functions as F

    batch = None not in plans
    cols = ["qid"] if batch else []
    rows = [
        ((qid,) if batch else ()) + tuple(r)
        for qid, p in plans.items() for r in p.rows
    ]
    wdf = spark.createDataFrame(
        rows, ("qid string, " if batch else "") + PLAN_SCHEMA
    )
    terms = sorted({r[0] for p in plans.values() for r in p.rows})
    df = F.col("df")
    return (
        df_table.filter(F.col("term").isin(terms))
        .join(F.broadcast(wdf), "term")
        .withColumn(
            "idf",
            F.col("w")
            * F.log1p((F.lit(float(n_docs)) - df + 0.5) / (df + 0.5)),
        )
        .select(*cols, "term", "idf", "avgdl", "bscale", "clause", "fld",
                "req")
    )

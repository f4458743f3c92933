"""Spark-side implementations of the driver-contract queries.

Each function here takes ``(spark, sf_dir)`` and returns a DataFrame
whose columns/values match the DuckDB SQL generated by
``search_engine_spark.oracle.sqlgen`` — the two share tokenizer
semantics and BM25 constants via common imports.

The sf documents table has columns (doc_id, text, lang, source,
n_chars); we map doc_id -> docid and text -> content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import BM25_B, BM25_K1
from search_engine_spark.tokenizer import tokenize_query, tokens_col


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# The tokenized corpus and its postings are the "index" of this
# contract: built once per (session, sf_dir) and cached, then shared
# by every query — the same build-once/query-many shape as the real
# engine.  Caching also collapses the self-join subtrees (postings
# joined with aggregates of itself) that otherwise make Catalyst
# re-optimize and re-execute the whole tokenize pipeline per branch.
_CACHE: dict = {}


def documents_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "tl")
    if key not in _CACHE:
        df = (
            load(spark, sf_dir, "documents")
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                F.col("text"),
                tokens_col("text").alias("toks"),
            )
            .withColumn("doclen", F.size("toks"))
            .cache()
        )
        _CACHE[key] = df
    return _CACHE[key]


def documents_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "postings")
    if key not in _CACHE:
        tl = documents_tokenized(spark, sf_dir)
        _CACHE[key] = (
            tl.select("docid", "doclen", F.explode("toks").alias("term"))
            .groupBy("term", "docid", "doclen")
            .agg(F.count("*").cast("int").alias("tf"))
            .cache()
        )
    return _CACHE[key]


def q_term_counts(spark, sf_dir, limit: int = 100) -> DataFrame:
    tl = documents_tokenized(spark, sf_dir)
    return (
        tl.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(limit)
    )


def q_term_df(spark, sf_dir, limit: int = 200) -> DataFrame:
    p = documents_postings(spark, sf_dir)
    return (
        p.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(limit)
    )


def q_corpus_stats(spark, sf_dir) -> DataFrame:
    tl = documents_tokenized(spark, sf_dir)
    return tl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("doclen"), 6).alias("avgdl"),
    )


def q_bm25(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    terms = tokenize_query(query)
    return _bm25_weighted(spark, sf_dir, {t: 1.0 for t in terms}, k)


def q_bm25_expanded(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """BM25 with the reference's query expansion (SO3/X5): corrected
    terms at weight 1.0, synonyms at 0.7; per-term contribution is
    w * idf * tfn (the ES bool.should per-clause boost)."""
    from search_engine_spark.query.expansion import expand_query

    return _bm25_weighted(spark, sf_dir, expand_query(query), k)


def _bm25_scores(spark, sf_dir, weights: dict[str, float]) -> DataFrame:
    """(docid, raw) BM25 scores over the non-dedup corpus for every
    matching doc — the shared scoring core of _bm25_weighted and the
    sortBy twins."""
    terms = list(weights)
    wmap = F.create_map(
        *[F.lit(x) for t, w in weights.items() for x in (t, float(w))]
    )
    p = documents_postings(spark, sf_dir).filter(F.col("term").isin(terms))
    tl = documents_tokenized(spark, sf_dir)
    stats = tl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )
    dfs = p.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    tfd = F.col("tf").cast("double")
    return (
        p.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_c",
            wmap[F.col("term")]
            * F.log1p((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (
                tfd * (BM25_K1 + 1.0)
                / (
                    tfd
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("doclen") / F.col("avgdl"))
                )
            ),
        )
        .groupBy("docid")
        .agg(F.sum("_c").alias("raw"))
    )


def _bm25_weighted(
    spark, sf_dir, weights: dict[str, float], k: int = 10
) -> DataFrame:
    if not weights:
        return spark.createDataFrame([], "docid long, score double")
    return (
        _bm25_scores(spark, sf_dir, weights)
        .orderBy(F.desc("raw"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("raw", 4).alias("score"))
    )


def q_bm25_sorted(
    spark, sf_dir, query: str, sort_by: str, k: int = 20
) -> DataFrame:
    """SearchRequestDTO sortBy semantics (SearchRequestDTO.java:19
    declares relevance|date|pagerank; SearchControllerV2.java:46 plumbs
    it to the repository, whose Spring Data findAll never applies it —
    SURVEY §2.1 S6): documents matching ANY query term, ordered by the
    sort key desc (docid asc tiebreak) instead of score, each hit
    still carrying its BM25 score (the DTO returns score per result).
    The synthetic corpus has no dates or link graph, so the keys are
    deterministic pure functions of docid (ops/ranking.pub_day_col /
    hash_rank_col) — exact integer math both engines compute
    identically, which lets this entry hash-gate the sort-retrieval
    machinery (match set -> key -> top-k -> score join) itself."""
    from search_engine_spark.ops.ranking import hash_rank_col, pub_day_col

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame(
            [], "docid long, sort_key double, score double"
        )
    p = documents_postings(spark, sf_dir).filter(F.col("term").isin(terms))
    cand = p.select("docid").distinct()
    keyf = pub_day_col if sort_by == "date" else hash_rank_col
    top = (
        cand.withColumn("sort_key", keyf(F.col("docid")).cast("double"))
        .orderBy(F.desc("sort_key"), F.asc("docid"))
        .limit(k)
    )
    scored = _bm25_scores(spark, sf_dir, {t: 1.0 for t in terms})
    return (
        top.join(scored, "docid")
        .select("docid", "sort_key", F.round("raw", 4).alias("score"))
        .orderBy(F.desc("sort_key"), F.asc("docid"))
    )


def _bm25_over_expansions(
    spark, sf_dir, exp: DataFrame, k: int, per_query: bool
) -> DataFrame:
    """BM25 scoring_boolean over an expansion table (term, boost, df
    [, qi]).  Each expansion row is an independent clause:
    contribution = boost * idf(term) * tfn — summed per docid (the ES
    bool.should).  With ``per_query`` the same vocabulary term
    matched by two query terms contributes once per (qi, term) pair.
    """
    p = documents_postings(spark, sf_dir)
    tl = documents_tokenized(spark, sf_dir)
    stats = tl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )
    cols = ["qi", "term", "boost", "df"] if per_query else ["term", "boost", "df"]
    tfd = F.col("tf").cast("double")
    scored = (
        p.join(F.broadcast(exp.select(*cols)), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_c",
            F.col("boost")
            * F.log1p((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (
                tfd * (BM25_K1 + 1.0)
                / (
                    tfd
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("doclen") / F.col("avgdl"))
                )
            ),
        )
        .groupBy("docid")
        .agg(F.sum("_c").alias("raw"))
    )
    return (
        scored.orderBy(F.desc("raw"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("raw", 4).alias("score"))
    )


def q_bm25_fuzzy(
    spark,
    sf_dir,
    query: str,
    k: int = 10,
    max_edits: int = 1,
    max_expansions: int = 50,
) -> DataFrame:
    """ES `match` with fuzziness: every vocabulary term within
    Levenshtein <= max_edits of a query term becomes a BM25 clause at
    the Lucene FuzzyTermsEnum boost 1 - d/min(|q|,|t|); capped at
    max_expansions per query term, highest-df first (TopTermsRewrite).
    Semantics frozen in query/fuzzy.py; DuckDB twin
    sqlgen.bm25_fuzzy_sql."""
    from search_engine_spark.query.fuzzy import fuzzy_expansions

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    vocab = (
        documents_postings(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    exp = fuzzy_expansions(vocab, terms, max_edits, max_expansions)
    return _bm25_over_expansions(spark, sf_dir, exp, k, per_query=True)


def q_bm25_prefix(
    spark, sf_dir, prefix: str, k: int = 10, max_expansions: int = 50
) -> DataFrame:
    """ES `prefix` query under the scoring_boolean rewrite: every
    vocabulary term starting with the prefix becomes a weight-1.0
    BM25 clause, capped at max_expansions highest-df terms.  DuckDB
    twin sqlgen.bm25_prefix_sql."""
    from search_engine_spark.query.fuzzy import prefix_expansions

    vocab = (
        documents_postings(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    exp = prefix_expansions(vocab, prefix, max_expansions)
    return _bm25_over_expansions(spark, sf_dir, exp, k, per_query=False)


# Contract "title" analog for the driver's documents table (which has
# no path): the first line of the text.  Same expression in the DuckDB
# oracle (sqlgen.TITLE_EXPR_SQL).
TITLE_EXPR = "split_part(text, chr(10), 1)"

_WAND_CFG = dict(slab_size=512, term_buckets=4, block_size=64)


def _wand_index(spark, sf_dir):
    """Build (once per session+sf_dir) the real compressed index over
    the sha-deduped documents corpus: content segments plus title
    segments (title = first line, tokens under TITLE_PREFIX, encoded
    with the title field's own avgdl)."""
    from search_engine_spark.config import TITLE_PREFIX, EngineConfig
    from search_engine_spark.indexer.segments import build_segments

    key = (id(spark), sf_dir, "wand_idx")
    if key not in _CACHE:
        from pyspark.sql import Window

        cfg = EngineConfig(**_WAND_CFG)
        d = load(spark, sf_dir, "documents")
        w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
        surv = (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                tokens_col("text").alias("toks"),
                tokens_col(F.expr(TITLE_EXPR)).alias("ttoks"),
            )
            .withColumn("doclen", F.size("toks"))
            .withColumn("tlen", F.size("ttoks"))
        )
        postings = (
            surv.select("docid", "doclen", F.explode("toks").alias("term"))
            .groupBy("term", "docid", "doclen")
            .agg(F.count("*").cast("int").alias("tf"))
        )
        tpostings = (
            surv.select(
                "docid",
                F.col("tlen").alias("doclen"),
                F.explode("ttoks").alias("t"),
            )
            .select(
                F.concat(F.lit(TITLE_PREFIX), F.col("t")).alias("term"),
                "docid",
                "doclen",
            )
            .groupBy("term", "docid", "doclen")
            .agg(F.count("*").cast("int").alias("tf"))
        )
        stats = surv.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.avg("doclen").alias("avgdl"),
            F.avg("tlen").alias("avgdl_title"),
        ).collect()[0]
        n_docs, avgdl = int(stats[0]), float(stats[1])
        avgdl_title = float(stats[2])
        segments = (
            build_segments(postings, cfg, avgdl)
            .unionByName(build_segments(tpostings, cfg, avgdl_title))
            .cache()
        )
        segments.count()
        dfs = (
            postings.groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
            .unionByName(
                tpostings.groupBy("term").agg(
                    F.count("*").cast("long").alias("df")
                )
            )
            .cache()
        )
        _CACHE[key] = (segments, dfs, n_docs, avgdl, avgdl_title)
    return _CACHE[key]


def _wand_stats(spark, sf_dir):
    """Field statistics of the in-memory index: each field is encoded
    with its own avgdl, so block-max bounds need no scaling."""
    _segments, _dfs, _n, avgdl, avgdl_title = _wand_index(spark, sf_dir)
    return (avgdl, 1.0), (avgdl_title, 1.0)


def _wand_plan_segments(spark, sf_dir, plan) -> DataFrame:
    """The plan's segment rows joined to its idf table — the engine's
    Spark executor join (query/plan.plan_idf_table) over the
    in-memory index."""
    from search_engine_spark.query.plan import plan_idf_table

    segments, dfs, n_docs, _avgdl, _avgdl_t = _wand_index(spark, sf_dir)
    idfs = plan_idf_table(spark, dfs, {None: plan}, n_docs)
    return (
        segments.filter(F.col("term").isin(sorted({r[0] for r in plan.rows})))
        .select("slab", "term", "postings", "skips", "block_max")
        .join(F.broadcast(idfs), "term")
    )


def _wand_topk(seg: DataFrame, plan, k: int, pr=None, **kw) -> DataFrame:
    """Per-slab top-k of ``seg`` through the engine's scorer factory,
    then the global (score desc, docid asc) cut.  ``pr`` (docid, pr,
    slab) cogroups the function_score boost; ``kw`` carries the
    scorer's ``after`` / ``n_filter_groups``."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.query.advanced import PAGERANK_FACTOR
    from search_engine_spark.query.wand import TOPK_SCHEMA, make_slab_scorer

    cfg = EngineConfig(**_WAND_CFG)
    scorer = make_slab_scorer(
        cfg.slab_size, cfg.block_size, k, cfg.k1, cfg.b,
        {None: (plan.n_required, plan.dis_max)},
        pagerank=None if pr is None else (PAGERANK_FACTOR, 0.0), **kw,
    )
    g = seg.groupBy("slab")
    per = (
        g.applyInPandas(scorer, schema=TOPK_SCHEMA) if pr is None
        else g.cogroup(pr.groupBy("slab")).applyInPandas(
            scorer, schema=TOPK_SCHEMA
        )
    )
    return per.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def _rounded(df: DataFrame) -> DataFrame:
    return df.select("docid", F.round("score", 4).alias("score"))


def q_bm25_wand(
    spark, sf_dir, query: str, k: int = 10, mode: str = "or",
    msm: int = 0,
) -> DataFrame:
    """BM25 top-k through the REAL index path: sha-dedup -> postings ->
    compressed segments (delta+varint+block-max) -> per-slab WAND ->
    global top-k.  Must agree with the dedup-aware SQL oracle.
    ``mode="and"`` is conjunctive (ES bool.must / SURVEY J4);
    ``msm`` is ES minimum_should_match (docs matching at least msm
    distinct terms; the kernel's n_required m-of-n counting)."""
    from search_engine_spark.query.plan import plain_plan

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    plan = plain_plan(
        {t: 1.0 for t in terms}, _wand_stats(spark, sf_dir),
        len(terms) if mode == "and" else int(msm),
    )
    return _rounded(
        _wand_topk(_wand_plan_segments(spark, sf_dir, plan), plan, k)
    )


def q_bm25_and(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """Conjunctive (bool.must) BM25 through the real index path."""
    return q_bm25_wand(spark, sf_dir, query, k, mode="and")


def q_bm25_msm(spark, sf_dir, query: str, m: int, k: int = 10) -> DataFrame:
    """ES minimum_should_match through the real index path: docs
    matching at least ``m`` distinct query terms, BM25-scored — the
    m-of-n middle ground between OR and bool.must, via the kernel's
    n_required counting (engine.search(min_should_match=m))."""
    return q_bm25_wand(spark, sf_dir, query, k, msm=m)


def q_bm25_not(
    spark, sf_dir, query: str, exclude: str, k: int = 10
) -> DataFrame:
    """Exclusion (ES bool {should, must_not}) BM25 through the real
    index path: disjunctive WAND over the scored terms, minus every
    document containing ANY excluded term.  The exclusion terms'
    compressed chunks join the SAME per-slab groups as the scored
    terms with a NULL idf marker (make_slab_scorer decodes them into
    a slab-local exclusion set) — must_not costs one extra pruned
    segment scan and NO extra shuffle, and excluded docs are dropped
    before the running top-k so WAND pruning stays exact.  Reference:
    the ES adapter issues bool queries (SURVEY J4's family); must_not
    is the standard third clause."""
    from search_engine_spark.query.plan import plain_plan

    terms = tokenize_query(query)
    nterms = tokenize_query(exclude)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    segments = _wand_index(spark, sf_dir)[0]
    plan = plain_plan({t: 1.0 for t in terms}, _wand_stats(spark, sf_dir))
    neg = segments.filter(F.col("term").isin(nterms)).select(
        "slab", "term", "postings", "skips", "block_max"
    )
    seg = _wand_plan_segments(spark, sf_dir, plan).unionByName(
        neg, allowMissingColumns=True
    )
    return _rounded(_wand_topk(seg, plan, k))


def q_bm25_fuzzy_wand(
    spark,
    sf_dir,
    query: str,
    k: int = 10,
    max_edits: int = 1,
    max_expansions: int = 50,
) -> DataFrame:
    """Fuzzy retrieval through the REAL index path (the engine's
    search_fuzzy shape): expansions resolved against the index's df
    table (content namespace of the sha-deduped corpus), merged
    boosts folded into idf — the WAND kernel consumes the product, so
    pruning bounds stay exact.  Oracle: sqlgen.bm25_fuzzy_sql(dedup=
    True), which recomputes the same expansion over the deduped
    vocabulary in SQL."""
    from search_engine_spark.config import TITLE_PREFIX
    from search_engine_spark.query.fuzzy import fuzzy_expansions
    from search_engine_spark.query.plan import plain_plan

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    dfs = _wand_index(spark, sf_dir)[1]
    vocab = dfs.filter(
        ~F.col("term").startswith(TITLE_PREFIX)
    ).select("term", "df")
    exp = fuzzy_expansions(vocab, terms, max_edits, max_expansions)
    rows = sorted(
        (int(r["qi"]), r["term"], float(r["boost"]))
        for r in exp.select("qi", "term", "boost").collect()
    )
    weights: dict[str, float] = {}
    for _qi, t, b in rows:
        weights[t] = weights.get(t, 0.0) + b
    if not weights:
        return spark.createDataFrame([], "docid long, score double")
    plan = plain_plan(weights, _wand_stats(spark, sf_dir))
    return _rounded(
        _wand_topk(_wand_plan_segments(spark, sf_dir, plan), plan, k)
    )


def q_bm25_fields(
    spark, sf_dir, query: str, k: int = 10, expand: bool = False
) -> DataFrame:
    """Field-weighted BM25 (title^3/content^1; synonyms title^2/
    content^0.8 when ``expand``) through the real index path, with
    per-field df/avgdl/block-max stats.  DuckDB twin:
    sqlgen.bm25_fields_sql."""
    from search_engine_spark.query.plan import fields_plan

    plan = fields_plan(query, _wand_stats(spark, sf_dir), expand)
    if not plan.rows:
        return spark.createDataFrame([], "docid long, score double")
    return _rounded(
        _wand_topk(_wand_plan_segments(spark, sf_dir, plan), plan, k)
    )


# Deterministic per-doc pagerank fixture for the composed query's
# function_score stage: a [0,1] value from the docid alone, so the
# DuckDB twin reproduces it exactly.  {c} is the docid column name.
PR_EXPR_TMPL = "(CAST({c} % 97 AS DOUBLE) / 96.0)"


def q_bm25_full(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """The reference's COMPLETE composed query (AdvancedSearchService,
    docs/features/query-expansion-nlp.md:246-300) through the real
    index path: corrected originals as one BEST_FIELDS clause
    (title^3/content^1, max over fields), per-synonym clauses
    (title^2/content^0.8, max over fields), TUTORIAL intent content
    clause, entity content clauses, summed across clauses, then
    function_score MULTIPLY log1p(2 * pagerank) applied INSIDE the
    per-slab WAND stage (per-block boost maxima keep pruning exact).
    DuckDB twin: sqlgen.bm25_full_sql."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.query.plan import composed_plan

    plan = composed_plan(query, _wand_stats(spark, sf_dir))
    if not plan.rows:
        return spark.createDataFrame([], "docid long, score double")
    slab_size = EngineConfig(**_WAND_CFG).slab_size
    pr = (
        load(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("docid"))
        .withColumn("pr", F.expr(PR_EXPR_TMPL.format(c="docid")))
        .withColumn("slab", (F.col("docid") / slab_size).cast("int"))
    )
    seg = _wand_plan_segments(spark, sf_dir, plan)
    return _rounded(_wand_topk(seg, plan, k, pr=pr))


def q_highlight(spark, sf_dir, query: str, limit: int = 100) -> DataFrame:
    """Query-term-centered snippet with <mark> tags (reference
    HighlightBuilder semantics), as a pure column expression."""
    from search_engine_spark.query.highlight import highlight_snippet_col

    terms = tokenize_query(query)
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("doc_id").cast("long").alias("docid"),
            highlight_snippet_col("text", terms).alias("snippet"),
        )
        .orderBy("docid")
        .limit(limit)
    )


def q_exact_dedup(spark, sf_dir) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_sha256"))
        .agg(F.min("doc_id").cast("long").alias("docid"))
        .select("docid", "content_sha256")
        .orderBy("docid")
    )


def q_snippet(spark, sf_dir, limit: int = 100) -> DataFrame:
    from search_engine_spark.query.highlight import plain_snippet_col

    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.col("doc_id").cast("long").alias("docid"),
                 plain_snippet_col("text").alias("snippet"))
        .orderBy("docid")
        .limit(limit)
    )


def q_quality_score(spark, sf_dir) -> DataFrame:
    """F13 quality score (TextProcessingService.java:131-163)."""
    tl = documents_tokenized(spark, sf_dir)
    doclen_d = F.col("doclen").cast("double")
    uniq_ratio = F.when(F.col("doclen") == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct("toks")) / doclen_d
    )
    sum_wlen = F.expr(
        "aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x)"
    )
    avg_wlen = F.when(F.col("doclen") == 0, F.lit(0.0)).otherwise(
        sum_wlen.cast("double") / doclen_d
    )
    quality = (
        0.3 * F.least(F.length("text") / 5000.0, F.lit(1.0))
        + 0.2 * F.least(doclen_d / 800.0, F.lit(1.0))
        + 0.3 * uniq_ratio
        + 0.2 * F.least(avg_wlen / 6.0, F.lit(1.0))
    )
    # round via the SAME float formula in both dialects: Spark's
    # F.round works on the double's decimal expansion while DuckDB
    # multiplies in float64, and a quality landing on a .5 boundary at
    # 5 dp (2 docs at sf0.1) rounds differently.  floor(x*1e5 + 0.5)
    # is identical float64 math in both engines (quality >= 0 always).
    return (
        tl.select("docid", "text", "toks", "doclen")
        .select(
            "docid",
            (F.floor(quality * 100000.0 + 0.5) / 100000.0).alias("quality"),
        )
        .orderBy("docid")
    )


# --- Round-4 additions: pagination / cache / blend contract twins ----------

def q_bm25_page(
    spark, sf_dir, query: str, page: int = 1, size: int = 10
) -> DataFrame:
    """W2 pagination (ES from/size, engine.search_page semantics)
    through the real index path: global top-((page+1)*size), then the
    rank window (page*size, (page+1)*size].  DuckDB twin: the dedup
    BM25 top-k wrapped in a row_number() window — LIMIT/OFFSET over
    the same (score DESC, docid) total order.  Rank is computed on the
    ROUNDED score in both dialects so the window edge cannot sit on a
    sub-rounding difference."""
    from pyspark.sql import Window

    top = q_bm25_wand(spark, sf_dir, query, k=(page + 1) * size)
    w = Window.orderBy(F.desc("score"), F.asc("docid"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") > page * size)
        .select("docid", "score", "rank")
        .orderBy("rank")
    )


def q_bm25_after(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """ES ``search_after`` keyset pagination through the REAL index
    path: page 1's kth hit (FULL-precision score, docid) becomes the
    cursor, and a second scorer pass admits only documents strictly
    after it in (score desc, docid asc) order — the admission filter
    runs INSIDE the per-slab WAND kernel (query/wand._after_mask)
    before candidates enter the running top-k, so this entry gates the
    kernel cursor machinery itself, not a driver-side OFFSET.  Unlike
    from/size (bm25_page2), page N never materializes pages 1..N-1 —
    the deep-pagination shape that survives 100 TB.  DuckDB twin:
    rank rows k+1..2k of the dedup BM25 ordering (rounding is monotone,
    so an untied rounded boundary pins the full-precision boundary).
    Reference: the ES adapter pages via Pagination from/size
    (Pagination.java:16-27); search_after is the ES-documented
    replacement for deep pages, an extension here."""
    from search_engine_spark.query.plan import plain_plan

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    plan = plain_plan({t: 1.0 for t in terms}, _wand_stats(spark, sf_dir))
    seg = _wand_plan_segments(spark, sf_dir, plan)

    def topk(after):
        return _wand_topk(seg, plan, k, after=after)

    page1 = topk(None).collect()  # k rows — the scalar cursor source
    if len(page1) < k:
        return spark.createDataFrame([], "docid long, score double")
    cursor = (float(page1[-1]["score"]), int(page1[-1]["docid"]))
    return _rounded(topk(cursor))


def q_bm25_deleted(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """Tombstone-delete semantics (engine.delete / the Lucene
    deleted-docs rule) in contract shape: ranks 1, 3 and 5 of the base
    ranking become the tombstone set, and the masked top-k must equal
    the base ranking with exactly those documents removed — scores
    UNCHANGED, because corpus statistics stay pre-delete until a
    purging compaction.  The Spark side uses the engine's over-fetch
    discipline (kernel top-(k + |tombstones|) per slab, then
    anti-filter, then cut to k — engine._drop_tombstones exactness
    argument); the DuckDB twin deletes the same ranks from its own
    ranking, so the compare gates the masked-ranking invariant
    itself."""
    from search_engine_spark.query.plan import plain_plan

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    plan = plain_plan({t: 1.0 for t in terms}, _wand_stats(spark, sf_dir))
    seg = _wand_plan_segments(spark, sf_dir, plan)

    def topk(kk):
        return _wand_topk(seg, plan, kk)

    base = topk(6).collect()
    victims = [int(base[i]["docid"]) for i in (0, 2, 4) if i < len(base)]
    tombdf = spark.createDataFrame([(d,) for d in victims], "docid long")
    return (
        topk(k + len(victims))
        .join(F.broadcast(tombdf), "docid", "left_anti")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("score", 4).alias("score"))
    )


def q_bm25_facets(
    spark, sf_dir, query: str, field: str = "source", size: int = 10
) -> DataFrame:
    """ES terms-aggregation over the match set (engine.facet_counts
    semantics): docs matching ANY query term, counted per ``field``
    value, top ``size`` buckets by (count desc, value asc).  Pure
    integer counting — both engines agree exactly."""
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], f"{field} string, cnt long")
    p = documents_postings(spark, sf_dir).filter(F.col("term").isin(terms))
    cand = p.select("docid").distinct()
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("docid"), field
    )
    return (
        cand.join(docs, "docid")
        .groupBy(field)
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(field))
        .limit(size)
    )


def q_more_like_this(
    spark, sf_dir, docid: int, k: int = 10, max_terms: int = 25
) -> DataFrame:
    """ES more_like_this (engine.more_like_this semantics): the source
    document's terms ranked by tf·idf (tie: term asc), top
    ``max_terms`` become plain should-clauses, BM25-scored over the
    corpus with the source document excluded.  The DuckDB twin
    computes the SAME selection in SQL, so the contract gates the
    term-selection rule as well as the scoring."""
    import math as _math

    tl = documents_tokenized(spark, sf_dir)
    p = documents_postings(spark, sf_dir)
    src = {
        r["term"]: int(r["tf"])
        for r in p.filter(F.col("docid") == int(docid))
        .select("term", "tf")
        .collect()
    }
    if not src:
        return spark.createDataFrame([], "docid long, score double")
    stats = tl.agg(
        F.count("*").cast("double").alias("n"),
    ).collect()[0]
    n = float(stats["n"])
    dfs = {
        r["term"]: float(r["df"])
        for r in p.filter(F.col("term").isin(list(src)))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .collect()
    }
    scored = [
        (src[t] * _math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)), t)
        for t in src
    ]
    scored.sort(key=lambda x: (-x[0], x[1]))
    weights = {t: 1.0 for _, t in scored[:max_terms]}
    return (
        _bm25_scores(spark, sf_dir, weights)
        .filter(F.col("docid") != int(docid))
        .orderBy(F.desc("raw"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("raw", 4).alias("score"))
    )


def q_bm25_explain(spark, sf_dir, query: str, docid: int) -> DataFrame:
    """ES ``explain`` API (engine.explain semantics): per-term score
    breakdown for one (query, document) pair — (term, tf, df, idf,
    tfn, contribution), contributions summing to the doc's BM25
    score.  Transcendental columns round to 6 dp (the BM25 contract
    discipline); tf/df are exact integers."""
    terms = tokenize_query(query)
    empty = (
        "term string, tf int, df long, idf double, tfn double, "
        "contrib double"
    )
    if not terms:
        return spark.createDataFrame([], empty)
    p = documents_postings(spark, sf_dir).filter(F.col("term").isin(terms))
    tl = documents_tokenized(spark, sf_dir)
    stats = tl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )
    dfs = p.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    tfd = F.col("tf").cast("double")
    idf = F.log1p(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = tfd * (BM25_K1 + 1.0) / (
        tfd
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("doclen") / F.col("avgdl"))
    )
    return (
        p.filter(F.col("docid") == int(docid))
        .join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", idf)
        .withColumn("tfn", tfn)
        .withColumn("contrib", F.col("idf") * F.col("tfn"))
        .select(
            "term",
            F.col("tf").cast("int").alias("tf"),
            "df",
            F.round("idf", 6).alias("idf"),
            F.round("tfn", 6).alias("tfn"),
            F.round("contrib", 6).alias("contrib"),
        )
        .orderBy(F.desc("contrib"), F.asc("term"))
    )


def q_bm25_filtered(
    spark, sf_dir, query: str, field: str, value: str, k: int = 10
) -> DataFrame:
    """ES bool.filter semantics (engine.search(filter=...) — the
    fourth bool clause, non-scoring context): BM25 over docs matching
    ANY query term, restricted to rows whose ``field`` equals
    ``value``; scores identical to the unfiltered ranking (filter
    context never scores)."""
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    adm = (
        load(spark, sf_dir, "documents")
        .filter(F.col(field) == value)
        .select(F.col("doc_id").cast("long").alias("docid"))
    )
    return (
        _bm25_scores(spark, sf_dir, {t: 1.0 for t in terms})
        .join(adm, "docid", "left_semi")
        .orderBy(F.desc("raw"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("raw", 4).alias("score"))
    )


def _range_admissible(spark, sf_dir, day_from, day_to, min_quality):
    """(docid) rows passing the SearchRequestDTO range params
    (dateFrom/dateTo/minContentQuality): synthetic publish day =
    (doc_id*16807) % 2557 (the sortBy "date" key), quality = the
    shared rounded F13 formula — both engines compare the identical
    float64, so a doc ON a range boundary lands the same side in
    Spark and DuckDB."""
    from search_engine_spark.ops.ranking import pub_day_col

    if min_quality is not None:
        adm = q_quality_score(spark, sf_dir).filter(
            F.col("quality") >= float(min_quality)
        )
    else:
        # day-only ranges never need the (full-corpus tokenization)
        # quality computation — the day is a pure function of docid
        adm = load(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("docid")
        )
    adm = adm.withColumn("day", pub_day_col(F.col("docid")).cast("double"))
    if day_from is not None:
        adm = adm.filter(F.col("day") >= float(day_from))
    if day_to is not None:
        adm = adm.filter(F.col("day") <= float(day_to))
    return adm.select("docid")


def q_bm25_range(
    spark,
    sf_dir,
    query: str,
    day_from: int | None = None,
    day_to: int | None = None,
    min_quality: float | None = None,
    k: int = 10,
) -> DataFrame:
    """SearchRequestDTO numeric range filters (engine.search(
    date_from=, date_to=, min_quality=) — SearchRequestDTO.java:22-24;
    the reference plumbs the params without applying them, so the
    declared semantics are implemented, the sortBy precedent): BM25
    over docs matching ANY query term, restricted to the publish-day
    window and the minimum content quality; scores identical to the
    unfiltered ranking (filter context never scores)."""
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    adm = _range_admissible(spark, sf_dir, day_from, day_to, min_quality)
    return (
        _bm25_scores(spark, sf_dir, {t: 1.0 for t in terms})
        .join(adm, "docid", "left_semi")
        .orderBy(F.desc("raw"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("raw", 4).alias("score"))
    )


def q_bm25_range_wand(
    spark,
    sf_dir,
    query: str,
    day_from: int | None = None,
    day_to: int | None = None,
    min_quality: float | None = None,
    k: int = 10,
) -> DataFrame:
    """Range filters through the REAL kernel admission machinery: the
    compressed index's per-slab WAND with a doc-values admission group
    (engine.pack_admission_rows -> RAW_INC_TERM raw-int64 rows ->
    make_slab_scorer n_filter_groups=1) — the same dataflow
    engine.search(date_from=..., min_quality=...) executes, so the
    oracle gates the raw-admission kernel branch itself."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.engine import pack_admission_rows
    from search_engine_spark.query.plan import plain_plan

    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    plan = plain_plan({t: 1.0 for t in terms}, _wand_stats(spark, sf_dir))
    adm = _range_admissible(spark, sf_dir, day_from, day_to, min_quality)
    rseg = pack_admission_rows(adm, EngineConfig(**_WAND_CFG).slab_size, 0)
    seg = _wand_plan_segments(spark, sf_dir, plan).unionByName(
        rseg, allowMissingColumns=True
    )
    return _rounded(_wand_topk(seg, plan, k, n_filter_groups=1))


def q_search_response(
    spark, sf_dir, query: str, page: int = 1, size: int = 10
) -> DataFrame:
    """The SearchDocumentsUseCase response assembly
    (usecase.py / SearchDocumentsUseCase.java:45-102) as one
    contract-gated DataFrame: page ``page`` of the BM25 ranking
    decorated with the SearchResultDTO projection — url (source),
    snippet (F11), language, crawledAt (the synthetic publish-day ISO
    date, consistent with sortBy="date" and dateFrom/dateTo).  Gates
    the pagination math + DTO mapping end-to-end; the cache/count
    halves are gated by cached_search and the pytest suite."""
    from search_engine_spark.ops.ranking import pub_day_col
    from search_engine_spark.query.highlight import plain_snippet_col

    terms = tokenize_query(query)
    empty = (
        "rank int, docid long, url string, snippet string, "
        "score double, language string, crawled_at string"
    )
    if not terms:
        return spark.createDataFrame([], empty)
    from pyspark.sql import Window

    ranked = (
        _bm25_scores(spark, sf_dir, {t: 1.0 for t in terms})
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("raw"), F.asc("docid"))
            ),
        )
        .filter(
            (F.col("rank") > page * size)
            & (F.col("rank") <= (page + 1) * size)
        )
    )
    d = load(spark, sf_dir, "documents")
    meta = d.select(
        F.col("doc_id").cast("long").alias("docid"),
        F.col("source").alias("url"),
        plain_snippet_col("text").alias("snippet"),
        F.col("lang").alias("language"),
        F.date_format(
            F.date_add(
                F.lit("2018-01-01").cast("date"),
                pub_day_col(F.col("doc_id")).cast("int"),
            ),
            "yyyy-MM-dd",
        ).alias("crawled_at"),
    )
    return (
        ranked.join(meta, "docid")
        .select(
            F.col("rank").cast("int"),
            "docid",
            "url",
            "snippet",
            F.round("raw", 4).alias("score"),
            "language",
            "crawled_at",
        )
        .orderBy("rank")
    )


def q_bpe_merges(spark, sf_dir, n_merges: int = 12) -> DataFrame:
    """Distributed BPE tokenizer training (ops/bpe.py — the subword
    vocabulary learner of LLM pipelines): the first ``n_merges``
    learned merges (rank, left, right, cnt) over the documents
    corpus.  The DuckDB twin replays the identical algorithm as
    chained CTE stages (pair counts -> argmax -> literal-replace
    merge per round), so the gate covers the full training loop —
    pair counting, the (count desc, pair asc) tie-break AND the
    leftmost-nonoverlapping merge application."""
    from search_engine_spark.ops.bpe import bpe_train, merges_df

    docs = load(spark, sf_dir, "documents")
    merges, words = bpe_train(spark, docs, n_merges, text_col="text")
    words.unpersist()
    return merges_df(spark, merges)


def q_cached_search(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """S8 result cache, contract-visible: the returned rows come OUT of
    a SearchCache hit (verbatim reference key format
    ``search:{q}:{page}:{size}:{sort}``), so cache put/get fidelity is
    what the oracle compare actually checks.  Cold-miss, TTL-expiry
    and hit/miss counter semantics are asserted inline — any cache
    regression turns this contract row red, not just a pytest."""
    from search_engine_spark.cache import SearchCache, search_key

    cache = SearchCache(max_entries=8, default_ttl_sec=300.0)
    key = search_key(query, 0, k)
    if cache.get(key) is not None:
        raise RuntimeError("cache returned a value before any put")
    rows = tuple(
        (int(r["docid"]), float(r["score"]))
        for r in q_bm25_wand(spark, sf_dir, query, k).collect()
    )
    cache.put(key, rows)
    cache.put(key + ":expired", rows, ttl_sec=0.0)
    if cache.get(key + ":expired") is not None:
        raise RuntimeError("expired entry served")
    hit = cache.get(key)
    if hit is None:
        raise RuntimeError("warm get missed")
    if (cache.hits, cache.misses) != (1, 2):  # cold + expired = 2 misses
        raise RuntimeError(f"counter drift: {cache.hits}/{cache.misses}")
    return spark.createDataFrame(list(hit), "docid long, score double")


RANKED_CANDIDATES = 40


def q_ranked_blend(spark, sf_dir, query: str, k: int = 10) -> DataFrame:
    """The ML-ranked serving path (engine.search_ranked) as one
    composed contract query: BM25 candidates (real index path, top-40)
    -> min-max bm25norm -> F13 quality -> X9 linear blend clamped to
    [0,1] -> W5 per-source diversification (max 2) -> W6 top-k sort.
    PageRank/CTR/freshness enter at weight 0 exactly like the engine's
    default (no click logs or crawl timestamps in the corpus schema;
    X7 pagerank boosting is contract-gated separately in bm25_full_*).
    ml_score is rounded through the shared float formula in both
    dialects (the quality_score b95a41a pattern)."""
    from pyspark.sql import Window

    from search_engine_spark.ops.ranking import BLEND_WEIGHTS

    cand = q_bm25_wand(spark, sf_dir, query, k=RANKED_CANDIDATES)
    src = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("docid"), "source"
    )
    qual = q_quality_score(spark, sf_dir)
    mx = cand.agg(F.max("score").alias("_mx"))
    j = (
        cand.join(src, "docid")
        .join(qual, "docid")
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "bm25norm",
            F.when(
                F.col("_mx") > 0, F.col("score") / F.col("_mx")
            ).otherwise(F.lit(0.0)),
        )
    )
    blend = (
        BLEND_WEIGHTS["bm25"] * F.col("bm25norm")
        + BLEND_WEIGHTS["quality"] * F.col("quality")
    )
    clamped = F.least(F.greatest(blend, F.lit(0.0)), F.lit(1.0))
    m = j.withColumn(
        "ml_score", F.floor(clamped * 100000.0 + 0.5) / 100000.0
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("ml_score"), F.asc("docid")
    )
    return (
        m.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .orderBy(F.desc("ml_score"), F.asc("docid"))
        .limit(k)
        .select("docid", "source", "score", "quality", "ml_score")
    )


def q_bm25_phrase(spark, sf_dir, phrase: str, k: int = 10) -> DataFrame:
    """ES match_phrase analog, scan form (query/phrase.py): exact
    adjacent-run tf over the cached token arrays, scored as one BM25
    pseudo-term.  Token ORDER matters (py_tokenize, not the
    set-dedup'ing tokenize_query)."""
    from search_engine_spark.query import phrase as PH
    from search_engine_spark.tokenizer import py_tokenize

    terms = py_tokenize(" ".join(phrase.strip().split())[:500])
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    tl = documents_tokenized(spark, sf_dir)
    return PH.phrase_topk(PH.phrase_matches_scan(tl, terms), tl, k)


def q_bm25_phrase_indexed(spark, sf_dir, phrase: str, k: int = 10) -> DataFrame:
    """match_phrase through the POSITIONAL form: per-(term, docid)
    sorted position lists (Lucene's .pos stream shape), n-way docid
    equi-join folding array_intersect over offset-shifted lists.
    Result identical to the scan form by construction — shares its
    DuckDB oracle, so the contract gates the positional machinery
    itself."""
    from search_engine_spark.query import phrase as PH
    from search_engine_spark.tokenizer import py_tokenize

    terms = py_tokenize(" ".join(phrase.strip().split())[:500])
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    tl = documents_tokenized(spark, sf_dir)
    plists = PH.positional_postings(tl, terms)
    return PH.phrase_topk(PH.phrase_matches_positional(plists, terms), tl, k)


def q_bm25_near(
    spark, sf_dir, phrase: str, slop: int, k: int = 10
) -> DataFrame:
    """In-order proximity retrieval (Lucene SpanNearQuery
    inOrder=true analog; see query/phrase.near_tf_col for the exact
    greedy-chain semantics and the documented divergence from ES
    match_phrase slop's unordered form), scan form: ptf = number of
    valid chain starts, scored as one BM25 pseudo-term like the
    exact-phrase entries.  slop=0 equals q_bm25_phrase (pinned in
    pytest)."""
    from search_engine_spark.query import phrase as PH
    from search_engine_spark.tokenizer import py_tokenize

    terms = py_tokenize(" ".join(phrase.strip().split())[:500])
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    tl = documents_tokenized(spark, sf_dir)
    return PH.phrase_topk(PH.near_matches_scan(tl, terms, slop), tl, k)

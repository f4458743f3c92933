"""SearchRequestDTO sortBy semantics (engine.search_sorted /
search_local_sorted / contract.q_bm25_sorted): brute-force oracle
pins for date and pagerank keys, Spark-vs-serving identity with and
without filters, explicit rank-table joins with missing-doc zeros,
the relevance passthrough, and the numpy twins of the synthetic
keys.

Reference: SearchRequestDTO.java:19 declares sortBy in
{relevance, date, pagerank}; SearchControllerV2.java:46 plumbs it to
the repository whose Spring Data findAll never applies it (SURVEY
§2.1 S6) — these are the declared semantics, implemented.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df, corpus_pandas
from search_engine_spark.engine import SearchEngine
from search_engine_spark.indexer.build import build_index
from search_engine_spark.ops.ranking import (
    PUBLISH_RANGE_DAYS,
    RANK_MOD,
    hash_rank_col,
    hash_rank_np,
    pub_day_col,
    pub_day_np,
)
from tests.oracle import OracleIndex

N_DOCS = 500
CFG = EngineConfig(slab_size=256, term_buckets=8, block_size=32)

QUERIES = ["query parse buffer", "crawl rank", "config"]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sortidx"))
    docs = corpus_df(spark, N_DOCS, partitions=8)
    build_index(spark, docs, d, CFG)
    return SearchEngine(spark, d)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_pandas(N_DOCS).to_dict("records"))


def _brute(oracle, q, sort_by, k, rank=None, admit=None):
    """Python reference: union of matching docs (those ``admit``
    accepts), key, top-k by (key desc, docid asc), BM25 score per
    survivor."""
    from search_engine_spark.tokenizer import tokenize_query

    terms = tokenize_query(q)
    match = set()
    for t in terms:
        match |= set(oracle.postings.get(t, {}))
    if admit is not None:
        match = {d for d in match if admit(d)}
    rows = []
    for d in match:
        if sort_by == "date":
            key = float((d * 16807) % PUBLISH_RANGE_DAYS)
        elif rank is not None:
            key = float(rank.get(d, 0.0))
        else:
            key = float((d * 2654435761) % RANK_MOD) / float(RANK_MOD)
        rows.append((d, key))
    rows.sort(key=lambda x: (-x[1], x[0]))
    out = []
    for d, key in rows[:k]:
        s = 0.0
        for t in terms:
            tf = oracle.postings.get(t, {}).get(d)
            if tf is None:
                continue
            dl = oracle.doclen[d]
            from search_engine_spark.config import BM25_B, BM25_K1

            tfn = tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / oracle.avgdl)
            )
            s += oracle.idf(t) * tfn
        out.append((d, key, s))
    return out


@pytest.mark.parametrize("q", QUERIES)
@pytest.mark.parametrize("sort_by", ["date", "pagerank"])
def test_engine_sorted_vs_brute(engine, oracle, q, sort_by):
    got = [
        (int(r["docid"]), float(r["sort_key"]), float(r["score"]))
        for r in engine.search_sorted(q, 15, sort_by=sort_by).collect()
    ]
    want = _brute(oracle, q, sort_by, 15)
    assert [(d, k) for d, k, _ in got] == [(d, k) for d, k, _ in want], q
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


@pytest.mark.parametrize("q", QUERIES)
@pytest.mark.parametrize("sort_by", ["date", "pagerank"])
def test_serving_sorted_identity(engine, q, sort_by):
    spark_rows = [
        (int(r["docid"]), float(r["sort_key"]), float(r["score"]))
        for r in engine.search_sorted(q, 15, sort_by=sort_by).collect()
    ]
    local = engine.search_local_sorted(q, 15, sort_by=sort_by)
    assert [(d, k) for d, k, _ in local] == [
        (d, k) for d, k, _ in spark_rows
    ], q
    for (_, _, a), (_, _, b) in zip(local, spark_rows):
        assert a == pytest.approx(b, rel=1e-9)


def test_explicit_rank_table(engine, oracle, spark):
    """A supplied (docid, rank) table orders the hits; docs absent
    from the table sort at 0.0 with docid tiebreak, and a ranked doc
    that does not match stays out.  The serving path takes the same
    table as a dict."""
    q = "query parse"
    match = set()
    for t in q.split():
        match |= set(oracle.postings.get(t, {}))
    some = sorted(match)[:5]
    ranks = {d: 1.0 / (i + 1) for i, d in enumerate(some)}
    ranks[min(set(range(N_DOCS)) - match)] = 2.0  # ranked, no match
    assert len(match) > len(some) + 8  # the page reaches unranked docs
    rdf = spark.createDataFrame(
        [(d, r) for d, r in ranks.items()], "docid long, rank double"
    )
    got = [
        (int(r["docid"]), float(r["sort_key"]))
        for r in engine.search_sorted(
            q, 8, sort_by="pagerank", rank=rdf
        ).collect()
    ]
    want = _brute(oracle, q, "pagerank", 8, ranks)
    assert got == [(d, k) for d, k, _ in want]
    local = engine.search_local_sorted(q, 8, sort_by="pagerank", rank=ranks)
    assert [(d, k) for d, k, _ in local] == [(d, k) for d, k, _ in want]
    assert [s for _, _, s in local] == pytest.approx(
        [s for _, _, s in want], rel=1e-9
    )


@pytest.mark.parametrize("sort_by", ["date", "pagerank"])
def test_filtered_sorted_vs_spark_and_brute(engine, oracle, sort_by):
    """search_local_sorted takes search_local's filter and range
    keywords: the same (docid, key) rows as search_sorted and as the
    brute force over the admitted match set, scores to 1e-9."""
    q = "query parse buffer"
    lang = {d["docid"]: d["lang"] for d in oracle.docmap}
    kw = dict(filter={"lang": "python"}, date_from=300, min_quality=0.3)

    def admit(d):
        return (
            lang[d] == "python" and (d * 16807) % PUBLISH_RANGE_DAYS >= 300
            and oracle.quality[d] >= 0.3
        )

    want = _brute(oracle, q, sort_by, 12, admit=admit)
    assert len(want) == 12
    spark_rows = [
        (int(r["docid"]), float(r["sort_key"]), float(r["score"]))
        for r in engine.search_sorted(q, 12, sort_by, **kw).collect()
    ]
    local = engine.search_local_sorted(q, 12, sort_by, **kw)
    for got in (spark_rows, local):
        assert [(d, k) for d, k, _ in got] == [(d, k) for d, k, _ in want]
        assert [s for _, _, s in got] == pytest.approx(
            [s for _, _, s in want], rel=1e-9
        )


def test_synthetic_key_twins(spark):
    """pub_day_np and hash_rank_np equal their Column versions."""
    ids = list(range(0, 200_000, 37)) + [2**31 - 1, 3_000_000_000]
    rows = spark.createDataFrame([(d,) for d in ids], "d long").select(
        "d", pub_day_col(F.col("d")).alias("day"),
        hash_rank_col(F.col("d")).alias("rank"),
    ).orderBy("d").collect()
    assert [r["d"] for r in rows] == ids
    assert pub_day_np(ids).tolist() == [r["day"] for r in rows]
    assert hash_rank_np(ids).tolist() == [r["rank"] for r in rows]


def test_relevance_passthrough_and_errors(engine):
    q = "query parse"
    a = [(int(r["docid"]), float(r["score"]))
         for r in engine.search_sorted(q, 10, sort_by="relevance").collect()]
    b = [(int(r["docid"]), float(r["score"]))
         for r in engine.search(q, 10).collect()]
    assert a == b
    loc = engine.search_local_sorted(q, 10, sort_by="relevance")
    assert [(d, s) for d, _, s in loc] == engine.search_local(q, 10)
    with pytest.raises(ValueError):
        engine.search_sorted(q, 10, sort_by="stars")
    with pytest.raises(ValueError):
        engine.search_local_sorted(q, 10, sort_by="stars")


def test_sort_reshapes_order(engine):
    """Guard against a silently ignored key: date order must differ
    from relevance order on a multi-term query with many matches."""
    q = "query parse buffer"
    rel = [d for d, _ in engine.search_local(q, 15)]
    dat = [d for d, _, _ in engine.search_local_sorted(q, 15, "date")]
    assert rel != dat
    keys = [k for _, k, _ in engine.search_local_sorted(q, 15, "date")]
    assert keys == sorted(keys, reverse=True)

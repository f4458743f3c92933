"""Tombstone deletes (engine.delete / indexer.build.delete_documents)
and the purging compaction: the Lucene deleted-docs lifecycle —
liveDocs-style masking now (stats stay pre-delete), physical reclaim
+ stats refresh at merge, docids never reused.

Covers: the masked-ranking invariant on every query surface (search,
serving, fields, advanced, their serving twins search_local_fields
and search_local_advanced, batch, sorted, phrase, fuzzy, search_after,
count_matches), delete-by-query, purge correctness (postings gone,
stats/df refreshed, tombstones cleared, splice upgraded to re-encode),
and the append-after-purge docid watermark.
"""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df, corpus_pandas
from search_engine_spark.engine import SearchEngine
from search_engine_spark.indexer.build import (
    append_documents,
    build_index,
    compact_index,
    delete_documents,
)
from tests.oracle import OracleIndex

N_DOCS = 600
CFG = EngineConfig(slab_size=256, term_buckets=8, block_size=32)
Q = "query parse buffer"


@pytest.fixture()
def engine(spark, tmp_path):
    d = str(tmp_path / "delidx")
    docs = corpus_df(spark, N_DOCS, partitions=8)
    build_index(spark, docs, d, CFG)
    return SearchEngine(spark, d)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_pandas(N_DOCS).to_dict("records"))


def _rows(df):
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


def _masked(pre, victims, k):
    """The deleted-docs invariant: post-delete top-k == the pre-delete
    ranking with victims removed (scores unchanged — stats stay
    pre-delete until purge)."""
    vs = set(victims)
    return [t for t in pre if t[0] not in vs][:k]


def test_masked_ranking_all_surfaces(engine):
    pre = _rows(engine.search(Q, 40))
    victims = [pre[0][0], pre[3][0], pre[7][0]]
    assert engine.delete(docids=victims) == 3
    want = _masked(pre, victims, 10)
    assert _rows(engine.search(Q, 10)) == want
    loc = engine.search_local(Q, 10)
    assert [d for d, _ in loc] == [d for d, _ in want]
    for (_, a), (_, b) in zip(loc, want):
        assert a == pytest.approx(b, rel=1e-12)
    # fields / advanced / batch exclude the same docs
    for df in (
        engine.search_fields(Q, 10),
        engine.search_advanced(Q, 10),
    ):
        assert not ({int(r["docid"]) for r in df.collect()} & set(victims))
    batch = engine.search_batch({"a": Q, "b": "crawl rank"}, 10)
    assert not (
        {int(r["docid"]) for r in batch.collect()} & set(victims)
    )
    srt = engine.search_local_sorted(Q, 20, "date")
    assert not ({d for d, _, _ in srt} & set(victims))
    # the serving twins of fields / advanced rank differently, so each
    # loses its own top hits to a second delete
    pre_f = engine.search_local_fields(Q, 40)
    pre_a = engine.search_local_advanced(Q, 40)
    more = [pre_f[0][0], pre_a[2][0]]
    engine.delete(docids=more)
    for got, pre_l in (
        (engine.search_local_fields(Q, 10), pre_f),
        (engine.search_local_advanced(Q, 10), pre_a),
    ):
        want_l = _masked(pre_l, more, 10)
        assert [d for d, _ in got] == [d for d, _ in want_l]
        for (_, a), (_, b) in zip(got, want_l):
            assert a == pytest.approx(b, rel=1e-12)


def test_delete_composes_with_after_and_not(engine):
    pre = _rows(engine.search(Q, 40))
    victims = [pre[1][0], pre[5][0]]
    engine.delete(docids=victims)
    full = _rows(engine.search(Q, 30))
    assert not (set(victims) & {d for d, _ in full})
    cur = (full[9][1], full[9][0])
    page2 = _rows(engine.search(Q, 10, after=cur))
    assert page2 == full[10:20]
    ex = _rows(engine.search(Q, 10, exclude="config"))
    assert not (set(victims) & {d for d, _ in ex})


def test_count_matches_excludes_deleted(engine, oracle):
    matching = sorted(oracle.postings.get("query", {}))
    victims = matching[:5] + [99999999]  # unknown id tolerated
    engine.delete(docids=victims)
    # single-term fast path must fall back to the decode path
    assert engine.count_matches("query") == len(matching) - 5
    multi = set()
    for t in ("query", "parse"):
        multi |= set(oracle.postings.get(t, {}))
    assert engine.count_matches("query parse") == len(multi) - 5


def test_delete_by_query_predicate(engine, spark):
    from pyspark.sql import functions as F

    n = engine.delete(where=F.col("lang") == "go")
    assert n > 0
    go_ids = {
        int(r["docid"])
        for r in engine.docmap.filter(F.col("lang") == "go")
        .select("docid")
        .collect()
    }
    assert n == len(go_ids)
    res = {d for d, _ in engine.search_local(Q, 50)}
    assert not (res & go_ids)


def test_phrase_and_fuzzy_exclude_deleted(engine):
    engine.build_positions()
    ph = [
        (int(r["docid"]), float(r["score"]))
        for r in engine.search_phrase("get count", 20).collect()
    ]
    assert len(ph) >= 3  # hot bigram by corpus construction
    victims = [ph[0][0], ph[1][0]]
    engine.delete(docids=victims)
    post = [int(r["docid"]) for r in engine.search_phrase("get count", 20).collect()]
    assert not (set(victims) & set(post))
    post_local = engine.search_phrase_local("get count", 20)
    assert not (set(victims) & {d for d, _ in post_local})
    fz = engine.search_fuzzy("quary", 10)  # "query" at distance 1
    assert not (set(victims) & {int(r["docid"]) for r in fz.collect()})


def test_purge_compaction(engine, spark, oracle):
    import math

    pre_meta = dict(engine.meta)
    pre = _rows(engine.search(Q, 30))
    victims = [pre[0][0], pre[2][0], pre[4][0]]
    engine.delete(docids=victims)
    compact_index(spark, engine.index_dir)  # purge
    engine.refresh()
    # tombstones cleared, stats reflect the live corpus
    assert engine._tombstones_arr() is None
    assert int(engine.meta["n_docs"]) == int(pre_meta["n_docs"]) - 3
    assert int(engine.meta["max_gen"]) == 0
    # victims physically gone: their postings decode nowhere
    assert engine.count_matches(Q.split()[0]) == len(
        set(oracle.postings.get(Q.split()[0], {})) - set(victims)
    )
    # post-purge ranking equals brute force over the LIVE corpus with
    # recomputed stats (idf/avgdl shift — this is the stats refresh)
    from search_engine_spark.config import BM25_B, BM25_K1

    live = set(range(len(oracle.doclen))) - set(victims)
    # docmap docids are dedup survivors 0..n-1; oracle uses the same
    n = float(len(live))
    avgdl = sum(oracle.doclen[d] for d in live) / n
    scores = {}
    for t in Q.split():
        plist = oracle.postings.get(t, {})
        df = float(len(set(plist) & live))
        idf = math.log1p((n - df + 0.5) / (df + 0.5))
        for d, tf in plist.items():
            if d not in live:
                continue
            dl = oracle.doclen[d]
            tfn = tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
            )
            scores[d] = scores.get(d, 0.0) + idf * tfn
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = _rows(engine.search(Q, 10))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)
    # serving identical after purge
    assert [d for d, _ in engine.search_local(Q, 10)] == [
        d for d, _ in want
    ]


def test_splice_compact_upgrades_to_purge(engine, spark):
    pre = _rows(engine.search(Q, 10))
    engine.delete(docids=[pre[0][0]])
    compact_index(spark, engine.index_dir, mode="splice")
    engine.refresh()
    assert engine._tombstones_arr() is None  # purged despite splice ask
    assert pre[0][0] not in {
        int(r["docid"]) for r in engine.search(Q, 10).collect()
    }


def test_append_after_purge_watermark(engine, spark):
    from search_engine_spark.corpus import corpus_df as cdf

    pre = _rows(engine.search(Q, 10))
    old_watermark = int(
        engine.meta.get("next_docid", engine.meta["n_docs"])
    )
    engine.delete(docids=[pre[0][0]])
    compact_index(spark, engine.index_dir)
    engine.refresh()
    assert int(engine.meta["next_docid"]) == old_watermark
    # genuinely new content (different seed) must take fresh docids
    # past the watermark — deleted ids are never reused
    new = cdf(spark, 40, seed=777, partitions=2)
    m = append_documents(spark, engine.index_dir, new)
    assert m["n_new"] > 0
    engine.refresh()
    assert int(engine.meta["next_docid"]) == old_watermark + m["n_new"]
    new_ids = {
        int(r["docid"])
        for r in engine.docmap.filter(
            engine.docmap.docid >= old_watermark
        ).collect()
    }
    assert len(new_ids) == m["n_new"]
    assert pre[0][0] not in {
        int(r["docid"]) for r in engine.search(Q, 10).collect()
    }


def test_delete_validation(engine, spark):
    with pytest.raises(ValueError):
        delete_documents(spark, engine.index_dir)
    with pytest.raises(ValueError):
        delete_documents(
            spark, engine.index_dir, docids=[1], where=(engine.docmap.docid > 0)
        )
    assert delete_documents(spark, engine.index_dir, docids=[]) == 0

"""SearchDocumentsUseCase facade (usecase.py): the reference's
execute(SearchRequestDTO) -> SearchResponseDTO flow over the engine —
cache behavior, pagination math, DTO mapping, every request param
honored, suggestions on zero hits, and sortBy x filter composition
(the search_sorted filter hook).
"""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df, corpus_pandas
from search_engine_spark.engine import SearchEngine
from search_engine_spark.indexer.build import build_index
from search_engine_spark.ops.ranking import PUBLISH_EPOCH
from search_engine_spark.usecase import SearchDocumentsUseCase
from tests.oracle import OracleIndex

N_DOCS = 600
CFG = EngineConfig(slab_size=256, term_buckets=8, block_size=32)
QUERY = "query parse buffer"


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ucidx"))
    docs = corpus_df(spark, N_DOCS, partitions=8)
    build_index(spark, docs, d, CFG)
    return SearchEngine(spark, d)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_pandas(N_DOCS).to_dict("records"))


@pytest.fixture()
def usecase(engine):
    return SearchDocumentsUseCase(engine)


def test_response_shape_and_ranking(usecase, oracle):
    resp = usecase.execute({"query": QUERY, "page": 0, "size": 5})
    assert resp["query"] == QUERY
    assert resp["page"] == 0 and resp["size"] == 5
    want = oracle.search(QUERY, 5)
    assert len(resp["results"]) == 5
    for r, (d, s) in zip(resp["results"], want):
        assert r["relevanceScore"] == pytest.approx(s, rel=1e-9)
        assert set(r) == {
            "url", "title", "snippet", "relevanceScore",
            "pagerankScore", "language", "crawledAt",
            "highlightedTerms",
        }
        assert r["highlightedTerms"] == ["query", "parse", "buffer"]
        assert "@" in r["url"] and r["url"].count("/") >= 1
        datetime.date.fromisoformat(r["crawledAt"])  # valid ISO
    assert resp["totalResults"] == len(oracle.search(QUERY, 10**9))
    assert resp["totalPages"] == math.ceil(resp["totalResults"] / 5)
    assert resp["suggestions"] == []


def test_pagination_slices_the_ranking(usecase, oracle):
    p0 = usecase.execute({"query": QUERY, "page": 0, "size": 4})
    p1 = usecase.execute({"query": QUERY, "page": 1, "size": 4})
    want = oracle.search(QUERY, 8)
    got = [
        r["relevanceScore"] for r in p0["results"] + p1["results"]
    ]
    assert got == [pytest.approx(s, rel=1e-9) for _, s in want]


def test_cache_flow(engine):
    uc = SearchDocumentsUseCase(engine)
    r1 = uc.execute({"query": QUERY, "page": 0, "size": 5})
    assert (uc.cache.hits, uc.cache.misses) == (0, 1)
    r2 = uc.execute({"query": QUERY, "page": 0, "size": 5})
    assert (uc.cache.hits, uc.cache.misses) == (1, 1)
    # served from cache, as an equal copy: neither the caller of the
    # miss nor the caller of the hit can reach the cached response
    assert r2 == r1 and r2 is not r1
    r1["results"][0]["highlightedTerms"].append("x")
    r2["suggestions"].append("x")
    r4 = uc.execute({"query": QUERY, "page": 0, "size": 5})
    assert (uc.cache.hits, uc.cache.misses) == (2, 1)
    assert r4["results"][0]["highlightedTerms"] == ["query", "parse", "buffer"]
    assert r4["suggestions"] == []
    r3 = uc.execute({"query": QUERY, "page": 1, "size": 5})
    assert r3 != r1  # different page = different key
    assert (uc.cache.hits, uc.cache.misses) == (2, 2)


@pytest.mark.parametrize("method", ["execute", "execute_local"])
def test_cache_key_carries_filters(engine, oracle, method):
    """A filtered request after the same unfiltered one is answered
    for its own filters, never from the unfiltered page."""
    uc = SearchDocumentsUseCase(engine)
    run = getattr(uc, method)
    base = {"query": QUERY, "size": 10}
    langs = {d["docid"]: d["lang"] for d in oracle.docmap}
    lang = langs[oracle.search(QUERY, 1)[0][0]]
    unfiltered = run(dict(base))
    assert {r["language"] for r in unfiltered["results"]} != {lang}
    for extra in ({"language": lang}, {"dateFrom": 100, "dateTo": 2000}):
        got = run(dict(base, **extra))
        want = getattr(SearchDocumentsUseCase(engine), method)(
            dict(base, **extra)
        )
        got.pop("searchTimeMs"), want.pop("searchTimeMs")
        assert got == want, extra
    assert all(
        r["language"] == lang
        for r in run(dict(base, language=lang))["results"]
    )


def test_rank_requests_bypass_cache(engine):
    uc = SearchDocumentsUseCase(engine)
    req = {"query": QUERY, "size": 5, "rank": {}}
    uc.execute_local(dict(req))
    uc.execute_local(dict(req))
    assert (uc.cache.hits, uc.cache.misses, len(uc.cache)) == (0, 0, 0)


def test_filters_and_ranges_apply(usecase, engine, oracle):
    langs = {d["docid"]: d["lang"] for d in oracle.docmap}
    lang = langs[oracle.search(QUERY, 1)[0][0]]
    resp = usecase.execute(
        {
            "query": QUERY,
            "size": 10,
            "language": lang,
            "dateFrom": 100,
            "dateTo": 2000,
            "minContentQuality": 0.4,
        }
    )
    want = [
        (d, s)
        for d, s in oracle.search_range(QUERY, 100, 2000, 0.4, 10**9)
        if langs[d] == lang
    ][:10]
    assert [r["relevanceScore"] for r in resp["results"]] == [
        pytest.approx(s, rel=1e-9) for _, s in want
    ]
    assert all(r["language"] == lang for r in resp["results"])
    # dateFrom/dateTo constrain the response's own crawledAt dates
    epoch = datetime.date.fromisoformat(PUBLISH_EPOCH)
    for r in resp["results"]:
        day = (datetime.date.fromisoformat(r["crawledAt"]) - epoch).days
        assert 100 <= day <= 2000


def test_sorted_with_filters(usecase, oracle):
    """sortBy=date + language filter: the search_sorted filter hook —
    dates descend and every hit carries the filtered language."""
    langs = {d["docid"]: d["lang"] for d in oracle.docmap}
    lang = langs[oracle.search(QUERY, 1)[0][0]]
    resp = usecase.execute(
        {"query": QUERY, "size": 8, "sortBy": "date", "language": lang}
    )
    assert resp["results"]
    days = [r["crawledAt"] for r in resp["results"]]
    assert days == sorted(days, reverse=True)
    assert all(r["language"] == lang for r in resp["results"])
    # brute force: the filtered match set's top days
    match = {d for d, _ in oracle.search(QUERY, 10**9)}
    want = sorted(
        ((d * 16807) % 2557, d)
        for d in match
        if langs[d] == lang
    )
    want = [day for day, _ in reversed(want)][: len(days)]
    epoch = datetime.date.fromisoformat(PUBLISH_EPOCH)
    got_days = [
        (datetime.date.fromisoformat(x) - epoch).days for x in days
    ]
    assert got_days == want


def test_zero_hits_and_suggestions(usecase):
    resp = usecase.execute({"query": "zzznosuchword"})
    assert resp["totalResults"] == 0
    assert resp["totalPages"] == 0
    assert resp["results"] == []
    assert resp["suggestions"] == []  # nothing within levenshtein 2
    resp2 = usecase.execute({"query": "qurey"})  # 'query' misspelled
    if resp2["totalResults"] == 0:
        assert resp2["suggestions"] == ["query"]


REQUESTS = [
    {"query": QUERY, "page": 0, "size": 5},
    {"query": QUERY, "page": 1, "size": 4},
    {"query": QUERY, "size": 8, "minContentQuality": 0.4,
     "dateFrom": 100, "dateTo": 2000},
    {"query": "zzznosuchword"},
    {"query": QUERY, "size": 6, "sortBy": "date"},
    {"query": QUERY, "size": 6, "sortBy": "date", "language": "python"},
    {"query": QUERY, "page": 1, "size": 3, "sortBy": "date",
     "domain": "org/repo-0000"},
    {"query": QUERY, "size": 5, "sortBy": "date", "dateFrom": 100,
     "dateTo": 2000, "minContentQuality": 0.4},
]


def _assert_twins(engine, req):
    """execute and execute_local give the same response, searchTimeMs
    aside and scores to 1e-12.  Returns the local response."""
    a = SearchDocumentsUseCase(engine).execute(dict(req))
    b = SearchDocumentsUseCase(engine).execute_local(dict(req))
    assert [r["relevanceScore"] for r in a["results"]] == pytest.approx(
        [r["relevanceScore"] for r in b["results"]], rel=1e-12
    )

    def strip(resp):
        return dict(resp, searchTimeMs=None, results=[
            dict(r, relevanceScore=None) for r in resp["results"]
        ])

    assert strip(a) == strip(b), req
    return b


def _assert_match_twins(eng, *local_engines):
    """count, facets and sorted (filtered or not): each serving twin
    on ``local_engines`` (same index as ``eng``) equals the Spark
    path on ``eng``."""
    spark_sorted = {}
    for sort_by in ("date", "pagerank"):
        for kw in ({}, {"filter": {"lang": "python"}, "date_from": 100}):
            spark_sorted[sort_by, repr(kw)] = (kw, [
                (int(r["docid"]), float(r["sort_key"]), float(r["score"]))
                for r in eng.search_sorted(QUERY, 8, sort_by, **kw).collect()
            ])
    counts = {q: eng.count_matches(q) for q in (QUERY, "query")}
    facets = [
        (r["lang"], int(r["cnt"]))
        for r in eng.facet_counts(QUERY, "lang", 5).collect()
    ]
    for loc in local_engines:
        for q, n in counts.items():
            assert loc.count_matches_local(q) == n, q
        assert loc.facet_counts_local(QUERY, "lang", 5) == facets
        for (sort_by, _), (kw, want) in spark_sorted.items():
            got = loc.search_local_sorted(QUERY, 8, sort_by, **kw)
            assert [x[:2] for x in got] == [x[:2] for x in want], kw
            assert [x[2] for x in got] == pytest.approx(
                [x[2] for x in want], rel=1e-9
            )


def _scan_engine(eng):
    """A second engine on ``eng``'s index with both serving caches
    off: per-query pruned scans and per-chunk factors."""
    scan = SearchEngine(eng.spark, eng.index_dir)
    scan.serving_cache_buckets = 0
    scan.serving_decoded_max_bytes = 0
    return scan


@pytest.mark.parametrize("req", REQUESTS)
def test_execute_local_identity(engine, req):
    """The no-Spark execute twin returns the IDENTICAL response
    (searchTimeMs aside) for every request shape — incl. the python
    snippet twin, the page store, count_matches_local and the
    date-sorted path."""
    _assert_twins(engine, req)


def test_execute_local_identity_through_lifecycle(spark, tmp_path):
    """execute_local == execute for every REQUESTS shape after deletes
    and after an append, each followed by refresh(): the page store
    and the spelling index follow the index generation (the append
    adds the word the zero-hit request is one edit from, so its
    suggestion changes).  A use case that cached pages before the
    delete answers for the new generation after it.  After the
    append (a second generation in the last slab, deletes pending)
    count, facets and sorted match the Spark path with the serving
    caches on and off."""
    from search_engine_spark.indexer.build import (
        append_documents,
        delete_documents,
    )

    d = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, N_DOCS, partitions=8), d, CFG)
    eng = SearchEngine(spark, d)
    uc = SearchDocumentsUseCase(eng)
    for req in REQUESTS:  # cache every page of the first generation
        uc.execute_local(dict(req))
    uc.execute(dict(REQUESTS[0]))
    top = [doc for doc, _ in eng.search_local(QUERY, 3)]
    gone = {
        f"{m['repo']}/{m['path']}@{m['commit']}" for m in eng._page_rows(top)
    }
    delete_documents(spark, eng.index_dir, docids=top)
    eng.refresh()
    for req in REQUESTS:
        got = _assert_twins(eng, req)
        assert not gone & {r["url"] for r in got["results"]}, req
        a = uc.execute_local(dict(req))
        b = SearchDocumentsUseCase(eng).execute_local(dict(req))
        a.pop("searchTimeMs"), b.pop("searchTimeMs")
        assert a == b, req
    assert not gone & {
        r["url"] for r in uc.execute(dict(REQUESTS[0]))["results"]
    }
    new = spark.createDataFrame(
        [
            ("zz/new", f"src/new{i}.py", "c0ffee", "python",
             f"zzznosuchwords query parse buffer {'filler ' * (30 + i)}")
            for i in range(3)
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    assert append_documents(spark, eng.index_dir, new)["n_new"] == 3
    eng.refresh()
    after = [_assert_twins(eng, req) for req in REQUESTS]
    zero = next(r for r in after if r["query"] == "zzznosuchword")
    assert zero["suggestions"] == ["zzznosuchwords"]
    hits = _assert_twins(eng, {"query": "zzznosuchwords", "size": 5})
    assert sorted(r["url"] for r in hits["results"]) == [
        f"zz/new/src/new{i}.py@c0ffee" for i in range(3)
    ]
    _assert_match_twins(eng, eng, _scan_engine(eng))
    for t in ("query", "parse", "buffer"):  # primed arrays stay sorted
        gids = eng._decoded_cache[t]["gids"]
        assert (gids[1:] > gids[:-1]).all(), t


SNIPPET_TEXTS = [
    "snipword " + "a" * 190,                       # 199 chars
    "snipword " + "a" * 191,                       # 200: kept whole
    "snipword " + "a" * 192,                       # 201: cut, no space
    "snipword " + "b" * 90 + " " + "c" * 150,      # space at index 99
    "snipword " + "b" * 91 + " " + "c" * 150,      # space at index 100
    "snipword " + "d" * 189 + " " + "e" * 30,      # space at index 198
    "snipword " + "d" * 190 + " " + "e" * 30,      # space at index 199
    "snipword " + "d" * 191 + " " + "e" * 30,      # space at index 200
    "snipword " + ("déjà vu " * 40),               # 2-byte UTF-8
    "snipword " + ("中文字符 " * 60),               # 3-byte UTF-8
    "snipword " + ("ok😀 " * 60),                  # 4-byte / surrogates
    "snipword " + "é" * 191,                       # 200 non-ASCII chars
    "snipword " + "é" * 192,                       # 201 non-ASCII chars
]


def test_snippet_identity_at_boundaries(spark, tmp_path):
    """The page store's snippets equal the Spark plain_snippet_col
    rule at the 200-character boundary and on non-ASCII content, both
    for the bare rule and through execute vs execute_local."""
    from search_engine_spark.query.highlight import (
        plain_snippet_col,
        plain_snippet_py,
    )

    want = [
        r["s"]
        for r in spark.createDataFrame(
            [(i, t) for i, t in enumerate(SNIPPET_TEXTS)],
            "i int, content string",
        )
        .select("i", plain_snippet_col("content").alias("s"))
        .orderBy("i")
        .collect()
    ]
    assert [plain_snippet_py(t) for t in SNIPPET_TEXTS] == want
    assert [len(s) for s in want[:3]] == [199, 200, 203]
    d = str(tmp_path / "snip")
    docs = spark.createDataFrame(
        [
            ("snip/repo", f"f{i}.txt", "abc", "text", t)
            for i, t in enumerate(SNIPPET_TEXTS)
        ],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    build_index(spark, docs, d, CFG)
    eng = SearchEngine(spark, d)
    got = _assert_twins(eng, {"query": "snipword", "size": 20})
    by_title = {r["title"]: r["snippet"] for r in got["results"]}
    assert by_title == {
        f"f{i}.txt": w for i, w in enumerate(want)
    }


def test_count_matches_local_identity(engine):
    scan = _scan_engine(engine)
    for q in [QUERY, "query", "zzznosuchword", "crawl rank"]:
        want = engine.count_matches(q)
        assert engine.count_matches_local(q) == want
        assert scan.count_matches_local(q) == want


def test_did_you_mean_local_identity(engine):
    for q in ["qurey parse", "zzznosuchword", QUERY, "databsae"]:
        assert engine.did_you_mean_local(q) == engine.did_you_mean(q)


def test_get_suggestions(engine):
    """The controller's second endpoint: real prefix autocomplete
    where the reference stubs [] — top-df completions, the reference's
    sub-2-char guard kept verbatim."""
    from search_engine_spark.usecase import GetSuggestionsUseCase

    uc = GetSuggestionsUseCase(engine)
    assert uc.execute("") == []
    assert uc.execute("q") == []  # < 2 chars, the reference guard
    got = uc.execute("qu")
    assert 0 < len(got) <= 5
    assert all(t.startswith("qu") for t in got)
    # (df desc, term asc) determinism: a repeat call agrees
    assert uc.execute("qu") == got
    dfs = {
        r["term"]: r["df"]
        for r in engine._content_vocab()
        .filter(F.col("term").startswith("qu"))
        .collect()
    }
    want = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == [t for t, _ in want]


def test_pagerank_score_join(usecase, engine):
    rank = engine.spark.createDataFrame(
        [(0, 0.5)], "docid long, rank double"
    )
    resp = usecase.execute(
        {"query": QUERY, "size": 10, "rank": rank}
    )
    by_doc = {
        r["url"]: r["pagerankScore"] for r in resp["results"]
    }
    assert set(by_doc.values()) <= {0.0, 0.5}

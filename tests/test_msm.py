"""ES minimum_should_match (engine.search(min_should_match=),
search_local twin, contract.q_bm25_msm): brute-force oracle pin at
every m, OR/AND degeneracy, percentage parsing, serving identity, and
composition with ranges / must_not.
"""

from __future__ import annotations

import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df, corpus_pandas
from search_engine_spark.engine import SearchEngine, _msm_count
from search_engine_spark.indexer.build import build_index
from tests.oracle import OracleIndex

N_DOCS = 600
CFG = EngineConfig(slab_size=256, term_buckets=8, block_size=32)
QUERY = "query parse buffer config"  # 4 clauses


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("msmidx"))
    docs = corpus_df(spark, N_DOCS, partitions=8)
    build_index(spark, docs, d, CFG)
    return SearchEngine(spark, d)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_pandas(N_DOCS).to_dict("records"))


@pytest.mark.parametrize("m", [1, 2, 3, 4, 5])
def test_engine_msm_vs_oracle(engine, oracle, m):
    got = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=m).collect()
    ]
    want = oracle.search_msm(QUERY, m, 10)
    assert [d for d, _ in got] == [d for d, _ in want], m
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_msm_degenerates_to_or_and(engine):
    base = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10).collect()
    ]
    assert [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=1).collect()
    ] == base  # every match has >= 1 term
    conj = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, mode="and").collect()
    ]
    assert [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=4).collect()
    ] == conj  # m = n == bool.must


@pytest.mark.parametrize("m", [2, 3])
def test_serving_msm_identity(engine, m):
    spark_res = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=m).collect()
    ]
    local_res = engine.search_local(QUERY, 10, min_should_match=m)
    assert [d for d, _ in local_res] == [d for d, _ in spark_res]
    for (_, ls), (_, ss) in zip(local_res, spark_res):
        assert ls == pytest.approx(ss, rel=1e-12)


def test_msm_percentage_and_parse():
    assert _msm_count(None, 4) == 0
    assert _msm_count(3, 4) == 3
    assert _msm_count("50%", 4) == 2
    assert _msm_count("75%", 4) == 3
    assert _msm_count("75%", 3) == 2  # ES rounds down
    assert _msm_count("100%", 4) == 4
    # the ES negative forms: "total minus that many may be missing"
    assert _msm_count(-1, 4) == 3
    assert _msm_count(-2, 4) == 2
    assert _msm_count("-25%", 4) == 3  # 4 - floor(4*25/100)
    assert _msm_count("-50%", 4) == 2
    assert _msm_count("-75%", 8) == 2  # 8 - floor(8*75/100) = 8-6
    # m <= 1 is plain OR (every scored doc matches >= 1 clause):
    # normalized to 0 so the fused fast path stays on
    assert _msm_count(1, 4) == 0
    assert _msm_count("25%", 4) == 0
    assert _msm_count(-4, 4) == 0  # clamps through the <=1 rule
    assert _msm_count(-9, 4) == 0
    with pytest.raises(ValueError):
        _msm_count("two", 4)


def test_msm_integer_strings():
    """ES accepts the integer forms as strings too."""
    assert _msm_count("2", 4) == 2
    assert _msm_count("3", 4) == 3
    assert _msm_count(" 3 ", 4) == 3
    assert _msm_count("+3", 4) == 3
    assert _msm_count("-1", 4) == 3
    assert _msm_count("-3", 4) == 0  # 4-3 = 1 -> plain OR
    assert _msm_count("1", 4) == 0
    assert _msm_count("9", 4) == 9  # more than n: nothing matches
    for v in range(-6, 7):
        assert _msm_count(str(v), 5) == _msm_count(v, 5), v


@pytest.mark.parametrize("combo", ["3<90%", "2<-25%", "3<-1 5<50%"])
def test_msm_combination_form_unsupported(combo):
    with pytest.raises(ValueError, match="combination"):
        _msm_count(combo, 4)


@pytest.mark.parametrize("bad", ["", "%", "2.5", "1e2", "2 %", "--1", "٣"])
def test_msm_malformed_strings_raise(bad):
    with pytest.raises(ValueError, match="minimum_should_match"):
        _msm_count(bad, 4)


def test_msm_string_end_to_end(engine):
    assert engine.search_local(QUERY, 10, min_should_match="2") == (
        engine.search_local(QUERY, 10, min_should_match=2)
    )
    assert engine.search_local(QUERY, 10, min_should_match="-1") == (
        engine.search_local(QUERY, 10, min_should_match=3)
    )


def test_msm_negative_forms_end_to_end(engine):
    got_neg = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=-2).collect()
    ]
    got_pos = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=2).collect()
    ]
    assert got_neg == got_pos  # 4 + (-2) == 2


def test_msm_percentage_end_to_end(engine):
    got_pct = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match="50%").collect()
    ]
    got_int = [
        (r["docid"], r["score"])
        for r in engine.search(QUERY, 10, min_should_match=2).collect()
    ]
    assert got_pct == got_int


def test_msm_composes_with_range_and_not(engine, oracle):
    qual_kw = dict(min_quality=0.4)
    got = [
        (r["docid"], r["score"])
        for r in engine.search(
            QUERY, 10, min_should_match=2, exclude="table", **qual_kw
        ).collect()
    ]
    notset = {d for d, _ in oracle.search_not(QUERY, "table", 10**9)}
    want = [
        (d, s)
        for d, s in oracle.search_msm(QUERY, 2, 10**9)
        if d in notset and oracle.quality[d] >= 0.4
    ][:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    loc = engine.search_local(
        QUERY, 10, min_should_match=2, exclude="table", **qual_kw
    )
    assert [d for d, _ in loc] == [d for d, _ in got]

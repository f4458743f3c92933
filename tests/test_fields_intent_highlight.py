"""Field-weighted search (title^3/content^1), AND mode, highlighting,
and intent classification."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df, corpus_pandas
from search_engine_spark.engine import SearchEngine
from search_engine_spark.query.expansion import field_weights
from search_engine_spark.query.intent import (
    GENERAL,
    QUESTION,
    TROUBLESHOOTING,
    TUTORIAL,
    classify_intent,
)
from search_engine_spark.tokenizer import tokenize_query

from tests.oracle import OracleIndex

N = 600
CFG = EngineConfig(slab_size=256, term_buckets=8, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_fields"))
    return SearchEngine.build(
        spark, corpus_df(spark, N, partitions=6), d, CFG
    )


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_pandas(N).to_dict("records"))


FIELD_QUERIES = ["merge", "index buffer", "java parser", "read buffer"]


def test_search_fields_matches_oracle(engine, oracle):
    for q in FIELD_QUERIES:
        got = [
            (r["docid"], r["score"])
            for r in engine.search_fields(q, 10).collect()
        ]
        want = oracle.search_fields(field_weights(q), 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_search_fields_expanded_matches_oracle(engine, oracle):
    for q in ["java parser", "search merge"]:
        got = [
            (r["docid"], r["score"])
            for r in engine.search_fields(q, 10, expand=True).collect()
        ]
        want = oracle.search_fields(field_weights(q, expand=True), 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_search_batch_fields_matches_single(engine, oracle):
    """Batch field-weighted search == per-query search_fields, for
    every query in one job."""
    qs = {f"q{i}": q for i, q in enumerate(FIELD_QUERIES)}
    out = engine.search_batch_fields(qs, 10).collect()
    by_qid = {}
    for r in out:
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in qs.items():
        got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = oracle.search_fields(field_weights(q), 10)
        assert [r["docid"] for r in got] == [d for d, _ in want], q
        for r, (_, ws) in zip(got, want):
            assert r["score"] == pytest.approx(ws, rel=1e-9)


def test_search_local_fields_matches_spark(engine, oracle):
    """The no-Spark field-weighted serving path is rank- and
    score-identical to the Spark path and the brute oracle."""
    for q in FIELD_QUERIES:
        got = engine.search_local_fields(q, 10)
        want = oracle.search_fields(field_weights(q), 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q
    # expanded form too
    got = engine.search_local_fields("java parser", 10, expand=True)
    want = oracle.search_fields(field_weights("java parser", expand=True), 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_fields_on_index_with_empty_titles(spark, tmp_path):
    """Every path basename tokenizes to nothing, so the title field's
    avgdl (and its block-max basis) is 0: the single, batch and
    serving field-weighted paths answer the same ranking."""
    import pandas as pd

    docs = pd.DataFrame({
        "repo": ["r"] * 6,
        "path": [f"d{i}/__" for i in range(6)],
        "commit": ["c"] * 6,
        "lang": ["go"] * 6,
        "content": [
            "merge buffer index", "merge merge", "buffer read",
            "index merge buffer buffer", "nothing here", "merge",
        ],
    })
    df = spark.createDataFrame(
        docs,
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    eng = SearchEngine.build(spark, df, str(tmp_path / "empty_titles"), CFG)
    assert float(eng.meta["avgdl_title"]) == 0.0
    q = "merge buffer"
    single = [
        (r["docid"], r["score"]) for r in eng.search_fields(q, 5).collect()
    ]
    batch = sorted(
        (r["rank"], r["docid"], r["score"])
        for r in eng.search_batch_fields({"a": q}, 5).collect()
    )
    local = eng.search_local_fields(q, 5)
    assert len(single) == 5  # every doc holding merge or buffer
    assert [d for _, d, _ in batch] == [d for d, _ in single]
    assert [d for d, _ in local] == [d for d, _ in single]
    for (_, a), (_, _, b), (_, c) in zip(single, batch, local):
        assert a == pytest.approx(b, rel=1e-9)
        assert a == pytest.approx(c, rel=1e-9)


def test_title_boost_changes_ranking(engine, oracle):
    """A term that appears in some path basenames must rank
    title-hits above content-only hits more aggressively than the
    single-field search does."""
    q = "buffer"
    plain = [r["docid"] for r in engine.search(q, 10).collect()]
    fields = [r["docid"] for r in engine.search_fields(q, 10).collect()]
    title_hits = set(oracle.title_postings.get(q, {}))
    if title_hits:  # corpus-dependent guard
        top_f = [d for d in fields[:3] if d in title_hits]
        top_p = [d for d in plain[:3] if d in title_hits]
        assert len(top_f) >= len(top_p)


def test_search_and_matches_oracle(engine, oracle):
    for q in ["merge index", "java read write", "buffer parse"]:
        got = [
            (r["docid"], r["score"])
            for r in engine.search(q, 10, mode="and").collect()
        ]
        want = oracle.search_and(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q
        # every hit really contains every term
        terms = tokenize_query(q)
        for d, _ in got:
            assert all(d in oracle.postings.get(t, {}) for t in terms)


def test_search_and_missing_term_empty(engine):
    assert engine.search("merge zzznosuchterm", 10, mode="and").count() == 0


def test_highlight_golden(spark):
    from search_engine_spark.query.highlight import highlight_snippet_col

    df = spark.createDataFrame(
        [
            (0, "The Merge sort beats quicksort when data is on disk."),
            (1, "no match here at all"),
            (2, "x" * 300 + " merge lives far into the text " + "y" * 100),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["snip"]
        for r in df.select(
            "id", highlight_snippet_col("text", ["merge", "data"]).alias("snip")
        ).collect()
    }
    # word-boundary, case-insensitive, original casing preserved
    assert "<mark>Merge</mark>" in out[0] and "<mark>data</mark>" in out[0]
    # no terms -> document head, no marks
    assert out[1] == "no match here at all"
    # centered window: the far-away match is inside, with ellipses
    assert "<mark>merge</mark>" in out[2]
    assert out[2].startswith("...")


def test_search_with_meta_highlight(engine):
    rows = engine.search_with_meta("merge", 5, highlight=True).collect()
    assert rows
    assert any("<mark>" in r["snippet"] for r in rows)
    assert all("title" in r.asDict() for r in rows)


def test_fields_scan_pushes_both_namespaces(spark, engine):
    """Pruning regression guard for the two-field path: content AND
    t#-prefixed title terms (plus their buckets) must reach the
    parquet scan as pushed filters — file skipping is what keeps a
    field-weighted query from scanning the whole segment store."""
    import io
    from contextlib import redirect_stdout

    spark.catalog.clearCache()
    eng = SearchEngine(spark, engine.index_dir, cache=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        eng._pruned_segments(["merge", "t#merge"]).explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "merge" in pushed and "t#merge" in pushed
    assert "bucket" in pushed


def test_search_fields_plan_broadcasts_weights(spark, engine):
    """The per-(term, field) weight/idf table must broadcast — a
    shuffle join against the segment scan would defeat the pruned
    scan at cluster scale."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        engine.search_fields("merge buffer", 10).explain(mode="formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_intent_classifier():
    assert classify_intent("how to merge segments") == TUTORIAL
    assert classify_intent("python tutorial") == TUTORIAL
    assert classify_intent("what is bm25") == QUESTION
    # reference's if-chain order: TUTORIAL wins over QUESTION
    assert classify_intent("how to fix error") == TUTORIAL
    assert classify_intent("index error after build") == TROUBLESHOOTING
    assert classify_intent("merge segments") == GENERAL


def test_intent_search_adds_terms(engine, oracle):
    got = [
        (r["docid"], r["score"])
        for r in engine.search("how to merge", 10, intent=True).collect()
    ]
    weights = {t: 1.0 for t in tokenize_query("how to merge")}
    for t in ("tutorial", "guide", "how"):
        weights.setdefault(t, 1.0)
    want = oracle.search_weighted(weights, 10)
    assert [d for d, _ in got] == [d for d, _ in want]

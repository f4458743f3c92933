"""Round-3 index-layer additions: the (term, slab) serving-pruning
inventory, the auto compaction policy, and honest Iceberg catalog
existence/drop."""

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df
from search_engine_spark.engine import SearchEngine
from search_engine_spark.indexer.build import (
    append_documents,
    build_index,
    resolve_compact_mode,
)

N = 500
CFG = EngineConfig(slab_size=128, term_buckets=8, block_size=32)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_extras"))
    return SearchEngine.build(
        spark, corpus_df(spark, N, partitions=6), d, CFG
    )


# --- term_slabs pruning ----------------------------------------------------

def test_term_slabs_table_written(engine):
    assert os.path.exists(f"{engine.index_dir}/term_slabs/_SUCCESS")
    rows = engine.spark.read.parquet(
        f"{engine.index_dir}/term_slabs"
    ).collect()
    assert rows
    # inventory agrees with the segments table exactly
    seg = engine.spark.read.parquet(f"{engine.index_dir}/segments")
    want = {
        (r["term"], r["slab"]): r["n"]
        for r in seg.groupBy("term", "slab")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r["term"], r["slab"]): r["n_chunks"] for r in rows}
    assert got == want


def test_slabs_for_prunes_rare_terms(engine):
    """A df=1 term occupies exactly one slab; the pruning helper must
    return only that slab while a hot term spans several."""
    n_slabs = int(engine.meta["n_slabs"])
    assert n_slabs > 1
    rare = (
        engine.df_table.filter(
            (F.col("df") == 1) & ~F.col("term").startswith("t#")
        )
        .orderBy("term")
        .first()
    )
    assert rare is not None
    slabs = engine._slabs_for([rare["term"]])
    assert slabs is not None and len(slabs) == 1
    hot = engine.df_table.orderBy(F.desc("df")).first()["term"]
    assert len(engine._slabs_for([hot])) > 1
    # unknown term -> empty set (query reads nothing)
    assert engine._slabs_for(["zzznosuchterm"]) == set()


def test_pruned_results_identical(engine):
    """Slab pruning must not change any result: Spark path and
    serving path agree with and without the inventory."""
    for q in ["merge buffer", "java search", "parseToken"]:
        spark_hits = [
            (r["docid"], r["score"])
            for r in engine.search(q, 10).collect()
        ]
        local_hits = [(d, pytest.approx(s, rel=1e-9)) for d, s in
                      engine.search_local(q, 10)]
        assert [d for d, _ in spark_hits] == [d for d, _ in local_hits]
        # disable pruning and compare
        saved = engine._term_slab_cache
        engine._term_slab_cache = None
        try:
            unpruned = [
                (d, s) for d, s in engine.search_local(q, 10)
            ]
        finally:
            engine._term_slab_cache = saved
        assert [d for d, _ in unpruned] == [d for d, _ in spark_hits]


def test_pruned_segments_plan_filters_slab(spark, engine):
    """The Spark query path pushes the slab set into the partition-
    pruned scan for rare terms."""
    import io
    from contextlib import redirect_stdout

    rare = (
        engine.df_table.filter(
            (F.col("df") == 1) & ~F.col("term").startswith("t#")
        )
        .orderBy("term")
        .first()["term"]
    )
    spark.catalog.clearCache()
    eng = SearchEngine(spark, engine.index_dir, cache=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        eng._pruned_segments([rare]).explain(mode="formatted")
    plan = buf.getvalue()
    assert "slab" in plan  # partition filter present in the scan


# --- compaction policy -----------------------------------------------------

def test_resolve_compact_mode():
    meta_tight = {
        "avgdl": 100.0, "norm_avgdl": 100.0,
        "avgdl_title": 4.0, "norm_avgdl_title": 4.0,
    }
    meta_drifted = {
        "avgdl": 140.0, "norm_avgdl": 100.0,
        "avgdl_title": 4.0, "norm_avgdl_title": 4.0,
    }
    meta_title_drift = {
        "avgdl": 100.0, "norm_avgdl": 100.0,
        "avgdl_title": 6.0, "norm_avgdl_title": 4.0,
    }
    assert resolve_compact_mode(True, meta_tight) == "reencode"
    assert resolve_compact_mode("splice", meta_drifted) == "splice"
    assert resolve_compact_mode("reencode", meta_tight) == "reencode"
    assert resolve_compact_mode("auto", meta_tight) == "splice"
    assert resolve_compact_mode("auto", meta_drifted) == "reencode"
    assert resolve_compact_mode("auto", meta_title_drift) == "reencode"
    with pytest.raises(ValueError):  # typos must not silently re-encode
        resolve_compact_mode("splce", meta_tight)


def test_append_auto_compact_splice(spark, tmp_path_factory):
    """compact='auto' on a mild append picks splice, compacts to one
    generation, and queries stay correct."""
    d = str(tmp_path_factory.mktemp("idx_auto"))
    all_docs = corpus_df(spark, 400, partitions=6).persist()
    d1 = all_docs.filter(F.xxhash64("repo", "path") % 4 != 0)
    d2 = all_docs.filter(F.xxhash64("repo", "path") % 4 == 0)
    build_index(spark, d1, d, CFG)
    m = append_documents(spark, d, d2, compact="auto")
    assert m["compact_mode"] == "splice"
    eng = SearchEngine(spark, d)
    seg = spark.read.parquet(f"{d}/segments")
    assert seg.agg(F.max("gen")).collect()[0][0] == 0  # compacted
    # post-compaction ranking matches the brute oracle over the
    # appended docmap (engine docids)
    from tests.test_append import oracle_on_union

    o = oracle_on_union(spark, eng)
    for q in ["merge buffer", "java search"]:
        got = [
            (r["docid"], r["score"]) for r in eng.search(q, 10).collect()
        ]
        want = o.search(q, 10)
        assert [x[0] for x in got] == [x[0] for x in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)
    all_docs.unpersist()


# --- Iceberg store honesty -------------------------------------------------

def test_iceberg_exists_and_drop(spark, tmp_path):
    """IcebergStore.exists()/drop() are REAL catalog operations now
    (ADVICE r2): a missing table reports absent — so
    build_index(resume=True) falls back to a fresh build — and drop
    removes it."""
    from search_engine_spark.catalog import IcebergStore, store_for

    s = store_for("iceberg://spark_catalog.default.sgx")
    assert isinstance(s, IcebergStore)
    assert s.exists("docmap", spark) is False
    loc = str(tmp_path / "sgx_docmap")
    spark.sql(
        "CREATE TABLE spark_catalog.default.sgx_docmap (docid BIGINT) "
        f"USING parquet LOCATION '{loc}'"
    )
    try:
        assert s.exists("docmap", spark) is True
        # active-session fallback (no explicit spark arg)
        assert s.exists("docmap") is True
    finally:
        s.drop("docmap", spark)
    assert s.exists("docmap", spark) is False


# --- Zipf hot-term salting bound (round 5) ----------------------------------

def test_hot_term_groups_bounded(spark, tmp_path_factory):
    """The slab-salting claim (segments.py:13-17), pinned: injecting a
    term into ~50% of all docs (df far beyond any organic term) must
    NOT create a jumbo segment group — the docid-range slab is the
    salt, so the hot build's max (slab, bucket) group stays within
    tokens-per-doc jitter of the uniform build's and nowhere near df.
    count_matches on the hot term must equal ground truth exactly."""
    base = corpus_df(spark, N, partitions=6)
    hot = base.withColumn(
        "content",
        F.when(
            F.pmod(F.xxhash64("repo", "path"), F.lit(2)) == 0,
            F.concat(F.col("content"), F.lit(" zzhot")),
        ).otherwise(F.col("content")),
    )
    stats = {}
    engines = {}
    for name, docs in (("uniform", base), ("hot", hot)):
        d = str(tmp_path_factory.mktemp(f"zipf_{name}"))
        engines[name] = SearchEngine.build(spark, docs, d, CFG)
        sizes = [
            r["rows"]
            for r in spark.read.parquet(f"{d}/segments")
            .groupBy("slab", "bucket")
            .agg(F.sum("df").alias("rows"))
            .collect()
        ]
        stats[name] = max(sizes)
    df_hot = engines["hot"].count_matches("zzhot")
    want = (
        engines["hot"].docmap.filter(F.col("content").contains("zzhot"))
        .count()
    )
    assert df_hot == want and df_hot > N // 3
    # one extra token per injected doc: the max group grows by at most
    # the injected postings' share of one (slab, bucket) group, never
    # to anything df-shaped
    assert stats["hot"] <= stats["uniform"] + CFG.slab_size
    # the hot term itself is salted: its postings arrive one chunk per
    # slab, each bounded by the slab's docid range — no jumbo chunk
    hot_chunks = (
        engines["hot"].spark.read.parquet(
            f"{engines['hot'].index_dir}/segments"
        )
        .filter(F.col("term") == "zzhot")
        .select("slab", "df")
        .collect()
    )
    assert len(hot_chunks) == int(engines["hot"].meta["n_slabs"])
    assert all(r["df"] <= CFG.slab_size for r in hot_chunks)
    # and the hot term is searchable with exact slab pruning intact
    hits = engines["hot"].search_local("zzhot", 10)
    assert len(hits) == 10


def test_engine_stats(spark, tmp_path):
    """ES _stats analog: live/raw/deleted counts, namespaces,
    generation depth and positional state track the index lifecycle."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.corpus import corpus_df
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.indexer.build import (
        append_documents,
        build_index,
    )

    d = str(tmp_path / "statsidx")
    cfg = EngineConfig(slab_size=256, term_buckets=8, block_size=32)
    build_index(spark, corpus_df(spark, 300, partitions=4), d, cfg)
    e = SearchEngine(spark, d)
    s0 = e.stats()
    assert s0["n_docs_live"] == s0["n_docs"] > 0
    assert s0["pending_deletes"] == 0
    assert s0["max_gen"] == 0 and s0["max_gen_seen"] == 0
    assert s0["vocab_content"] > 0 and s0["vocab_title"] > 0
    # default index_fields = (lang, repo): one m# term per value
    assert s0["vocab_meta"] > 0
    assert s0["index_fields"] == ["lang", "repo"]
    assert s0["positional_index"] == "absent"
    assert s0["posting_bytes"] > 0
    e.build_positions()
    assert e.stats()["positional_index"] == "current"
    append_documents(
        spark, d, corpus_df(spark, 40, seed=777, partitions=2)
    )
    e.refresh()
    s1 = e.stats()
    assert s1["max_gen"] == 1 and s1["max_gen_seen"] == 1
    assert s1["n_docs"] > s0["n_docs"]
    assert s1["positional_index"] == "stale"
    e.delete(docids=[0, 1])
    s2 = e.stats()
    assert s2["pending_deletes"] == 2
    assert s2["n_docs_live"] == s2["n_docs"] - 2

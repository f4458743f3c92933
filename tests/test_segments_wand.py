"""Segment build + per-slab block-max WAND: rank-identity vs oracle,
WAND == exhaustive, resume, and LSM merge equivalence."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.corpus import corpus_df, corpus_pandas
from search_engine_spark.engine import SearchEngine
from search_engine_spark.indexer.build import build_index
from search_engine_spark.indexer.codec import TermChunk
from search_engine_spark.indexer.merge import merge_segments
from search_engine_spark.query.wand import slab_topk

from tests.oracle import REFERENCE_QUERIES, OracleIndex

N_DOCS = 800
CFG = EngineConfig(slab_size=256, term_buckets=8, block_size=32)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_pandas(N_DOCS).to_dict("records"))


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    docs = corpus_df(spark, N_DOCS, partitions=8)
    build_index(spark, docs, d, CFG)
    return SearchEngine(spark, d)


def test_wand_rank_identity_vs_oracle(engine, oracle):
    for qid, q in REFERENCE_QUERIES.items():
        got = [(r["docid"], r["score"]) for r in engine.search(q, 10).collect()]
        want = oracle.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], f"{qid}"
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), f"{qid}"


def test_wand_hot_plus_tail(engine, oracle):
    tail = min(t for t, p in oracle.postings.items() if len(p) == 1)
    hot = max(oracle.postings.items(), key=lambda kv: len(kv[1]))[0]
    q = f"{hot} {tail}"
    got = [(r["docid"], r["score"]) for r in engine.search(q, 10).collect()]
    want = oracle.search(q, 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_search_batch_matches_single(engine, oracle):
    qs = {qid: q for qid, q in REFERENCE_QUERIES.items()}
    out = engine.search_batch(qs, 10).collect()
    by_qid = {}
    for r in out:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["docid"], r["score"]))
    for qid, q in qs.items():
        want = oracle.search(q, 10)
        got = sorted(by_qid.get(qid, []))
        assert [d for _, d, _ in got] == [d for d, _ in want], qid
        for (_, _, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), qid


def test_search_with_meta_joins_docmap(engine):
    rows = engine.search_with_meta("java search", 5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["path"] and r["repo"] and r["snippet"]


def test_wand_equals_exhaustive_randomized(oracle):
    """Property: pruned scorer == brute force on random term subsets."""
    rng = np.random.default_rng(7)
    terms_all = [t for t, p in oracle.postings.items() if len(p) > 0]
    for trial in range(15):
        n_q = int(rng.integers(1, 6))
        terms = list(rng.choice(terms_all, size=n_q, replace=False))
        q = " ".join(terms)
        want = oracle.search(q, 10)
        # exercised through the slab_topk kernel directly with a tiny
        # grid to force many block boundaries
        got = oracle_slab_scored(oracle, terms, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], terms
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12)


def oracle_slab_scored(oracle, terms, k):
    """Run the real codec+WAND kernel over the oracle's postings."""
    from search_engine_spark.indexer.codec import encode_group

    slab_size, block_size = 1 << 20, 64
    rows = []
    terms_sorted = sorted(set(t for t in terms if t in oracle.postings))
    for ti, t in enumerate(terms_sorted):
        for docid, tf in sorted(oracle.postings[t].items()):
            rows.append((ti, docid, tf, oracle.doclen[docid]))
    if not rows:
        return []
    rows.sort()
    tc = np.array([r[0] for r in rows])
    ld = np.array([r[1] for r in rows])
    tf = np.array([r[2] for r in rows])
    dl = np.array([r[3] for r in rows])
    p, s, bm, _, dfs = encode_group(
        tc, ld, tf, dl, len(terms_sorted), block_size, 1.2, 0.75, oracle.avgdl
    )
    chunks = [
        (TermChunk(p[i], s[i], bm[i]), oracle.idf(t))
        for i, t in enumerate(terms_sorted)
    ]
    ids, sc = slab_topk(
        chunks, 0, slab_size, block_size, k, 1.2, 0.75, oracle.avgdl,
        batch_blocks=4,
    )
    return list(zip(ids.tolist(), sc.tolist()))


def test_search_local_matches_spark_and_oracle(engine, oracle):
    """The no-Spark serving path is rank-identical to the cluster path."""
    import time

    for qid, q in list(REFERENCE_QUERIES.items()):
        got = engine.search_local(q, 10)
        want = oracle.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], qid
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), qid
    # warm serving latency is sub-100ms (reference p99 target)
    t0 = time.time()
    for q in ["java", "search algorithm", "database index merge"]:
        engine.search_local(q, 10)
    avg_ms = (time.time() - t0) / 3 * 1000
    assert avg_ms < 500, f"warm serving latency {avg_ms:.0f}ms"


def test_hot_term_skew_bounded_by_slabs(spark, engine, oracle):
    """The salting story: a hot term's postings are split across
    docid-range slabs, so no (term, slab) chunk — and hence no
    applyInPandas group — exceeds the slab's doc count, regardless
    of how hot the term is."""
    hot = max(oracle.postings.items(), key=lambda kv: len(kv[1]))[0]
    total_df = len(oracle.postings[hot])
    assert total_df > CFG.slab_size  # genuinely hot vs slab bound
    seg = spark.read.parquet(f"{engine.index_dir}/segments")
    rows = seg.filter(F.col("term") == hot).select("slab", "df").collect()
    assert len(rows) > 1  # spread across slabs
    assert sum(r["df"] for r in rows) == total_df
    for r in rows:
        assert r["df"] <= CFG.slab_size


def test_resume_after_injected_failure(spark, tmp_path_factory, oracle):
    d = str(tmp_path_factory.mktemp("idx_resume"))
    docs = corpus_df(spark, N_DOCS, partitions=8)
    with pytest.raises(RuntimeError, match="injected"):
        build_index(spark, docs, d, CFG, wave_size=1, fail_after_waves=2)
    m = build_index(spark, docs, d, CFG, resume=True, wave_size=1)
    assert m["resumed_skipped"] == 2
    eng = SearchEngine(spark, d)
    got = [(r["docid"], r["score"]) for r in eng.search("java search", 10).collect()]
    want = oracle.search("java search", 10)
    assert [x for x, _ in got] == [x for x, _ in want]


def test_resumed_index_byte_identical(spark, tmp_path_factory, engine):
    """Resumed build output == single-shot build output, byte for byte."""
    d2 = str(tmp_path_factory.mktemp("idx2"))
    docs = corpus_df(spark, N_DOCS, partitions=4)
    with pytest.raises(RuntimeError):
        build_index(spark, docs, d2, CFG, wave_size=2, fail_after_waves=1)
    build_index(spark, docs, d2, CFG, resume=True, wave_size=2)

    a = spark.read.parquet(f"{engine.index_dir}/segments")
    b = spark.read.parquet(f"{d2}/segments")
    pa = {(r["slab"], r["term"]): (bytes(r["postings"]), bytes(r["skips"]),
                                   bytes(r["block_max"]))
          for r in a.collect()}
    pb = {(r["slab"], r["term"]): (bytes(r["postings"]), bytes(r["skips"]),
                                   bytes(r["block_max"]))
          for r in b.collect()}
    assert pa == pb


def test_segment_scan_pushes_filters(spark, engine):
    """Pruning regression guard: on the uncached path, bucket+term
    predicates must reach the parquet scan (file skipping at scale)."""
    import io
    from contextlib import redirect_stdout

    from search_engine_spark.engine import SearchEngine

    # the shared fixture cached this path; Spark substitutes cached
    # relations into equivalent plans, hiding the parquet scan
    spark.catalog.clearCache()
    eng = SearchEngine(spark, engine.index_dir, cache=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        eng._pruned_segments(["java"]).explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "EqualTo(bucket" in pushed and "EqualTo(term,java)" in pushed


def test_lsm_merge_two_generations(spark, engine, oracle):
    """Splitting postings into two gens + merge == single-gen segments."""
    seg = spark.read.parquet(f"{engine.index_dir}/segments")
    merged = merge_segments(
        seg.withColumn("gen", (F.col("df") % 2).cast("int")),  # fake 2 gens
        CFG,
        float(engine.meta["avgdl"]),
    )
    pa = {(r["slab"], r["term"]): bytes(r["postings"]) for r in seg.collect()}
    pb = {(r["slab"], r["term"]): bytes(r["postings"]) for r in merged.collect()}
    assert pa == pb


def test_local_bucket_cache_modes_and_invalidation(engine, oracle):
    """The per-bucket serving cache (serving_cache_buckets > 0) must
    return exactly what the per-query pruned scan returns, warm
    queries must hit the cache (no new loads), and refresh() must drop
    it (generation safety)."""
    queries = ["java search", "merge", "database index algorithm"]
    warm = {q: engine.search_local(q, 10) for q in queries}
    assert engine._bucket_cache  # populated by the queries above
    n_cached = len(engine._bucket_cache)
    for q in queries:  # warm pass: pure dict lookups, same results
        assert engine.search_local(q, 10) == warm[q]
    assert len(engine._bucket_cache) == n_cached
    try:
        engine.serving_cache_buckets = 0  # pruned-scan fallback mode
        for q in queries:
            assert engine.search_local(q, 10) == warm[q]
    finally:
        engine.serving_cache_buckets = 16
    engine.refresh()
    assert not engine._bucket_cache  # generation bump drops the cache
    assert engine.search_local(queries[0], 10) == warm[queries[0]]


def test_decoded_postings_cache_parity_and_eviction(engine, oracle):
    """The decoded-postings cache (serving_decoded_max_bytes > 0) must
    serve results identical to decode-on-demand, account its memo
    bytes, evict under a tiny budget, and drop on refresh()."""
    queries = ["java search", "merge", "database index algorithm", "java"]
    engine.refresh()
    try:
        engine.serving_decoded_max_bytes = 0  # decode-on-demand baseline
        base = {q: engine.search_local(q, 10) for q in queries}
        assert not engine._decoded_cache
        for q in queries:
            assert base[q] == [
                (d, pytest.approx(s, rel=1e-9))
                for d, s in oracle.search(q, 10)
            ]
    finally:
        engine.serving_decoded_max_bytes = 2 << 30
    engine.refresh()
    for q in queries:  # priming pass
        assert engine.search_local(q, 10) == base[q]
    assert engine._decoded_cache and engine._decoded_nbytes > 0
    from search_engine_spark.indexer.codec import tf_norm_factor

    m = engine.meta
    fkey = (float(m["k1"]), float(m["b"]), float(m["avgdl"]))
    for ent in engine._decoded_cache.values():
        assert ent["nb"] > 0 and len(ent["gids"])
        assert all(r["_chunk"]._full is not None for r in ent["rows"])
        # priming fills every chunk's factor memo as a view of the
        # term's fused factor array, with the floats a fresh
        # computation gives (bit for bit)
        assert len(ent["fac"]) == len(ent["gids"])
        off = 0
        for r in ent["rows"]:
            c = r["_chunk"]
            key, fac = c._fnorm
            assert key == fkey
            want = tf_norm_factor(c._full[1], c._full[2], *fkey)
            assert fac.tobytes() == want.tobytes()
            assert fac.base is ent["fac"] or len(ent["rows"]) == 1
            assert (ent["fac"][off:off + len(fac)] == fac).all()
            off += len(fac)
    for q in queries:  # warm pass: scored from the decoded arrays
        assert engine.search_local(q, 10) == base[q]
    # a 1-byte budget forces eviction down to the newest term; results
    # must not change and evicted rows must lose their chunk handles
    engine.refresh()
    try:
        engine.serving_decoded_max_bytes = 1
        for q in queries:
            assert engine.search_local(q, 10) == base[q]
        assert len(engine._decoded_cache) == 1
        (ent,) = engine._decoded_cache.values()
        assert engine._decoded_nbytes == ent["nb"]
        held = {id(r) for r in ent["rows"]}
        for bucket in engine._bucket_cache.values():
            for t_rows in bucket.values():
                for r in t_rows:
                    if id(r) not in held:
                        assert "_chunk" not in r
    finally:
        engine.serving_decoded_max_bytes = 2 << 30
    # generation safety: refresh drops the decoded cache wholesale
    engine.refresh()
    assert not engine._decoded_cache and engine._decoded_nbytes == 0
    assert engine.search_local(queries[0], 10) == base[queries[0]]


def test_dense_single_term_takes_exhaustive_path(engine, oracle):
    """r5 dispatch widening: a dense SINGLE-term query (chunks cover
    >=90% of the block grid) routes to the exhaustive scorer and stays
    rank- and score-identical to the brute-force oracle."""
    from search_engine_spark.indexer.codec import TermChunk
    from search_engine_spark.query import wand

    hot = max(oracle.postings.items(), key=lambda kv: len(kv[1]))[0]
    # confirm the fixture corpus really makes this a dense case for at
    # least one slab: chunk blocks >= 0.9 * grid
    seg = engine.spark.read.parquet(f"{engine.index_dir}/segments")
    row = (
        seg.filter(F.col("term") == hot)
        .orderBy(F.desc("df")).limit(1).collect()[0]
    )
    c = TermChunk(bytes(row["postings"]), bytes(row["skips"]),
                  bytes(row["block_max"]))
    n_grid = (CFG.slab_size + CFG.block_size - 1) // CFG.block_size
    assert 10 * c.n_blocks >= 9 * n_grid  # the new trigger fires
    calls = []
    orig = wand._exhaustive_topk

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    wand._exhaustive_topk = spy
    engine.refresh()
    try:
        # fusion would otherwise swallow the dense case whole; gate it
        # off so the per-slab slab_topk dispatch is what's under test
        engine.serving_decoded_max_bytes = 0
        got = engine.search_local(hot, 10)
    finally:
        wand._exhaustive_topk = orig
        engine.serving_decoded_max_bytes = 2 << 30
    assert calls, "dense single-term query did not dispatch exhaustive"
    want = oracle.search(hot, 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_fused_dense_path_bit_identical_to_per_slab(engine, oracle):
    """When every candidate slab is dense, search_local dispatches the
    slab-fused scorer; forcing the per-slab path (fusion gates off with
    the decoded cache) must give BIT-identical (docid, score) lists."""
    from search_engine_spark.query import wand

    queries = ["java", "java search", "database index merge table"]
    engine.refresh()
    fused_calls = []
    orig = wand.fused_dense_topk

    def spy(*a, **kw):
        fused_calls.append(1)
        return orig(*a, **kw)

    wand.fused_dense_topk = spy
    try:
        fused = {q: engine.search_local(q, 10) for q in queries}
    finally:
        wand.fused_dense_topk = orig
    assert fused_calls, "no query took the fused dense path"
    engine.refresh()
    try:
        engine.serving_decoded_max_bytes = 0  # forces per-slab kernels
        for q in queries:
            assert engine.search_local(q, 10) == fused[q], q
    finally:
        engine.serving_decoded_max_bytes = 2 << 30
    engine.refresh()
    # and both agree with the brute-force oracle
    for q in queries:
        want = oracle.search(q, 10)
        assert [d for d, _ in fused[q]] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(fused[q], want):
            assert gs == pytest.approx(ws, rel=1e-9), q

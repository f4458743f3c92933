#!/usr/bin/env python
"""Serving latency at >=1M docs (VERDICT r3 next-item 6).

Builds a ~1.07M-doc index as THREE generations (base build + two
appends, the LSM shape a long-running crawl produces), then measures
the no-Spark serving path (engine.search_local, pyarrow + numpy WAND
over the slab-pruned inventory) per query: p50 / p95 / min across
passes of the 12 reference queries.  This converts round-3's
"serving stays flat as slabs grow" pruning argument into a direct
latency number against the reference's p99<100ms@10M claim — at 1M+
docs and 40+ slabs, a query's cost tracks its terms' df, not corpus
size.

The index is cached under /tmp and reused across invocations, so
re-runs measure serving only.

Usage: python scripts/bench_serving_1m.py [--total 1150000] [--cpus 8]
Prints one JSON line; append to BENCH/serving_1m.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "java", "python tutorial", "search algorithm", "database index merge",
    "parse_token_id", "QueryParserImpl", "bug framework api",
    "zzznosuchterm", "java java java", "the and of", "how to merge",
    "crawl rank page link doc term",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--total", type=int, default=1_150_000)
    ap.add_argument("--base", type=int, default=700_000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--slab", type=int, default=25_000)
    ap.add_argument("--compact", action="store_true",
                    help="splice-compact to one generation first")
    ap.add_argument("--cache-bytes", type=int, default=0,
                    help="serving_cache_max_bytes override (0 = engine "
                         "default 1 GiB); size to hold the hot buckets "
                         "like a real serving head sizes its shard cache")
    ap.add_argument("--decoded-bytes", type=int, default=-1,
                    help="serving_decoded_max_bytes override (-1 = "
                         "engine default 2 GiB, 0 = disable the "
                         "decoded-postings cache)")
    args = ap.parse_args()

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.corpus import corpus_df
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.indexer.build import append_documents
    from search_engine_spark.session import get_spark

    spark = get_spark(
        "serving-1m", parallelism=args.cpus, shuffle_partitions=args.cpus * 2
    )
    idx = f"/tmp/sgb_idx_{args.total}"
    marker = os.path.join(idx, "_BENCH_READY")
    t_build = None
    if not os.path.exists(marker):
        cfg = EngineConfig(slab_size=args.slab, term_buckets=16)
        mid = (args.base + args.total) // 2
        t0 = time.time()
        SearchEngine.build(
            spark,
            corpus_df(spark, args.base, partitions=args.cpus * 4),
            idx,
            cfg,
        )
        for n in (mid, args.total):
            append_documents(
                spark, idx,
                corpus_df(spark, n, partitions=args.cpus * 4),
                compact=False,
            )
        t_build = time.time() - t0
        open(marker, "w").write("ok")
    t_compact = None
    compact_marker = os.path.join(idx, "_BENCH_COMPACTED")
    if args.compact and not os.path.exists(compact_marker):
        from search_engine_spark.indexer.build import compact_index

        t0 = time.time()
        compact_index(spark, idx, mode="splice")
        t_compact = time.time() - t0
        open(compact_marker, "w").write("ok")
    eng = SearchEngine(spark, idx)
    if args.cache_bytes:
        eng.serving_cache_max_bytes = args.cache_bytes
    if args.decoded_bytes >= 0:
        eng.serving_decoded_max_bytes = args.decoded_bytes
    n_docs = int(eng.meta["n_docs"])

    eng.search_local(QUERIES[0], 10)  # warm the dataset handle
    lat: list[float] = []
    cold: list[float] = []
    per_pass: list[float] = []
    per_query: dict[str, float] = {q: float("inf") for q in QUERIES}
    for p in range(args.passes):
        t0 = time.time()
        for q in QUERIES:
            tq = time.time()
            eng.search_local(q, 10)
            dt = time.time() - tq
            # pass 0 pays the one-time bucket loads (cold start);
            # warm passes are the steady-state serving number
            (cold if p == 0 else lat).append(dt)
            per_query[q] = min(per_query[q], dt)
        per_pass.append(round(time.time() - t0, 3))
    lat_ms = sorted(x * 1000 for x in lat)
    # counterfactual: the per-query pruned-scan mode (what serving
    # costs without the hot bucket cache — one file-open per fragment)
    eng.serving_cache_buckets = 0
    scan_lat: list[float] = []
    for _ in range(2):
        for q in QUERIES:
            tq = time.time()
            eng.search_local(q, 10)
            scan_lat.append(time.time() - tq)
    eng.serving_cache_buckets = 16
    scan_ms = sorted(x * 1000 for x in scan_lat)
    # per-query best-of-passes with the query's max term df: serving
    # latency must track df (the slab-pruning story), so the breakdown
    # separates rare-term latency from near-stopword scan cost
    from search_engine_spark.tokenizer import tokenize_query

    pq = {
        q: {
            "ms": round(per_query[q] * 1000, 1),
            "max_df": max(
                (eng._local_df(tokenize_query(q)) or {}).values(),
                default=0,
            ),
        }
        for q in QUERIES
    }

    # count_matches: inventory fast path (driver-side df sum) vs the
    # decode path on the same high-df term — the O(slabs) vs O(df)
    # gap VERDICT r3 item 4 asked to measure, widest at 1M docs.
    t0 = time.time()
    c_fast = eng.count_matches("java")
    t_fast = time.time() - t0
    saved = eng._term_slab_cache
    try:
        eng._term_slab_cache = None
        t0 = time.time()
        c_slow = eng.count_matches("java")
        t_slow = time.time() - t0
    finally:
        eng._term_slab_cache = saved
    assert c_fast == c_slow, (c_fast, c_slow)

    def pct(p: float) -> float:
        return round(lat_ms[min(len(lat_ms) - 1, int(p * len(lat_ms)))], 1)

    row = {
        "metric": "serving_1m_ms_per_query",
        "value": pct(0.50),
        "unit": "ms",
        "sf": f"synthetic_{n_docs}",
        "extras": {
            "n_docs": n_docs,
            "generations": int(eng.meta.get("max_gen", 0)) + 1,
            "slab_size": args.slab,
            "n_queries": len(QUERIES),
            "passes": args.passes,
            "p50_ms": pct(0.50),
            "p95_ms": pct(0.95),
            "min_ms": round(lat_ms[0], 1),
            "max_ms": round(lat_ms[-1], 1),
            "cold_pass_sec": round(sum(cold), 3),
            "scan_mode_p50_ms": round(scan_ms[len(scan_ms) // 2], 1),
            "scan_mode_p95_ms": round(
                scan_ms[min(len(scan_ms) - 1, int(0.95 * len(scan_ms)))], 1
            ),
            "per_pass_sec": per_pass,
            "build_sec": None if t_build is None else round(t_build, 1),
            "compact_sec": None if t_compact is None else round(t_compact, 1),
            "cache_max_bytes": eng.serving_cache_max_bytes,
            "decoded_max_bytes": eng.serving_decoded_max_bytes,
            "parallelism": args.cpus,
            "count_matches_docs": c_fast,
            "count_fast_ms": round(t_fast * 1000, 1),
            "count_decode_ms": round(t_slow * 1000, 1),
            "per_query": pq,
        },
    }
    print(json.dumps(row))
    spark.stop()


if __name__ == "__main__":
    main()

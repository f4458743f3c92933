"""One benchmark run: set-up, the timed serving window, output checks,
the write leg, and the metrics.

A run is single-process and closed-loop with one client: the next
request is sent when the previous one has returned.  Spark runs
``local[nproc]`` in the same process tree.  Timings use
``time.perf_counter``.

Phases, in order:

1. inputs: the seeded corpus and request stream (not timed; cached
   on disk by seed and size).
2. set-up (``setup_s``): Spark start, index build, engine open, and a
   warm-up pass over the stream's term set.
3. window (``--seconds``): the workload's requests, back to back, with
   the host-speed yardstick (``calibrate``) run between them about
   every 0.1 s.  The request metrics come from here.
4. checks (not timed): every answer of the window against the
   reference.  A wrong answer or an exception is a failed operation.
5. write leg (not in any end-to-end latency): a few use-case probes,
   the index size, then ``delete_documents``, ``refresh``, a burst of
   ``search_local`` whose first query is cold, checked against a
   Spark ``search_batch`` of the same queries.  A traced run then
   also appends a crawl batch and compacts the index (the LSM write
   and merge layers), with a checked burst after each; their timings
   are per-layer metrics only, so untraced runs skip them.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

from layerbench import calibrate, inputs
from layerbench.reference import Reference, dto_match, ranked_match

# Corpus size and per-run counts.  The size is set by the time budget
# of a run (see README.md): at 8k documents, Spark start plus the cold
# index build already take 35-50 s of the ~70 s a run may take.
N_DOCS = 8_000
K = 10
# Requests per run: --seconds times the workload's rate on a 4-core VM
# when the benchmark was written, so a run measures about --seconds of
# serving and every run of a workload has the same count.
RATE = {"serve_dto": 80, "serve_topk_dense": 1200}
# distinct top-k requests; the window cycles through them
TOPK_POOL = 1200
PROBE_QUERIES = 12
# crawl batch of the traced run's append: new documents, re-crawled
APPEND_NEW, APPEND_DUP = 800, 80
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[layerbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def tail_rank(n: int) -> int:
    """Index, in ascending order, of the tail sample: the highest
    order statistic with at least ten samples above it."""
    return max(0, n - 11)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    """A quarter of the machine, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    return int(min(4096, max(1024, kb // 1024 // 4)))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work_dir: str, n_docs: int = N_DOCS,
                 plant_wrong_answer: bool = False):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.n_docs = n_docs
        self.plant = plant_wrong_answer
        self.n_ops = max(20, int(round(seconds * RATE[workload])))
        self.attempted = 0
        self.failed = 0
        self.checked_all = True
        self.planted_caught = None
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.spark = None

    # -- set-up -------------------------------------------------------------
    def _start_spark(self):
        from search_engine_spark.session import get_spark

        n = _nproc()
        w = self.work_dir
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(w, d), exist_ok=True)
        return get_spark(
            "layerbench",
            parallelism=n,
            shuffle_partitions=n,
            driver_memory=f"{_driver_memory_mb()}m",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(w, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(w, 'tmp')}",
            },
        )

    def setup(self, docs: dict[str, list]) -> None:
        import pandas as pd

        from search_engine_spark.config import EngineConfig
        from search_engine_spark.engine import SearchEngine
        from search_engine_spark.indexer.build import build_index

        t0 = time.perf_counter()
        self.spark = self._start_spark()
        self.spark.range(1).count()
        t1 = time.perf_counter()
        self.layer["session.get_spark.s"] = t1 - t0
        self.index_dir = os.path.join(self.work_dir, "index")
        n = len(docs["content"])
        cfg = EngineConfig(slab_size=max(1024, n // 48), term_buckets=16,
                           block_size=128, build_partitions=_nproc())
        df = self.spark.createDataFrame(
            pd.DataFrame(docs),
            "repo string, path string, commit string, lang string, "
            "content string")
        m = build_index(self.spark, df, self.index_dir, cfg,
                        detailed_metrics=False)
        # build_index reports cumulative marks; the layer metrics are
        # the time of each phase
        prev = 0.0
        for phase in ("docmap", "stats", "df", "segments"):
            mark = float(m[f"t_{phase}"])
            self.layer[f"build.t_{phase}_s"] = mark - prev
            prev = mark
        log(f"built in {time.perf_counter() - t1:.1f} s")
        self.engine = SearchEngine(self.spark, self.index_dir)
        self.base_n_docs = int(self.engine.meta["n_docs"])
        self.warm_up()
        self.setup_s = time.perf_counter() - t0

    def warm_up(self) -> None:
        """Touch every term the stream uses, so bucket loads, decodes
        and lazily built dictionaries happen before the window."""
        eng = self.engine
        terms = sorted({t for q in self.stream_queries()
                        for t in q.split()})
        for i in range(0, len(terms), 12):
            q = " ".join(terms[i:i + 12])
            eng.search_local(q, K)
            eng.count_matches_local(q)
        eng.search_local_sorted(terms[0], K, "date")
        eng.did_you_mean_local("qxqxqx")
        if self.workload == "serve_topk_dense":
            for req in self.stream:
                self._topk_call(req)
        else:
            from search_engine_spark.usecase import SearchDocumentsUseCase

            uc = SearchDocumentsUseCase(eng)
            for req in self.stream[:20]:
                try:
                    uc.execute_local(req)
                except NotImplementedError:
                    pass

    # -- workloads ----------------------------------------------------------
    def make_stream(self, docs: dict[str, list]) -> None:
        if self.workload == "serve_topk_dense":
            self.stream = inputs.topk_requests(self.seed, TOPK_POOL)
        else:
            from collections import Counter

            # domains by popularity, ties by name
            repos = [r for r, _ in sorted(Counter(docs["repo"]).items(),
                                          key=lambda kv: (-kv[1], kv[0]))]
            self.stream = inputs.dto_requests(self.seed, self.n_ops, repos)

    def stream_queries(self) -> list[str]:
        return [r["query"] for r in self.stream] + [
            r["exclude"] for r in self.stream if r.get("exclude")]

    def _topk_call(self, req: dict):
        """One ``search_local`` request.  A search-after request takes
        its cursor from the engine's own page before it (the first
        time it is served, during warm-up)."""
        if "after_rank" in req and "after" not in req:
            page = self.engine.search_local(req["query"], req["after_rank"])
            req["after"] = (page[-1][1], page[-1][0]) if page else None
        return self.engine.search_local(
            req["query"], K, exclude=req.get("exclude"),
            min_should_match=req.get("min_should_match"),
            after=req.get("after"))

    def window(self) -> None:
        """Closed loop: ``n_ops`` requests back to back."""
        import gc

        from search_engine_spark.usecase import SearchDocumentsUseCase

        topk = self.workload == "serve_topk_dense"
        if topk:
            call = self._topk_call
        else:
            self.uc = SearchDocumentsUseCase(self.engine)
            call = self.uc.execute_local
        # top-k pages are kept once per distinct value, so the window
        # does not grow the heap the collector walks
        interned: dict = {}
        ops: list[tuple] = []
        lat: list[float] = []
        # the yardstick's slowdown factor at each of its runs
        cal: list[float] = []
        # per request: index of the last yardstick run before it
        at_cal: list[int] = []
        stream, n = self.stream, len(self.stream)
        clock = time.perf_counter
        gc.collect()
        t_start = next_cal = clock()
        for j in range(self.n_ops):
            if clock() >= next_cal:
                cal.append(calibrate.slowdown(topk))
                next_cal = clock() + calibrate.EVERY_S
            i = j % n
            req = stream[i]
            t = clock()
            try:
                out, err = call(req), None
            except Exception as e:  # a refused request is a failed op
                out, err = None, e
            lat.append(clock() - t)
            at_cal.append(len(cal) - 1)
            if topk and out is not None:
                out = tuple(out)
                out = interned.setdefault(out, out)
            ops.append((i, out, err))
        self.window_span = (t_start, clock())
        self.ops, self.lat, self.cal = ops, lat, cal
        self.at_cal = at_cal
        # peak RSS of set-up and serving, read before the checks build
        # the benchmark's own reference index in this process
        self.peak_rss_mb = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0

    # -- checks -------------------------------------------------------------
    def check_window(self, ref: Reference) -> None:
        verdict: dict = {}
        # the reference must see the same document set the engine
        # indexed, or no answer check means anything
        if ref.n != self.base_n_docs:
            self.checked_all = False
        planted = -1
        if self.plant:
            planted = next(j for j, op in enumerate(self.ops)
                           if op[2] is None)
            i, out, err = self.ops[planted]
            self.ops[planted] = (i, _corrupt(out), err)
        errors: dict[str, int] = {}
        wrong = 0
        # per window request: returned and passed the check
        self.op_ok = ok = [False] * len(self.ops)
        for j, (i, out, err) in enumerate(self.ops):
            self.attempted += 1
            if err is not None:
                self.failed += 1
                errors[type(err).__name__] = errors.get(
                    type(err).__name__, 0) + 1
                continue
            req = self.stream[i]
            if self.workload == "serve_topk_dense":
                key = (i, tuple(out))
                if key not in verdict:
                    want, score_of = ref.topk(req, K)
                    verdict[key] = ranked_match(out, want, score_of)
            else:
                key = (i, id(out))
                if key not in verdict:
                    want, score_of = ref.dto(req)
                    verdict[key] = dto_match(out, want, score_of)
            if j == planted:
                self.planted_caught = not verdict[key]
            ok[j] = verdict[key]
            if not verdict[key]:
                self.failed += 1
                wrong += 1
        log(f"window: {len(self.ops)} requests, {wrong} wrong answers, "
            f"exceptions {errors or 'none'}")

    # -- write leg ----------------------------------------------------------
    def write_leg(self, ref: Reference) -> None:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from search_engine_spark.indexer.build import delete_documents
        from search_engine_spark.usecase import SearchDocumentsUseCase

        eng, spark = self.engine, self.spark
        clock = time.perf_counter

        # use-case probes on the base index, checked like the window
        uc = SearchDocumentsUseCase(eng)
        for req in inputs.dto_probes(self.seed):
            self.attempted += 1
            try:
                got = uc.execute_local(req)
            except Exception as e:  # counted, like a window request
                log(f"probe {req}: {type(e).__name__}: {e}")
                self.failed += 1
                continue
            want, score_of = ref.dto(req)
            self.failed += not dto_match(got, want, score_of)
        c = self.uc.cache if self.workload == "serve_dto" else uc.cache
        self.layer["cache.hit_share"] = c.hits / max(1, c.hits + c.misses)

        # on-disk size per document, and segment payload bytes per
        # document, of the index as built
        self.index_bytes_per_doc = self.index_bytes() / ref.n
        seg = ds.dataset(os.path.join(self.index_dir, "segments"),
                         partitioning="hive").to_table(
            columns=["postings", "skips", "block_max"])
        self.layer["index.segments.bytes_per_doc"] = sum(
            pc.sum(pc.binary_length(seg.column(c))).as_py() or 0
            for c in seg.column_names) / ref.n

        # tombstone seeded documents: the refresh drops every
        # generation-scoped cache, and pending deletes take queries
        # off the fused path
        gone = inputs.deletions(self.seed, ref.n, max(20, ref.n // 100))
        t = clock()
        delete_documents(spark, self.index_dir, docids=gone)
        self.layer["build.delete_documents.s"] = clock() - t
        t = clock()
        eng.refresh()
        self.layer["engine.refresh.ms"] = (clock() - t) * 1e3
        cold_ms, batch_s = self.checked_burst("after deletes", set(gone))
        self.layer["cold_query.ms"] = cold_ms
        self.layer["engine.search_batch.s_per_query"] = batch_s
        if self.trace:
            self.t_ingest = clock()
            self.ingest_leg(set(gone))

    def ingest_leg(self, gone: set[int]) -> None:
        """The LSM write and merge layers: append a crawl batch as a new
        generation, then compact every generation (which also purges
        the tombstones), each followed by a refresh and a checked
        burst."""
        import pandas as pd

        from search_engine_spark.indexer.build import (
            append_documents,
            compact_index,
        )

        eng, spark = self.engine, self.spark
        clock = time.perf_counter
        batch = inputs.appended(self.seed, self.docs, APPEND_NEW, APPEND_DUP)
        df = spark.createDataFrame(
            pd.DataFrame(batch),
            "repo string, path string, commit string, lang string, "
            "content string")
        t = clock()
        append_documents(spark, self.index_dir, df, compact=False)
        self.layer["build.append_documents.s"] = clock() - t
        eng.refresh()
        live = int(eng.meta["n_docs"]) - len(gone)
        self.layer["index.bytes_per_doc.appended"] = \
            self.index_bytes() / live
        self.checked_burst("after the append", gone)
        t = clock()
        compact_index(spark, self.index_dir)
        self.layer["build.compact_index.s"] = clock() - t
        eng.refresh()
        self.layer["index.bytes_per_doc.compacted"] = \
            self.index_bytes() / int(eng.meta["n_docs"])
        self.checked_burst("after compaction", gone)

    def index_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.index_dir):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        return total

    def checked_burst(self, when: str, gone: set[int]) -> tuple[float, float]:
        """``search_local`` on the probe queries, each answer checked
        against a Spark ``search_batch`` of the same queries and for
        deleted documents.  Returns the first (cold) query's ms and
        the Spark path's seconds per query."""
        eng, clock = self.engine, time.perf_counter
        probes = inputs.probe_queries(self.seed, PROBE_QUERIES)
        burst = {}
        cold_ms = 0.0
        for i, q in enumerate(probes):
            self.attempted += 1
            t = clock()
            try:
                burst[i] = eng.search_local(q, K)
            except Exception as e:
                log(f"query {q!r} {when}: {type(e).__name__}: {e}")
                self.failed += 1
            if i == 0:
                cold_ms = (clock() - t) * 1e3
        # the Spark query path answers the same queries
        t = clock()
        rows = eng.search_batch(
            {str(i): q for i, q in enumerate(probes)}, K).collect()
        batch_s = (clock() - t) / len(probes)
        spark_pages: dict[int, list] = {i: [] for i in burst}
        for r in rows:
            if int(r["qid"]) in spark_pages:
                spark_pages[int(r["qid"])].append(
                    (int(r["rank"]), int(r["docid"]), float(r["score"])))
        bad = 0
        for i, got in burst.items():
            want = [(d, s) for _, d, s in sorted(spark_pages[i])]
            ok = ranked_match(got, want, dict(want).get) and not (
                {d for d, _ in got} & gone)
            bad += not ok
        if bad:
            log(f"{bad} of {len(burst)} answers {when} differ from Spark")
        self.failed += bad
        return cold_ms, batch_s

    # -- metrics ------------------------------------------------------------
    def end_to_end(self) -> dict:
        """Request figures cover only the window requests that returned
        and passed the check: a refused or wrongly served request costs
        next to nothing, and would otherwise pull the figures down.
        They are wall-clock figures at the yardstick's reference speed
        (``calibrate``)."""
        local = self.local_slowdown()
        scaled = [x / local[c] for x, c in zip(self.lat, self.at_cal)]
        wall_ms = self.ok_samples(scaled)
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_ms": (statistics.median(v for _, v in wall_ms),
                               "ms"),
            "latency_tail_ms": (self.tail_ms(wall_ms), "ms"),
            "throughput_qps": (len(wall_ms) / sum(scaled), "1/s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "index_bytes_per_doc": (self.index_bytes_per_doc, "B"),
        }

    def host_slowdown(self) -> float:
        """The yardstick's median slowdown in the window: 1.25 means
        the host ran 25% slower than the reference."""
        return statistics.median(self.cal)

    def local_slowdown(self) -> list[float]:
        """Per yardstick run: the median slowdown over it and its four
        nearest runs (about half a second), which follows the host's
        speed phases more closely than the window's median."""
        cal = self.cal
        return [statistics.median(cal[max(0, c - 2):c + 3])
                for c in range(len(cal))]

    def ok_samples(self, seconds: list[float]) -> list[tuple[int, float]]:
        """(stream index, ms) of each window request that passed."""
        return [(op[0], x * 1e3)
                for op, x, ok in zip(self.ops, seconds, self.op_ok) if ok]

    def tail_ms(self, samples: list[tuple[int, float]]) -> float:
        """The 11th-slowest request: the highest order statistic with
        ten samples beyond it.  A top-k run serves each distinct
        request many times, and a single request's time there is the
        median of its repeats; so the tail ranks the mix's slow
        requests, not the machine's stalls, which at 1,200 requests/s
        would fill the last ten places on their own."""
        if self.workload == "serve_topk_dense":
            by_req: dict[int, list] = {}
            for i, x in samples:
                by_req.setdefault(i, []).append(x)
            lat_ms = [statistics.median(v) for v in by_req.values()]
        else:
            lat_ms = [x for _, x in samples]
        return sorted(lat_ms)[tail_rank(len(lat_ms))]

    def per_layer(self, overhead: tuple[float, float]) -> dict:
        tr = self.tracer
        t0, t1 = self.window_span
        win = tr.window(t0, t1)
        wall = t1 - t0
        ops = max(1, len(self.ops))
        ws = tr.summary(win)
        # every call after set-up, up to the traced run's append
        after_idx = tr.window(self.after_setup, self.t_ingest)
        after = tr.summary(after_idx)

        def per_call_ms(name):
            row = after.get(name)
            return row["incl"] / row["calls"] * 1e3 if row else 0.0

        def per_op_ms(name):
            row = ws.get(name)
            return (row["incl"] if row else 0.0) * 1e3 / ops

        out = dict(self.layer)
        # the window as measured, before scaling to the reference
        # speed; traced, so it includes the tracing overhead
        out["wall.latency_p50_ms"] = statistics.median(self.lat) * 1e3
        out["host.slowdown"] = self.host_slowdown()
        out["usecase.execute_local.ms"] = per_call_ms("usecase.execute_local")
        uc_self = tr.self_by_span(after_idx, "usecase.execute_local",
                                  "engine.")
        out["usecase.self_ms"] = (
            statistics.mean(uc_self) * 1e3 if uc_self else 0.0)
        for m in ("search_local", "count_matches_local",
                  "did_you_mean_local", "search_local_sorted"):
            out[f"engine.{m}.ms"] = per_call_ms(f"engine.{m}")
        sl = ws.get("engine.search_local", {"calls": 0})["calls"]
        out["wand.slab_topk.calls_per_query"] = \
            ws.get("wand.slab_topk", {"calls": 0})["calls"] / ops
        out["wand.slab_topk.ms_per_query"] = per_op_ms("wand.slab_topk")
        out["wand.fused_dense_topk.ms_per_query"] = \
            per_op_ms("wand.fused_dense_topk")
        out["wand.fused_share"] = \
            ws.get("wand.fused_dense_topk", {"calls": 0})["calls"] / max(1, sl)
        out["codec.decode.ms_per_query"] = per_op_ms("codec.decode")
        out["codec.postings_decoded_per_query"] = \
            self.window_varints / 3.0 / ops
        # where the window's wall time went: self time per layer group,
        # plus the part no span covers; the shares sum to 1
        shares = {g: 0.0 for g in ("usecase", "engine", "wand", "codec")}
        for name, row in ws.items():
            g = name.split(".", 1)[0]
            if g in shares:
                shares[g] += row["self"]
        covered = tr.top_level(win)
        for g, v in shares.items():
            out[f"share.{g}"] = v / wall
        out["share.uncovered"] = (wall - covered) / wall
        out["trace.overhead_ms_per_op"] = overhead[0]
        out["trace.overhead_share"] = overhead[1]
        return out

    # -- one run ------------------------------------------------------------
    def execute(self) -> dict:
        self.docs = docs = inputs.cached_corpus(
            os.path.dirname(self.work_dir), self.seed, self.n_docs)
        self.make_stream(docs)
        log(f"{self.workload}: set-up")
        self.setup(docs)
        overhead = (0.0, 0.0)
        if self.trace:
            overhead = self.measure_overhead()
            from layerbench.trace import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        self.after_setup = time.perf_counter()
        log(f"{self.workload}: window of {self.seconds:g} s")
        varints0 = self.tracer.counts["varints"] if self.tracer else 0
        self.window()
        self.window_varints = (
            self.tracer.counts["varints"] - varints0 if self.tracer else 0)
        log(f"{self.workload}: checks ({len(self.ops)} requests)")
        ref = Reference(docs)
        self.check_window(ref)
        log(f"{self.workload}: write leg")
        self.write_leg(ref)
        if self.trace:
            self.tracer.remove()
            metrics = self.per_layer(overhead)
            units = layer_units()
            return {k: (v, units[k]) for k, v in metrics.items()}
        return self.end_to_end()

    def measure_overhead(self) -> tuple[float, float]:
        """Tracing overhead: the median request latency over the same
        requests, alternating untraced and traced passes."""
        from layerbench.trace import Tracer

        if self.workload == "serve_dto":
            from search_engine_spark.usecase import SearchDocumentsUseCase

            reqs = [r for r in self.stream[:40] if not r.get("sortBy")]

            def one(r):
                # a fresh use case per request: no cache hits here
                return SearchDocumentsUseCase(self.engine).execute_local(r)
        else:
            reqs, one = self.stream[:200], self._topk_call
        plain, traced = [], []
        for rep in range(4):
            tr = None
            if rep % 2:
                tr = Tracer()
                tr.install()
            try:
                for r in reqs:
                    t = time.perf_counter()
                    one(r)
                    (traced if tr else plain).append(time.perf_counter() - t)
            finally:
                if tr:
                    tr.remove()
        p, q = statistics.median(plain), statistics.median(traced)
        return (q - p) * 1e3, (q - p) / p

    def close(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


def _corrupt(out):
    """A planted wrong answer for the self-test: a response's total is
    off by one, a page's first score is shifted, or an empty page
    gets a made-up hit."""
    if isinstance(out, dict):
        bad = dict(out)
        bad["totalResults"] = out.get("totalResults", 0) + 1
        return bad
    if out:
        return [(out[0][0], out[0][1] + 1.0)] + list(out[1:])
    return [(0, 1.0)]


def layer_units() -> dict[str, str]:
    u = {
        "wall.latency_p50_ms": "ms", "host.slowdown": "ratio",
        "session.get_spark.s": "s",
        "build.t_docmap_s": "s", "build.t_stats_s": "s",
        "build.t_df_s": "s", "build.t_segments_s": "s",
        "build.delete_documents.s": "s",
        "build.append_documents.s": "s", "build.compact_index.s": "s",
        "index.bytes_per_doc.appended": "B",
        "index.bytes_per_doc.compacted": "B",
        "usecase.execute_local.ms": "ms", "usecase.self_ms": "ms",
        "cache.hit_share": "ratio",
        "engine.search_local.ms": "ms",
        "engine.count_matches_local.ms": "ms",
        "engine.did_you_mean_local.ms": "ms",
        "engine.search_local_sorted.ms": "ms",
        "engine.refresh.ms": "ms",
        "engine.search_batch.s_per_query": "s",
        "cold_query.ms": "ms",
        "wand.slab_topk.calls_per_query": "count",
        "wand.slab_topk.ms_per_query": "ms",
        "wand.fused_dense_topk.ms_per_query": "ms",
        "wand.fused_share": "ratio",
        "codec.decode.ms_per_query": "ms",
        "codec.postings_decoded_per_query": "count",
        "index.segments.bytes_per_doc": "B",
        "trace.overhead_ms_per_op": "ms",
        "trace.overhead_share": "ratio",
    }
    for g in ("usecase", "engine", "wand", "codec", "uncovered"):
        u[f"share.{g}"] = "ratio"
    return u


def run(workload: str, seed: int, seconds: float, trace: bool,
        root: str, **kw) -> tuple[dict, Run]:
    """Execute one run in a private directory under ``root``; return
    the result object the command prints, and the run."""
    work = os.path.join(root, ".layerbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    r = Run(workload, seed, seconds, trace, work, **kw)
    try:
        metrics = r.execute()
    finally:
        r.close()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    return {
        "correct": r.checked_all,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }, r

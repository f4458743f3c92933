"""Spans around the engine's layer boundaries, recorded from outside.

``Tracer.install`` replaces public entry points of each layer with
wrappers that record a span (name, start, end, parent) and restores
them on ``remove``.  Nothing in the engine changes.  Names the engine
binds at import time (``tokenize_query``) cannot be wrapped, so their
time shows as the self time of the enclosing call.  The wrapped
attributes are looked up at call time:

- ``SearchDocumentsUseCase.execute_local``           -> usecase.execute_local
- ``SearchEngine.search_local`` and its serving twins -> engine.<method>
- ``query.wand.slab_topk`` / ``fused_dense_topk``    -> wand.<function>
  (the engine imports both inside the calling function)
- ``TermChunk`` decode methods and ``codec.tf_norm_factor`` -> codec.decode
  / codec.factor; ``codec.varint_decode`` counts values decoded.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import time
from collections import defaultdict

ENGINE_METHODS = (
    "search_local", "count_matches_local", "did_you_mean_local",
    "search_local_sorted", "refresh",
)


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index or -1)
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.counts: dict[str, int] = defaultdict(int)

    # -- recording ----------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        i = len(self.spans) - 1
        self._stack.append(i)
        return i

    def end(self, i: int) -> None:
        self.spans[i][2] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, owner, attr: str, name: str, count=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            i = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(i)
            if count is not None:
                tracer.counts[count] += len(out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        from search_engine_spark import engine, usecase
        from search_engine_spark.indexer import codec
        from search_engine_spark.query import wand

        self._wrap(usecase.SearchDocumentsUseCase, "execute_local",
                   "usecase.execute_local")
        for m in ENGINE_METHODS:
            self._wrap(engine.SearchEngine, m, f"engine.{m}")
        self._wrap(wand, "slab_topk", "wand.slab_topk")
        self._wrap(wand, "fused_dense_topk", "wand.fused_dense_topk")
        for m in ("decode_blocks", "_decode_full"):
            self._wrap(codec.TermChunk, m, "codec.decode")
        self._wrap(codec.TermChunk, "factor_all", "codec.factor")
        self._wrap(codec, "tf_norm_factor", "codec.factor")
        self._wrap(codec, "varint_decode", "codec.varint", count="varints")

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------
    def window(self, t0: float, t1: float) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s[1] >= t0 and s[2] is not None and s[2] <= t1]

    def summary(self, idx: list[int]) -> dict[str, dict]:
        """Per span name over the spans ``idx``: calls, inclusive time of
        outermost spans of that name (a name nested in itself counts
        once), and self time (duration minus direct children)."""
        keep = set(idx)
        child = defaultdict(float)
        for i in idx:
            name, s, e, p = self.spans[i]
            if p in keep:
                child[p] += e - s
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "incl": 0.0, "self": 0.0})
        for i in idx:
            name, s, e, p = self.spans[i]
            d = e - s
            row = out[name]
            row["calls"] += 1
            row["self"] += d - child[i]
            anc, nested = p, False
            while anc != -1:
                if self.spans[anc][0] == name:
                    nested = True
                    break
                anc = self.spans[anc][3]
            if not nested:
                row["incl"] += d
        return dict(out)

    def top_level(self, idx: list[int]) -> float:
        keep = set(idx)
        return sum(self.spans[i][2] - self.spans[i][1] for i in idx
                   if self.spans[i][3] not in keep)

    def self_by_span(self, idx: list[int], parent_name: str,
                     child_prefix: str) -> list[float]:
        """Self time of each ``parent_name`` span, where only children
        whose name starts with ``child_prefix`` are subtracted."""
        kids = defaultdict(float)
        for i in idx:
            name, s, e, p = self.spans[i]
            if p != -1 and name.startswith(child_prefix):
                kids[p] += e - s
        return [self.spans[i][2] - self.spans[i][1] - kids[i]
                for i in idx if self.spans[i][0] == parent_name]

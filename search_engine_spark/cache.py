"""Query-result cache — the S8 analog (SURVEY §2.1).

The reference declares ``SearchCachePort.get/put(key, response, ttl)``
with key format ``search:{q}:{page}:{size}:{sort}``
(SE/application/search/port/output/SearchCachePort.java:10-45) but
ships NO adapter — Redis is wired for robots.txt only.  This module
supplies the missing adapter for the serving tier: an in-process
TTL+LRU map in front of the no-Spark ``search_local*`` path, which is
where a result cache belongs (the Spark batch paths are one-shot jobs;
caching them is the job scheduler's business, not the engine's).

Two callers, two key schemes.  ``search_key`` (the reference format)
is used by ``SearchEngine.search_local_cached`` and contract.py; that
cache is the engine's own and ``SearchEngine.refresh()`` drops it
wholesale.  ``SearchDocumentsUseCase`` keys its cache by
``search:`` plus the repr of a (path, engine generation, query, page,
size, sortBy, filters, ranges) tuple; that cache survives
``refresh()`` and is invalidated through the generation in its key,
so a prefix ``invalidate()`` in the reference format matches none of
its entries.

Scale note: on a real serving fleet this object is per-process state
behind a load balancer, exactly like a Redis-less local cache tier;
swapping ``SearchCache`` for a Redis client changes none of the
call sites because the port surface (get/put/invalidate) is the
reference's own.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from typing import Any


def search_key(q: str, page: int, size: int, sort: str = "score") -> str:
    """Verbatim reference key format: ``search:{q}:{page}:{size}:{sort}``
    (SearchCachePort.java:10-45)."""
    return f"search:{q}:{page}:{size}:{sort}"


class SearchCache:
    """TTL + LRU bounded map with hit/miss counters.

    ``get`` returns None on miss OR expiry (expired entries are
    evicted on access); ``put`` inserts with a per-entry TTL and
    evicts the least-recently-used entry past ``max_entries``.
    """

    def __init__(self, max_entries: int = 1024,
                 default_ttl_sec: float = 300.0) -> None:
        self.max_entries = int(max_entries)
        self.default_ttl_sec = float(default_ttl_sec)
        self._map: OrderedDict[str, tuple[float, Any]] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def __len__(self) -> int:
        return len(self._map)

    def get(self, key: str):
        ent = self._map.get(key)
        if ent is None:
            self.misses += 1
            return None
        expires, value = ent
        if time.monotonic() >= expires:
            del self._map[key]
            self.misses += 1
            return None
        self._map.move_to_end(key)
        self.hits += 1
        return value

    def put(self, key: str, value: Any, ttl_sec: float | None = None) -> None:
        ttl = self.default_ttl_sec if ttl_sec is None else float(ttl_sec)
        self._map[key] = (time.monotonic() + ttl, value)
        self._map.move_to_end(key)
        while len(self._map) > self.max_entries:
            self._map.popitem(last=False)

    def invalidate(self, prefix: str = "") -> int:
        """Drop every entry whose key starts with ``prefix`` (default:
        everything).  Returns the number of entries dropped."""
        doomed = [k for k in self._map if k.startswith(prefix)]
        for k in doomed:
            del self._map[k]
        return len(doomed)

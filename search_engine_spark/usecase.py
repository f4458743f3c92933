"""Application layer: the reference's SearchDocumentsUseCase.

`execute(request) -> response` mirrors the reference use case
(SearchDocumentsUseCase.java:45-91) over the Spark engine: cache
check (the reference's ``search:{q}:{page}:{size}:{sort}`` key,
extended by every filter and the index generation; 30-minute TTL),
repository page fetch honoring EVERY SearchRequestDTO param
(query, page/size, sortBy relevance|date|pagerank, language, domain,
dateFrom/dateTo, minContentQuality — SearchRequestDTO.java:16-24),
total count, and the SearchResponseDTO mapping
(SearchResponseDTO.java:17-41: query, totalResults, page, size,
totalPages = ceil(total/size), searchTimeMs, results[url, title,
snippet, relevanceScore, pagerankScore, language, crawledAt,
highlightedTerms], suggestions).

One flow serves both paths: ``execute`` runs it on Spark (page
metadata by a broadcast join against the docmap) and
``execute_local`` with no Spark job (page metadata from the engine's
page store).  Both accept every request parameter, sortBy with any
filter included, and give identical responses.

Semantics notes (engine-defined where the reference left gaps):

- ``totalResults`` counts by QUERY only (the reference's
  ``countResults(query)`` takes no filters — mirrored exactly).
- ``url`` is the canonical document key ``repo/path@commit`` (F7 —
  the code-corpus analog of the page URL).
- ``crawledAt`` is the ISO date of the synthetic publish day
  (PUBLISH_EPOCH + pub_day(docid)) — the SAME day sortBy="date" and
  dateFrom/dateTo use, so the response dates are consistent with
  sorting and filtering.
- ``highlightedTerms`` lists the analyzed query terms (the reference
  HighlightBuilder marks every query term).
- ``suggestions`` holds did_you_mean output when the query matched
  nothing (the reference's GetSuggestionsUseCase is a stub returning
  [] — GetSuggestionsUseCase.java:20-28; this exceeds it), else [].
- ``pagerankScore`` joins a supplied (docid, rank) table (e.g.
  ops/graph.pagerank_converged output), 0.0 when absent — the
  reference reads the entity's stored pagerank the same way.
"""

from __future__ import annotations

import datetime
import math
import time

from pyspark.sql import DataFrame, functions as F

from search_engine_spark.cache import SearchCache
from search_engine_spark.tokenizer import tokenize_query

CACHE_TTL_SEC = 30 * 60.0  # CACHE_TTL_MINUTES = 30 (UseCase.java:26)


class GetSuggestionsUseCase:
    """The controller's second endpoint (SearchControllerV2.java:64-70
    -> GetSuggestionsUseCase.java): prefix autocomplete.  The
    reference's implementation is an acknowledged stub returning []
    (GetSuggestionsUseCase.java:25-27 "TODO ... return empty list");
    this one is real — the DEFAULT_LIMIT=5 highest-df vocabulary
    completions of the prefix via the engine's capped prefix-expansion
    table (query/fuzzy.prefix_expansions: a distributed TakeOrdered,
    never an unpartitioned window).  The reference's sub-2-char guard
    is kept verbatim."""

    DEFAULT_LIMIT = 5  # GetSuggestionsUseCase.java:14

    def __init__(self, engine):
        self.engine = engine

    def execute(self, prefix: str, limit: int | None = None) -> list[str]:
        if not prefix or len(prefix) < 2:
            return []
        from search_engine_spark.query.fuzzy import prefix_expansions

        n = limit if limit is not None else self.DEFAULT_LIMIT
        exp = prefix_expansions(
            self.engine._content_vocab(), prefix.lower(), n
        )
        return [r["term"] for r in exp.select("term").collect()]


def _copy_response(r: dict) -> dict:
    """A response no later mutation can reach: fresh result dicts and
    lists (every other value is immutable)."""
    out = dict(r)
    out["results"] = [
        dict(x, highlightedTerms=list(x["highlightedTerms"]))
        for x in r["results"]
    ]
    out["suggestions"] = list(r["suggestions"])
    return out


class SearchDocumentsUseCase:
    """execute(SearchRequestDTO) -> SearchResponseDTO over a
    SearchEngine (the domain repository analog).

    The response cache is keyed by a canonical encoding of every
    request parameter but ``rank`` (query, page, size, sortBy,
    language, domain, dateFrom, dateTo, minContentQuality), the path
    (``execute`` / ``execute_local``) and the engine generation, which
    ``refresh()`` bumps — so no filter, range or index change can be
    answered from another request's page.  Requests carrying ``rank``
    bypass the cache.  Responses are copied on put and on get."""

    def __init__(self, engine, cache: SearchCache | None = None):
        self.engine = engine
        self.cache = cache if cache is not None else SearchCache()

    def execute(self, request: dict) -> dict:
        """execute(SearchRequestDTO) -> SearchResponseDTO on Spark:
        hits via search / search_sorted, total via count_matches,
        suggestions via did_you_mean, and the page's metadata from a
        broadcast join against the docmap.  ``rank`` here is a
        (docid, rank) DataFrame."""
        return self._execute(request, "spark")

    def execute_local(self, request: dict) -> dict:
        """Serving twin of ``execute`` — NO Spark job anywhere: hits
        via search_local / search_local_sorted, total via
        count_matches_local, suggestions via did_you_mean_local, and
        the page's metadata and snippets from the engine's
        per-generation page store (one searchsorted + take).  Every
        request parameter is served, sortBy with any filter included.
        Identical responses to execute() (pinned in pytest) at
        serving-head latency — the shape a REST tier would run.
        ``rank`` here is a {docid: rank} dict."""
        return self._execute(request, "local")

    def _execute(self, request: dict, path: str) -> dict:
        """The one use-case flow; ``path`` ("spark" or "local") picks
        the engine calls and the page metadata source."""
        t0 = time.time()
        q = request["query"]
        page = int(request.get("page") or 0)
        size = int(request.get("size") or 10)
        sort_by = request.get("sortBy") or "relevance"
        filters: dict = {}
        if request.get("language"):
            filters["lang"] = request["language"]
        if request.get("domain"):
            filters["repo"] = request["domain"]
        kw = dict(
            filter=filters or None,
            date_from=request.get("dateFrom"),
            date_to=request.get("dateTo"),
            min_quality=request.get("minContentQuality"),
        )
        eng, rank = self.engine, request.get("rank")
        key = None if rank is not None else "search:" + repr((
            path, eng.generation, q, page, size, sort_by,
            filters.get("lang"), filters.get("repo"),
            kw["date_from"], kw["date_to"], kw["min_quality"],
        ))
        hit = self.cache.get(key) if key is not None else None
        if hit is not None:
            return _copy_response(hit)
        n_fetch = (page + 1) * size
        relevance = sort_by in ("relevance", "score")
        if path == "spark":
            hits = (
                eng.search(q, n_fetch, **kw) if relevance
                else eng.search_sorted(q, n_fetch, sort_by, rank=rank, **kw)
            )
            rows = [
                (int(r["docid"]), float(r["score"]))
                for r in hits.select("docid", "score").collect()
            ][page * size:]
            total = eng.count_matches(q)
            metas = self._page_meta(rows, rank)
            dym = eng.did_you_mean(q) if total == 0 else None
        else:
            hits = (
                eng.search_local(q, n_fetch, **kw) if relevance
                else [
                    (d, s) for d, _key, s in eng.search_local_sorted(
                        q, n_fetch, sort_by, rank=rank, **kw
                    )
                ]
            )
            rows = hits[page * size:]
            total = eng.count_matches_local(q)
            metas = eng._page_rows([d for d, _ in rows]) if rows else []
            for (d, _), m in zip(rows, metas):
                m["prk"] = float((rank or {}).get(d, 0.0))
            dym = eng.did_you_mean_local(q) if total == 0 else None
        # did_you_mean returns the corrected query or None (nothing
        # to suggest); the DTO carries a list either way
        response = {
            "query": q,
            "totalResults": total,
            "page": page,
            "size": size,
            "totalPages": int(math.ceil(total / size)) if size else 0,
            "searchTimeMs": int((time.time() - t0) * 1000),
            "results": _results(q, rows, metas),
            "suggestions": [dym] if dym else [],
        }
        if key is not None:
            self.cache.put(key, _copy_response(response), CACHE_TTL_SEC)
        return response

    def _page_meta(self, rows, rank: DataFrame | None) -> list[dict]:
        """The Spark path's page metadata, in ``rows`` order: the tiny
        page broadcast against the docmap projection — never shuffle
        the corpus — with the plain snippet and the ``rank`` table's
        pagerank ("prk", 0.0 when absent)."""
        from search_engine_spark.query.highlight import plain_snippet_col

        if not rows:
            return []
        eng = self.engine
        page_df = eng.spark.createDataFrame(
            [(d,) for d, _ in rows], "docid long"
        )
        meta = eng.docmap.join(F.broadcast(page_df), "docid").select(
            "docid", "repo", "path", "commit", "lang",
            plain_snippet_col("content").alias("snippet"),
        )
        if rank is not None:
            r = rank.select(
                F.col(rank.columns[0]).cast("long").alias("docid"),
                F.col(rank.columns[1]).cast("double").alias("prk"),
            )
            meta = meta.join(F.broadcast(r), "docid", "left").fillna(
                {"prk": 0.0}
            )
        else:
            meta = meta.withColumn("prk", F.lit(0.0))
        by_id = {int(m["docid"]): m.asDict() for m in meta.collect()}
        return [by_id[d] for d, _ in rows]


def _results(q: str, rows, metas) -> list[dict]:
    """Domain-entity -> DTO mapping (UseCase.java:93-102) of one page
    of (docid, score) hits and their metadata rows (repo, path,
    commit, lang, snippet, prk), in rank order."""
    from search_engine_spark.ops.ranking import PUBLISH_EPOCH, pub_day_np

    epoch = datetime.date.fromisoformat(PUBLISH_EPOCH)
    days = pub_day_np([d for d, _ in rows]).tolist()
    terms = tokenize_query(q)
    return [
        {
            "url": f"{m['repo']}/{m['path']}@{m['commit']}",
            "title": m["path"].rsplit("/", 1)[-1],
            "snippet": m["snippet"],
            "relevanceScore": float(s),
            "pagerankScore": float(m["prk"]),
            "language": m["lang"],
            "crawledAt": (epoch + datetime.timedelta(days=day)).isoformat(),
            "highlightedTerms": list(terms),
        }
        for (_d, s), m, day in zip(rows, metas, days)
    ]

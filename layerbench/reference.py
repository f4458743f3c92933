"""Reference answers the benchmark checks the engine against.

The base index is checked against the repository's brute-force oracle
(``tests/oracle.py``): it does the exact dedup, docid assignment,
tokenization and document lengths, and this module scores from its
postings with numpy.  Each term's contribution is computed with the
oracle's own float expression, and terms are added in the oracle's
sorted-term order.  So a reference score equals the oracle's score,
and each query costs milliseconds instead of a Python loop over every
posting.

The use-case response (SearchResponseDTO) is rebuilt from the same
index and the request's fields, independently of the engine's
use-case code.  Suggestions for zero-hit queries use the documented
rule: the fixed misspelling maps first, then the lexicographically
smallest content term at the least Levenshtein distance (at most 2).

Scores are compared with a relative tolerance of 1e-9, because the
engine adds term contributions in its own order.  A docid may differ
from the reference at a position only where the two candidates' scores
tie within that tolerance.
"""

from __future__ import annotations

import datetime
import math
import re

import numpy as np

REL_TOL = 1e-9
PUBLISH_EPOCH = datetime.date(2018, 1, 1)
PUBLISH_RANGE_DAYS = 2557
_SNIPPET_RE = re.compile(r"^([\s\S]{100,199}) ")


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def ranked_match(got, want, score_of) -> bool:
    """``got`` and ``want`` are [(docid, score)] pages.  Equal when the
    scores agree position by position and each differing docid scores
    (per ``score_of``, None if inadmissible) within tolerance of the
    reference at that position."""
    if len(got) != len(want):
        return False
    if len({int(d) for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if not close(float(gs), float(ws)):
            return False
        if int(gd) != int(wd):
            alt = score_of(int(gd))
            if alt is None or not close(alt, float(ws)):
                return False
    return True


def snippet(text: str) -> str:
    if len(text) <= 200:
        return text
    sub = text[:200]
    m = _SNIPPET_RE.match(sub)
    return (m.group(1) if m else sub) + "..."


def day_of(value) -> int:
    return (datetime.date.fromisoformat(str(value)) - PUBLISH_EPOCH).days


def _levenshtein(a: str, b: str, cap: int) -> int:
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        if min(cur) > cap:
            return cap + 1
        prev = cur
    return prev[-1]


_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def _edits1(w: str) -> set[str]:
    splits = [(w[:i], w[i:]) for i in range(len(w) + 1)]
    out = {a + b[1:] for a, b in splits if b}
    out |= {a + c + b[1:] for a, b in splits if b for c in _ALPHABET}
    out |= {a + c + b for a, b in splits for c in _ALPHABET}
    out |= {a + b[1] + b[0] + b[2:] for a, b in splits if len(b) > 1}
    out.discard(w)
    return out


class Reference:
    """Brute-force answers over one document set."""

    def __init__(self, docs: dict[str, list]):
        from tests.oracle import OracleIndex

        from search_engine_spark.config import BM25_B, BM25_K1
        from search_engine_spark.tokenizer import tokenize_query

        self.tokenize = tokenize_query
        self.k1, self.b = BM25_K1, BM25_B
        recs = [dict(zip(docs, row)) for row in zip(*docs.values())]
        self.o = OracleIndex(recs)
        n = self.o.n_docs
        self.n = n
        self.doclen = np.array([self.o.doclen[d] for d in range(n)],
                               dtype=np.float64)
        self.quality = np.array([self.o.quality[d] for d in range(n)])
        self.day = (np.arange(n, dtype=np.int64) * 16807) % PUBLISH_RANGE_DAYS
        self.field = {
            f: np.array([m[f] for m in self.o.docmap], dtype=object)
            for f in ("lang", "repo")
        }
        self._terms: dict[str, tuple] = {}
        self._dym: dict[str, str | None] = {}

    # -- scoring ----------------------------------------------------------
    def _term(self, t: str):
        ent = self._terms.get(t)
        if ent is None:
            plist = self.o.postings.get(t) or {}
            ids = np.fromiter(plist.keys(), dtype=np.int64, count=len(plist))
            tf = np.fromiter(plist.values(), dtype=np.float64,
                             count=len(plist))
            dl = self.doclen[ids]
            # tests/oracle.py's expression, operator for operator
            tfn = tf * (self.k1 + 1.0) / (
                tf + self.k1 * (1.0 - self.b + self.b * dl / self.o.avgdl)
            )
            ent = self._terms[t] = (ids, tfn * self.o.idf(t))
        return ent

    def scores(self, terms: list[str]):
        """(score per docid, number of distinct query terms per docid)."""
        sc = np.zeros(self.n, dtype=np.float64)
        hits = np.zeros(self.n, dtype=np.int64)
        for t in sorted(set(terms)):
            ids, contrib = self._term(t)
            sc[ids] += contrib
            hits[ids] += 1
        return sc, hits

    def contains_any(self, terms: list[str]) -> np.ndarray:
        mask = np.zeros(self.n, dtype=bool)
        for t in terms:
            mask[self._term(t)[0]] = True
        return mask

    @staticmethod
    def _rank(ids: np.ndarray, key: np.ndarray) -> np.ndarray:
        return ids[np.lexsort((ids, -key[ids]))]

    def _score_of(self, sc, adm):
        return lambda d: float(sc[d]) if 0 <= d < self.n and adm[d] else None

    # -- serve_topk_dense -------------------------------------------------
    def topk(self, req: dict, k: int = 10):
        """Expected ``search_local`` page for a top-k request, and the
        score lookup ``ranked_match`` needs."""
        terms = self.tokenize(req["query"])
        sc, hits = self.scores(terms)
        adm = hits > 0
        if req.get("exclude"):
            adm &= ~self.contains_any(self.tokenize(req["exclude"]))
        if req.get("min_should_match"):
            m = int(req["min_should_match"])
            if m > 1:
                adm &= hits >= m
        order = self._rank(np.flatnonzero(adm), sc)
        if req.get("after") is not None:
            cd = int(req["after"][1])
            pos = np.flatnonzero(order == cd)
            order = order[int(pos[0]) + 1:] if len(pos) else order[:0]
        page = [(int(d), float(sc[d])) for d in order[:k]]
        return page, self._score_of(sc, adm)

    # -- serve_dto ----------------------------------------------------------
    def did_you_mean(self, query: str) -> str | None:
        if query in self._dym:
            return self._dym[query]
        from search_engine_spark.query.expansion import (
            EXTRA_MISSPELLINGS,
            MISSPELLINGS,
        )

        terms = self.tokenize(query)
        out = None
        if terms:
            vocab = self.o.postings
            fixed = {**EXTRA_MISSPELLINGS, **MISSPELLINGS}
            mapped = [fixed.get(t, t) for t in terms]
            sugg = []
            for t in mapped:
                if t in vocab:
                    sugg.append(t)
                    continue
                near = sorted(w for w in _edits1(t) if w in vocab)
                if near:
                    sugg.append(near[0])
                    continue
                best, bd = t, 3
                for w in vocab:
                    d = _levenshtein(t, w, 2)
                    if d <= 2 and (d < bd or (d == bd and w < best)):
                        best, bd = w, d
                sugg.append(best)
            out = " ".join(sugg) if sugg != terms else None
        self._dym[query] = out
        return out

    def dto(self, req: dict):
        """Expected SearchResponseDTO (minus ``searchTimeMs``) and the
        score lookup for the page."""
        q = req["query"]
        page = int(req.get("page") or 0)
        size = int(req.get("size") or 10)
        sort_by = req.get("sortBy") or "relevance"
        terms = self.tokenize(q)
        sc, hits = self.scores(terms)
        matched = hits > 0
        adm = matched.copy()
        if req.get("language"):
            adm &= self.field["lang"] == req["language"]
        if req.get("domain"):
            adm &= self.field["repo"] == req["domain"]
        if req.get("dateFrom") is not None:
            adm &= self.day >= day_of(req["dateFrom"])
        if req.get("dateTo") is not None:
            adm &= self.day <= day_of(req["dateTo"])
        if req.get("minContentQuality") is not None:
            adm &= self.quality >= float(req["minContentQuality"])
        ids = np.flatnonzero(adm)
        key = sc if sort_by in ("relevance", "score") else \
            self.day.astype(np.float64)
        order = self._rank(ids, key)[page * size:(page + 1) * size]
        total = int(matched.sum())
        results = []
        for d in order.tolist():
            m = self.o.docmap[d]
            results.append({
                "docid": d,
                "url": f"{m['repo']}/{m['path']}@{m['commit']}",
                "title": m["path"].rsplit("/", 1)[-1],
                "snippet": snippet(m["content"]),
                "relevanceScore": float(sc[d]),
                "pagerankScore": 0.0,
                "language": m["lang"],
                "crawledAt": (PUBLISH_EPOCH + datetime.timedelta(
                    days=int(self.day[d]))).isoformat(),
                "highlightedTerms": list(terms),
            })
        dym = self.did_you_mean(q) if total == 0 else None
        want = {
            "query": q,
            "totalResults": total,
            "page": page,
            "size": size,
            "totalPages": int(math.ceil(total / size)) if size else 0,
            "results": results,
            "suggestions": [dym] if dym else [],
        }
        # a result's score lookup: by url, over every admissible doc;
        # a date sort breaks key ties by docid, so it admits no swaps
        url_score = {}

        def score_of(url):
            if key is not sc:
                return None
            if not url_score:
                for d in np.flatnonzero(adm).tolist():
                    m = self.o.docmap[d]
                    url_score[f"{m['repo']}/{m['path']}@{m['commit']}"] = \
                        float(sc[d])
            return url_score.get(url)

        return want, score_of


def dto_match(got: dict, want: dict, score_of) -> bool:
    """Compare a use-case response with the reference response."""
    for key in ("query", "totalResults", "page", "size", "totalPages",
                "suggestions"):
        if got.get(key) != want[key]:
            return False
    gr, wr = got.get("results") or [], want["results"]
    if len(gr) != len(wr):
        return False
    for g, w in zip(gr, wr):
        if not close(float(g["relevanceScore"]), w["relevanceScore"]):
            return False
        if g["url"] != w["url"]:
            # a tie within tolerance may order two documents either way
            alt = score_of(g["url"])
            if alt is None or not close(alt, w["relevanceScore"]):
                return False
            continue
        for f in ("title", "snippet", "pagerankScore", "language",
                  "crawledAt", "highlightedTerms"):
            if g.get(f) != w[f]:
                return False
    return True

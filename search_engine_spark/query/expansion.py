"""Query expansion — reference semantics (SO3/X5/SO4).

From SE/domain/search/service/QueryExpansionService.java:
- synonym map (:17-30): each original term contributes weight 1.0,
  each synonym weight 0.7 (:62-80),
- misspelling suggestions (:85-103): a fixed correction map plus
  levenshtein-<=2 dictionary lookup (docs/advanced-deep-dive.md:583-638),
- stop-word strip (:108-117) — already inside the engine tokenizer.

Weighted scoring: score(q,d) = sum_t  w_t * idf(t) * tfn(t,d) —
exactly the ES bool.should with per-clause boosts the reference's
intended query builds (docs/features/query-expansion-nlp.md:252-276).
The WAND executor consumes w_t * idf(t) as the per-term weight, so
pruning bounds stay exact.
"""

from __future__ import annotations

import numpy as np

from search_engine_spark.tokenizer import py_tokenize, tokenize_query

# Verbatim from QueryExpansionService.java:17-31 (SYNONYM_MAP), same
# keys, same entries, same order.
SYNONYMS: dict[str, tuple[str, ...]] = {
    # Programming terms
    "java": ("jdk", "jvm", "javac"),
    "python": ("py", "python3", "cpython"),
    "javascript": ("js", "ecmascript", "node"),
    # General terms
    "search": ("find", "lookup", "query"),
    "database": ("db", "datastore", "repository"),
    "algorithm": ("algo", "procedure", "method"),
    "tutorial": ("guide", "howto", "walkthrough"),
    # Technical terms
    "api": ("interface", "endpoint", "service"),
    "framework": ("library", "toolkit", "platform"),
    "bug": ("error", "issue", "defect"),
}

# Verbatim from QueryExpansionService.java:88-92 (commonMisspellings).
MISSPELLINGS: dict[str, str] = {
    "algoritm": "algorithm",
    "pyton": "python",
    "javascirpt": "javascript",
    "databse": "database",
}

# Deliberate code-corpus additions — NOT in the reference; kept
# separate so reference parity stays byte-exact above.  Applied after
# (and never overriding) the reference map.
EXTRA_MISSPELLINGS: dict[str, str] = {
    "pythn": "python",
    "jaava": "java",
    "serach": "search",
    "algorithim": "algorithm",
    "framwork": "framework",
}

ORIGINAL_WEIGHT = 1.0
SYNONYM_WEIGHT = 0.7


def correct_terms(terms: list[str]) -> list[str]:
    """Apply the fixed misspelling maps (X5's cheap path): reference
    corrections first, then the documented code-corpus extras."""
    merged = {**EXTRA_MISSPELLINGS, **MISSPELLINGS}
    return [merged.get(t, t) for t in terms]


def expand_query(query: str) -> dict[str, float]:
    """query string -> {term: weight} with corrections + synonyms.

    Distinct-term semantics: repeated terms keep weight 1.0 (not
    summed); a synonym that is also an original term keeps 1.0.
    """
    terms = correct_terms(tokenize_query(query))
    weights: dict[str, float] = {}
    for t in terms:
        weights[t] = ORIGINAL_WEIGHT
    for t in terms:
        for s in SYNONYMS.get(t, ()):
            for st in py_tokenize(s) or [s]:
                if st not in weights:
                    weights[st] = SYNONYM_WEIGHT
    return weights


def field_weights(query: str, expand: bool = False) -> list[tuple]:
    """[(term, w_content, w_title)] for the reference's intended
    field-weighted query (docs/features/query-expansion-nlp.md:260-275):
    corrected originals at content^1.0 / title^3.0, synonyms (when
    ``expand``) at content^0.8 / title^2.0.  Shared by the engine's
    search_fields and the DuckDB oracle twin."""
    from search_engine_spark.config import (
        CONTENT_BOOST,
        CONTENT_SYNONYM_BOOST,
        TITLE_BOOST,
        TITLE_SYNONYM_BOOST,
    )

    orig = list(dict.fromkeys(correct_terms(tokenize_query(query))))
    out = [(t, CONTENT_BOOST, TITLE_BOOST) for t in orig]
    if expand:
        seen = set(orig)
        for t in orig:
            for s in SYNONYMS.get(t, ()):
                for st in py_tokenize(s) or [s]:
                    if st not in seen:
                        seen.add(st)
                        out.append(
                            (st, CONTENT_SYNONYM_BOOST, TITLE_SYNONYM_BOOST)
                        )
    return out


# Count-vector columns of the spelling prefilter: the tokenizer's
# [a-z0-9_] alphabet gets one column per character, every other
# character shares one of _OTHER_COLS columns by code point.
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789_"
_OTHER_COLS = 27
_WIDTH = len(_ALPHABET) + _OTHER_COLS
_COL = np.array(
    [_ALPHABET.index(chr(c)) if chr(c) in _ALPHABET
     else len(_ALPHABET) + c % _OTHER_COLS for c in range(128)],
    dtype=np.int64,
)


def _char_counts(terms: list[str]) -> np.ndarray:
    """(len(terms), _WIDTH) uint8 character-count vectors, clipped at
    255.  Clipping and column sharing only shrink the L1 distance
    between two vectors, so it stays a lower bound (see SpellingIndex)."""
    lens = np.fromiter((len(t) for t in terms), np.int64, len(terms))
    cp = np.frombuffer("".join(terms).encode("utf-32-le"), dtype=np.uint32)
    cp = cp.astype(np.int64)
    col = np.where(
        cp < 128, _COL[np.minimum(cp, 127)],
        len(_ALPHABET) + cp % _OTHER_COLS,
    )
    row = np.repeat(np.arange(len(terms), dtype=np.int64), lens)
    cnt = np.bincount(row * _WIDTH + col, minlength=len(terms) * _WIDTH)
    return np.minimum(cnt, 255).astype(np.uint8).reshape(-1, _WIDTH)


class SpellingIndex:
    """A spelling dictionary laid out for nearest-term lookup.

    Terms are kept ordered by (length, term) beside their character-
    count vectors.  A lookup for ``t`` at distance ``max_dist`` reads
    the contiguous length band ``|len - len(t)| <= max_dist``, then
    keeps the terms whose count vector is within L1 ``2 * max_dist``
    of ``t``'s: one edit changes the L1 distance between count vectors
    by at most 2, so no term within ``max_dist`` edits is ever dropped.
    Only the survivors pay the capped Levenshtein.  The result equals
    the brute-force scan: the smallest term at the least distance
    ``<= max_dist``.  Set-like: ``in``, ``len`` and iteration."""

    def __init__(self, terms) -> None:
        self._terms = sorted(set(terms), key=lambda t: (len(t), t))
        self._set = frozenset(self._terms)
        self._lens = np.fromiter(
            (len(t) for t in self._terms), np.int64, len(self._terms)
        )
        self._counts = _char_counts(self._terms)

    def __contains__(self, t) -> bool:
        return t in self._set

    def __len__(self) -> int:
        return len(self._terms)

    def __iter__(self):
        return iter(self._terms)

    def nearest(self, t: str, max_dist: int = 2) -> str | None:
        n = len(t)
        lo = int(np.searchsorted(self._lens, n - max_dist, "left"))
        hi = int(np.searchsorted(self._lens, n + max_dist, "right"))
        if lo >= hi:
            return None
        q = _char_counts([t])[0].astype(np.int16)
        l1 = np.abs(self._counts[lo:hi].astype(np.int16) - q).sum(axis=1)
        best, bd = None, max_dist + 1
        for i in np.flatnonzero(l1 <= 2 * max_dist).tolist():
            cand = self._terms[lo + i]
            d = _levenshtein_capped(t, cand, max_dist)
            if d < bd or (d == bd and best is not None and cand < best):
                best, bd = cand, d
        return best if bd <= max_dist else None


def suggest_spelling(
    terms: list[str], dictionary, max_dist: int = 2
) -> dict[str, str]:
    """Levenshtein-based suggestions against an index dictionary
    (doc-specified behavior; the engine's distributed form is
    contract_ops.q_spell_suggest): each term absent from the
    dictionary maps to the smallest dictionary term at the least
    distance ``<= max_dist``.  ``dictionary`` is a SpellingIndex (the
    engine keeps one per generation) or any iterable of terms."""
    if not isinstance(dictionary, SpellingIndex):
        dictionary = SpellingIndex(dictionary)
    out: dict[str, str] = {}
    for t in terms:
        if t in dictionary:
            continue
        best = dictionary.nearest(t, max_dist)
        if best is not None:
            out[t] = best
    return out


def _levenshtein_capped(a: str, b: str, cap: int) -> int:
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        lo = cap + 1
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            cur.append(v)
            lo = min(lo, v)
        if lo > cap:
            return cap + 1
        prev = cur
    return prev[-1]

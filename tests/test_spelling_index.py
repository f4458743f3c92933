"""SpellingIndex (query/expansion.py): the length-band plus
character-count prefilter in front of the capped Levenshtein must give
exactly what the brute-force dictionary scan gives — the smallest term
at the least distance <= max_dist — on seeded random dictionaries
with ties, length-band edges, digits, underscores, non-ASCII and
empty dictionaries.
"""

from __future__ import annotations

import random

import pytest

from search_engine_spark.query.expansion import (
    SpellingIndex,
    _levenshtein_capped,
    suggest_spelling,
)


def brute_suggest(terms, dictionary, max_dist=2):
    """The dictionary scan suggest_spelling used before SpellingIndex."""
    out = {}
    for t in terms:
        if t in dictionary:
            continue
        best, bd = None, max_dist + 1
        for cand in dictionary:
            if abs(len(cand) - len(t)) > max_dist:
                continue
            d = _levenshtein_capped(t, cand, max_dist)
            if d < bd or (d == bd and best is not None and cand < best):
                best, bd = cand, d
        if best is not None and bd <= max_dist:
            out[t] = best
    return out


ALPHABETS = [
    "abc",                      # tiny alphabet: many ties
    "abcdefghij",
    "ab01_",                    # digits and underscore
    "aé中😀b",                  # 2-, 3- and 4-byte UTF-8 characters
    "xy" + chr(200) + chr(227) + chr(254),  # one shared column
]


def _word(rng, alpha, lo, hi):
    return "".join(rng.choice(alpha) for _ in range(rng.randint(lo, hi)))


@pytest.mark.parametrize("seed", range(3))
def test_matches_brute_force(seed):
    rng = random.Random(seed)
    for _ in range(25):
        alpha = rng.choice(ALPHABETS)
        dictionary = {
            _word(rng, alpha, 1, 9) for _ in range(rng.randint(0, 60))
        }
        words = sorted(dictionary)
        queries = [_word(rng, alpha, 0, 11) for _ in range(15)]
        # one and two edits from dictionary words, and exact lengths at
        # the band edges (len +- max_dist, +- max_dist+1)
        for w in words[:6]:
            queries += [w[1:], w + alpha[0], w[:-1] + alpha[-1],
                        w + alpha[0] * 2, w + alpha[0] * 3, w[2:], w[3:]]
        idx = SpellingIndex(dictionary)
        assert sorted(idx) == words and len(idx) == len(words)
        for max_dist in (0, 1, 2, 3):
            want = brute_suggest(queries, dictionary, max_dist)
            assert suggest_spelling(queries, idx, max_dist) == want
            assert suggest_spelling(queries, dictionary, max_dist) == want


def test_ties_pick_smallest_term():
    idx = SpellingIndex({"cat", "bat", "hat", "cart"})
    assert idx.nearest("at", 2) == "bat"  # three terms at distance 1
    assert suggest_spelling(["zat"], idx) == {"zat": "bat"}
    # a closer term wins over a smaller one
    assert SpellingIndex({"abcd", "zbcde"}).nearest("zbcd", 2) == "abcd"
    assert SpellingIndex({"abcde", "zbcd"}).nearest("zbcde", 2) == "abcde"


def test_length_band_edges():
    idx = SpellingIndex({"ab", "abcdef"})
    assert idx.nearest("abcd", 2) == "ab"  # |4-2| = 2: inside the band
    assert idx.nearest("abcd", 1) is None
    assert SpellingIndex({"a"}).nearest("abcd", 2) is None  # 3 outside


def test_empty_dictionary_and_known_terms():
    empty = SpellingIndex([])
    assert len(empty) == 0 and list(empty) == []
    assert empty.nearest("abc") is None
    assert suggest_spelling(["abc", ""], empty) == {}
    assert suggest_spelling(["abc"], set()) == {}
    idx = SpellingIndex(["abc", "abd"])
    assert "abc" in idx and "abe" not in idx
    assert suggest_spelling(["abc", "abe"], idx) == {"abe": "abc"}


def test_long_terms_clip_counts():
    """Count vectors clip at 255; the prefilter stays a lower bound."""
    long = "a" * 300
    idx = SpellingIndex({long, "a" * 299 + "b", "b" * 300})
    assert idx.nearest("a" * 301, 2) == long
    assert idx.nearest("a" * 298 + "bb", 2) == "a" * 299 + "b"

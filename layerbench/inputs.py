"""Seeded inputs of the benchmark: the corpus and every request stream.

Nothing here imports the engine, so a change to the engine (or to its
own synthetic corpus module) cannot change what the benchmark feeds it.
Every value is a function of ``(seed, size)`` through numpy's PCG64
generator, so the same seed always gives the same inputs.

The corpus has the shape the engine's documents table has (repo, path,
commit, lang, content): content is whitespace-separated words drawn
Zipf(1.1) from a syllable vocabulary, so a few head words occur in most
documents (dense queries) and a long tail occurs in a handful (rare
queries).  About 4% of documents repeat an earlier document's content
under another path, so the build's exact dedup has work to do.
"""

from __future__ import annotations

import os
import pickle

import numpy as np

LANGS = ("python", "java", "go", "js", "rust", "md")
EXT = {"python": "py", "java": "java", "go": "go", "js": "js",
       "rust": "rs", "md": "md"}
# Onsets leave out q and x: misspellings insert them, so a misspelled
# word can never be a vocabulary word.
_ONSETS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
VOCAB_SIZE = 4000
ZIPF_S = 1.1
DUP_SHARE = 0.04
# ISO dates of the engine's synthetic calendar span 2018-01-01 plus
# 0..2556 days; the request generator draws date ranges inside it.
CALENDAR_START = (2018, 1, 1)
CALENDAR_DAYS = 2557


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def vocabulary(seed: int) -> list[str]:
    """VOCAB_SIZE distinct lowercase words of 2-4 consonant-vowel
    syllables; list order is the Zipf rank (index 0 is the most
    frequent word)."""
    rng = _rng(seed, 1)
    syl = [c + v for c in _ONSETS for v in _VOWELS]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(syl[int(i)] for i in rng.integers(0, len(syl), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(w) / w.sum()


def corpus(seed: int, n_docs: int, stream: int = 2) -> dict[str, list]:
    """Column dict (repo, path, commit, lang, content) of ``n_docs``
    documents.  Another ``stream`` gives other documents over the same
    vocabulary."""
    rng = _rng(seed, stream)
    vocab = np.array(vocabulary(seed), dtype=object)
    lengths = np.clip(
        np.exp(np.log(120.0) + 0.6 * rng.standard_normal(n_docs)), 20, 2000
    ).astype(np.int64)
    ranks = np.searchsorted(
        _zipf_cdf(len(vocab), ZIPF_S), rng.random(int(lengths.sum()))
    )
    words = vocab[ranks]
    ends = np.cumsum(lengths)
    contents = []
    for end, n in zip(ends.tolist(), lengths.tolist()):
        toks = words[end - n:end]
        lines = [" ".join(toks[j:j + 8]) for j in range(0, n, 8)]
        contents.append("\n".join(lines))
    dup = rng.random(n_docs) < DUP_SHARE
    dup[:20] = False
    src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    for i in np.flatnonzero(dup).tolist():
        j = int(src[i])
        while dup[j]:
            j = int(src[j])
        contents[i] = contents[j]
    n_repos = max(3, n_docs // 200)
    repo_idx = np.searchsorted(_zipf_cdf(n_repos, 1.2), rng.random(n_docs))
    lang_idx = rng.integers(0, len(LANGS), n_docs)
    dir_idx = rng.integers(0, 200, n_docs)
    name_idx = rng.integers(0, len(vocab), n_docs)
    commits = rng.integers(0, 1 << 62, (n_docs, 3))
    langs = [LANGS[int(k)] for k in lang_idx]
    return {
        "repo": [f"org/r{int(r):04d}" for r in repo_idx],
        "path": [
            f"src/{vocab[int(d)]}/{vocab[int(w)]}_{i}.{EXT[lg]}"
            for i, (d, w, lg) in enumerate(zip(dir_idx, name_idx, langs))
        ],
        "commit": [f"{a:016x}{b:016x}{c & 0xFFFFFFFF:08x}"
                   for a, b, c in commits.tolist()],
        "lang": langs,
        "content": contents,
    }


def cached_corpus(work_dir: str, seed: int, n_docs: int) -> dict[str, list]:
    """``corpus(seed, n_docs)``, kept on disk by (seed, size): the
    inputs depend on no program code, so reuse is safe."""
    path = os.path.join(work_dir, "inputs", f"corpus_{seed}_{n_docs}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    docs = corpus(seed, n_docs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(docs, fh, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return docs


def appended(seed: int, docs: dict[str, list], n_new: int,
             n_dup: int) -> dict[str, list]:
    """A crawl batch for ``append_documents``: ``n_new`` new documents
    under a ``new/`` path prefix, then ``n_dup`` re-crawled copies of
    seeded documents of ``docs`` (same content, so the append's dedup
    against the index drops them)."""
    new = corpus(seed, n_new, stream=3)
    new["path"] = [f"new/{p}" for p in new["path"]]
    pick = _rng(seed, 15).choice(len(docs["content"]), n_dup,
                                 replace=False).tolist()
    return {c: new[c] + [docs[c][i] for i in pick] for c in new}


# -- request streams -------------------------------------------------------

def _zipf_words(rng, vocab: list[str], n: int, lo: int = 0,
                hi: int | None = None) -> list[str]:
    """``n`` distinct words drawn Zipf-popular from ranks [lo, hi)."""
    hi = len(vocab) if hi is None else hi
    cdf = _zipf_cdf(hi - lo, ZIPF_S)
    out: list[str] = []
    while len(out) < n:
        w = vocab[lo + int(np.searchsorted(cdf, rng.random()))]
        if w not in out:
            out.append(w)
    return out


def misspell(rng, word: str) -> str:
    """A word that cannot occur in the corpus: one letter of ``word``
    replaced by q or x (letters no vocabulary word contains)."""
    i = int(rng.integers(0, len(word)))
    return word[:i] + ("q" if rng.random() < 0.5 else "x") + word[i + 1:]


def _iso(day: int) -> str:
    import datetime

    d0 = datetime.date(*CALENDAR_START)
    return (d0 + datetime.timedelta(days=int(day))).isoformat()


def _schedule(rng, n: int, block: dict[str, int]) -> list[str]:
    """``n`` shape labels in shuffled blocks of exact proportions, so
    every run's mix is the same up to the last partial block."""
    deck = [label for label, k in block.items() for _ in range(k)]
    out: list[str] = []
    while len(out) < n:
        out.extend(deck[int(j)] for j in rng.permutation(len(deck)))
    return out[:n]


# Shapes per block of 20 requests.  The proportions are chosen, not
# measured: no traffic log of the engine exists.  README.md says which
# metric each one decides.
DTO_BLOCK = {"fresh": 12, "repeat": 4, "relang": 1, "zero_hit": 1,
             "sorted": 1, "sorted_filtered": 1}
TOPK_BLOCK = {"dense": 15, "rare": 2, "exclude": 1, "msm": 1, "after": 1}


# chosen, like the blocks: each filter is drawn independently
def _dto_filters(rng, req: dict, repos: list[str]) -> None:
    if rng.random() < 0.15:
        req["language"] = LANGS[int(rng.integers(0, len(LANGS)))]
    if rng.random() < 0.08:
        req["domain"] = repos[int(rng.integers(0, min(len(repos), 8)))]
    if rng.random() < 0.12:
        a = int(rng.integers(0, CALENDAR_DAYS - 400))
        req["dateFrom"] = _iso(a)
        req["dateTo"] = _iso(a + int(rng.integers(100, 400)))
    if rng.random() < 0.08:
        req["minContentQuality"] = round(float(rng.uniform(0.3, 0.5)), 2)


def dto_requests(seed: int, n: int, repos: list[str]) -> list[dict]:
    """Seeded SearchRequestDTO stream over the whole DTO space, in the
    proportions of DTO_BLOCK:

    - fresh: 1-6 Zipf-popular words, page 0-2, and independently drawn
      language, domain, date-range and quality filters;
    - repeat: an earlier request verbatim (the use-case cache's hits);
    - relang: an earlier request with its language filter added or
      removed, so the same query, page and sort under another filter;
    - zero_hit: one misspelled word (the suggestions path);
    - sorted: sortBy date; sorted_filtered: sortBy date with filters.

    relang and sorted_filtered are shapes the engine answers wrongly or
    refuses today; they stay in the stream and count as failures.
    """
    rng = _rng(seed, 10)
    vocab = vocabulary(seed)
    # zero-hit queries misspell one popular six-letter word: the
    # suggestion scan costs about length squared per dictionary word,
    # so one fixed length keeps that class's cost the same in every run
    six = [w for w in vocab[:600] if len(w) == 6]
    out: list[dict] = []
    for shape in _schedule(rng, n, DTO_BLOCK):
        if shape in ("repeat", "relang") and out:
            req = dict(out[int(rng.integers(0, len(out)))])
            if shape == "relang" and req.pop("language", None) is None:
                req["language"] = LANGS[int(rng.integers(0, len(LANGS)))]
            out.append(req)
            continue
        if shape == "zero_hit":
            words = [misspell(rng, _zipf_words(rng, six, 1)[0])]
        else:
            words = _zipf_words(rng, vocab, int(rng.integers(1, 7)))
        req = {"query": " ".join(words),
               "page": int(rng.choice([0, 0, 0, 1, 2])), "size": 10}
        if shape in ("fresh", "repeat", "relang"):
            _dto_filters(rng, req, repos)
        elif shape == "sorted":
            req["sortBy"] = "date"
        elif shape == "sorted_filtered":
            req["sortBy"] = "date"
            while len(req) == 4:
                _dto_filters(rng, req, repos)
        out.append(req)
    return out


def topk_requests(seed: int, n: int) -> list[dict]:
    """Seeded ``search_local(k=10)`` requests, in the proportions of
    TOPK_BLOCK.

    dense requests are 3-8 distinct words from the 60 most frequent
    ones, OR semantics, which the serving head answers on its fused
    dense path.  The rest take the per-slab kernels: rare is a tail
    word plus one or two of the ten most frequent words (the WAND
    pruning path); exclude adds a must_not word, msm a
    minimum_should_match of 2-3, and after a search-after cursor at
    rank 10-40.

    The rare requests are the slowest, so the tail falls among them,
    and their cost is set by the head words' posting lengths.  So the
    number of head words and the rank of the first one come from a
    shuffled deck of every (1 or 2, rank 0-9) pair, and a second head
    word has the next rank (9 wraps to 0): each head-word set is
    equally common in every run, and the tail does not move with how
    often a seed happens to draw the most frequent words.
    """
    rng = _rng(seed, 11)
    vocab = vocabulary(seed)
    out: list[dict] = []
    deck: list[tuple[int, int]] = []
    for shape in _schedule(rng, n, TOPK_BLOCK):
        if shape == "rare":
            if not deck:
                pairs = [(k, r) for k in (1, 2) for r in range(10)]
                deck = [pairs[int(j)] for j in rng.permutation(len(pairs))]
            k, r = deck.pop()
            head = [vocab[r], vocab[(r + 1) % 10]][:k]
            words = _zipf_words(rng, vocab, 1, lo=1500) + head
            out.append({"query": " ".join(words)})
            continue
        req = {"query": " ".join(
            _zipf_words(rng, vocab, int(rng.integers(3, 9)), hi=60))}
        if shape == "exclude":
            req["exclude"] = _zipf_words(rng, vocab, 1, lo=60, hi=300)[0]
        elif shape == "msm":
            req["min_should_match"] = int(rng.integers(2, 4))
        elif shape == "after":
            req["after_rank"] = int(rng.integers(10, 40))
        out.append(req)
    return out


def dto_probes(seed: int) -> list[dict]:
    """Fixed-shape use-case requests: plain, page 1, filtered,
    date-sorted, zero-hit, and one exact repeat (a cache hit)."""
    rng = _rng(seed, 14)
    vocab = vocabulary(seed)
    w = [vocab[int(i)] for i in rng.integers(0, 200, 6)]
    probes = [
        {"query": f"{w[0]} {w[1]}", "page": 0, "size": 10},
        {"query": w[2], "page": 1, "size": 10},
        {"query": f"{w[3]} {w[4]}", "page": 0, "size": 10,
         "language": LANGS[int(rng.integers(0, len(LANGS)))]},
        {"query": w[5], "page": 0, "size": 10, "sortBy": "date"},
        {"query": misspell(rng, w[0]), "page": 0, "size": 10},
    ]
    return probes + [dict(probes[0])]


def deletions(seed: int, n_docs: int, k: int) -> list[int]:
    """``k`` distinct docids below ``n_docs`` to tombstone."""
    return sorted(_rng(seed, 12).choice(n_docs, k, replace=False).tolist())


def probe_queries(seed: int, n: int) -> list[str]:
    """Queries served after the deletes: 1-5 Zipf-popular words."""
    rng = _rng(seed, 13)
    vocab = vocabulary(seed)
    return [" ".join(_zipf_words(rng, vocab, int(rng.integers(1, 6))))
            for _ in range(n)]

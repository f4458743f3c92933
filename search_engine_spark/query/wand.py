"""Block-max WAND top-k executor, per-slab, vectorized.

Distributed shape (the ES analogy the reference relies on,
SURVEY.md §3.1 step 4): each slab (docid-range shard) scores its own
top-k with block-max pruning inside one ``applyInPandas`` group; the
driver-side global merge is a TakeOrdered over (score desc, docid
asc) — per-shard query + coordinating-node merge, Spark-native.

Pruning (exact, batch/SIMD flavor of Block-Max WAND — Ding & Suel,
"Faster top-k document retrieval using block-max indexes", SIGIR'11):
the block grid is ALIGNED across terms (codec.py), so for block g the
quantity  UB(g) = sum over query terms of idf_t * block_max_t(g)
upper-bounds the score of every doc in g.  Blocks are processed in
descending UB batches; once the running k-th best score theta exceeds
the next block's UB, every remaining doc is provably out of the
top-k (docs never span blocks, so scores complete within a batch).
Stop rule is strict (UB < theta) so exact ties at the boundary are
still examined — required for deterministic (score desc, docid asc)
tie-breaking.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from search_engine_spark.indexer.codec import TermChunk, tf_norm_factor

TOPK_SCHEMA = "docid long, score double"

# Sentinel term name for numeric-range admission rows (doc-values
# filters — SearchRequestDTO dateFrom/dateTo/minContentQuality): the
# row's ``postings`` bytes are raw sorted int64 slab-local docids
# (np.frombuffer, no varint framing) rather than a compressed chunk.
# "\x00" cannot appear in any tokenizer output, so the sentinel can
# never collide with a real term.
RAW_INC_TERM = "\x00rng"


def _blocks_in(block_ids: np.ndarray, sorted_batch: np.ndarray) -> np.ndarray:
    """Indices into ``block_ids`` (sorted ascending, unique) of the
    entries present in ``sorted_batch`` — searchsorted membership,
    O(|batch| log n) instead of np.isin's sort of the whole chunk."""
    pos = np.searchsorted(block_ids, sorted_batch)
    pos[pos >= len(block_ids)] = len(block_ids) - 1
    return pos[block_ids[pos] == sorted_batch]


def _not_in_sorted(values: np.ndarray, excl: np.ndarray) -> np.ndarray:
    """Boolean mask over ``values``: True where the value is NOT in
    ``excl`` (sorted ascending, unique) — searchsorted membership, the
    bool.must_not filter applied before candidates enter a top-k heap.
    Removing docs can only lower achievable scores, so block-max
    pruning bounds (computed over ALL docs) remain sound."""
    if len(excl) == 0:
        return np.ones(len(values), dtype=bool)
    pos = np.searchsorted(excl, values)
    pos[pos >= len(excl)] = len(excl) - 1
    return excl[pos] != values


def _in_sorted(values: np.ndarray, incl: np.ndarray) -> np.ndarray:
    """Boolean mask over ``values``: True where the value IS in
    ``incl`` (sorted ascending, unique) — the bool.filter admission
    applied before candidates enter a top-k heap.  Dropping documents
    only lowers achievable scores, so block-max pruning stays sound."""
    if len(incl) == 0:
        return np.zeros(len(values), dtype=bool)
    pos = np.searchsorted(incl, values)
    pos[pos >= len(incl)] = len(incl) - 1
    return incl[pos] == values


def _after_mask(
    sc: np.ndarray, gids: np.ndarray, after: tuple[float, int]
) -> np.ndarray:
    """Keyset-pagination admission (ES ``search_after``): keep only
    documents STRICTLY after the cursor in (score desc, docid asc)
    order — score below the cursor's, or equal score with a larger
    global docid.  The cursor is the exact (score, docid) of the
    previous page's last hit, so page boundaries are stable under
    concurrent paging the way ES's search_after is (and unlike
    from/size, no page-N query ever materializes pages 1..N-1).
    Scores are deterministic per execution path and engine generation
    (same chunks, same float add order), so the strict equality is
    exact WITHIN the path that issued the cursor — the ES rule: sort
    values come from the engine that serves the next page.  The Spark
    and serving paths agree to 1e-12 but not always bitwise, so a
    cursor must not cross paths (pinned in tests/test_search_after)."""
    s_c, d_c = float(after[0]), int(after[1])
    return (sc < s_c) | ((sc == s_c) & (gids > d_c))


def _topk_select(ids, sc, k):
    """Exact (score desc, docid asc) top-k with boundary-tie keep:
    threshold at the kth-largest score, keep ties, lexsort the small
    surviving set.  Shared by every kernel so tie handling cannot
    diverge between the per-slab and fused paths."""
    if len(ids) > k:
        kth = np.partition(sc, len(sc) - k)[len(sc) - k]
        keep = sc >= kth
        ids, sc = ids[keep], sc[keep]
    sel = np.lexsort((ids, -sc))[:k]
    return ids[sel], sc[sel]


def _exhaustive_topk(
    chunks: list[tuple],
    slab_base: int,
    slab_size: int,
    block_size: int,
    k: int,
    k1: float,
    b: float,
    n_required: int = 0,
    exclude: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    include: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Term-at-a-time exhaustive scorer for dense queries (see the
    dispatch in ``slab_topk``): full-decode every chunk once, one
    fancy-index add per chunk, single top-k selection at the end.
    Same contribution order per doc as the batch path -> bit-identical
    scores; the final (score desc, docid asc) selection keeps boundary
    ties exactly like the batch path's lexsort.  ``exclude`` (sorted
    unique slab-local docids) drops bool.must_not documents before
    the top-k selection; ``after`` (cursor (score, global docid))
    drops documents at-or-before the cursor (search_after)."""
    scores = np.zeros(slab_size, dtype=np.float64)
    counts = np.zeros(slab_size, dtype=np.int32) if n_required else None
    for c, idf, c_avgdl, _b in chunks:
        local, fac = c.factor_all(block_size, k1, b, c_avgdl)
        scores[local] += idf * fac
        if counts is not None:
            counts[local] += 1
    ids = np.flatnonzero(
        (scores > 0.0)
        if counts is None
        else (scores > 0.0) & (counts >= n_required)
    )
    if exclude is not None:
        ids = ids[_not_in_sorted(ids, exclude)]
    if include is not None:
        ids = ids[_in_sorted(ids, include)]
    sc = scores[ids]
    if after is not None:
        keep = _after_mask(sc, ids + slab_base, after)
        ids, sc = ids[keep], sc[keep]
    ids, sc = _topk_select(ids, sc, k)
    return ids + slab_base, sc


def fused_dense_topk(
    parts: list[tuple],
    n_space: int,
    k: int,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Serving-head fusion of the exhaustive scorer across ALL slabs.

    parts = [(global_docids, idf, tf_norm_factors), ...] — ONE entry
    per query term, arrays concatenated over the term's chunks (built
    at prime time by the decoded cache, engine._prime_decoded), in the
    SAME term order the per-slab path would iterate chunks: each
    document receives its per-term contributions in the same sequence
    (within a term its docids are disjoint), so the float sums are
    bit-identical.  One dense score array over the whole docid space
    replaces per-slab arrays; one global top-k replaces per-slab
    top-k + merge.  This removes the O(#slabs) per-query Python
    constant that dominates dense queries once a corpus grows to
    hundreds of slabs (a query's cost becomes O(df) with vectorized
    constants): the 9.5M-doc bench index has 380 slabs, and per-slab
    dispatch alone cost ~0.5 ms each.  OR semantics only — the
    per-slab paths keep conjunctive modes.

    Single-term queries skip the dense array entirely: every docid
    occurs exactly once (slabs partition the docid space; generations
    within a slab hold disjoint docids), so no accumulation can
    collide — top-k the per-posting scores directly.  Every BM25
    contribution is > 0, so that candidate set equals the dense
    path's ``scores > 0`` set: bit-identical results.
    """
    if len(parts) == 1:
        gids, idf, fac = parts[0]
        ids, sc = gids, idf * fac
    else:
        scores = np.zeros(n_space, dtype=np.float64)
        for gids, idf, fac in parts:
            scores[gids] += idf * fac
        ids = np.flatnonzero(scores > 0.0)
        sc = scores[ids]
    if after is not None:
        keep = _after_mask(sc, ids, after)
        ids, sc = ids[keep], sc[keep]
    return _topk_select(ids, sc, k)


def slab_topk(
    chunks: list[tuple],
    slab_base: int,
    slab_size: int,
    block_size: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    bound_scale: float = 1.0,
    batch_blocks: int = 64,
    n_required: int = 0,
    exclude: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    include: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of one slab.

    chunks = [(TermChunk, idf), ...] — scored with the slab-wide
    ``avgdl``/``bound_scale`` args — or [(TermChunk, w_idf, avgdl,
    bound_scale), ...] for per-chunk field statistics (field-weighted
    BM25F-style scoring: w_idf = field_boost * idf_field, avgdl =
    that field's average length).  The same term may appear in several
    chunks across generations/fields — contributions are additive.

    ``n_required > 0`` enables conjunctive (ES bool.must / AND) mode:
    only documents matched by at least ``n_required`` distinct chunks
    survive.  Callers must ensure one chunk per (term, doc) — true for
    single-field queries because a doc lives in exactly one generation.
    The OR-semantics block upper bound remains a valid (looser) bound
    for the conjunctive scores, so pruning stays exact.

    ``exclude`` (sorted unique slab-local docids) enables bool.must_not:
    excluded documents are dropped from every batch's candidate set
    before they can enter the running top-k, so theta only ever rises
    from admissible documents and pruning against the OR bound remains
    exact for the included set.

    ``include`` (sorted unique slab-local docids) enables ES
    bool.filter: ONLY documents in the set are admitted to the top-k
    (scores are untouched — ES filter context is non-scoring).  Like
    ``exclude``, dropping documents keeps pruning exact.

    ``after`` ((score, global docid) cursor) enables ES search_after
    keyset pagination: only documents strictly after the cursor in
    (score desc, docid asc) order enter the running top-k.  Like
    ``exclude``, dropping documents only lowers achievable admissible
    scores, so theta-based block pruning stays exact.
    """
    chunks = [
        (c[0], c[1], avgdl, bound_scale) if len(c) == 2 else c
        for c in chunks
    ]
    n_grid = (slab_size + block_size - 1) // block_size
    # Dense queries (every block active for every term — the
    # near-stopword worst case) defeat block-max pruning by
    # construction: all block bounds are similar, theta never clears
    # them, and the batch machinery only adds overhead.  Score those
    # term-at-a-time exhaustively instead.  Trigger: the chunk set
    # covers >=2x the block grid, or >=90% of the grid per chunk on
    # average (which lets a dense SINGLE-term query — e.g. a
    # one-word near-stopword — take the cheap path the multi-term
    # rule alone could never reach).  The rule is a pure function of
    # the chunk set, so the Spark path and the serving head take the
    # same branch; per-doc contributions add in the same chunk order
    # as the batch path (a doc lives in exactly one block), so
    # results are BIT-IDENTICAL either way.
    if 10 * sum(c[0].n_blocks for c in chunks) >= min(
        20 * n_grid, 9 * n_grid * len(chunks)
    ):
        return _exhaustive_topk(
            chunks, slab_base, slab_size, block_size, k, k1, b,
            n_required, exclude, after, include,
        )
    ub = np.zeros(n_grid, dtype=np.float64)
    for c, idf, _a, bscale in chunks:
        # block_ids are unique within a chunk, so the fancy-index add
        # equals (and is much faster than) the unbuffered np.add.at
        ub[c.block_ids] += idf * c.block_max * bscale
    # 1e-12 relative inflation: the bound sum and the true score sum
    # the same float terms in different orders, so a doc could exceed
    # the "upper" bound by a few ulps — inflate so pruning stays sound.
    ub *= 1.0 + 1e-12
    active = np.flatnonzero(ub > 0.0)
    order = active[np.argsort(-ub[active], kind="stable")]

    scores = np.zeros(slab_size, dtype=np.float64)
    counts = np.zeros(slab_size, dtype=np.int32) if n_required else None
    best_ids = np.zeros(0, dtype=np.int64)
    best_scores = np.zeros(0, dtype=np.float64)
    theta = -np.inf
    pos = 0
    while pos < len(order):
        batch = order[pos:pos + batch_blocks]
        if len(best_ids) >= k and ub[batch[0]] < theta:
            break
        # drop blocks in this batch already below theta (sorted desc)
        if len(best_ids) >= k:
            # cut >= 1 here: the break above guarantees
            # ub[batch[0]] >= theta
            cut = np.searchsorted(-ub[batch], -theta, side="right")
            batch = batch[:cut]
        pos += len(batch)
        sbatch = np.sort(batch)
        any_hit = False
        for c, idf, c_avgdl, _b in chunks:
            sel = _blocks_in(c.block_ids, sbatch)
            if len(sel) == 0:
                continue
            local, tf, dl = c.decode_blocks(sel, block_size)
            contrib = idf * tf_norm_factor(tf, dl, k1, b, c_avgdl)
            # a doc occurs at most once per chunk, so the fancy-index
            # add is exact (same one float add per element as add.at)
            scores[local] += contrib
            if counts is not None:
                counts[local] += 1
            any_hit = True
        if not any_hit:
            continue
        # candidate docids = the batch blocks' docid ranges (docs
        # never span blocks); matched docs are exactly those with a
        # positive score (every BM25 contribution is > 0)
        cand = (
            sbatch[:, None] * block_size
            + np.arange(block_size, dtype=np.int64)
        ).ravel()
        if cand[-1] >= slab_size:
            cand = cand[cand < slab_size]
        touched = cand[scores[cand] > 0.0]
        if exclude is not None and len(touched):
            # reset excluded docs' buffers too (they were scored),
            # then drop them before the top-k sees them
            keep_m = _not_in_sorted(touched, exclude)
            drop = touched[~keep_m]
            if counts is not None:
                counts[drop] = 0
            scores[drop] = 0.0
            touched = touched[keep_m]
        if include is not None and len(touched):
            keep_m = _in_sorted(touched, include)
            drop = touched[~keep_m]
            if counts is not None:
                counts[drop] = 0
            scores[drop] = 0.0
            touched = touched[keep_m]
        cand_scores = scores[touched]
        scores[touched] = 0.0  # reset buffer for next batch
        if counts is not None:
            # docs never span blocks, so coverage is complete here
            keep = counts[touched] >= n_required
            counts[touched] = 0
            touched, cand_scores = touched[keep], cand_scores[keep]
            if len(touched) == 0:
                continue
        if after is not None:
            keep_a = _after_mask(cand_scores, touched + slab_base, after)
            touched, cand_scores = touched[keep_a], cand_scores[keep_a]
            if len(touched) == 0:
                continue
        best_ids = np.concatenate([best_ids, touched])
        best_scores = np.concatenate([best_scores, cand_scores])
        if len(best_ids) > k:
            sel = np.lexsort((best_ids, -best_scores))[:k]
            best_ids, best_scores = best_ids[sel], best_scores[sel]
        if len(best_ids) >= k:
            theta = best_scores.min()
    sel = np.lexsort((best_ids, -best_scores))[:k]
    return best_ids[sel] + slab_base, best_scores[sel]


def slab_topk_adv(
    chunks: list[tuple],
    slab_base: int,
    slab_size: int,
    block_size: int,
    k: int,
    k1: float,
    b: float,
    boost: "np.ndarray | None" = None,
    n_required: int = 0,
    batch_blocks: int = 64,
    exclude: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    include: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of one slab for the COMPOSED query (query/advanced.py).

    chunks = [(TermChunk, w_idf, avgdl, bscale, clause, fld, req)]:

    - rows sharing ``(clause, fld)`` accumulate additively (a per-field
      match score); within a clause, fields combine by MAX (BEST_FIELDS
      dis_max); distinct clauses combine by SUM (bool should);
    - ``boost`` (optional) is a per-doc multiplicative factor of length
      ``slab_size`` (function_score MULTIPLY, e.g. log1p(2*pagerank));
      MUST be >= 0 everywhere — pruning uses per-block boost maxima;
    - ``req >= 0`` marks a chunk as carrying a required base term
      (mode='and'); with ``n_required > 0`` only docs matched by at
      least ``n_required`` DISTINCT req ids survive.  Counting is per
      req id, not per chunk, so a term's title+content chunks (or
      multiple generations) count once.

    ``exclude``, ``include`` and ``after`` admit documents exactly as
    in ``slab_topk`` (must_not and pending deletes, bool.filter and
    range admission, the search_after cursor), before the running
    top-k.

    Pruning stays exact: the additive per-block bound over all chunks
    upper-bounds the sum-of-maxes (max(a,b) <= a+b for a,b >= 0), and
    multiplying by the block's boost maximum bounds the per-doc
    multiply.  The conjunctive filter and the admission rules only
    remove docs, so the OR bound remains valid.
    """
    n_grid = (slab_size + block_size - 1) // block_size
    gkey: dict[tuple, int] = {}
    gids: list[int] = []
    for c in chunks:
        gids.append(gkey.setdefault((c[4], c[5]), len(gkey)))
    by_clause: dict[int, list[int]] = {}
    for (cl, _f), g in gkey.items():
        by_clause.setdefault(cl, []).append(g)

    ub = np.zeros(n_grid, dtype=np.float64)
    for c, widf, _a, bscale, _cl, _f, _r in chunks:
        ub[c.block_ids] += widf * c.block_max * bscale
    ub *= 1.0 + 1e-12  # same ulp-order inflation as slab_topk
    # activity = "block has matches" and MUST come from the term bound
    # alone: a block whose boost maximum is 0 still holds matched docs
    # that legitimately score 0.0 and belong in the result (the oracle
    # ranks them by docid) — zeroed-ub blocks sort last and are pruned
    # only by the theta rule (strict <, so theta=0 never drops them).
    active = np.flatnonzero(ub > 0.0)
    if boost is not None:
        pad = n_grid * block_size - slab_size
        bmax = np.max(
            np.pad(boost, (0, pad)).reshape(n_grid, block_size), axis=1
        )
        ub = ub * (bmax * (1.0 + 1e-12))
    order = active[np.argsort(-ub[active], kind="stable")]

    scores2 = np.zeros((len(gkey), slab_size), dtype=np.float64)
    counts = np.zeros(slab_size, dtype=np.int32) if n_required else None
    best_ids = np.zeros(0, dtype=np.int64)
    best_scores = np.zeros(0, dtype=np.float64)
    theta = -np.inf
    pos = 0
    while pos < len(order):
        batch = order[pos:pos + batch_blocks]
        if len(best_ids) >= k and ub[batch[0]] < theta:
            break
        if len(best_ids) >= k:
            # cut >= 1 here: the break above guarantees
            # ub[batch[0]] >= theta
            cut = np.searchsorted(-ub[batch], -theta, side="right")
            batch = batch[:cut]
        pos += len(batch)
        sbatch = np.sort(batch)
        any_hit = False
        req_locals: dict[int, list] = {}
        for i, (c, widf, c_avgdl, _b, _cl, _f, req) in enumerate(chunks):
            sel = _blocks_in(c.block_ids, sbatch)
            if len(sel) == 0:
                continue
            local, tf, dl = c.decode_blocks(sel, block_size)
            contrib = widf * tf_norm_factor(tf, dl, k1, b, c_avgdl)
            # unique docids per chunk tuple -> fancy-index add is exact
            scores2[gids[i]][local] += contrib
            any_hit = True
            if counts is not None and req >= 0:
                req_locals.setdefault(req, []).append(local)
        if not any_hit:
            continue
        cand = (
            sbatch[:, None] * block_size
            + np.arange(block_size, dtype=np.int64)
        ).ravel()
        if cand[-1] >= slab_size:
            cand = cand[cand < slab_size]
        touched = cand[(scores2[:, cand] > 0.0).any(axis=0)]
        if counts is not None:
            for _req, ls in req_locals.items():
                counts[np.unique(np.concatenate(ls))] += 1
        tot = np.zeros(len(touched), dtype=np.float64)
        for _cl, gl in by_clause.items():
            if len(gl) == 1:
                tot += scores2[gl[0], touched]
            else:
                tot += np.maximum.reduce([scores2[g, touched] for g in gl])
        scores2[:, touched] = 0.0  # reset buffers for next batch
        if boost is not None:
            tot = tot * boost[touched]
        if counts is not None:
            keep = counts[touched] >= n_required
            counts[touched] = 0
            touched, tot = touched[keep], tot[keep]
        if exclude is not None:
            keep = _not_in_sorted(touched, exclude)
            touched, tot = touched[keep], tot[keep]
        if include is not None:
            keep = _in_sorted(touched, include)
            touched, tot = touched[keep], tot[keep]
        if after is not None:
            keep = _after_mask(tot, touched + slab_base, after)
            touched, tot = touched[keep], tot[keep]
        if len(touched) == 0:
            continue
        best_ids = np.concatenate([best_ids, touched])
        best_scores = np.concatenate([best_scores, tot])
        if len(best_ids) > k:
            sel = np.lexsort((best_ids, -best_scores))[:k]
            best_ids, best_scores = best_ids[sel], best_scores[sel]
        if len(best_ids) >= k:
            theta = best_scores.min()
    sel = np.lexsort((best_ids, -best_scores))[:k]
    return best_ids[sel] + slab_base, best_scores[sel]


def plan_topk(
    chunks: list[tuple],
    slab_base: int,
    slab_size: int,
    block_size: int,
    k: int,
    k1: float,
    b: float,
    n_required: int = 0,
    dis_max: bool = False,
    boost: "np.ndarray | None" = None,
    exclude: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    include: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of one slab for a clause plan (query/plan.py), the one
    kernel dispatch of both executors.  chunks = [(TermChunk, w_idf,
    avgdl, bscale, clause, fld, req)]; a sum plan may pass only the
    first four fields.  A sum plan runs ``slab_topk``; a dis_max plan
    (``ClausePlan.dis_max``) or a function_score ``boost`` runs
    ``slab_topk_adv``."""
    if dis_max or boost is not None:
        return slab_topk_adv(
            chunks, slab_base, slab_size, block_size, k, k1, b,
            boost=boost, n_required=n_required,
            exclude=exclude, after=after, include=include,
        )
    if len(chunks[0]) > 4:
        chunks = [c[:4] for c in chunks]
    # per-chunk avgdl and bound scale ride in the 4-tuples, so the
    # slab-wide avgdl argument is unused
    return slab_topk(
        chunks, slab_base, slab_size, block_size, k, k1, b, 0.0,
        n_required=n_required, exclude=exclude, after=after,
        include=include,
    )


def pagerank_boost(
    slab_base: int,
    slab_size: int,
    docids: np.ndarray,
    pr: np.ndarray,
    factor: float,
    missing: float = 0.0,
) -> np.ndarray:
    """function_score MULTIPLY vector of one slab: log1p(factor * pr)
    for the given global docids, log1p(factor * missing) elsewhere."""
    boost = np.full(slab_size, np.log1p(factor * missing), dtype=np.float64)
    if len(docids):
        boost[np.asarray(docids, dtype=np.int64) - slab_base] = np.log1p(
            factor * np.asarray(pr, dtype=np.float64)
        )
    return boost


BATCH_TOPK_SCHEMA = "qid string, docid long, score double"


def make_slab_scorer(
    slab_size: int,
    block_size: int,
    k: int,
    k1: float,
    b: float,
    kernels: dict,
    after: tuple[float, int] | None = None,
    n_filter_groups: int = 0,
    pagerank: "tuple[float, float] | None" = None,
):
    """The Spark executor's applyInPandas scorer: group = one slab's
    matching segment rows, joined to the plan rows (query/plan.py
    ``plan_idf_table``): (slab, term, postings, skips, block_max, idf,
    avgdl, bscale, clause, fld, req), plus ``qid`` for a batch.
    Output: the slab's top-k (docid, score) per query, with ``qid``
    for a batch (BATCH_TOPK_SCHEMA, else TOPK_SCHEMA).

    ``kernels`` maps each qid (None for a single query) to its plan's
    (n_required, dis_max), which picks the kernel (``plan_topk``).

    ``pagerank`` = (factor, missing) makes this a cogroup scorer
    (left, right): the right group holds the slab's (docid, pr) rows,
    and every query in the slab group shares one boost vector
    (``pagerank_boost``), so a batch never replicates the pagerank
    table per query.

    Single queries may carry admission rows in the same group:

    - a NULL ``idf`` row is a bool.must_not chunk: its docids form the
      slab's exclusion set and it contributes no score, so must_not
      adds no shuffle;
    - a non-null ``inc`` row is a bool.filter chunk (`m#field=value`
      keyword postings): group i's docids union within the group (OR
      of a field's values) and intersect across groups (AND of
      fields) into the slab's admission set.  ``n_filter_groups`` is
      the GLOBAL group count: a slab missing any group has no
      admissible document and returns empty.  An ``inc`` row whose
      term is ``RAW_INC_TERM`` is a numeric-range admission set: its
      postings bytes are raw sorted int64 slab-local docids packed by
      the driver plan from the docmap columns.
    """
    def one(pdf: pd.DataFrame, qid, boost) -> tuple:
        slab = int(pdf["slab"].iloc[0])
        has_inc = "inc" in pdf.columns
        chunks = []
        excl_parts = []
        inc_parts: dict[int, list] = {}
        for r in pdf.itertuples():
            if has_inc and not pd.isna(r.inc):
                if r.term == RAW_INC_TERM:
                    local = np.frombuffer(r.postings, dtype=np.int64)
                else:
                    c = TermChunk(r.postings, r.skips, r.block_max)
                    local, _tf, _dl = c.decode_blocks(
                        np.arange(c.n_blocks, dtype=np.int64), block_size
                    )
                inc_parts.setdefault(int(r.inc), []).append(local)
                continue
            if pd.isna(r.idf):
                c = TermChunk(r.postings, r.skips, r.block_max)
                local, _tf, _dl = c.decode_blocks(
                    np.arange(c.n_blocks, dtype=np.int64), block_size
                )
                excl_parts.append(local)
                continue
            chunks.append((
                TermChunk(r.postings, r.skips, r.block_max),
                float(r.idf), float(r.avgdl), float(r.bscale),
                int(r.clause), int(r.fld), int(r.req),
            ))
        include = None
        if n_filter_groups:
            if len(inc_parts) < n_filter_groups:
                return None  # some field value absent from this slab
            sets = [
                np.unique(np.concatenate(ps)) for ps in inc_parts.values()
            ]
            include = sets[0]
            for s2 in sets[1:]:
                include = include[_in_sorted(include, s2)]
            if len(include) == 0:
                return None
        if not chunks:
            return None
        n_required, dis_max = kernels[qid]
        return plan_topk(
            chunks, slab * slab_size, slab_size, block_size, k, k1, b,
            n_required=n_required, dis_max=dis_max, boost=boost,
            exclude=(
                np.unique(np.concatenate(excl_parts)) if excl_parts
                else None
            ),
            after=after, include=include,
        )

    batch = None not in kernels

    def run(pdf: pd.DataFrame, boost) -> pd.DataFrame:
        groups = (
            [] if len(pdf) == 0
            else pdf.groupby("qid", sort=True) if batch
            else [(None, pdf)]
        )
        ids_parts, sc_parts, qids = [], [], []
        for qid, g in groups:
            got = one(g, qid, boost)
            if got is not None:
                ids_parts.append(got[0])
                sc_parts.append(got[1])
                qids.extend([qid] * len(got[0]))
        out = {
            "docid": np.concatenate(ids_parts) if ids_parts
            else np.zeros(0, np.int64),
            "score": np.concatenate(sc_parts) if sc_parts
            else np.zeros(0, np.float64),
        }
        if batch:
            out = {"qid": pd.Series(qids, dtype="object"), **out}
        return pd.DataFrame(out)

    if pagerank is None:
        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            return run(pdf, None)

        return score
    factor, missing = pagerank

    def score_cogroup(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return run(left, None)
        slab = int(left["slab"].iloc[0])
        boost = pagerank_boost(
            slab * slab_size, slab_size,
            right["docid"].to_numpy(dtype=np.int64),
            right["pr"].to_numpy(dtype=np.float64), factor, missing,
        )
        return run(left, boost)

    return score_cogroup

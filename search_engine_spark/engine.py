"""SearchEngine facade: build once, query many.

The query path is the Spark-native analog of the reference's intended
search lifecycle (SURVEY.md §3.1): query string -> shared tokenizer ->
segment scan pruned to query terms (partition/file pruning on the
term-bucketed, slab-partitioned segments table) -> per-slab block-max
WAND inside applyInPandas -> global TakeOrdered merge -> docmap join
for metadata/snippets.

Every BM25 top-k method is one plan per query family and one of two
executors.  A plan builder (query/plan.py: plain, fields, composed)
turns the query into clause rows (term, w, avgdl, bscale, clause,
fld, req) plus n_required.  ``_spark_topk`` runs plans on Spark, one
query or a batch of them (rows carrying a qid), with admission rows
and the tombstone over-fetch; ``_local_topk`` runs one plan with no
Spark job, admission in ``_local_admission``.  The public ``search*``,
``search_batch*`` and ``search_local*`` methods only build plans.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.indexer.build import build_index
from search_engine_spark.query.plan import (
    ClausePlan,
    composed_plan,
    field_stats,
    fields_plan,
    plain_plan,
    query_weights,
)
from search_engine_spark.query.wand import TOPK_SCHEMA, make_slab_scorer
from search_engine_spark.tokenizer import tokenize_query

# segment columns every executor reads
SEG_COLS = ("slab", "term", "postings", "skips", "block_max")


def pack_admission_rows(adm: DataFrame, slab_size: int, gi: int) -> DataFrame:
    """(docid) admissible-doc DataFrame -> doc-values admission rows
    in segment-row shape: (slab, RAW_INC_TERM, raw sorted int64
    slab-local docids as bytes, NULL skips/block_max/idf, inc=gi) —
    one row per slab holding at least one admissible doc.  Consumed by
    make_slab_scorer exactly like a keyword bool.filter group."""
    import numpy as np
    import pandas as pd

    from search_engine_spark.query.wand import RAW_INC_TERM

    grouped = adm.select(
        F.floor(F.col("docid") / F.lit(slab_size)).cast("int").alias("slab"),
        F.col("docid").cast("long").alias("docid"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        local = np.sort(
            pdf["docid"].to_numpy(np.int64) % np.int64(slab_size)
        )
        return pd.DataFrame(
            {
                "slab": [int(pdf["slab"].iloc[0])],
                "postings": [local.tobytes()],
            }
        )

    packed = grouped.groupBy("slab").applyInPandas(
        pack, schema="slab int, postings binary"
    )
    return packed.select(
        F.col("slab"),
        F.lit(RAW_INC_TERM).alias("term"),
        F.col("postings"),
        F.lit(None).cast("binary").alias("skips"),
        F.lit(None).cast("binary").alias("block_max"),
        F.lit(None).cast("double").alias("idf"),
        F.lit(int(gi)).cast("int").alias("inc"),
    )


def _msm_count(msm, n: int) -> int:
    """ES minimum_should_match value -> required distinct-term count.

    Accepted forms, ``n`` being the number of optional clauses:

    - ``None``: no requirement (0);
    - an int, or a string of ASCII digits with an optional leading
      sign (``2``, ``"2"``, ``"+2"``, ``-1``, ``"-1"``): a positive
      value is the count; a NEGATIVE one means "total minus that many
      may be missing" (n+m);
    - ``"P%"`` or ``"+P%"`` takes floor(n*P/100); ``"-P%"`` means n
      minus floor(n*P/100) — percentages round DOWN before use, the
      documented ES rule.

    Surrounding whitespace in a string is ignored.  The ES combination
    form (``"3<90%"``, or several of them) is not supported and raises
    ValueError, as does any other string.  The result clamps at 0, and
    m <= 1 normalizes to 0: every scored doc matches at least one
    clause, so msm=1 IS plain OR — returning 0 keeps the serving fused
    fast path and the count-free kernels."""
    import re

    if msm is None:
        return 0
    if isinstance(msm, str):
        s = msm.strip()
        if "<" in s:
            raise ValueError(
                f"minimum_should_match {msm!r}: the combination form "
                "'N<M' is not supported"
            )
        got = re.fullmatch(r"([+-]?[0-9]+)(%?)", s)
        if got is None:
            raise ValueError(
                f"minimum_should_match {msm!r}: int, 'N', '-N', 'P%' "
                "or '-P%'"
            )
        v = int(got.group(1))
        if got.group(2):
            m = (n * v) // 100 if v >= 0 else n - ((n * -v) // 100)
        else:
            m = v if v >= 0 else n + v
    else:
        m = int(msm)
        if m < 0:
            m = n + m
    return 0 if m <= 1 else m


def _dto_ranges(date_from, date_to, min_quality):
    """SearchRequestDTO range params -> [(field, lo, hi)] doc-values
    ranges (None when nothing is constrained).  Dates accept ISO
    strings or day offsets (ops/ranking.day_offset)."""
    from search_engine_spark.ops.ranking import day_offset

    ranges: list[tuple[str, float | None, float | None]] = []
    if min_quality is not None:
        ranges.append(("quality", float(min_quality), None))
    if date_from is not None or date_to is not None:
        ranges.append(
            (
                "day",
                float(day_offset(date_from)) if date_from is not None else None,
                float(day_offset(date_to)) if date_to is not None else None,
            )
        )
    return ranges or None


def _join_chunks(parts: list) -> tuple:
    """One term's per-chunk (global docids, tf-norm factors, ...)
    tuples -> the two arrays concatenated, after sorting ``parts`` in
    place by first docid.  Chunks (slabs, and generations within a
    slab) cover disjoint docid ranges, so the docids come out sorted;
    within a term no docid repeats, so no score sum depends on the
    chunk order."""
    import numpy as np

    parts.sort(key=lambda p: p[0][:1].tolist())
    if len(parts) == 1:
        return parts[0][0], parts[0][1]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
    )


class _ArrowStrings:
    """A sorted Arrow string array as a read-only sequence of Python
    strings, for ``bisect``: one scalar conversion per probe."""

    def __init__(self, arr):
        self._arr = arr

    def __len__(self) -> int:
        return len(self._arr)

    def __getitem__(self, i: int) -> str:
        return self._arr[i].as_py()


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        self.spark = spark
        self.index_dir = index_dir
        self._cache_plans = cache
        # serving tier: max term-buckets held decoded in driver memory
        # (a serving head pins its shard hot, like ES's page cache); 0
        # switches the search_local* family to per-query pruned scans
        # (bounded memory, pays ~1 file-open per matching fragment).
        # serving_cache_max_bytes bounds the same cache in BYTES
        # (arrow-buffer size of each bucket's fragment table) so a
        # large index can't pin half its postings in driver memory
        # just because it fits in 16 buckets — eviction fires on
        # whichever bound (bucket count / byte budget) trips first.
        self.serving_cache_buckets = 16
        self.serving_cache_max_bytes = 1 << 30
        # decoded-postings cache (r5): terms served while the bucket
        # cache is on also keep their chunks' DECODED arrays (the
        # TermChunk._full memo) on a per-term LRU, so a warm term pays
        # zero varint work — the serving-head analog of Lucene leaning
        # on the OS page cache plus its own per-segment term caches.
        # Budget is exact (sum of memo array nbytes); 0 disables.
        # Eviction drops the arrays only — the encoded rows stay in
        # the bucket cache, so a re-miss costs one full decode, not IO.
        self.serving_decoded_max_bytes = 2 << 30
        # index generation: refresh() bumps it, so a cache keyed on it
        # (the use case's response cache) never serves an old index
        self.generation = 0
        self.refresh()

    def refresh(self) -> "SearchEngine":
        """(Re)load index state.  MUST be called after any mutation of
        the index directory by another component (append_documents,
        compact_index) — a stale engine would otherwise score with an
        outdated n_docs/avgdl (wrong idf and bound_scale) and hold a
        pyarrow dataset over deleted segment files."""
        from search_engine_spark.catalog import store_for

        self.generation += 1
        self.store = store_for(self.index_dir)
        self.meta = self.store.get_meta(self.spark)
        for df in (getattr(self, "segments", None), getattr(self, "df_table", None)):
            if df is not None and self._cache_plans:
                df.unpersist()
        for t in ("segments", "df", "docmap"):
            self.store.refresh(self.spark, t)
        self.segments = self.store.read(self.spark, "segments")
        self.df_table = self.store.read(self.spark, "df")
        self.docmap = self.store.read(self.spark, "docmap")
        if self._cache_plans:
            self.segments = self.segments.cache()
            self.df_table = self.df_table.cache()
        self._local_ds = None
        from collections import OrderedDict as _OD

        self._bucket_cache: "_OD[int, dict[str, list]]" = _OD()
        self._bucket_cache_nbytes: dict[int, int] = {}
        # term -> (rows holding a "_chunk" TermChunk, decoded nbytes);
        # generation-scoped exactly like the bucket cache above
        self._decoded_cache: "_OD[str, tuple[list, int]]" = _OD()
        self._decoded_nbytes = 0
        self._df_cache: dict[str, int] = {}
        # did_you_mean spelling dictionaries, (dict_terms,
        # SpellingIndex), one per path, built lazily per generation
        self._dym_dict = None
        self._dym_local = None
        # full content-namespace {term: df} for serving-side fuzzy /
        # prefix expansion; built lazily once per generation
        self._local_vocab: dict[str, int] | None = None
        # S8 result cache: dropped wholesale per engine generation so a
        # refresh() after append/compact can never serve stale results
        self._result_cache = None
        # phrase support (indexer/positions.py): lazily-read positional
        # segments, the per-generation staleness verdict, the last
        # query's persisted candidate set, and the serving path's
        # pyarrow dataset handle
        old = getattr(self, "_phrase_matches", None)
        if old is not None:
            old.unpersist()
        self._possegments = None
        self._pos_ok: bool | None = None
        self._phrase_matches: DataFrame | None = None
        self._pos_local_ds = None
        self._term_slab_cache: dict[str, frozenset] | None = (
            {} if self.store.kind == "parquet"
            and self.store.exists("term_slabs")
            else None
        )
        # term -> summed inventory df (distinct docs), filled by the
        # same lookup as _term_slab_cache
        self._term_df_sum: dict[str, int] = {}
        # the whole (term, slab) inventory, term-sorted (_slab_inventory)
        self._inventory = None
        # tombstones (delete_documents): False = not yet loaded this
        # generation; None = none pending; ndarray = sorted global
        # docids.  Loaded lazily, dropped by refresh() like every
        # other generation-scoped cache.
        self._tomb: "bool | None" = False
        self._tombdf = None
        # serving-tier docmap field arrays (facets, doclen), per
        # generation
        self._field_arrs: dict = {}
        # serving-tier page store (_page_store): (sorted docids, DTO
        # projection table), per generation
        self._pages = None
        # serving-tier numeric doc-values arrays (range filters:
        # dateFrom/dateTo/minContentQuality), per generation
        self._dv_arrs: dict = {}
        return self

    # -- construction ----------------------------------------------------
    @staticmethod
    def build(
        spark: SparkSession,
        docs: DataFrame,
        index_dir: str,
        cfg: EngineConfig | None = None,
        **kwargs,
    ) -> "SearchEngine":
        build_index(spark, docs, index_dir, cfg, **kwargs)
        return SearchEngine(spark, index_dir)

    # -- query -----------------------------------------------------------
    def _pruned_segments(self, terms: list[str]):
        """Segment scan pruned by term AND bucket.

        Each segment file holds one bucket (see build.py), so the
        bucket predicate — computed driver-side with the crc32 twin —
        skips whole files via parquet min/max stats; the term
        predicate then prunes row groups / rows.
        """
        from search_engine_spark.indexer.segments import term_bucket_py

        buckets = sorted(
            {term_bucket_py(t, int(self.meta["term_buckets"])) for t in terms}
        )
        pred = F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        slabs = self._slabs_for(terms)
        if slabs is not None:
            # partition pruning: segments/ is partitioned by slab, so
            # slabs no query term occurs in are never even listed
            pred = pred & F.col("slab").isin(sorted(slabs))
        return self.segments.filter(pred)

    def _slabs_for(self, terms: list[str]):
        """Union of slabs the query terms occur in, from the tiny
        (term, slab) inventory written at build time, held in memory
        per engine generation (_slab_inventory) and memoized per term
        together with its summed df.  Returns None (no pruning) when
        the inventory is absent (pre-term_slabs index) or the store is
        catalog-backed."""
        cache = self._term_slab_cache
        if cache is None:
            return None
        missing = [t for t in terms if t not in cache]
        if missing:
            from bisect import bisect_left

            uniq, starts, slabs, dfs = self._slab_inventory()
            for t in missing:
                i = bisect_left(uniq, t)
                if i < len(uniq) and uniq[i] == t:
                    cache[t] = frozenset(
                        slabs[starts[i]:starts[i + 1]].tolist()
                    )
                    self._term_df_sum[t] = int(dfs[i])
                else:
                    cache[t] = frozenset()
                    self._term_df_sum[t] = 0
        out: set[int] = set()
        for t in terms:
            out |= cache[t]
        return out

    def _slab_inventory(self):
        """The whole (term, slab, df) inventory, read once per
        generation and sorted by term: (distinct terms, run starts
        into ``slabs``, slabs, summed df per term).  The terms stay an
        Arrow string array searched by bisection, so a term's first
        lookup costs O(log terms) and no IO, and the inventory holds
        no Python object per term.  Arrow orders strings by their
        UTF-8 bytes, which is Python's code-point order."""
        if self._inventory is None:
            import numpy as np
            import pyarrow.compute as pc
            import pyarrow.dataset as ds

            tab = ds.dataset(f"{self.index_dir}/term_slabs").to_table(
                columns=["term", "slab", "df"]
            ).sort_by("term")
            terms = tab.column("term").combine_chunks()
            n = len(terms)
            starts = np.zeros(0, dtype=np.int64)
            if n:
                new_run = pc.not_equal(terms[1:], terms[:-1])
                starts = np.concatenate((
                    [0],
                    np.flatnonzero(
                        new_run.to_numpy(zero_copy_only=False)
                    ) + 1,
                )).astype(np.int64)
            df = pc.fill_null(tab.column("df"), 0).to_numpy().astype(
                np.int64
            )
            dfs = (
                np.add.reduceat(df, starts) if n
                else np.zeros(0, dtype=np.int64)
            )
            self._inventory = (
                _ArrowStrings(terms.take(starts)),
                np.append(starts, n),
                tab.column("slab").to_numpy().astype(np.int64),
                dfs,
            )
        return self._inventory

    def _idf_rows(self, terms: list[str]):
        n = float(self.meta["n_docs"])
        rows = (
            self.df_table.filter(F.col("term").isin(terms))
            .withColumn(
                "idf",
                F.log1p((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            )
            .select("term", "idf")
        )
        return rows

    # -- deletes (tombstones) --------------------------------------------
    def delete(self, docids=None, where=None) -> int:
        """Tombstone documents (indexer.build.delete_documents) and
        refresh this engine so queries exclude them immediately.
        Stats (n_docs/avgdl/df) stay pre-delete until a purging
        compact_index (which also clears the tombstones) — the Lucene
        deleted-docs rule.  Returns the live tombstone count."""
        from search_engine_spark.indexer.build import delete_documents

        n = delete_documents(self.spark, self.index_dir, docids, where)
        self.refresh()
        return n

    def _tombstones_arr(self):
        """Sorted global docids pending deletion, or None.  The
        live-deletes working set (Lucene liveDocs analog): bounded
        driver-side until compaction reclaims it."""
        if self._tomb is False:
            import numpy as np

            if self.store.exists("tombstones", self.spark):
                if self.store.kind == "parquet":
                    import pyarrow.dataset as ds

                    ids = (
                        ds.dataset(f"{self.index_dir}/tombstones")
                        .to_table(columns=["docid"])
                        .column("docid")
                        .to_numpy()
                    )
                else:
                    ids = np.array(
                        [
                            int(r["docid"])
                            for r in self.store.read(
                                self.spark, "tombstones"
                            ).collect()
                        ],
                        dtype=np.int64,
                    )
                self._tomb = (
                    np.unique(ids.astype(np.int64)) if len(ids) else None
                )
            else:
                self._tomb = None
        return self._tomb

    def _n_tomb(self) -> int:
        t = self._tombstones_arr()
        return 0 if t is None else len(t)

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        """Anti-join (docid) against the pending-delete set; no-op
        without tombstones.  Exactness of the over-fetch pattern used
        by the Spark-side top-k paths: a path that fetched
        top-(k + |tombstones|) per group can lose at most
        |tombstones| rows to this filter, so filtering then cutting
        to k equals kernel-level exclusion (scores of surviving docs
        are unaffected by other docs' deletion)."""
        t = self._tombstones_arr()
        if t is None:
            return df
        if self._tombdf is None:
            self._tombdf = self.spark.createDataFrame(
                [(int(d),) for d in t], "docid long"
            )
        return df.join(F.broadcast(self._tombdf), "docid", "left_anti")

    @staticmethod
    def _filter_groups(filters: "dict | None") -> list[list[str]]:
        """bool.filter spec -> keyword-term groups: one group per
        field (sorted for determinism), OR within a group (a list
        value), AND across groups."""
        if not filters:
            return []
        from search_engine_spark.indexer.postings import meta_term

        groups = []
        for f_ in sorted(filters):
            v = filters[f_]
            vals = v if isinstance(v, (list, tuple, set)) else [v]
            groups.append(sorted(meta_term(f_, x) for x in vals))
        return groups

    def search(
        self,
        query: str,
        k: int = 10,
        expand: bool = False,
        mode: str = "or",
        intent: bool = False,
        exclude: str | None = None,
        after: tuple[float, int] | None = None,
        filter: "dict | None" = None,
        date_from: "str | int | None" = None,
        date_to: "str | int | None" = None,
        min_quality: float | None = None,
        min_should_match: "int | str | None" = None,
    ) -> DataFrame:
        """Top-k (docid, score) via per-slab block-max WAND.

        ``expand=True`` applies the reference's query expansion
        (misspelling correction + weighted synonyms, SO3/X5): each
        term's contribution becomes w_t * idf_t * tfn — the WAND
        executor consumes the product as the term weight, so pruning
        bounds remain exact.

        ``mode="and"`` is ES bool.must (SURVEY J4): only documents
        containing EVERY query term are returned, still BM25-scored.
        Combine with ``expand=True`` only deliberately — expansion
        terms then become required too.

        ``intent=True`` applies the reference's rule-based intent
        classifier (query/intent.py): a TUTORIAL-intent query gains
        the spec's extra should-terms at weight 1.0.

        ``exclude`` is ES bool.must_not: documents containing ANY of
        its (tokenized) terms are dropped from the result.  Exclusion
        chunks ride the same per-slab groups as the scored terms
        (NULL-idf rows), so must_not costs one extra pruned segment
        scan and no extra shuffle.

        ``after`` is ES search_after keyset pagination: the exact
        (score, docid) of the previous page's last hit; only documents
        strictly after that cursor in (score desc, docid asc) order
        are returned.  Unlike from/size (W2, paginate()), a deep page
        never materializes the pages before it — at 100 TB this is the
        only sane way to scroll far into a result set, which is why ES
        deprecated deep from/size in favor of search_after.  The
        cursor filter is applied INSIDE the per-slab kernels before
        candidates enter the running top-k, so WAND pruning bounds
        stay exact (dropping documents only lowers admissible scores).
        A cursor is valid for the path that issued it (this method or
        search_local respectively): the two paths' scores agree to
        1e-12 but not always bitwise, and the tie rule compares exact
        floats — the same contract ES sort values carry.

        ``filter`` is ES bool.filter (non-scoring context): a dict of
        docmap field -> value (or list of values, OR'd); fields AND
        together.  Filters push down INTO the index as `m#field=value`
        keyword postings (cfg.index_fields), so term/bucket/slab
        pruning applies to the filter clauses too, admission happens
        inside the kernels, and scores are untouched.

        ``date_from``/``date_to``/``min_quality`` complete the
        SearchRequestDTO surface (SearchRequestDTO.java:22-24; the
        reference's ES adapter plumbs the params but never applies
        them — implemented here as the declared semantics, the sortBy
        precedent): numeric RANGE filters in filter context.  Dates
        are ISO strings (or day offsets) against the deterministic
        synthetic publish day (ops/ranking.pub_day_col — the sortBy
        "date" key, so sorting and filtering agree); min_quality
        bounds the docmap's materialized F13 quality.  Ranges ride the
        same kernel admission as bool.filter: a per-slab admissible
        set is computed from a column-pruned docmap scan (docid +
        quality only — the Lucene doc-values analog; the day needs no
        scan at all, it is a pure function of docid) and shipped into
        the per-slab groups as raw-int64 rows, so scores stay bitwise
        those of the unfiltered ranking and WAND bounds stay exact.

        ``min_should_match`` is the ES param of the same name: only
        documents matching at least m DISTINCT clauses are returned
        (int, or "P%" of the clause count rounded down — the ES
        percentage rule).  m-of-n sits between OR (m<=1) and
        ``mode="and"`` (m=n, which overrides); with ``expand=True`` /
        ``intent=True`` the clause count includes expansion clauses,
        like an ES bool.should of the rewritten query.  Enforced by
        the kernels' distinct-chunk counting (the bool.must machinery
        with a lower threshold), so WAND pruning stays exact.
        """
        return self._spark_topk(
            {None: self._plain(
                query_weights(query, expand, intent), mode, min_should_match
            )},
            k,
            exclude_terms=tokenize_query(exclude) if exclude else None,
            after=after, filters=filter,
            ranges=_dto_ranges(date_from, date_to, min_quality),
        )

    def _plain(
        self,
        weights: dict[str, float],
        mode: str = "or",
        min_should_match: "int | str | None" = None,
    ) -> ClausePlan:
        """The plain family's plan (search, fuzzy, prefix, batch and
        their serving twins): ``mode="and"`` requires every term,
        else ``min_should_match`` of them."""
        n = len(weights)
        return plain_plan(
            weights, field_stats(self.meta),
            n if mode == "and" else _msm_count(min_should_match, n),
        )

    def _stats_with_title(self, what: str):
        """Field statistics of an index built with titles, for the
        field-weighted and composed families."""
        if not self.meta.get("index_title"):
            raise ValueError(
                "index was built with index_title=False; rebuild to use "
                + what
            )
        return field_stats(self.meta)

    def _spark_topk(
        self,
        plans: dict,
        k: int,
        exclude_terms: list[str] | None = None,
        after: tuple[float, int] | None = None,
        filters: "dict | None" = None,
        ranges: "list[tuple[str, float | None, float | None]] | None" = None,
        pagerank: DataFrame | None = None,
        missing: float = 0.0,
    ) -> DataFrame:
        """The Spark executor of every clause plan (query/plan.py).

        ``plans`` is {None: plan} for one query, answered as its
        (docid, score) top-k, or {qid: plan} for a batch, answered as
        (qid, docid, score, rank) through a per-qid ranking window.
        The plans' idf table (w * idf per plan row) joins the pruned
        segment scan as a broadcast; one applyInPandas scorer
        (query/wand.make_slab_scorer) runs per (qid, slab) group, or
        per slab cogrouped with the (docid, pr) rows when
        ``pagerank`` is given, so every query of a batch shares one
        boost vector.  Each group over-fetches k + |tombstones| and
        the tombstone anti-join then drops pending deletes
        (_drop_tombstones).

        Single queries also take admission rows in the same per-slab
        groups: ``exclude_terms`` (bool.must_not) as NULL-idf rows,
        ``filters`` (bool.filter) as one ``inc`` group per field,
        ``ranges`` [(field, lo, hi)] as one doc-values admission group
        each, and the ``after`` cursor inside the kernels.
        """
        from pyspark.sql import Window

        from search_engine_spark.query.advanced import PAGERANK_FACTOR
        from search_engine_spark.query.plan import plan_idf_table
        from search_engine_spark.query.wand import BATCH_TOPK_SCHEMA

        batch = None not in plans
        schema = BATCH_TOPK_SCHEMA if batch else TOPK_SCHEMA

        def empty() -> DataFrame:
            return self.spark.createDataFrame(
                [], schema + (", rank int" if batch else "")
            )

        plans = {q: p for q, p in plans.items() if p.rows}
        if not plans:
            return empty()
        m = self.meta
        terms = sorted({r[0] for p in plans.values() for r in p.rows})
        idfs = plan_idf_table(
            self.spark, self.df_table, plans, float(m["n_docs"])
        )
        seg = self._pruned_segments(terms).select(*SEG_COLS).join(
            F.broadcast(idfs), "term"
        )
        if exclude_terms:
            seg = seg.unionByName(
                self._pruned_segments(exclude_terms).select(*SEG_COLS),
                allowMissingColumns=True,
            )
        groups = self._filter_groups(filters)
        rngs = [r for r in (ranges or []) if r[1] is not None or r[2] is not None]
        for gi, gterms in enumerate(groups):
            seg = seg.unionByName(
                self._pruned_segments(gterms)
                .select(*SEG_COLS)
                .withColumn("inc", F.lit(gi).cast("int")),
                allowMissingColumns=True,
            )
        if groups and self._term_slab_cache is not None:
            # slab intersection: a phrase-style AND across groups — a
            # slab where some field value never occurs cannot produce
            # an admissible doc, so skip it before any scan
            allowed = self._slabs_for(terms)
            for gterms in groups:
                allowed = allowed & self._slabs_for(gterms)
            if not allowed:
                return empty()
            seg = seg.filter(F.col("slab").isin(sorted(allowed)))
        if rngs:
            # doc-values admission rows: one group per range, packed
            # from a column-pruned docmap scan; pruned to the slabs the
            # scored terms occur in (a range row for a slab with no
            # scored chunks could never contribute)
            adm_slabs = self._slabs_for(terms)
            for i, rng in enumerate(rngs):
                rseg = self._range_admission_rows(rng, len(groups) + i)
                if adm_slabs is not None:
                    rseg = rseg.filter(
                        F.col("slab").isin(sorted(adm_slabs))
                    )
                seg = seg.unionByName(rseg, allowMissingColumns=True)
        scorer = make_slab_scorer(
            int(m["slab_size"]),
            int(m["block_size"]),
            k + self._n_tomb(),  # over-fetch covers pending deletes
            float(m["k1"]),
            float(m["b"]),
            {q: (p.n_required, p.dis_max) for q, p in plans.items()},
            after=after,
            n_filter_groups=len(groups) + len(rngs),
            pagerank=None if pagerank is None else (PAGERANK_FACTOR, missing),
        )
        if pagerank is None:
            per = seg.groupBy(*(["qid"] if batch else []), "slab")
            per = per.applyInPandas(scorer, schema=schema)
        else:
            pr = pagerank.select(
                F.col(pagerank.columns[0]).cast("long").alias("docid"),
                F.col(pagerank.columns[1]).cast("double").alias("pr"),
            ).withColumn(
                "slab", (F.col("docid") / int(m["slab_size"])).cast("int")
            )
            per = (
                seg.groupBy("slab")
                .cogroup(pr.groupBy("slab"))
                .applyInPandas(scorer, schema=schema)
            )
        per = self._drop_tombstones(per)
        if not batch:
            return per.orderBy(F.desc("score"), F.asc("docid")).limit(k)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        return per.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    def _range_admission_rows(self, rng, gi: int) -> DataFrame:
        """One doc-values range -> admission rows (slab, RAW_INC_TERM,
        raw-int64 postings, NULL skips/block_max/idf, inc=gi), one row
        per slab holding at least one admissible doc.

        The docmap IS the doc-values store: parquet is columnar, so
        the scan reads exactly (docid, quality) — nothing content-
        sized ships — and the range predicate pushes into it.  The
        synthetic publish day needs no scan at all (a pure function of
        docid, shared with sortBy="date").  One narrow shuffle to
        (slab) packs the admissible docids; at 100 TB the heavy
        per-value filtering work stays columnar and distributed, and
        the hot-path alternative for a REPEATED categorical range is
        the m#field=value keyword postings (bool.filter), which skip
        the docmap entirely.
        """
        field, lo, hi = rng
        src = self.docmap.select(
            F.col("docid").cast("long").alias("docid"),
            self._dv_value_col(field).alias("_v"),
        )
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("_v") >= float(lo))
        if hi is not None:
            cond = cond & (F.col("_v") <= float(hi))
        return pack_admission_rows(
            src.filter(cond), int(self.meta["slab_size"]), gi
        )

    def _dv_value_col(self, field: str):
        """docmap Column for a doc-values range field: materialized
        quality (with the query-time F13 fallback for legacy
        pre-quality docmaps — the search_ranked discipline) or the
        pure-docid publish day.  Shared by the kernel-admission and
        candidate-set (search_sorted / use-case) range paths."""
        from search_engine_spark.ops.ranking import pub_day_col

        if field == "quality":
            if "quality" in self.docmap.columns:
                return F.col("quality").cast("double")
            from search_engine_spark.ops.ranking import quality_col
            from search_engine_spark.tokenizer import tokens_col

            return quality_col(
                F.col("content"), tokens_col("content")
            ).cast("double")
        if field == "day":
            return pub_day_col(F.col("docid")).cast("double")
        raise ValueError(f"unknown range field {field!r}")

    def _content_vocab(self):
        """(term, df) over the CONTENT namespace — the fuzzy/prefix
        expansion dictionary (title terms live under TITLE_PREFIX,
        metadata keyword terms under META_PREFIX — neither can match a
        bare query token)."""
        from search_engine_spark.config import META_PREFIX, TITLE_PREFIX

        return self.df_table.filter(
            ~F.col("term").startswith(TITLE_PREFIX)
            & ~F.col("term").startswith(META_PREFIX)
        ).select("term", "df")

    def fuzzy_weights(
        self, query: str, max_edits: int = 1, max_expansions: int = 50
    ) -> dict[str, float]:
        """Merged clause weights for ES-style fuzzy matching: each
        vocabulary term within levenshtein <= max_edits of a query
        term is a clause at the Lucene boost 1 - d/min(|q|,|t|),
        capped per query term at the max_expansions highest-df terms
        (query/fuzzy.py freezes the semantics).  A term reached from
        two query terms sums its boosts — algebraically identical to
        scoring the clauses separately, since contribution is linear
        in the boost.  The expansion is computed as a DataFrame
        against the df table (a length-band broadcast hash join, no
        driver-side vocabulary) and only the <= n_terms *
        max_expansions surviving rows are collected."""
        from search_engine_spark.query.fuzzy import fuzzy_expansions

        terms = tokenize_query(query)
        if not terms:
            return {}
        exp = fuzzy_expansions(
            self._content_vocab(), terms, max_edits, max_expansions
        )
        rows = sorted(
            (int(r["qi"]), r["term"], float(r["boost"]))
            for r in exp.select("qi", "term", "boost").collect()
        )
        # summed in (qi, term) order — the serving twin
        # (search_local_fuzzy) merges in the same order, so the two
        # paths' float sums are bit-identical
        weights: dict[str, float] = {}
        for _qi, term, boost in rows:
            weights[term] = weights.get(term, 0.0) + boost
        return weights

    def prefix_weights(
        self, prefix: str, max_expansions: int = 50
    ) -> dict[str, float]:
        """scoring_boolean prefix rewrite: the max_expansions
        highest-df vocabulary terms with the prefix, weight 1.0."""
        from search_engine_spark.query.fuzzy import prefix_expansions

        exp = prefix_expansions(self._content_vocab(), prefix, max_expansions)
        return {r["term"]: 1.0 for r in exp.select("term").collect()}

    def search_fuzzy(
        self,
        query: str,
        k: int = 10,
        max_edits: int = 1,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES `match` with fuzziness through the real index path."""
        return self._spark_topk(
            {None: self._plain(
                self.fuzzy_weights(query, max_edits, max_expansions)
            )},
            k,
        )

    def search_prefix(
        self, prefix: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """ES `prefix` query (scoring_boolean rewrite) through the
        real index path."""
        return self._spark_topk(
            {None: self._plain(self.prefix_weights(prefix, max_expansions))},
            k,
        )

    def search_fields(
        self, query: str, k: int = 10, expand: bool = False,
        intent: bool = False,
    ) -> DataFrame:
        """Field-weighted top-k with BM25F-style cross-field SUM.

        DELIBERATE divergence from the reference's multi_match
        BEST_FIELDS (docs/features/query-expansion-nlp.md:260-275),
        which takes the MAX over fields per clause: this method sums
        title and content contributions (BM25F-shaped — a doc matching
        in both fields ranks higher).  The faithful BEST_FIELDS
        dis_max semantics live in ``search_advanced``; boosts
        (title^3.0/content^1.0, synonyms title^2.0/content^0.8 when
        ``expand``) are the reference's in both.
        Per-field BM25 statistics: each field's chunks carry
        their own df, avgdl and block-max bounds (encoded with that
        field's avgdl at build time), so WAND pruning stays exact:
        UB(block) = sum over (term, field) of boost * idf * block_max.
        """
        stats = self._stats_with_title("field-weighted search")
        return self._spark_topk(
            {None: fields_plan(query, stats, expand, intent)}, k
        )

    def search_advanced(
        self,
        query: str,
        k: int = 10,
        pagerank: DataFrame | None = None,
        missing: float = 0.0,
        mode: str = "or",
    ) -> DataFrame:
        """The reference's COMPLETE composed query in one call
        (AdvancedSearchService, docs/features/query-expansion-nlp.md:
        246-300): corrected original terms as ONE BEST_FIELDS clause
        (title^3/content^1, dis_max over fields), per-synonym clauses
        (title^2/content^0.8, dis_max over fields), the TUTORIAL-intent
        content clause, entity content clauses — summed across clauses
        — then function_score MULTIPLY by log1p(2 * pagerank) applied
        INSIDE the per-slab WAND stage over ALL candidates (per-block
        boost maxima keep pruning exact; multiply is monotone).

        ``pagerank``: (node|docid, pagerank) DataFrame; docs absent
        boost at log1p(2 * missing).  ``pagerank=None`` skips the
        function_score stage entirely (pure bool score).

        ``mode="and"`` requires every corrected ORIGINAL term (in
        either field); synonym/intent/entity clauses stay optional —
        unlike ``search(mode="and", expand=True)``, expansion terms
        are never required here.
        """
        stats = self._stats_with_title("the composed query")
        return self._spark_topk(
            {None: composed_plan(query, stats, mode)}, k,
            pagerank=pagerank, missing=missing,
        )

    def search_advanced_with_meta(
        self,
        query: str,
        k: int = 10,
        pagerank: DataFrame | None = None,
        missing: float = 0.0,
        highlight: bool = True,
        mode: str = "or",
    ) -> DataFrame:
        """Composed query + presentation: docmap metadata, <mark>-ed
        title and query-term-centered <mark>-ed content snippet — the
        reference request's HighlightBuilder stage.  Highlight terms
        include synonyms and intent/entity terms (ES highlights every
        matched should-clause term)."""
        from search_engine_spark.indexer.docmap import title_col
        from search_engine_spark.query.advanced import (
            advanced_plan,
            plan_mark_terms,
        )
        from search_engine_spark.query.highlight import (
            highlight_snippet_col,
            mark_col,
        )

        topk = self.search_advanced(query, k, pagerank=pagerank,
                                    missing=missing, mode=mode)
        terms = plan_mark_terms(advanced_plan(query))
        if highlight:
            snippet = highlight_snippet_col("content", terms)
            title = mark_col(title_col("path"), terms)
        else:
            snippet = F.substring("content", 1, 200)
            title = title_col("path")
        return (
            self.docmap.join(F.broadcast(topk), "docid")
            .select(
                "docid", "score", "repo", "path", "commit", "lang",
                title.alias("title"),
                snippet.alias("snippet"),
            )
            .orderBy(F.desc("score"), F.asc("docid"))
        )

    def search_batch(
        self,
        queries: dict[str, str],
        k: int = 10,
        expand: bool = False,
        mode: str = "or",
        intent: bool = False,
    ) -> DataFrame:
        """Score MANY queries in one job -> (qid, docid, score, rank).

        The throughput path: a (qid, term, idf) broadcast joins the
        segments scan once; (qid, slab) groups run WAND concurrently;
        a per-qid ranking window takes the global top-k.

        ``expand``/``mode``/``intent`` carry the single-query
        ``search()`` semantics per qid (rank-identical; pinned in
        pytest): expansion weights multiply idf, ``mode="and"``
        requires every term of that query (expansion terms included,
        same sharp edge as ``search``), TUTORIAL-intent queries gain
        the extra should-terms.
        """
        return self._spark_topk(
            {
                qid: self._plain(query_weights(q, expand, intent), mode)
                for qid, q in queries.items()
            },
            k,
        )

    def search_batch_fields(
        self,
        queries: dict[str, str],
        k: int = 10,
        expand: bool = False,
        intent: bool = False,
    ) -> DataFrame:
        """Field-weighted search for MANY queries in one job — the
        batch-throughput form of ``search_fields`` (same per-field
        weights/statistics, (qid, slab) WAND groups, per-qid top-k;
        ``intent`` adds the TUTORIAL content-only should-terms per
        qid, rank-identical to the single-query path)."""
        stats = self._stats_with_title("field-weighted search")
        return self._spark_topk(
            {
                qid: fields_plan(q, stats, expand, intent)
                for qid, q in queries.items()
            },
            k,
        )

    def search_batch_advanced(
        self,
        queries: dict[str, str],
        k: int = 10,
        pagerank: DataFrame | None = None,
        missing: float = 0.0,
        mode: str = "or",
    ) -> DataFrame:
        """The COMPOSED query (``search_advanced``) for MANY queries in
        one job -> (qid, docid, score, rank) — completing the batch
        feature matrix (plain/fields/advanced each have a batch twin).

        Per-qid semantics are ``search_advanced``'s exactly (pinned in
        pytest): BEST_FIELDS originals, per-synonym clauses, intent +
        entity clauses, optional function_score MULTIPLY
        log1p(2*pagerank) over ALL candidates, ``mode="and"``
        requiring every corrected original term.

        Shapes: without pagerank, (qid, slab) groups like
        ``search_batch``.  With pagerank, groups are per SLAB and the
        pagerank rows cogroup once per slab — the boost vector is
        query-independent, so it is built once and shared by every
        query in the batch instead of replicating the pagerank table
        per qid (the scale-relevant choice at 100 TB).  Queries whose
        plan is empty (all terms tokenized away) yield no rows, as in
        ``search_batch``.
        """
        stats = self._stats_with_title("the composed query")
        return self._spark_topk(
            {qid: composed_plan(q, stats, mode) for qid, q in queries.items()},
            k, pagerank=pagerank, missing=missing,
        )

    def _local_term_rows(self, terms: list[str]) -> dict[str, list]:
        """Segment rows (slab/term/postings/skips/block_max) per term
        for the no-Spark serving paths.

        Default mode (``serving_cache_buckets > 0``): rows come from a
        per-BUCKET in-memory cache — the first query touching a bucket
        loads that bucket's segment files once (one pyarrow scan) and
        keeps them decoded, so warm queries do zero file IO and their
        latency is pure kernel cost.  This is what a real serving head
        does with its shard (ES keeps segments in the page cache); the
        LRU cap bounds memory to ``serving_cache_buckets`` of the
        ``term_buckets`` buckets.  ``refresh()`` drops the cache, so a
        generation change can never serve stale postings.

        ``serving_cache_buckets = 0``: per-query pruned scan (term +
        bucket + slab-inventory filters) — bounded memory, pays one
        file-open per matching fragment; this is the mode the
        slab-pruning evidence in BENCH/serving_slabs.jsonl measures.
        """
        import pyarrow.dataset as ds

        from search_engine_spark.indexer.segments import term_bucket_py

        m = self.meta
        if self._local_ds is None:
            self._local_ds = ds.dataset(
                f"{self.index_dir}/segments", partitioning="hive"
            )
        cols = ["slab", "term", "postings", "skips", "block_max"]
        nb = int(m["term_buckets"])
        uniq = list(dict.fromkeys(terms))
        by_term: dict[str, list] = {}
        if self.serving_cache_buckets > 0:
            need: dict[int, list[str]] = {}
            for t in uniq:
                need.setdefault(term_bucket_py(t, nb), []).append(t)
            for b, ts in need.items():
                cached = self._bucket_cache.get(b)
                if cached is None:
                    tab = self._local_ds.to_table(
                        filter=ds.field("bucket") == b, columns=cols
                    )
                    cached = {}
                    for r in tab.to_pylist():
                        cached.setdefault(r["term"], []).append(r)
                    self._bucket_cache[b] = cached
                    # arrow-buffer bytes approximate the decoded rows'
                    # payload (postings/skips/block_max dominate both)
                    self._bucket_cache_nbytes[b] = int(tab.nbytes)
                    while len(self._bucket_cache) > 1 and (
                        len(self._bucket_cache) > self.serving_cache_buckets
                        or sum(self._bucket_cache_nbytes.values())
                        > self.serving_cache_max_bytes
                    ):
                        old, _ = self._bucket_cache.popitem(last=False)
                        self._bucket_cache_nbytes.pop(old, None)
                else:
                    self._bucket_cache.move_to_end(b)
                for t in ts:
                    if t in cached:
                        by_term[t] = cached[t]
                        self._prime_decoded(t, cached[t])
            return by_term
        buckets = sorted({term_bucket_py(t, nb) for t in uniq})
        flt = ds.field("term").isin(uniq) & ds.field("bucket").isin(buckets)
        slabs = self._slabs_for(uniq)
        if slabs is not None:
            flt = flt & ds.field("slab").isin(sorted(slabs))
        tab = self._local_ds.to_table(filter=flt, columns=cols)
        for r in tab.to_pylist():
            by_term.setdefault(r["term"], []).append(r)
        return by_term

    def _prime_decoded(self, term: str, rows: list) -> None:
        """Attach a decoded ``TermChunk`` to each cached segment row of
        ``term`` (LRU under ``serving_decoded_max_bytes``).

        Priming eagerly full-decodes the chunk (``_decode_full`` — the
        same arrays the kernel's adaptive memo would build), so every
        later query on the term is pure vectorized scoring.  Values are
        integers decoded once; whether the kernel then slices blocks or
        takes whole arrays is bit-identical to decoding on demand
        (codec.decode_blocks docstring).  The worst case — a term
        queried once through a pruning-friendly plan — over-decodes by
        at most one full pass, the same bound the adaptive memo accepts.
        """
        if self.serving_decoded_max_bytes <= 0:
            return
        dc = self._decoded_cache
        ent = dc.get(term)
        if ent is not None:
            if ent["rows"] is rows:
                dc.move_to_end(term)
                return
            # the term's bucket was evicted and reloaded: these are new
            # row dicts — drop the stale entry and re-prime
            for r in ent["rows"]:
                r.pop("_chunk", None)
            self._decoded_nbytes -= ent["nb"]
            del dc[term]
        from search_engine_spark.indexer.codec import TermChunk, tf_norm_factor

        m = self.meta
        bs = int(m["block_size"])
        ss = int(m["slab_size"])
        fkey = (float(m["k1"]), float(m["b"]), float(m["avgdl"]))
        nb = 0
        parts = []
        for r in rows:
            c = TermChunk(r["postings"], r["skips"], r["block_max"])
            c._full = c._decode_full(bs)
            c._full_block_size = bs
            nb += sum(int(a.nbytes) for a in c._full)
            r["_chunk"] = c
            parts.append((
                c._full[0] + int(r["slab"]) * ss,
                tf_norm_factor(c._full[1], c._full[2], *fkey),
                c,
            ))
        # the term's postings as ONE global array pair, docids and
        # tf-norm factors — the slab-fused scorer (_fused_dense) runs
        # off these with no per-chunk Python loop in the query path,
        # and the match-set paths (_local_matches) search the sorted
        # docids.  Each chunk's factor memo (TermChunk.factor_all, the
        # per-slab kernels) is a view of the same factor array, so no
        # scoring path computes a factor after priming and a term's
        # first query costs what its later ones do.  Title chunks
        # score with their own avgdl and still memoize on first use.
        gids, fac = _join_chunks(parts)
        off = 0
        for _g, f, c in parts:
            c._fnorm = (fkey, fac[off:off + len(f)])
            off += len(f)
        nb += int(gids.nbytes) + int(fac.nbytes)
        dc[term] = {"rows": rows, "nb": nb, "gids": gids, "fac": fac}
        self._decoded_nbytes += nb
        while len(dc) > 1 and (
            self._decoded_nbytes > self.serving_decoded_max_bytes
        ):
            _, old = dc.popitem(last=False)
            for r in old["rows"]:
                r.pop("_chunk", None)
            self._decoded_nbytes -= old["nb"]

    def _fused_dense(
        self, by_term: dict[str, list], by_slab: dict[int, list],
        idf: dict[str, float], k: int,
        after: tuple[float, int] | None = None,
    ) -> "list[tuple[int, float]] | None":
        """All-slabs-dense fast path for ``search_local`` (OR mode):
        one ``fused_dense_topk`` call over the whole docid space
        instead of a per-slab kernel loop + merge.

        Fires only when EVERY candidate slab's chunk set satisfies the
        same density rule that dispatches ``slab_topk`` to its
        exhaustive scorer — fusion then computes the identical per-doc
        float sums in the identical order (parts iterate ``by_term``
        exactly as the by_slab rows were appended; within one term the
        docids are disjoint, so intra-term order cannot change any
        sum), so results are BIT-IDENTICAL to the per-slab path
        (pinned in pytest).  Gated off with the decoded cache (scan
        mode keeps bounded memory) and when candidate slabs cover
        <50% of the docid space (the dense global array would be
        mostly gap)."""
        if self.serving_decoded_max_bytes <= 0 or len(by_slab) < 2:
            return None
        import numpy as np

        from search_engine_spark.query.wand import fused_dense_topk

        m = self.meta
        ss, bs = int(m["slab_size"]), int(m["block_size"])
        n_grid = (ss + bs - 1) // bs

        def nb(r) -> int:
            c = r.get("_chunk")
            if c is not None:
                return int(c.n_blocks)
            return int(np.frombuffer(r["skips"][:4], dtype=np.int32)[0])

        for rs in by_slab.values():
            if 10 * sum(nb(r) for r in rs) < min(
                20 * n_grid, 9 * n_grid * len(rs)
            ):
                return None
        max_slab = max(by_slab)
        if 2 * len(by_slab) < max_slab + 1:
            return None
        parts = []
        for t, rows_t in by_term.items():
            if t not in idf:
                continue
            ent = self._decoded_cache.get(t)
            if ent is None or ent["rows"] is not rows_t:
                return None  # not primed (e.g. race with eviction)
            # the same per-chunk tf_norm_factor floats the per-slab
            # kernels use, concatenated in the rows' order at priming
            parts.append((ent["gids"], idf[t], ent["fac"]))
        ids, sc = fused_dense_topk(
            parts, (max_slab + 1) * ss, k, after=after,
        )
        return list(zip(ids.tolist(), sc.tolist()))

    def _run_slabs(self, by_slab: dict[int, list], score_one):
        """Run ``score_one(slab, rows) -> (ids, scores)`` over every
        candidate slab and concatenate the per-slab top-k.  Serial on
        purpose: the kernel is a GIL-bound Python loop over small
        numpy ops, and a per-slab thread pool measured monotonically
        slower (1.09M docs, 6-term hot query: 1 thread 1,163 ms, 8
        threads 7,081 ms)."""
        results: list[tuple[int, float]] = []
        for slab, rs in by_slab.items():
            ids, sc = score_one(slab, rs)
            results.extend(zip(ids.tolist(), sc.tolist()))
        return results

    def search_local(
        self,
        query: str,
        k: int = 10,
        exclude: str | None = None,
        after: tuple[float, int] | None = None,
        filter: "dict | None" = None,
        date_from: "str | int | None" = None,
        date_to: "str | int | None" = None,
        min_quality: float | None = None,
        min_should_match: "int | str | None" = None,
    ) -> list[tuple[int, float]]:
        """Serving-path top-k: NO Spark job — pyarrow pruned read of
        the term/bucket segment files + the same numpy block-max WAND
        kernel, per slab, merged on the driver.

        Rank-identical to ``search()`` (same chunks, same kernel,
        same tie-break; asserted in tests).  This is the analog of the
        reference's single-node ES query serving (p99 < 100 ms,
        README.md:226): the index is built distributed; one query's
        top-k is served from pruned index files without cluster
        round-trips.  At 100 TB a serving tier would run many of
        these heads against the same segment store.
        """
        return self._local_topk(
            self._plain(
                query_weights(query), min_should_match=min_should_match
            ),
            k,
            exclude_terms=tokenize_query(exclude) if exclude else None,
            after=after, filters=filter,
            ranges=_dto_ranges(date_from, date_to, min_quality),
        )

    def _local_topk(
        self,
        plan: ClausePlan,
        k: int,
        exclude_terms: list[str] | None = None,
        after: tuple[float, int] | None = None,
        filters: "dict | None" = None,
        ranges: "list[tuple[str, float | None, float | None]] | None" = None,
        pagerank: dict[int, float] | None = None,
        missing: float = 0.0,
    ) -> list[tuple[int, float]]:
        """The no-Spark executor of every clause plan (query/plan.py):
        the plan's terms come from the serving caches (or a pruned
        pyarrow read), each plan row's contribution is w * idf * tfn
        with its field's statistics, and one kernel call per candidate
        slab (query/wand.plan_topk) feeds a driver-side merge.
        Admission — ``exclude_terms`` (bool.must_not), pending
        deletes, ``filters`` and ``ranges`` — is applied in one place
        (_local_admission).  ``pagerank`` ({docid: pr}) is the
        function_score boost of the composed query.

        Plain OR plans over content terms with no admission take the
        slab-fused dense path (_fused_dense) when every candidate slab
        is dense; its results are bit-identical to the per-slab
        kernels."""
        from search_engine_spark.indexer.codec import TermChunk
        from search_engine_spark.query import wand
        from search_engine_spark.query.advanced import PAGERANK_FACTOR

        if not plan.rows:
            return []
        if self.store.kind != "parquet":
            raise NotImplementedError(
                "the no-Spark serving path reads parquet segment files "
                "directly; with a catalog store, serve via the Spark "
                "search methods"
            )
        m = self.meta
        terms = list(dict.fromkeys(r[0] for r in plan.rows))
        by_term = self._local_term_rows(terms)
        if not by_term:
            return []
        n, df_map = float(m["n_docs"]), self._local_df(terms)
        dis_max = plan.dis_max
        # per term: its plan rows as the kernels' chunk tuple after the
        # chunk itself, (w * idf, avgdl, bscale, clause, fld, req), or
        # just the first three for the sum kernel, so the per-slab loop
        # builds no tuple it then cuts
        width = 6 if dis_max or pagerank is not None else 3
        entries: dict[str, list[tuple]] = {}
        for t, w, av, bsc, clause, fld, req in plan.rows:
            if t in df_map:
                d = df_map[t]
                entries.setdefault(t, []).append((
                    w * math.log(1.0 + (n - d + 0.5) / (d + 0.5)),
                    av, bsc, clause, fld, req,
                )[:width])
        by_slab: dict[int, list] = {}
        for t, rows_t in by_term.items():
            if t in entries:
                for r in rows_t:
                    by_slab.setdefault(int(r["slab"]), []).append(r)
        excl_by_slab, inc_by_slab = self._local_admission(
            by_slab, exclude_terms, filters, ranges
        )
        if not by_slab:
            return []
        if (
            not exclude_terms and not excl_by_slab and inc_by_slab is None
            and not plan.n_required and pagerank is None
            and all(r[5] == 0 for r in plan.rows)
            and all(len(e) == 1 for e in entries.values())
        ):
            # pending deletes take the per-slab kernels (which accept
            # exclusion sets); a purging compaction restores the
            # fused fast path
            fused = self._fused_dense(
                by_term, by_slab, {t: e[0][0] for t, e in entries.items()},
                k, after=after,
            )
            if fused is not None:
                return fused
        ss, bs = int(m["slab_size"]), int(m["block_size"])
        k1, b = float(m["k1"]), float(m["b"])
        pr_by_slab: dict[int, tuple[list, list]] = {}
        if pagerank is not None:
            # one pass over the dict, not one per candidate slab — at
            # 1M pagerank entries x 40 touched slabs the per-slab scan
            # would dwarf the pruned pyarrow read this path exists for
            for d, p in pagerank.items():
                ids, prs = pr_by_slab.setdefault(d // ss, ([], []))
                ids.append(d)
                prs.append(p)

        def score_one(slab: int, rs: list):
            chunks = []
            for r in rs:
                c = r.get("_chunk") or TermChunk(
                    r["postings"], r["skips"], r["block_max"]
                )
                for e in entries[r["term"]]:
                    chunks.append((c, *e))
            boost = None
            if pagerank is not None:
                boost = wand.pagerank_boost(
                    slab * ss, ss, *pr_by_slab.get(slab, ([], [])),
                    PAGERANK_FACTOR, missing,
                )
            return wand.plan_topk(
                chunks, slab * ss, ss, bs, k, k1, b,
                n_required=plan.n_required, dis_max=dis_max, boost=boost,
                exclude=excl_by_slab.get(slab), after=after,
                include=(
                    inc_by_slab.get(slab) if inc_by_slab is not None
                    else None
                ),
            )

        results = self._run_slabs(by_slab, score_one)
        results.sort(key=lambda x: (-x[1], x[0]))
        return results[:k]

    def _local_admission(
        self,
        by_slab: dict[int, list],
        exclude_terms: list[str] | None,
        filters: "dict | None",
        ranges: "list[tuple[str, float | None, float | None]] | None",
    ):
        """Admission of the local executor, for every family: returns
        ({slab: sorted slab-local docids to drop} from bool.must_not
        and pending deletes, {slab: sorted admissible slab-local
        docids} from bool.filter and ranges, or None without either).
        Slabs that can admit no document are removed from
        ``by_slab``."""
        import numpy as np

        from search_engine_spark.indexer.codec import TermChunk
        from search_engine_spark.query.wand import _in_sorted

        ss, bs = int(self.meta["slab_size"]), int(self.meta["block_size"])

        def locals_by_slab(terms: list[str]) -> dict[int, list]:
            """{candidate slab: [slab-local docids of each chunk]}."""
            out: dict[int, list] = {}
            for rows_t in self._local_term_rows(terms).values():
                for r in rows_t:
                    slab = int(r["slab"])
                    if slab not in by_slab:
                        continue  # no scored candidates there anyway
                    c = r.get("_chunk") or TermChunk(
                        r["postings"], r["skips"], r["block_max"]
                    )
                    out.setdefault(slab, []).append(c.decode_all(bs)[0])
            return out

        excl_by_slab: dict[int, "np.ndarray"] = {}
        if exclude_terms:
            excl_by_slab = {
                s: np.unique(np.concatenate(ps))
                for s, ps in locals_by_slab(
                    list(dict.fromkeys(exclude_terms))
                ).items()
            }
        tomb = self._tombstones_arr()
        for s in by_slab if tomb is not None else ():
            lo, hi = np.searchsorted(tomb, [s * ss, (s + 1) * ss])
            if hi > lo:
                cur, arr = excl_by_slab.get(s), tomb[lo:hi] - s * ss
                excl_by_slab[s] = (
                    arr if cur is None
                    else np.unique(np.concatenate([cur, arr]))
                )
        groups = self._filter_groups(filters)
        rngs = [
            r for r in (ranges or [])
            if r[1] is not None or r[2] is not None
        ]
        if not groups and not rngs:
            return excl_by_slab, None
        per_group = [locals_by_slab(gterms) for gterms in groups]
        inc_by_slab = {}
        for slab in list(by_slab):
            inc = None
            if per_group:
                if not all(slab in g for g in per_group):
                    del by_slab[slab]  # some field value absent here
                    continue
                inc = np.unique(np.concatenate(per_group[0][slab]))
                for g in per_group[1:]:
                    s2 = np.unique(np.concatenate(g[slab]))
                    inc = inc[_in_sorted(inc, s2)]
            if rngs:
                base = slab * ss
                mask = np.ones(ss, dtype=bool)
                for field, lo, hi in rngs:
                    vals = self._dv_slab_values(field, base, ss)
                    if lo is not None:
                        mask &= vals >= lo  # NaN (hole) fails
                    if hi is not None:
                        mask &= vals <= hi
                rng_inc = np.flatnonzero(mask).astype(np.int64)
                inc = (
                    rng_inc if inc is None
                    else inc[_in_sorted(inc, rng_inc)]
                )
            if len(inc) == 0:
                del by_slab[slab]
            else:
                inc_by_slab[slab] = inc
        return excl_by_slab, inc_by_slab

    def _local_matches(
        self,
        terms: list[str],
        filters: "dict | None" = None,
        ranges: "list[tuple[str, float | None, float | None]] | None" = None,
    ):
        """Match set of the no-Spark paths that take no top-k (sorted,
        count, facets): (sorted global docids of the live documents
        matching any of ``terms`` that ``filters`` and ``ranges``
        admit, {term: (its sorted global docids, tf-norm factors)})
        from the decoded cache (_prime_decoded), or from factor_all
        with it off.  Admission is _local_admission's."""
        import numpy as np

        from search_engine_spark.indexer.codec import TermChunk

        m = self.meta
        ss, bs = int(m["slab_size"]), int(m["block_size"])
        fkey = (float(m["k1"]), float(m["b"]), float(m["avgdl"]))
        per_term = {}
        for t, rows_t in self._local_term_rows(terms).items():
            ent = self._decoded_cache.get(t)
            if ent is not None and ent["rows"] is rows_t:
                per_term[t] = (ent["gids"], ent["fac"])
                continue
            parts = []
            for r in rows_t:
                c = r.get("_chunk") or TermChunk(
                    r["postings"], r["skips"], r["block_max"]
                )
                local, fac = c.factor_all(bs, *fkey)
                parts.append((local + int(r["slab"]) * ss, fac))
            per_term[t] = _join_chunks(parts)
        if not per_term:
            return np.zeros(0, dtype=np.int64), per_term
        # the union as a bitmap over the candidate slabs: no sort
        n = max(int(g[-1]) for g, _ in per_term.values()) // ss + 1
        hit = np.zeros(n * ss, dtype=bool)
        for g, _ in per_term.values():
            hit[g] = True
        by_slab = dict.fromkeys(
            np.flatnonzero(hit.reshape(n, ss).any(axis=1)).tolist()
        )
        excl, inc = self._local_admission(by_slab, None, filters, ranges)
        for s, a in excl.items():
            hit[a + s * ss] = False
        if inc is not None:
            adm = np.zeros_like(hit)
            for s, a in inc.items():
                adm[a + s * ss] = True
            hit &= adm
        return np.flatnonzero(hit), per_term

    def search_local_cached(
        self, query: str, k: int = 10, ttl_sec: float | None = None
    ) -> list[tuple[int, float]]:
        """``search_local`` behind the S8 result cache (SURVEY §2.1).

        The reference declares SearchCachePort.get/put(key, response,
        ttl) with key ``search:{q}:{page}:{size}:{sort}``
        (SE/application/search/port/output/SearchCachePort.java:10-45)
        but ships no adapter; this is that adapter for the serving
        tier (cache.SearchCache: TTL + LRU + hit/miss counters).  The
        cache lives one engine GENERATION: ``refresh()`` after any
        append/compact drops it, so staleness is bounded by both TTL
        and index generation.
        """
        from search_engine_spark.cache import SearchCache, search_key

        if self._result_cache is None:
            self._result_cache = SearchCache()
        key = search_key(query, 0, k, "score")
        hit = self._result_cache.get(key)
        if hit is not None:
            return list(hit)  # copy: caller mutation must not reach the cache
        res = self.search_local(query, k)
        self._result_cache.put(key, tuple(res), ttl_sec)
        return res

    def _local_vocab_df(self) -> dict[str, int]:
        """Full content-namespace {term: df} for the serving head's
        fuzzy/prefix expansion — the pyarrow analog of Lucene walking
        its term dictionary (FST).  One pass over the df table per
        engine generation; the df table is vocabulary-sized (not
        corpus-sized), the same data did_you_mean already slices."""
        if self._local_vocab is None:
            import pyarrow.dataset as ds

            from search_engine_spark.config import META_PREFIX, TITLE_PREFIX

            tab = ds.dataset(f"{self.index_dir}/df").to_table(
                columns=["term", "df"]
            )
            self._local_vocab = {
                t: int(d)
                for t, d in zip(
                    tab.column("term").to_pylist(),
                    tab.column("df").to_pylist(),
                )
                if not t.startswith(TITLE_PREFIX)
                and not t.startswith(META_PREFIX)
            }
        return self._local_vocab

    def search_local_fuzzy(
        self,
        query: str,
        k: int = 10,
        max_edits: int = 1,
        max_expansions: int = 50,
    ) -> list[tuple[int, float]]:
        """Serving twin of search_fuzzy — rank/score-identical by
        construction (same cap/order/boost via query/fuzzy.py's local
        twin, boosts merged in the same (qi, term) order)."""
        from search_engine_spark.query.fuzzy import fuzzy_expand_local

        terms = tokenize_query(query)
        if not terms:
            return []
        rows = sorted(
            (qi, term, boost)
            for qi, _qt, term, boost in fuzzy_expand_local(
                self._local_vocab_df(), terms, max_edits, max_expansions
            )
        )
        weights: dict[str, float] = {}
        for _qi, term, boost in rows:
            weights[term] = weights.get(term, 0.0) + boost
        return self._local_topk(self._plain(weights), k)

    def search_local_prefix(
        self, prefix: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """Serving twin of search_prefix."""
        from search_engine_spark.query.fuzzy import prefix_expand_local

        weights = {
            t: 1.0
            for t in prefix_expand_local(
                self._local_vocab_df(), prefix, max_expansions
            )
        }
        return self._local_topk(self._plain(weights), k)

    def search_local_fields(
        self, query: str, k: int = 10, expand: bool = False
    ) -> list[tuple[int, float]]:
        """Serving-path field-weighted top-k: NO Spark job — the same
        pruned pyarrow read + numpy WAND as ``search_local``, with
        per-chunk field statistics (title chunks score with the title
        field's idf/avgdl/bounds at their boosts).  Rank-identical to
        ``search_fields`` — same kernel, same tie-break."""
        stats = self._stats_with_title("field-weighted search")
        return self._local_topk(fields_plan(query, stats, expand), k)

    def search_local_advanced(
        self,
        query: str,
        k: int = 10,
        pagerank: dict[int, float] | None = None,
        missing: float = 0.0,
    ) -> list[tuple[int, float]]:
        """Serving-path composed query: NO Spark job — the same pruned
        pyarrow read as ``search_local`` feeding ``slab_topk_adv``
        (clause max-combine + per-doc log1p(2*pagerank) boost from a
        driver-resident pagerank dict).  Rank-identical to
        ``search_advanced`` (pinned in pytest)."""
        stats = self._stats_with_title("the composed query")
        return self._local_topk(
            composed_plan(query, stats), k, pagerank=pagerank, missing=missing
        )

    def _local_df(self, terms: list[str]) -> dict[str, int]:
        """Per-term global df for the serving path (cached)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            import pyarrow.dataset as ds

            tab = ds.dataset(f"{self.index_dir}/df").to_table(
                filter=ds.field("term").isin(missing)
            )
            for t, d in zip(
                tab.column("term").to_pylist(), tab.column("df").to_pylist()
            ):
                self._df_cache[t] = int(d)
            for t in missing:
                self._df_cache.setdefault(t, 0)
        return {
            t: self._df_cache[t] for t in terms if self._df_cache.get(t, 0) > 0
        }

    def search_page(self, query: str, page: int = 0, size: int = 10) -> DataFrame:
        """W2 pagination: ES from/size semantics (page>=0, 1<=size<=100,
        Pagination.java:16-27; controller defaults page=0 size=10)."""
        page = max(0, int(page))
        size = min(max(1, int(size)), 100)
        from pyspark.sql import Window

        top = self.search(query, (page + 1) * size)
        w = Window.orderBy(F.desc("score"), F.asc("docid"))
        return (
            top.withColumn("rank", F.row_number().over(w))
            .filter(
                (F.col("rank") > page * size)
                & (F.col("rank") <= (page + 1) * size)
            )
        )

    def _decoded_postings_df(
        self, terms: list[str], slabs: "list[int] | None" = None
    ) -> DataFrame:
        """(term, docid, tf) rows decoded from the pruned segment scan
        — one mapInPandas over the bucket/term/slab-pruned files,
        global docids; ``slabs`` narrows the scan to those slab
        partitions.  The non-scoring decode of the survivors' scores
        (search_sorted) and of explain."""
        import pandas as pd

        from search_engine_spark.indexer.codec import TermChunk

        block_size = int(self.meta["block_size"])
        ss = int(self.meta["slab_size"])

        def gen(it):
            for pdf in it:
                for r in pdf.itertuples():
                    local, tf, _dl = TermChunk(
                        r.postings, r.skips, r.block_max
                    ).decode_all(block_size)
                    yield pd.DataFrame(
                        {
                            "term": r.term,
                            "docid": local + r.slab * ss,
                            "tf": tf.astype("int32"),
                        }
                    )

        seg = self._pruned_segments(terms)
        if slabs is not None:
            seg = seg.filter(F.col("slab").isin(slabs))
        seg = seg.select("slab", "term", "postings", "skips", "block_max")
        return seg.mapInPandas(gen, schema="term string, docid long, tf int")

    def _match_docids(
        self,
        terms: list[str],
        filters: "dict | None" = None,
        ranges: "list | None" = None,
    ) -> DataFrame:
        """(docid) rows of the live documents matching any of
        ``terms`` and admitted by ``filters`` and ``ranges``: per slab
        group of the pruned segment scan, the union of the chunks'
        decoded docids minus pending deletes, semi-joined to the
        documents the filters and ranges admit.  Slabs are disjoint
        docid ranges, so the rows are distinct.  The match set of the
        Spark paths that take no top-k (search_sorted, count_matches,
        facet_counts)."""
        import pandas as pd

        from search_engine_spark.indexer.codec import TermChunk

        block_size = int(self.meta["block_size"])
        ss = int(self.meta["slab_size"])
        tomb = self._tombstones_arr()

        def live_docids(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            from search_engine_spark.query.wand import _not_in_sorted

            ids = np.unique(np.concatenate([
                TermChunk(r.postings, r.skips, r.block_max).decode_all(
                    block_size
                )[0]
                for r in pdf.itertuples()
            ])) + int(pdf["slab"].iloc[0]) * ss
            if tomb is not None:
                ids = ids[_not_in_sorted(ids, tomb)]
            return pd.DataFrame({"docid": ids})

        cand = (
            self._pruned_segments(terms)
            .select("slab", "postings", "skips", "block_max")
            .groupBy("slab")
            .applyInPandas(live_docids, schema="docid long")
        )
        if not filters and not ranges:
            return cand
        # filters and ranges as plain docmap predicates: the admission
        # the top-k kernels apply through admission rows, here one
        # column-pruned docmap scan
        cond = F.lit(True)
        for field, value in (filters or {}).items():
            vals = value if isinstance(value, (list, tuple)) else [value]
            cond = cond & F.col(field).isin([str(v) for v in vals])
        for fld, lo, hi in ranges or []:
            v = self._dv_value_col(fld)
            if lo is not None:
                cond = cond & (v >= float(lo))
            if hi is not None:
                cond = cond & (v <= float(hi))
        adm = self.docmap.filter(cond).select(
            F.col("docid").cast("long").alias("docid")
        )
        return cand.join(adm, "docid", "left_semi")

    def search_sorted(
        self,
        query: str,
        k: int = 10,
        sort_by: str = "date",
        rank: DataFrame | None = None,
        filter: "dict | None" = None,
        date_from: "str | int | None" = None,
        date_to: "str | int | None" = None,
        min_quality: float | None = None,
    ) -> DataFrame:
        """SearchRequestDTO ``sortBy`` semantics (relevance | date |
        pagerank — SearchRequestDTO.java:19, SearchControllerV2.java:46;
        the reference's ES adapter plumbs the param but its Spring Data
        findAll never applies it, SURVEY §2.1 S6): documents matching
        ANY query term, top-k by the sort key desc (docid asc tie)
        instead of score; each hit still carries its BM25 score.

        Keys: ``date`` = the deterministic synthetic publish day
        (ops/ranking.pub_day_col — the corpus has no real dates);
        ``pagerank`` = the supplied ``rank`` DataFrame (docid, rank),
        e.g. ops/graph.pagerank_converged output, missing docs at 0.0;
        with ``rank=None`` the deterministic hash rank stands in.

        Plan shape (the 100 TB story): the match set (_match_docids:
        pruned segment scan -> per-slab live docids, filters and
        ranges applied BEFORE the top-k, so a filtered sort is the
        sort of the filtered set) -> TakeOrdered k by key
        (per-partition top-k + driver merge, no global sort) -> BM25
        scores computed for the k SURVIVORS ONLY (a second scan of the
        survivors' slabs filtered to k docids + broadcast idf + docmap
        doclen for k rows).  Sorting by a field never scores the full
        match set.
        """
        if sort_by in ("relevance", "score"):
            return self.search(
                query, k, filter=filter, date_from=date_from,
                date_to=date_to, min_quality=min_quality,
            )
        if sort_by not in ("date", "pagerank"):
            raise ValueError(f"unknown sortBy {sort_by!r}")
        from search_engine_spark.ops.ranking import (
            hash_rank_col,
            pub_day_col,
        )

        empty = "docid long, sort_key double, score double"
        terms = tokenize_query(query)
        if not terms:
            return self.spark.createDataFrame([], empty)
        cand = self._match_docids(
            terms, filter, _dto_ranges(date_from, date_to, min_quality)
        )
        if sort_by == "date":
            keyed = cand.withColumn(
                "sort_key", pub_day_col(F.col("docid")).cast("double")
            )
        elif rank is None:
            keyed = cand.withColumn("sort_key", hash_rank_col(F.col("docid")))
        else:
            r = rank.select(
                F.col(rank.columns[0]).cast("long").alias("docid"),
                F.col(rank.columns[1]).cast("double").alias("sort_key"),
            )
            keyed = cand.join(r, "docid", "left").fillna({"sort_key": 0.0})
        top = keyed.orderBy(F.desc("sort_key"), F.asc("docid")).limit(k)
        surv = [int(r["docid"]) for r in top.collect()]  # the k results
        if not surv:
            return self.spark.createDataFrame([], empty)
        m = self.meta
        k1, b = float(m["k1"]), float(m["b"])
        avgdl = float(m["avgdl"])
        dl = self.docmap.filter(F.col("docid").isin(surv)).select(
            "docid", "doclen"
        )
        tfd = F.col("tf").cast("double")
        ss = int(m["slab_size"])
        dec = self._decoded_postings_df(terms, sorted({d // ss for d in surv}))
        scores = (
            dec.filter(F.col("docid").isin(surv))
            .join(F.broadcast(self._idf_rows(terms)), "term")
            .join(F.broadcast(dl), "docid")
            .withColumn(
                "_c",
                F.col("idf")
                * tfd * (k1 + 1.0)
                / (tfd + k1 * (1.0 - b + b * F.col("doclen") / avgdl)),
            )
            .groupBy("docid")
            .agg(F.sum("_c").alias("score"))
        )
        return (
            top.join(scores, "docid")
            .select("docid", "sort_key", "score")
            .orderBy(F.desc("sort_key"), F.asc("docid"))
        )

    def facet_counts(
        self, query: str, field: str = "lang", size: int = 10
    ) -> DataFrame:
        """ES terms-aggregation over the match set (the `aggs` half of
        a search request — search hits page, facets summarize): docs
        matching ANY query term, counted per docmap ``field`` value,
        top ``size`` buckets by (count desc, value asc).

        Plan shape: the match set (_match_docids) -> join against the
        docmap projection of (docid, field) -> partial-aggregated
        count -> TakeOrdered.  The aggregation never touches content
        — only the two projected columns — so at 100 TB it is a
        counted semi-join, not a document scan.  Tombstoned docs are excluded
        (facets over deleted docs would leak them back).
        """
        terms = tokenize_query(query)
        empty = f"{field} string, cnt long"
        if not terms:
            return self.spark.createDataFrame([], empty)
        return (
            self._match_docids(terms)
            .join(self.docmap.select("docid", field), "docid")
            .groupBy(field)
            .agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc(field))
            .limit(size)
        )

    def facet_counts_local(
        self, query: str, field: str = "lang", size: int = 10
    ) -> list[tuple[str, int]]:
        """Serving twin of ``facet_counts`` (no Spark job): the match
        set (_local_matches) -> gather the per-generation field array
        -> value counts.  Identical buckets/counts to the Spark path
        (pure integer counting)."""
        import numpy as np

        terms = list(dict.fromkeys(tokenize_query(query)))
        ids = self._local_matches(terms)[0] if terms else []
        if not len(ids):
            return []
        vals = self._field_all(field)[ids]
        uniq, cnt = np.unique(vals, return_counts=True)
        order = np.lexsort((uniq, -cnt))[:size]
        return [(str(uniq[i]), int(cnt[i])) for i in order]

    def _dv_slab_values(self, field: str, base: int, n: int):
        """Serving-tier doc values for one slab: float64 array of
        ``field`` for global docids [base, base+n).  ``day`` is the
        deterministic publish-day function of docid (no IO);
        ``quality`` gathers from a per-generation float64 array built
        from one column-pruned pyarrow docmap read (docid + quality
        only), NaN at holes (purged / never-assigned docids) so range
        predicates exclude them."""
        import numpy as np

        if field == "day":
            from search_engine_spark.ops.ranking import pub_day_np

            return pub_day_np(base + np.arange(n)).astype(np.float64)
        if field != "quality":
            raise ValueError(f"unknown range field {field!r}")
        arr = self._dv_arrs.get("quality")
        if arr is None:
            import pyarrow.dataset as ds

            dset = ds.dataset(
                f"{self.index_dir}/docmap", partitioning="hive"
            )
            if "quality" in dset.schema.names:
                tab = dset.to_table(columns=["docid", "quality"])
                qvals = tab.column("quality").to_numpy(
                    zero_copy_only=False
                )
            else:
                # pre-quality-column docmap (legacy index): compute
                # the F13 formula here once per generation via the
                # shared python twin (same IEEE op order as the
                # materialized column)
                from search_engine_spark.ops.ranking import quality_py

                tab = dset.to_table(columns=["docid", "content"])
                qvals = np.array(
                    [
                        quality_py(c)
                        for c in tab.column("content").to_pylist()
                    ]
                )
            ids = tab.column("docid").to_numpy()
            arr = np.full(
                (int(ids.max()) + 1) if len(ids) else 0, np.nan
            )
            arr[ids] = qvals
            self._dv_arrs["quality"] = arr
        out = np.full(n, np.nan)
        end = min(base + n, len(arr))
        if end > base:
            out[: end - base] = arr[base:end]
        return out

    def _field_all(self, field: str):
        """Per-generation array docid -> docmap[field] for the serving
        tier (pyarrow read, cached per field): objects for a string
        field (facets), the column's integers for ``doclen`` (the
        norms table)."""
        cache = self._field_arrs
        if field not in cache:
            import numpy as np
            import pyarrow.dataset as ds

            tab = ds.dataset(
                f"{self.index_dir}/docmap", partitioning="hive"
            ).to_table(columns=["docid", field])
            ids = tab.column("docid").to_numpy()
            vals = tab.column(field).to_numpy()
            arr = np.zeros(int(ids.max()) + 1, dtype=vals.dtype)
            arr[ids] = vals
            cache[field] = arr
        return cache[field]

    def _page_store(self):
        """Per-generation page store: (sorted docids, table of the DTO
        projection in the same order) — repo, path, commit, lang and
        the plain snippet (query/highlight.plain_snippet_py), never
        the full content.  Built by one column-pruned docmap scan,
        batch by batch, so the content never becomes one table.
        Both its cost and its size grow linearly with the corpus: it
        holds ~300 B/doc for the whole generation (no byte budget),
        and the scan reads all docmap content, paid by the first
        ``execute_local`` after each ``refresh()``."""
        if self._pages is None:
            import numpy as np
            import pyarrow as pa
            import pyarrow.dataset as ds

            from search_engine_spark.query.highlight import plain_snippet_py

            dset = ds.dataset(
                f"{self.index_dir}/docmap", partitioning="hive"
            )
            keep = ("docid", "repo", "path", "commit", "lang")
            cols: dict[str, list] = {c: [] for c in (*keep, "snippet")}
            # the content scan runs on the system allocator, which
            # hands its pages back afterwards (release_unused)
            pool = pa.system_memory_pool()
            for b in dset.to_batches(
                columns=[*keep, "content"], memory_pool=pool
            ):
                for c in keep:
                    cols[c].append(b.column(c))
                cols["snippet"].append(pa.array(
                    [plain_snippet_py(t)
                     for t in b.column("content").to_pylist()],
                    pa.string(),
                ))
            types = {c: dset.schema.field(c).type for c in keep}
            tab = pa.table({
                c: pa.chunked_array(v, type=types.get(c, pa.string()))
                for c, v in cols.items()
            })
            ids = tab.column("docid").to_numpy()
            order = np.argsort(ids, kind="stable")
            tab = tab.take(order).combine_chunks()
            pool.release_unused()
            self._pages = (ids[order], tab)
        return self._pages

    def _page_rows(self, docids: list[int]) -> list[dict]:
        """The page store's rows for ``docids``, in that order: one
        searchsorted plus one take.  KeyError for a docid the docmap
        does not hold."""
        import numpy as np

        ids, tab = self._page_store()
        want = np.asarray(docids, dtype=np.int64)
        pos = np.searchsorted(ids, want)
        ok = pos < len(ids)
        ok[ok] = ids[pos[ok]] == want[ok]
        if not ok.all():
            raise KeyError(int(want[~ok][0]))
        return tab.take(pos).to_pylist()

    def mlt_weights(
        self, docid: int, max_terms: int = 25
    ) -> dict[str, float]:
        """more_like_this term selection (the ES MLT rule): the source
        document's terms ranked by tf·idf, top ``max_terms`` (tie:
        term asc), each becoming a plain should-clause at weight 1.0.
        Deterministic — the same selection the serving twin and the
        contract oracle compute."""
        import math as _math

        from search_engine_spark.tokenizer import py_tokenize

        rows = (
            self.docmap.filter(F.col("docid") == int(docid))
            .select("content")
            .collect()
        )
        if not rows:
            raise KeyError(f"docid {docid} not in docmap")
        toks = py_tokenize(rows[0]["content"])
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        df_map = self._local_df(list(tf)) if (
            self.store.kind == "parquet"
        ) else {
            r["term"]: int(r["df"])
            for r in self.df_table.filter(
                F.col("term").isin(list(tf))
            ).collect()
        }
        n = float(self.meta["n_docs"])
        scored = [
            (
                tf[t] * _math.log(1.0 + (n - df_map[t] + 0.5) / (df_map[t] + 0.5)),
                t,
            )
            for t in tf
            if t in df_map
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        return {t: 1.0 for _, t in scored[:max_terms]}

    def more_like_this(
        self, docid: int, k: int = 10, max_terms: int = 25
    ) -> DataFrame:
        """ES more_like_this: find documents similar to ``docid`` —
        its top tf·idf terms become a bool.should BM25 query; the
        source document itself is excluded from the results (fetch
        k+1, drop, cut — exact)."""
        w = self.mlt_weights(docid, max_terms)
        if not w:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        top = self._spark_topk({None: self._plain(w)}, k + 1)
        return (
            top.filter(F.col("docid") != int(docid))
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )

    def more_like_this_local(
        self, docid: int, k: int = 10, max_terms: int = 25
    ) -> list[tuple[int, float]]:
        """Serving twin of ``more_like_this`` (no Spark job for the
        search; the term selection reads one docmap row)."""
        import pyarrow.dataset as ds

        tab = ds.dataset(
            f"{self.index_dir}/docmap", partitioning="hive"
        ).to_table(
            filter=ds.field("docid") == int(docid), columns=["content"]
        )
        if tab.num_rows == 0:
            raise KeyError(f"docid {docid} not in docmap")
        import math as _math

        from search_engine_spark.tokenizer import py_tokenize

        toks = py_tokenize(tab.column("content").to_pylist()[0])
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        df_map = self._local_df(list(tf))
        n = float(self.meta["n_docs"])
        scored = [
            (
                tf[t] * _math.log(1.0 + (n - df_map[t] + 0.5) / (df_map[t] + 0.5)),
                t,
            )
            for t in tf
            if t in df_map
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        w = {t: 1.0 for _, t in scored[:max_terms]}
        if not w:
            return []
        res = self._local_topk(self._plain(w), k + 1)
        return [(d, s) for d, s in res if d != int(docid)][:k]

    def explain(self, query: str, docid: int) -> DataFrame:
        """ES ``explain`` API: why does ``docid`` score what it scores
        for ``query``?  One row per matching query term — (term, tf,
        df, idf, tfn, contribution) — whose contributions sum to the
        document's ``search()`` score (pinned in pytest).

        Plan shape: the pruned segment scan narrows to the terms'
        buckets AND the document's single slab (docid // slab_size)
        before any decode, so an explain costs one slab's chunks for
        the query terms — O(query df within one slab), independent of
        corpus size."""
        terms = tokenize_query(query)
        empty = (
            "term string, tf int, df long, idf double, tfn double, "
            "contribution double"
        )
        if not terms:
            return self.spark.createDataFrame([], empty)
        m = self.meta
        ss = int(m["slab_size"])
        slab = int(docid) // ss
        k1, b = float(m["k1"]), float(m["b"])
        avgdl = float(m["avgdl"])
        dec = (
            self._decoded_postings_df(terms, [slab])
            .filter(F.col("docid") == int(docid))
        )
        dl = self.docmap.filter(F.col("docid") == int(docid)).select(
            F.col("doclen").cast("double").alias("dl")
        )
        tfd = F.col("tf").cast("double")
        tfn = tfd * (k1 + 1.0) / (
            tfd + k1 * (1.0 - b + b * F.col("dl") / avgdl)
        )
        return (
            dec.join(
                F.broadcast(
                    self.df_table.filter(F.col("term").isin(terms))
                ),
                "term",
            )
            .crossJoin(F.broadcast(dl))
            .withColumn(
                "idf",
                F.log1p(
                    (F.lit(float(m["n_docs"])) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
            )
            .withColumn("tfn", tfn)
            .withColumn("contribution", F.col("idf") * F.col("tfn"))
            .select("term", "tf", "df", "idf", "tfn", "contribution")
            .orderBy(F.desc("contribution"), F.asc("term"))
        )

    def explain_local(
        self, query: str, docid: int
    ) -> list[tuple[str, int, int, float, float, float]]:
        """Serving twin of ``explain`` (no Spark job): same rows,
        same floats to 1e-12."""
        import math as _math

        from search_engine_spark.indexer.codec import TermChunk

        terms = list(dict.fromkeys(tokenize_query(query)))
        if not terms:
            return []
        m = self.meta
        ss, bs = int(m["slab_size"]), int(m["block_size"])
        slab = int(docid) // ss
        by_term = self._local_term_rows(terms)
        n = float(m["n_docs"])
        k1, b, avgdl = float(m["k1"]), float(m["b"]), float(m["avgdl"])
        df_map = self._local_df(terms)
        dl = float(self._field_all("doclen")[int(docid)])
        out = []
        for t, rows_t in by_term.items():
            if t not in df_map:
                continue
            tf = 0
            for r in rows_t:
                if int(r["slab"]) != slab:
                    continue
                c = r.get("_chunk") or TermChunk(
                    r["postings"], r["skips"], r["block_max"]
                )
                local, tfs, _dls = c.decode_all(bs)
                import numpy as np

                pos = np.searchsorted(local, int(docid) - slab * ss)
                if pos < len(local) and local[pos] == int(docid) - slab * ss:
                    tf = int(tfs[pos])
                    break
            if tf == 0:
                continue
            df = df_map[t]
            idf = _math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tfn = tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
            out.append((t, tf, df, idf, tfn, idf * tfn))
        out.sort(key=lambda x: (-x[5], x[0]))
        return out

    def stats(self) -> dict:
        """ES `_cat/indices` / `_stats` analog: one dict of
        index-level facts — live vs raw doc counts, pending
        tombstones, LSM generation depth, per-namespace vocabulary
        sizes (content / `t#` title / `m#` metadata), segment chunk
        count and posting bytes, slab count, and positional-index
        state.  Two small aggregate jobs (segments projected to three
        columns, df projected to one) — nothing decodes."""
        from search_engine_spark.config import META_PREFIX, TITLE_PREFIX

        m = self.meta
        seg = self.segments.agg(
            F.count("*").alias("chunks"),
            F.sum(F.length("postings")).alias("posting_bytes"),
            F.countDistinct("slab").alias("slabs_used"),
            F.max("gen").alias("max_gen_seen"),
        ).collect()[0]
        ns = (
            self.df_table.select(
                F.when(
                    F.col("term").startswith(TITLE_PREFIX), "title"
                )
                .when(F.col("term").startswith(META_PREFIX), "meta")
                .otherwise("content")
                .alias("ns")
            )
            .groupBy("ns")
            .count()
            .collect()
        )
        vocab = {r["ns"]: int(r["count"]) for r in ns}
        n_tomb = self._n_tomb()
        pos_state = "absent"
        if self.store.exists("pos_meta", self.spark):
            row = self.store.read(self.spark, "pos_meta").collect()[0]
            pos_state = (
                "current"
                if int(row["n_docs"]) == int(m["n_docs"])
                else "stale"
            )
        return {
            "n_docs_live": int(m["n_docs"]) - n_tomb,
            "n_docs": int(m["n_docs"]),
            "pending_deletes": n_tomb,
            "next_docid": int(m.get("next_docid", m["n_docs"])),
            "n_slabs": int(m["n_slabs"]),
            "slabs_used": int(seg["slabs_used"]),
            "max_gen": int(m.get("max_gen", 0)),
            "max_gen_seen": int(seg["max_gen_seen"] or 0),
            "segment_chunks": int(seg["chunks"]),
            "posting_bytes": int(seg["posting_bytes"] or 0),
            "vocab_content": vocab.get("content", 0),
            "vocab_title": vocab.get("title", 0),
            "vocab_meta": vocab.get("meta", 0),
            "avgdl": float(m["avgdl"]),
            "norm_avgdl": float(m["norm_avgdl"]),
            "index_fields": list(m.get("index_fields", [])),
            "positional_index": pos_state,
        }

    def search_local_sorted(
        self,
        query: str,
        k: int = 10,
        sort_by: str = "date",
        rank: "dict[int, float] | None" = None,
        filter: "dict | None" = None,
        date_from: "str | int | None" = None,
        date_to: "str | int | None" = None,
        min_quality: float | None = None,
    ) -> list[tuple[int, float, float]]:
        """Serving twin of ``search_sorted`` (no Spark job), with the
        same filters and ranges: the match set (_local_matches) ->
        vectorized key -> top-k by (key desc, docid asc) -> BM25 for
        the k survivors as the sum of idf * tf-norm factor over the
        match set's own arrays.  ``rank`` is a {docid: rank} dict,
        missing docs at 0.0.  Returns [(docid, sort_key, score)];
        rank-identical to the Spark path (same integer keys), scores
        agree to float tolerance."""
        import numpy as np

        from search_engine_spark.ops.ranking import hash_rank_np, pub_day_np

        if sort_by in ("relevance", "score"):
            return [
                (d, s, s) for d, s in self.search_local(
                    query, k, filter=filter, date_from=date_from,
                    date_to=date_to, min_quality=min_quality,
                )
            ]
        if sort_by not in ("date", "pagerank"):
            raise ValueError(f"unknown sortBy {sort_by!r}")
        terms = list(dict.fromkeys(tokenize_query(query)))
        if not terms:
            return []
        ids, per_term = self._local_matches(
            terms, filter, _dto_ranges(date_from, date_to, min_quality)
        )
        if sort_by == "date":
            key = pub_day_np(ids).astype(np.float64)
        elif rank is None:
            key = hash_rank_np(ids)
        else:
            # one sorted key/value pair of arrays per call (a sentinel
            # key past every docid ends it), gathered by searchsorted
            rk = np.fromiter(rank.keys(), np.int64, len(rank))
            rv = np.fromiter(rank.values(), np.float64, len(rank))
            o = np.argsort(rk)
            rk = np.append(rk[o], np.iinfo(np.int64).max)
            pos = np.searchsorted(rk, ids)
            key = np.where(rk[pos] == ids, np.append(rv[o], 0.0)[pos], 0.0)
        order = np.lexsort((ids, -key))[:k]
        surv, skey = ids[order], key[order]
        n, df_map = float(self.meta["n_docs"]), self._local_df(terms)
        score = np.zeros(len(surv), dtype=np.float64)
        for t in terms:
            if t not in df_map or t not in per_term:
                continue
            gids, fac = per_term[t]
            idf = math.log(1.0 + (n - df_map[t] + 0.5) / (df_map[t] + 0.5))
            pos = np.minimum(np.searchsorted(gids, surv), len(gids) - 1)
            hit = gids[pos] == surv
            score[hit] += idf * fac[pos[hit]]
        return [
            (int(d), float(kk), float(s))
            for d, kk, s in zip(surv, skey, score)
        ]

    def _count_fast(self, terms: list[str]) -> "int | None":
        """Single-term A7 count, or None with several terms, no
        inventory or pending deletes: the term's summed inventory df
        (generation chunks within a slab hold disjoint docids), cached
        by _slabs_for — no postings decode, no IO for a warm term."""
        if (
            len(set(terms)) != 1 or self._term_slab_cache is None
            or self._tombstones_arr() is not None
        ):
            return None
        self._slabs_for(terms[:1])
        return self._term_df_sum[terms[0]]

    def count_matches(self, query: str) -> int:
        """A7 totalResults: exact count of live docs matching >= 1
        term — the single-term inventory fast path, else the size of
        the match set (_match_docids)."""
        terms = tokenize_query(query)
        if not terms:
            return 0
        fast = self._count_fast(terms)
        return fast if fast is not None else self._match_docids(terms).count()

    def count_matches_local(self, query: str) -> int:
        """Serving twin of ``count_matches`` (no Spark job): the same
        single-term inventory fast path, else the size of the match
        set (_local_matches).  Exact — pinned equal to the Spark path
        in pytest."""
        terms = list(dict.fromkeys(tokenize_query(query)))
        if not terms:
            return 0
        fast = self._count_fast(terms)
        return fast if fast is not None else len(self._local_matches(terms)[0])

    # -- phrase retrieval (positional segments) ---------------------------
    def build_positions(self, use_arrow_udf: bool = True) -> dict:
        """Opt into phrase support: build the positional segments
        (Lucene-.pos analog, indexer/positions.py) for the current
        corpus.  Must be re-run after append/compact — search_phrase
        refuses a stale positional index."""
        from search_engine_spark.indexer.positions import (
            build_positional_index,
        )

        m = build_positional_index(self.spark, self.index_dir, use_arrow_udf)
        self._possegments = None
        self._pos_ok = None
        self._pos_local_ds = None
        return m

    def _phrase_ready(self) -> None:
        if self._pos_ok is None:
            if not self.store.exists("pos_meta", self.spark):
                self._pos_ok = False
            else:
                row = self.store.read(self.spark, "pos_meta").collect()[0]
                self._pos_ok = int(row["n_docs"]) == int(self.meta["n_docs"])
        if not self._pos_ok:
            raise RuntimeError(
                "positional index missing or stale for this corpus "
                "generation — run engine.build_positions() first "
                "(appends/compactions invalidate it, the same rule as "
                "Lucene merges rewriting .pos)"
            )

    def search_phrase(
        self, phrase: str, k: int = 10, slop: int = 0
    ) -> DataFrame:
        """ES match_phrase analog over the positional segments: exact
        adjacent-run occurrences scored as a single BM25 pseudo-term
        (tf = occurrence count, df = matching-doc count).  ``slop > 0``
        relaxes adjacency to an in-order proximity chain (Lucene
        SpanNearQuery inOrder=true analog — total gap <= slop; see
        positions.make_phrase_matcher); slab pruning is unchanged (a
        near match still needs every term in the doc's slab).

        Plan shape (same as the BM25 WAND path's): possegments scan
        pruned to files that can match (bucket file-skip + term row
        filter + INTERSECTION of the query terms' slab inventories —
        a phrase doc must hold every term, so only slabs common to
        all terms can match) -> groupBy(slab).applyInPandas with an
        all-numpy composite-key position intersection
        (positions.make_phrase_matcher; only COMPRESSED chunks
        shuffle, never decoded position lists) -> doclen join on the
        surviving candidates only -> BM25 -> TakeOrdered.  Position
        work is slab-local and proportional to the query terms'
        occurrence counts, never the corpus.
        """
        from search_engine_spark.indexer.positions import (
            make_phrase_matcher,
        )
        from search_engine_spark.indexer.segments import term_bucket_py
        from search_engine_spark.tokenizer import py_tokenize

        terms = py_tokenize(" ".join(phrase.strip().split())[:500])
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        self._phrase_ready()
        m = self.meta
        if self._possegments is None:
            self.store.refresh(self.spark, "possegments")
            self._possegments = self.store.read(self.spark, "possegments")
        buckets = sorted(
            {term_bucket_py(t, int(m["term_buckets"])) for t in terms}
        )
        pred = F.col("bucket").isin(buckets) & F.col("term").isin(
            list(set(terms))
        )
        # slab pruning: intersect per-term slab sets (phrase = AND)
        if self._term_slab_cache is not None:
            self._slabs_for(terms)  # prime the per-term cache
            slabs = None
            for t in terms:
                s = self._term_slab_cache[t]
                slabs = s if slabs is None else (slabs & s)
            if not slabs:
                return self.spark.createDataFrame([], TOPK_SCHEMA)
            pred = pred & F.col("slab").isin(sorted(slabs))
        matches = (
            self._possegments.filter(pred)
            .groupBy("slab")
            .applyInPandas(
                make_phrase_matcher(terms, int(m["slab_size"]), slop),
                schema="docid long, ptf long",
            )
        )
        # df is a scalar the score needs on every row; materializing
        # matches once (persist + count) instead of crossJoin-ing an
        # aggregate of the same plan halves the kernel executions —
        # the previous query's candidate set is dropped here, the
        # current one at the next call or refresh()
        if self._phrase_matches is not None:
            self._phrase_matches.unpersist()
        matches = self._drop_tombstones(matches).persist()
        self._phrase_matches = matches
        dfv = float(matches.count())
        if dfv == 0.0:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        n, k1, b = float(m["n_docs"]), float(m["k1"]), float(m["b"])
        avgdl = float(m["avgdl"])
        tfd = F.col("ptf").cast("double")
        scored = (
            matches.join(self.docmap.select("docid", "doclen"), "docid")
            .withColumn(
                "score",
                F.lit(math.log1p((n - dfv + 0.5) / (dfv + 0.5)))
                * (
                    tfd
                    * (k1 + 1.0)
                    / (
                        tfd
                        + k1 * (1.0 - b + b * F.col("doclen") / F.lit(avgdl))
                    )
                ),
            )
        )
        return (
            scored.orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
            .select("docid", "score")
        )

    def search_phrase_local(
        self, phrase: str, k: int = 10, slop: int = 0
    ) -> list[tuple[int, float]]:
        """Serving-path phrase top-k: NO Spark job — pyarrow pruned
        read of the positional chunks + the same numpy composite-key
        kernel per slab, merged on the driver.  Rank- and
        score-identical to ``search_phrase()`` (same chunks, same
        kernel, same tie-break; asserted in tests) — the phrase
        analog of ``search_local``.

        Doc lengths come from a per-generation int32 array loaded
        once from docmap (4 B/doc: ~40 MB at 10M docs, the same
        order as the serving caches' byte budgets).
        """
        import numpy as np
        import pyarrow.dataset as ds

        from search_engine_spark.indexer.positions import (
            make_phrase_matcher,
        )
        from search_engine_spark.indexer.segments import term_bucket_py
        from search_engine_spark.query.wand import _topk_select
        from search_engine_spark.tokenizer import py_tokenize

        terms = py_tokenize(" ".join(phrase.strip().split())[:500])
        if not terms:
            return []
        self._phrase_ready()
        if self.store.kind != "parquet":
            raise NotImplementedError(
                "the no-Spark serving path reads parquet segment files "
                "directly; with a catalog store, serve via "
                "search_phrase()"
            )
        m = self.meta
        slabs = None
        if self._term_slab_cache is not None:
            self._slabs_for(terms)
            for t in terms:
                s = self._term_slab_cache[t]
                slabs = s if slabs is None else (slabs & s)
            if not slabs:
                return []
        if self._pos_local_ds is None:
            self._pos_local_ds = ds.dataset(
                f"{self.index_dir}/possegments", partitioning="hive"
            )
        buckets = sorted(
            {term_bucket_py(t, int(m["term_buckets"])) for t in terms}
        )
        flt = ds.field("term").isin(list(set(terms))) & ds.field(
            "bucket"
        ).isin(buckets)
        if slabs is not None:
            flt = flt & ds.field("slab").isin(sorted(slabs))
        pdf = self._pos_local_ds.to_table(
            filter=flt, columns=["slab", "term", "posdata"]
        ).to_pandas()
        if pdf.empty:
            return []
        kernel = make_phrase_matcher(terms, int(m["slab_size"]), slop)
        parts = [
            kernel((int(slab),), g) for slab, g in pdf.groupby("slab")
        ]
        docids = np.concatenate([p["docid"].to_numpy() for p in parts])
        ptf = np.concatenate(
            [p["ptf"].to_numpy() for p in parts]
        ).astype(np.float64)
        tomb = self._tombstones_arr()
        if tomb is not None and docids.size:
            from search_engine_spark.query.wand import _not_in_sorted

            keep = _not_in_sorted(docids, tomb)
            docids, ptf = docids[keep], ptf[keep]
        if docids.size == 0:
            return []
        dl = self._field_all("doclen")[docids].astype(np.float64)
        n, k1, b = float(m["n_docs"]), float(m["k1"]), float(m["b"])
        avgdl = float(m["avgdl"])
        dfv = float(docids.size)
        idf = math.log1p((n - dfv + 0.5) / (dfv + 0.5))
        sc = idf * (
            ptf * (k1 + 1.0) / (ptf + k1 * (1.0 - b + b * dl / avgdl))
        )
        ids_k, sc_k = _topk_select(docids, sc, k)
        return [(int(d), float(s)) for d, s in zip(ids_k, sc_k)]

    def search_ranked(
        self,
        query: str,
        k: int = 10,
        pagerank: DataFrame | None = None,
        per_repo: int = 2,
        expand: bool = False,
    ) -> DataFrame:
        """ML-blended, diversified results (reference X7/X9/W5).

        candidates (4k by BM25) -> min-max-normalized bm25 + content
        quality (F13) + optional pagerank (node, pagerank in [0,1])
        -> 0.35/0.25/0.20/0.15/0.05 blend -> max `per_repo` per repo
        -> top-k.  CTR and freshness default to 0 (no click logs or
        crawl timestamps in the corpus schema).
        """
        from search_engine_spark.ops.ranking import (
            diversify,
            ml_blend_col,
            quality_col,
        )
        from search_engine_spark.tokenizer import tokens_col

        cand = self.search(query, 4 * k, expand=expand)
        # broadcast the tiny candidate set; never shuffle the docmap.
        # quality is materialized into the docmap at build/append time
        # (a static per-doc property — no query-time re-tokenization);
        # pre-quality-column docmaps fall back to computing it here.
        joined = self.docmap.join(F.broadcast(cand), "docid")
        if "quality" not in self.docmap.columns:
            joined = joined.withColumn(
                "quality", quality_col(F.col("content"),
                                       tokens_col("content"))
            )
        mx = joined.agg(F.max("score").alias("_mx"))
        joined = joined.crossJoin(F.broadcast(mx)).withColumn(
            "bm25norm",
            F.when(F.col("_mx") > 0, F.col("score") / F.col("_mx")).otherwise(
                F.lit(0.0)
            ),
        )
        if pagerank is not None:
            joined = joined.join(
                F.broadcast(pagerank.select(F.col("node").alias("docid"),
                                            "pagerank")),
                "docid",
                "left",
            ).withColumn("pagerank", F.coalesce("pagerank", F.lit(0.0)))
        else:
            joined = joined.withColumn("pagerank", F.lit(0.0))
        scored = joined.withColumn(
            "ml_score",
            ml_blend_col(
                F.col("bm25norm"), F.col("pagerank"), F.col("quality")
            ),
        )
        return diversify(
            scored.select(
                "docid", "repo", "path", "score", "quality", "ml_score"
            ),
            "repo",
            "ml_score",
            per_group=per_repo,
            k=k,
        )

    def did_you_mean(
        self, query: str, dict_terms: int = 50_000
    ) -> str | None:
        """"Did you mean?" suggestions (QueryExpansionService.java:
        85-103 + the doc-specified levenshtein fallback): the fixed
        misspelling maps apply first; any remaining term absent from
        the index is matched levenshtein<=2 against the top-df
        ``dict_terms`` dictionary slice (a SpellingIndex: length band
        plus character-count prefilter, built once per generation).
        Returns the corrected query, or None if nothing changed."""
        from search_engine_spark.config import META_PREFIX, TITLE_PREFIX

        def known(mapped: list[str]) -> set[str]:
            return {
                r["term"]
                for r in self.df_table.filter(
                    F.col("term").isin(mapped)
                ).select("term").collect()
            }

        def dictionary():
            # title- and metadata-namespace terms are filtered BEFORE
            # the limit and (df desc, term asc) ordering, so the
            # dictionary holds exactly the top-df dict_terms content
            # terms and its boundary is deterministic
            return (
                r["term"]
                for r in self.df_table.filter(
                    ~F.col("term").startswith(TITLE_PREFIX)
                    & ~F.col("term").startswith(META_PREFIX)
                )
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(dict_terms)
                .select("term")
                .collect()
            )

        return self._suggest(query, dict_terms, "_dym_dict", known, dictionary)

    def did_you_mean_local(
        self, query: str, dict_terms: int = 50_000
    ) -> str | None:
        """Serving twin of ``did_you_mean`` (no Spark job): identical
        semantics over the per-generation pyarrow vocabulary
        (_local_vocab_df — already content-namespace-filtered), with
        the dictionary slice cut by the same (df desc, term asc)
        order.  Pinned equal to the Spark path in pytest."""

        def known(mapped: list[str]) -> set[str]:
            return set(mapped) & self._local_vocab_df().keys()

        def dictionary():
            top = sorted(
                self._local_vocab_df().items(),
                key=lambda kv: (-kv[1], kv[0]),
            )
            return (t for t, _ in top[:dict_terms])

        return self._suggest(
            query, dict_terms, "_dym_local", known, dictionary
        )

    def _suggest(self, query, dict_terms, slot, known, dictionary):
        """The did_you_mean rule over one path's vocabulary: ``known``
        maps the misspelling-mapped terms to those the index holds,
        ``dictionary`` yields the dictionary slice, kept in the engine
        attribute ``slot`` as (dict_terms, SpellingIndex) for the
        generation (refresh() resets it)."""
        from search_engine_spark.query.expansion import (
            EXTRA_MISSPELLINGS,
            MISSPELLINGS,
            SpellingIndex,
            suggest_spelling,
        )

        terms = tokenize_query(query)
        if not terms:
            return None
        merged_map = {**EXTRA_MISSPELLINGS, **MISSPELLINGS}
        mapped = [merged_map.get(t, t) for t in terms]
        have = known(mapped)
        unknown = [t for t in mapped if t not in have]
        out = list(mapped)
        if unknown:
            cur = getattr(self, slot)
            if cur is None or cur[0] != dict_terms:
                cur = (dict_terms, SpellingIndex(dictionary()))
                setattr(self, slot, cur)
            sug = suggest_spelling(unknown, cur[1])
            out = [sug.get(t, t) for t in out]
        return " ".join(out) if out != terms else None

    def search_with_meta(
        self, query: str, k: int = 10, highlight: bool = False
    ) -> DataFrame:
        """Top-k decorated with path/repo metadata + snippet (F11).

        ``highlight=True`` returns the reference's intended
        presentation (docs/features/query-expansion-nlp.md:297-300):
        a query-term-centered snippet with <mark> tags on content
        matches, plus a <mark>-ed title (path basename).
        """
        topk = self.search(query, k)
        terms = tokenize_query(query)
        if highlight:
            from search_engine_spark.indexer.docmap import title_col
            from search_engine_spark.query.highlight import (
                highlight_snippet_col,
                mark_col,
            )

            snippet = highlight_snippet_col("content", terms)
            title = mark_col(title_col("path"), terms)
        else:
            from search_engine_spark.query.highlight import (
                plain_snippet_col,
            )

            snippet = plain_snippet_col("content")
            from search_engine_spark.indexer.docmap import title_col

            title = title_col("path")
        return (
            self.docmap.join(F.broadcast(topk), "docid")
            .select(
                "docid", "score", "repo", "path", "commit", "lang",
                title.alias("title"),
                snippet.alias("snippet"),
            )
            .orderBy(F.desc("score"), F.asc("docid"))
        )

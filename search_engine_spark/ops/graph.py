"""PageRank as iterative DataFrame joins (reference J5/A3/A4/A5).

Reference semantics (PageRankCalculator.java:17-18,43-58,67-103):
power iteration, d=0.85, per-node score (1-d) + d * sum over
in-neighbors of PR(T)/outdeg(T); final normalization by global sum
(:108-123).  The reference runs epsilon-converged (<=100 iters)
in-memory; the engine runs a FIXED iteration count so the DuckDB
oracle can unroll the same loop exactly.

Scale shape: edges pre-aggregated to (src, dst) distinct; the loop is
join(ranks, edges on src) -> groupBy(dst).sum -> join full node set.
On a cluster, ranks and edges co-partition on the join key across
iterations; a local checkpoint every ``TRUNCATE_EVERY`` iterations
cuts lineage growth for long runs (not reached at 5 iters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.ops.params import PAGERANK_D, PAGERANK_ITERS

# fixed-iteration pagerank truncates its lineage every this many
# iterations (the contract's PAGERANK_ITERS loop never reaches it)
TRUNCATE_EVERY = 10


def pagerank(
    edges: DataFrame,
    d: float = PAGERANK_D,
    iters: int = PAGERANK_ITERS,
    normalize: bool = True,
) -> DataFrame:
    """edges(src, dst) -> (node, score).  Deterministic, fixed iters."""
    edges = edges.select("src", "dst").distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # hoisted out of the loop: the (src, dst, outdeg) list is loop-
    # invariant, so joining outdeg per iteration just re-runs the
    # same join `iters` times (same arithmetic either way)
    edges_w = edges.join(outdeg, "src")
    ranks = nodes.withColumn("score", F.lit(1.0))
    for i in range(iters):
        contribs = (
            ranks.join(edges_w, ranks.node == edges_w.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("score") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - d) + F.lit(d) * F.coalesce("csum", F.lit(0.0))
                ).alias("score"),
            )
        )
        if (i + 1) % TRUNCATE_EVERY == 0 and i + 1 < iters:
            # each iteration nests two more joins in the plan; a long
            # fixed loop (60 iterations) made a task whose lineage
            # overflowed the executor thread's stack on deserialization,
            # which kills a local-mode JVM
            ranks = ranks.localCheckpoint(eager=True)
    if normalize:
        total = ranks.agg(F.sum("score").alias("t"))
        ranks = ranks.crossJoin(F.broadcast(total)).select(
            "node", (F.col("score") / F.col("t")).alias("score")
        )
    return ranks


def opic_round(edges: DataFrame, initial_cash: float = 1.0) -> DataFrame:
    """X13 OPIC (docs/features/url-prioritization-strategies.md
    §3): one synchronous "cash distribution" round as DataFrame ops —
    the batch analog of the reference's per-crawl Redis Lua
    increments.  Every node starts with ``initial_cash``; a node with
    out-links splits ALL its cash evenly across them (source keeps 0,
    :208-210); priority = accumulated cash.

    cash(n) = (initial if outdeg(n)=0 else 0)
              + sum over in-edges (u,n) of initial / outdeg(u)

    Conservation (sum = N * initial, the doc's invariant) is pinned in
    pytest.  Scale shape: one groupBy per round, edges co-partitioned
    on src — the same join skeleton as ``pagerank``."""
    edges = edges.select("src", "dst").distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    received = (
        edges.join(outdeg, "src")
        .select(
            F.col("dst").alias("node"),
            (F.lit(float(initial_cash)) / F.col("outdeg")).alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").alias("recv"))
    )
    has_out = outdeg.select(F.col("src").alias("node")).withColumn(
        "spent", F.lit(True)
    )
    return (
        nodes.join(received, "node", "left")
        .join(has_out, "node", "left")
        .select(
            "node",
            (
                F.when(F.col("spent").isNotNull(), F.lit(0.0)).otherwise(
                    F.lit(float(initial_cash))
                )
                + F.coalesce("recv", F.lit(0.0))
            ).alias("cash"),
        )
    )


def pagerank_converged(
    edges: DataFrame,
    d: float = PAGERANK_D,
    eps: float = 1e-4,
    max_iters: int = 100,
    checkpoint_every: int = 5,
    normalize: bool = True,
) -> tuple[DataFrame, int]:
    """A4: epsilon-converged PageRank — the reference's actual loop
    (PageRankCalculator.java:93-103: iterate until the L1 delta
    sum(|new - old|) < eps, capped at max_iters).

    Returns (ranks, iterations_run).  The fixed-iteration
    ``pagerank`` remains the contract/oracle entry (DuckDB unrolls a
    fixed loop); this mode serves production use.

    Per-iteration plan shape (the 100 TB concern): the outdeg join is
    hoisted OUT of the loop into a weighted edge list materialized
    once, co-partitioned on src; ranks arrive at the contribution
    join already hash-partitioned on node (= the join key) from the
    previous iteration's groupBy, so the ONLY shuffle per iteration
    is the contribution groupBy — the transfer along edges, which no
    PageRank can avoid.  The previous score rides through the step
    join, so the L1 delta aggregates over the SAME persisted frame
    the next iteration reads: one materializing job per iteration
    instead of re-executing lineage back to the last checkpoint
    (which made iteration cost grow with ``i % checkpoint_every``).
    Each step unpersists its predecessor once materialized;
    ``localCheckpoint`` every ``checkpoint_every`` iterations
    truncates the logical plan, which otherwise grows linearly and
    stalls the optimizer on long runs (on a cluster, use
    checkpoint() with a reliable dir instead).
    """
    edges = edges.select("src", "dst").distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_w = (
        edges.join(outdeg, "src")
        .repartition(F.col("src"))
        .localCheckpoint(eager=True)
    )
    ranks = (
        nodes.withColumn("score", F.lit(1.0))
        .repartition(F.col("node"))
        .localCheckpoint(eager=True)
    )
    iters_run = 0
    prev_step = None  # persisted frame the current `ranks` reads from
    for i in range(max_iters):
        contribs = (
            ranks.join(edges_w, ranks.node == edges_w.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("score") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        step = (
            ranks.select("node", F.col("score").alias("prev"))
            .join(contribs, "node", "left")
            .select(
                "node",
                "prev",
                (
                    F.lit(1.0 - d)
                    + F.lit(d) * F.coalesce("csum", F.lit(0.0))
                ).alias("score"),
            )
            .persist()
        )
        delta = step.agg(
            F.sum(F.abs(F.col("score") - F.col("prev"))).alias("l1")
        ).collect()[0]["l1"]
        ranks = step.select("node", "score")
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
            step.unpersist()
            step = None
        if prev_step is not None:
            prev_step.unpersist()
        prev_step = step
        iters_run = i + 1
        if delta is not None and float(delta) < eps:
            break
    if normalize:
        total = ranks.agg(F.sum("score").alias("t"))
        ranks = ranks.crossJoin(F.broadcast(total)).select(
            "node", (F.col("score") / F.col("t")).alias("score")
        )
    return ranks, iters_run


def pagerank_local(
    src,
    dst,
    d: float = PAGERANK_D,
    eps: float = 1e-4,
    max_iters: int = 100,
    normalize: bool = True,
):
    """Driver-local numpy twin of ``pagerank_converged`` — the same
    loop the reference runs in-memory (PageRankCalculator.java:43-103:
    PR = (1-d) + d*sum(PR(T)/outdeg(T)), total-L1 epsilon, cap 100),
    vectorized as a CSR-style segment sum: edges are sorted by
    destination ONCE, then each iteration is gather + divide +
    ``np.add.reduceat`` over the per-destination segments (3.4x
    faster than bincount-with-weights on this host — sequential adds
    instead of scatter; summation-order difference vs bincount is
    ~5e-13 at 10M edges, far inside the 1e-9 Spark-parity pin).

    This is the ranking analog of the serving head: the DataFrame op
    (``pagerank_converged``) is the 100 TB path — per-iteration joins
    co-partitioned on the key, checkpointed lineage — while this
    kernel answers the reference's single-node "1M pages" claim
    without per-iteration scheduler overhead.  Parity with the Spark
    op is pinned in pytest (same iterations, scores to 1e-9).

    Returns ``(node_ids, scores, iterations_run)`` with node_ids
    sorted ascending.
    """
    import numpy as np

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    # distinct edges, then dense-reindex nodes (union of endpoints)
    e = np.unique(np.stack([src, dst], axis=1), axis=0)
    src, dst = e[:, 0], e[:, 1]
    nodes = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(nodes, src)
    t = np.searchsorted(nodes, dst)
    n = int(len(nodes))
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    # CSR layout: edges sorted by destination; per-iteration work is
    # then gather + divide + one reduceat (no random scatter).
    order = np.argsort(t, kind="stable")
    s_by_t = s[order]
    od_by_t = outdeg[s_by_t]
    t_sorted = t[order]
    seg_starts = np.searchsorted(t_sorted, np.arange(n))
    has_in = np.diff(np.append(seg_starts, len(t_sorted))) > 0
    # reduceat rejects index == len (nodes past the last destination);
    # clip — those segments are zeroed via the has_in mask anyway
    seg_starts = np.minimum(seg_starts, max(0, len(t_sorted) - 1))
    score = np.ones(n, dtype=np.float64)
    iters_run = 0
    for i in range(max_iters):
        contrib = score[s_by_t] / od_by_t
        csum = np.add.reduceat(contrib, seg_starts)
        csum[~has_in] = 0.0  # reduceat yields a neighbor's sum for
        # empty segments (searchsorted gives equal adjacent offsets)
        new = (1.0 - d) + d * csum
        delta = float(np.abs(new - score).sum())
        score = new
        iters_run = i + 1
        if delta < eps:
            break
    if normalize:
        score = score / score.sum()
    return nodes, score, iters_run

"""Link-graph ranking for web-corpus curation (PageRank over hosts).

Web-scale curation pipelines (CommonCrawl-derived corpora) weight and
filter documents by the rank of their host in the crawl's link graph —
a quality prior that is orthogonal to content signals (quality
classifier, perplexity).  The reference engine has no graph operator;
this is part of the training-data-pipeline surface this engine adds.

Scale design (100 TB crawl → ~1e8 hosts, ~1e10 host-level edges):

- The edge table is partitioned ONCE on ``src`` and cached/persisted;
  every iteration's rank join then aligns with that partitioning, so
  per iteration only the o(hosts) rank table moves, never the edges.
- Per-iteration cost: one hash join on ``src`` (edge-partition
  aligned) + one shuffle on ``dst`` for the contribution sum
  (map-side combinable).  Nothing in the loop is proportional to
  document count — the graph is host-level.
- Dangling mass (hosts with no out-links) is a one-row aggregate,
  joined back via ``crossJoin(broadcast(...))`` — kept lazy, no
  per-iteration driver action beyond the ``localCheckpoint`` lineage
  cut (same discipline as the large-star/small-star components loop
  in ``operators/dedup.py``).
- Iterations are FIXED (not convergence-tested) so batch and oracle
  runs are bit-reproducible; curation uses the rank ordering, which
  stabilizes within ~10 iterations on power-law graphs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rank-table size (rows) below which the iteration joins broadcast the
# o(hosts) rank/contribution frames instead of shuffling them.  The
# exact n_nodes count (already computed on the driver) makes the
# router deterministic; 2M rows ≈ 100 MB framed — comfortably inside
# the guide's few-hundred-MB broadcast comfort zone, far under the
# 8 GB / 512M-row broadcast cap.  A 100 TB crawl (~1e8 hosts) takes
# the shuffle path unchanged.
BROADCAST_RANKS_MAX = int(os.environ.get("SPARK_GRAFT_PAGERANK_BCAST_MAX", "2000000"))


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    checkpoint_every: int = 1,
    broadcast_ranks_max: int | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list; returns
    ``(node, rank)`` with ranks summing to 1.

    ``weight=None`` treats every edge as weight 1.  Parallel edges are
    legal (their weights add).  Contributions are split proportionally
    to edge weight; the mass of dangling nodes is redistributed
    uniformly, so total rank is conserved exactly (up to fp error).

    The returned frame is eagerly materialized (localCheckpoint-backed)
    and the loop's internal persists are released before return — a
    second identical call recomputes from its inputs rather than
    silently reusing session-cached blocks (r9 cache hygiene; see
    CHANGELOG round 9).

    Join strategy is size-routed on the exact ``n_nodes`` the driver
    already computes: when the rank table holds at most
    ``broadcast_ranks_max`` rows (default :data:`BROADCAST_RANKS_MAX`),
    every per-iteration join broadcasts the o(hosts) rank/contribution
    side, so the only per-iteration shuffle is the map-side-combined
    contribution sum on ``dst``; beyond the bound the original
    shuffle-join loop runs unchanged (the 1e8-host regime, where a
    per-iteration multi-GB broadcast would not fit).  The routing
    changes only physical join strategy, never the computed ranks.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # collapse parallel edges; partition once on src so every
    # iteration's rank join aligns with this layout.  Persists are
    # released in the finally block on EVERY exit path (r9 ADVICE: the
    # success-path-only unpersists leaked all three frames into the
    # session CacheManager whenever a driver action failed mid-loop).
    held: list[DataFrame] = []
    e = (
        edges.groupBy(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .agg(F.sum(w).alias("w"))
        .repartition("src")
        .persist()
    )
    held.append(e)
    try:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        held.append(nodes)
        out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
        # ONE driver action computes both graph scalars the loop needs
        # (r10, guide §2.4/§2.6): node count AND dangling-node count
        # ride the same o(hosts) aggregate — the former separate
        # nodes.count() + left_anti limit(1) probe paid two full job
        # launches before the first iteration.  out_w's src values are
        # unique (groupBy output), so the left join preserves nodes'
        # cardinality exactly.
        stats = (
            nodes.join(
                out_w.select(
                    F.col("src").alias("node"), F.lit(True).alias("__has_out")
                ),
                "node",
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("__has_out").isNull(), 1)).alias("n_dang"),
            )
            .first()
        )
        n_nodes, n_dangling = stats.n, stats.n_dang
        if n_nodes == 0:
            return nodes.withColumn("rank", F.lit(0.0)).localCheckpoint(
                eager=True
            )  # empty graph
        # the out-weight normalization is iteration-invariant: join it
        # into the edge table ONCE instead of once per iteration (the
        # oracle mirrors the w/out_w-first association so fp results
        # stay equal)
        e_norm = (
            e.join(out_w, "src")
            .select("src", "dst", (F.col("w") / F.col("out_w")).alias("w_norm"))
            .persist()
        )
        held.append(e_norm)
        has_dangling = n_dangling > 0
        if has_dangling:
            # the dangling node SET is a property of the graph, not the
            # iteration: materialize it once (lazy — the first job that
            # touches it stores the blocks) instead of re-running the
            # out_w aggregate + anti-join every iteration
            dang_nodes = nodes.join(
                out_w.select(F.col("src").alias("node")), "node", "left_anti"
            ).localCheckpoint(eager=False)

        if broadcast_ranks_max is None:
            broadcast_ranks_max = BROADCAST_RANKS_MAX
        use_bcast = n_nodes <= broadcast_ranks_max

        def _b(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if use_bcast else df

        d = float(damping)
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        for i in range(n_iter):
            contrib = (
                e_norm.join(_b(ranks.withColumnRenamed("node", "src")), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("w_norm")).alias("contrib"))
            )
            new_ranks = nodes.join(_b(contrib), "node", "left")
            if has_dangling:
                dangling = (
                    ranks.join(_b(dang_nodes), "node", "left_semi")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
                )
                new_ranks = new_ranks.crossJoin(F.broadcast(dangling))
                mass = (
                    F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.col("dang") / n_nodes
                )
            else:
                mass = F.coalesce(F.col("contrib"), F.lit(0.0))
            ranks = new_ranks.select(
                "node",
                (F.lit((1.0 - d) / n_nodes) + F.lit(d) * mass).alias("rank"),
            )
            if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
                # cut lineage per iteration, LAZILY (r10): each step
                # references the previous ranks twice (contribution join
                # + dangling mass), so an uncut plan doubles per
                # iteration (the r8 domain_pagerank plan held ~290
                # Exchange references).  eager=False keeps the cut —
                # the plan below each LogicalRDD is compiled once and
                # its blocks are stored at first touch, so the second
                # reference reads blocks — WITHOUT the r9 shape's one
                # blocking driver job per iteration: the whole loop now
                # materializes inside the single final action (the r9
                # CC-loop trick, 982f953, applied here; jobs per
                # iteration 1 -> 0).  The arithmetic — and therefore
                # the ranks — is unchanged.
                ranks = ranks.localCheckpoint(eager=False)
        # Materialize the final ranks eagerly (the documented contract:
        # callers treat the returned frame as scheduling-independent
        # and lineage-cut) — this one action runs every iteration's
        # lazily-checkpointed step exactly once.
        return ranks.localCheckpoint(eager=True)
    finally:
        # release the loop's persisted internals on every path (r9
        # cache hygiene + r9 ADVICE): a second identical call recomputes
        # from its inputs rather than silently reusing session-cached
        # blocks, and a failed driver action no longer leaks e/nodes/
        # e_norm into the CacheManager for the session lifetime.
        for df in held:
            df.unpersist()


def pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 10,
    damping: float = 0.85,
    round_to: int | None = None,
) -> str:
    """Unrolled ANSI-SQL twin of :func:`pagerank` for the DuckDB oracle.

    ``edges_sql`` must SELECT columns ``src, dst, w``.  Fixed-iteration
    unrolling (r0 → r1 → … → rN as chained CTEs) sidesteps recursive-CTE
    outer-join restrictions and keeps the oracle a plain string the
    driver can run verbatim.
    """
    d = repr(float(damping))
    parts = [
        f"WITH edges_raw AS MATERIALIZED ({edges_sql})",
        "e AS MATERIALIZED (SELECT src, dst, SUM(w) AS w FROM edges_raw GROUP BY src, dst)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT COUNT(*) * 1.0 AS n FROM nodes)",
        "ow AS MATERIALIZED (SELECT src, SUM(w) AS out_w FROM e GROUP BY src)",
        # w/out_w first, then * rank — the association the Spark loop
        # uses (e_norm precomputed once), so fp results match exactly
        "en AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.out_w AS w_norm "
        "FROM e JOIN ow ON e.src = ow.src)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for i in range(n_iter):
        p, c = f"r{i}", f"r{i + 1}"
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT en.dst AS node, "
            f"SUM({p}.rank * en.w_norm) AS contrib "
            f"FROM en JOIN {p} ON {p}.node = en.src "
            "GROUP BY en.dst)"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dang FROM {p} "
            "WHERE node NOT IN (SELECT src FROM ow))"
        )
        parts.append(
            f"{c} AS MATERIALIZED (SELECT nodes.node, "
            f"(1.0 - {d}) / nn.n + {d} * (COALESCE(c{i}.contrib, 0.0) "
            f"+ d{i}.dang / nn.n) AS rank "
            f"FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node, nn, d{i})"
        )
    rank_expr = f"ROUND(rank, {round_to})" if round_to is not None else "rank"
    return ",\n".join(parts) + f"\nSELECT node, {rank_expr} AS rank FROM r{n_iter}"

"""Iterative graph analytics over edge DataFrames.

The reference has no graph operator (its closest move is the per-key
watermark merge); this module is engine superset alongside the
Hash-Min connected components in ``operators/dedup.py``. Where CC
answers "which rows chain together" (dedup clusters), PageRank ranks
nodes by stationary visit probability — the standard importance
measure for transition graphs (event-flow analysis, link graphs,
citation/reference graphs in corpus curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from stock_market_etl_spark.operators import _compat


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    weight_col: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted PageRank by fixed-count power iteration → one row per
    node ``(v, pagerank)``. Exact textbook semantics, so a SQL engine
    can replay it by unrolling the iterations (catalog x53's oracle):

    - ranks start uniform at ``1/N``;
    - each round every node's rank becomes ``(1-d)/N + d * (Σ in-edge
      contributions + dangling_mass/N)`` where an edge (u, v) carrying
      weight w contributes ``r(u) * w / out_weight(u)``;
    - dangling nodes (no out-edges) redistribute their whole rank
      uniformly, so total mass stays exactly 1 every round (asserted
      in tests/test_properties.py).

    A FIXED iteration count (not a convergence test) keeps the result
    a pure function of the input — hash-oracle-checkable and stable
    across engines; callers wanting convergence wrap the loop.

    Scale shape, per round: one join of the normalized edge table
    against the node-grain rank table (ranks are the SMALL side —
    broadcast when node count allows, else AQE co-partitions both on
    ``src``) and one ``groupBy(dst).sum`` with map-side partial
    aggregation — shuffles carry (node, double) pairs only, never
    edge payloads. The dangling mass is a 1-row aggregate broadcast
    into the update (no driver round-trip); the single driver-side
    scalar is the one-time node count. Each round's ranks are eagerly
    ``localCheckpoint``-ed (constant plan size, same contract as
    connected_components) and the superseded snapshot is released via
    the gated best-effort helper. ``checkpoint=False`` disables the
    truncation so a test can inspect one round's full plan — plan size
    then grows linearly with iterations, so leave it on in production.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    _release = _compat.release_local_checkpoint

    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select("src", "dst", w.alias("w"))
    outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
    norm = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("tw")).alias("p")
    )
    nodes = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    if checkpoint:
        norm = norm.localCheckpoint(eager=True)
        nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()  # bounded control-plane scalar (node count)
    if n == 0:
        return nodes.select("v", F.lit(0.0).alias("pagerank"))
    srcs = norm.select("src").distinct()
    ranks = nodes.select("v", F.lit(1.0 / n).alias("r"))
    prev = None
    for _ in range(iterations):
        contribs = (
            norm.join(ranks, norm["src"] == ranks["v"])
            .groupBy(norm["dst"].alias("v"))
            .agg(F.sum(F.col("p") * F.col("r")).alias("contrib"))
        )
        dangling = ranks.join(
            srcs, ranks["v"] == srcs["src"], "left_anti"
        ).agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm"))
        ranks = (
            nodes.join(contribs, "v", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("dm") / n
                    )
                ).alias("r"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
            if prev is not None:
                _release(prev)  # superseded snapshot: new ranks material
            prev = ranks
    if checkpoint and iterations > 0:
        # iterations=0 returns the uniform ranks frame, which still
        # reads the nodes checkpoint — releasing it would truncate the
        # lineage out from under the result. After ≥1 round, ranks is
        # its own eager checkpoint and norm/nodes are safe to drop.
        _release(norm)
        _release(nodes)
    return ranks.select("v", F.col("r").alias("pagerank"))

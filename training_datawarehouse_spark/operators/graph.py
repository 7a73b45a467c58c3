"""Iterative graph centrality — deterministic fixed-point PageRank.

The missing family next to ``dedup.connected_components``: dedup needs
*membership* (which component), corpus curation also needs *weight* —
link-graph centrality is a standard document-quality prior (page/host
rank features in public web-corpus pipelines, e.g. the URL/host-level
quality signals described for C4/RefinedWeb-class cleaning). Reference
scope: the reference engine has no graph operators at all
(`populate_from_json.py` is row-at-a-time SQL); this is charter-
extension surface.

Why FIXED-POINT INTEGER arithmetic: PageRank is a float recurrence, and
float sums over in-edges are shuffle-order-dependent — the exact class
of nondeterminism the registry's float discipline exists to contain.
Instead of rounding every iteration handoff (which still leaves
boundary ulps), ranks here are BIGINT in units of 1/SCALE: every
contribution is ``floor(d·r / (D·deg))``, integer sums are associative
under any partitioning/merge order, so the result is bit-identical on
Spark, DuckDB, or a hand loop — no rounding contract needed anywhere.
Mass floors leak a few units per node per iteration (bounded by
``iterations · (in_deg + 2)`` units of 1e-12); that defined semantics
IS the operator's contract.

Semantics per iteration (standard damping-d PageRank with uniform
dangling-mass redistribution, Brin & Page 1998):

    r'(v) = (D-d)·S // (D·N)                      -- teleport
          + d·Σ_dangling r(u) // (D·N)            -- dangling share
          + Σ_{u→v} d·r(u) // (D·deg(u))          -- link mass

with d/D = damping_pct/100, S = SCALE, N = node count, deg = out-degree
after self-loop/duplicate removal. Everything — N, the dangling sum —
stays IN-PLAN as one-row broadcast frames: no ``collect()``, the whole
K-iteration computation is a single declarative DAG.

Scale shape (100 TB / billions of edges): each iteration is one
shuffle of (dst, contribution) pairs into a sum — the minimal cost of
distributed PageRank — plus two broadcast one-row joins. Ranks are
checkpointed per iteration through ``eager_checkpoint`` (stat-less
leaves — iteration t+1 reads t twice, contrib + dangling, so
origin-stats inheritance would compound size estimates per
generation; r13 verdict #5) and each superseded generation's blocks
are released, so peak storage is O(1) generations. On a real
cluster, checkpoint to reliable storage and pre-partition ``edges``
by ``src`` so the rank join is co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.caching import eager_checkpoint, release_local_checkpoint

PR_SCALE = 10**12


def pagerank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point PageRank over ``nodes`` (one row per node) and
    ``edges`` (src, dst). Self-loops and duplicate edges are removed;
    edges pointing outside ``nodes`` are dropped. Returns one row per
    node: (node_col, pr_rank BIGINT in 1/PR_SCALE units, pr_out_deg,
    pr_in_deg). Bit-deterministic under any partitioning."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    n = nodes.select(F.col(node_col).alias("__n")).distinct()
    # eager_checkpoint, not plain localCheckpoint: one-shot, so no
    # per-generation compounding of ITS OWN estimate — but the
    # inherited origin estimate would multiply into every iteration's
    # contrib join (the edge set is read once per round). Stat-less
    # leaf keeps the family consistent (r14 verdict #1).
    e = eager_checkpoint(
        edges.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
        .filter(F.col("__s") != F.col("__d"))
        .distinct()
        .join(n.withColumnRenamed("__n", "__s"), "__s")
        .join(n.withColumnRenamed("__n", "__d"), "__d")
    )
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    cnt = n.agg(F.count(F.lit(1)).alias("__nodecnt"))

    d, dd = damping_pct, 100  # d/D damping as exact integers
    base = n.crossJoin(F.broadcast(cnt))
    # checkpoint every rank generation (initial included): iteration
    # t+1 reads ranks_t twice (contrib + dangling) — without the break
    # each use re-derives the whole upstream chain (2^K plan blowup)
    uniform = F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV __nodecnt")
    ranks = eager_checkpoint(base.select(
        "__n", "__nodecnt", uniform.alias("__r")
    ))
    for _ in range(iterations):
        ranked_edges = e.join(
            ranks.select(F.col("__n").alias("__s"), "__r"), "__s"
        ).join(deg, "__s")
        contrib = (
            ranked_edges.select(
                "__d",
                F.expr(f"{d}L * __r DIV ({dd}L * __deg)").alias("__c"),
            )
            .groupBy("__d")
            .agg(F.sum("__c").alias("__in"))
        )
        dangling = (
            ranks.join(deg, ranks["__n"] == deg["__s"], "left_anti")
            .agg(F.coalesce(F.sum("__r"), F.lit(0)).cast("long")
                 .alias("__dang"))
        )
        new_ranks = eager_checkpoint(
            base.join(contrib, base["__n"] == contrib["__d"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "__n",
                "__nodecnt",
                (
                    F.expr(f"({dd - d}L * {PR_SCALE}L) DIV ({dd}L * __nodecnt)")
                    + F.expr(f"{d}L * __dang DIV ({dd}L * __nodecnt)")
                    + F.coalesce(F.col("__in"), F.lit(0).cast("long"))
                ).alias("__r"),
            )
        )
        # generation t is fully materialized into t+1 (eager) — free
        # its blocks so peak storage is O(1) generations, not
        # O(iterations) (the CC/NN-descent release discipline).
        release_local_checkpoint(ranks)
        ranks = new_ranks
    in_deg = e.groupBy("__d").agg(F.count(F.lit(1)).alias("__ind"))
    return (
        ranks.join(deg, ranks["__n"] == deg["__s"], "left")
        .join(in_deg, ranks["__n"] == in_deg["__d"], "left")
        .select(
            F.col("__n").alias(node_col),
            F.col("__r").alias("pr_rank"),
            F.coalesce("__deg", F.lit(0).cast("long")).alias("pr_out_deg"),
            F.coalesce("__ind", F.lit(0).cast("long")).alias("pr_in_deg"),
        )
    )

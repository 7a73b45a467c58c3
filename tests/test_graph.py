"""Fixed-point PageRank (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from training_datawarehouse_spark.operators import graph as gr


def pagerank_fixed_reference(
    node_ids: list,
    edge_pairs: list[tuple],
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = gr.PR_SCALE,
) -> dict:
    """Driver-side pure-Python twin of ``pagerank_fixed`` — the same
    integer recurrence as a dict loop."""
    nodes = sorted(set(node_ids))
    nn = len(nodes)
    eset = {
        (s, t)
        for s, t in edge_pairs
        if s != t and s in set(nodes) and t in set(nodes)
    }
    deg: dict = {}
    for s, _ in eset:
        deg[s] = deg.get(s, 0) + 1
    d, dd = damping_pct, 100
    r = {v: scale // nn for v in nodes}
    for _ in range(iterations):
        dang = sum(r[v] for v in nodes if v not in deg)
        nxt = {v: (dd - d) * scale // (dd * nn) + d * dang // (dd * nn)
               for v in nodes}
        for s, t in eset:
            nxt[t] += d * r[s] // (dd * deg[s])
        r = nxt
    return r


def _run(spark, node_ids, edges, **kw):
    n = spark.createDataFrame([(v,) for v in node_ids], "node long")
    e = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long"))
    out = gr.pagerank_fixed(n, e, **kw)
    return {r["node"]: r for r in out.collect()}


def test_pagerank_matches_reference_loop(spark):
    nodes = list(range(12))
    # a hub (0), a chain, two dangling nodes, a duplicate + self-loop
    edges = [(i, 0) for i in range(1, 9)] + [
        (0, 1), (1, 2), (2, 3), (3, 1),
        (5, 5),          # self-loop: dropped
        (4, 0),          # duplicate of (4,0) below: deduped
        (4, 0),
        (7, 99),         # edge out of the node set: dropped
    ]
    got = _run(spark, nodes, edges)
    ref = pagerank_fixed_reference(nodes, edges)
    assert {v: r["pr_rank"] for v, r in got.items()} == ref
    # the hub has max rank; total mass can only leak DOWN via floors
    assert max(got, key=lambda v: got[v]["pr_rank"]) == 0
    assert sum(r["pr_rank"] for r in got.values()) <= gr.PR_SCALE


def test_pagerank_dangling_mass_redistributes(spark):
    # 2 nodes, one edge 0->1: node 1 is dangling; without dangling
    # redistribution its mass would vanish and node 0 would starve
    got = _run(spark, [0, 1], [(0, 1)], iterations=20)
    # closed form fixed point: r0 = base + 0.85*r1/2, r1 = r0*0.85 + base + 0.85*r1/2
    # r1 > r0 (it receives a full link plus the shared dangling mass)
    assert got[1]["pr_rank"] > got[0]["pr_rank"]
    assert got[0]["pr_rank"] > gr.PR_SCALE * 15 // 200  # above bare teleport
    assert got[0]["pr_out_deg"] == 1 and got[1]["pr_in_deg"] == 1
    assert got[1]["pr_out_deg"] == 0


def test_pagerank_partition_invariance(spark):
    nodes = list(range(30))
    edges = [(i, (i * 7 + 3) % 30) for i in range(30)] + [
        (i, (i * 11 + 5) % 30) for i in range(0, 30, 2)
    ]
    n = spark.createDataFrame([(v,) for v in nodes], "node long")
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["pr_rank"]
         for r in gr.pagerank_fixed(n, e).collect()}
    b = {r["node"]: r["pr_rank"]
         for r in gr.pagerank_fixed(
             n.repartition(7), e.repartition(5)).collect()}
    assert a == b  # bit-identical: integer sums are order-free


def test_pagerank_no_edges_uniform(spark):
    got = _run(spark, [1, 2, 3, 4], [], iterations=3)
    ranks = {r["pr_rank"] for r in got.values()}
    assert len(ranks) == 1  # all-dangling graph stays uniform


def test_pagerank_rejects_bad_damping(spark):
    import pytest as _pt

    n = spark.createDataFrame([(1,)], "node long")
    e = spark.createDataFrame([], "src long, dst long")
    with _pt.raises(ValueError):
        gr.pagerank_fixed(n, e, damping_pct=100)

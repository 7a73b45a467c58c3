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


def test_pagerank_warm_start_equals_continued_iteration(spark):
    """pagerank(init=pagerank(G, 3), 2) == pagerank(G, 5) bit-for-bit:
    the warm-start path is exactly the recurrence continued, so
    incremental maintenance inherits every determinism guarantee."""
    nodes = list(range(20))
    edges = [(i, (i * 3 + 1) % 20) for i in range(20)] + [
        (i, (i * 7 + 2) % 20) for i in range(0, 20, 3)
    ]
    n = spark.createDataFrame([(v,) for v in nodes], "node long")
    e = spark.createDataFrame(edges, "src long, dst long")
    cold3 = gr.pagerank_fixed(n, e, iterations=3)
    warm = {r["node"]: r["pr_rank"]
            for r in gr.pagerank_fixed(
                n, e, iterations=2, init_ranks=cold3).collect()}
    cold5 = {r["node"]: r["pr_rank"]
             for r in gr.pagerank_fixed(n, e, iterations=5).collect()}
    assert warm == cold5


def test_pagerank_warm_start_new_nodes_uniform(spark):
    """Nodes absent from init_ranks start uniform at the NEW N."""
    n2 = spark.createDataFrame([(v,) for v in range(4)], "node long")
    e0 = spark.createDataFrame([(0, 1)], "src long, dst long")
    prev = gr.pagerank_fixed(
        spark.createDataFrame([(0,), (1,)], "node long"), e0, iterations=2)
    out = {r["node"]: r
           for r in gr.pagerank_fixed(
               n2, e0, iterations=1, init_ranks=prev).collect()}
    assert set(out) == {0, 1, 2, 3}


def test_pagerank_warm_start_renormalized_removes_mass_bias(spark):
    """After node growth, the raw warm start carries the old vector's
    mass excess; renormalize_init rescales it to exactly `scale` at
    init (probe-measured: the excess IS the dominant warm-start error).
    """
    old = [(v,) for v in range(10)]
    edges = [(i, (i * 3 + 1) % 10) for i in range(10)]
    n_old = spark.createDataFrame(old, "node long")
    e = spark.createDataFrame(edges, "src long, dst long")
    prev = gr.pagerank_fixed(n_old, e, iterations=5)
    n_new = spark.createDataFrame([(v,) for v in range(12)], "node long")
    # zero iterations isolates the init vector itself
    init_raw = gr.pagerank_fixed(n_new, e, iterations=0, init_ranks=prev)
    init_ren = gr.pagerank_fixed(n_new, e, iterations=0, init_ranks=prev,
                                 renormalize_init=True)
    raw_mass = sum(r["pr_rank"] for r in init_raw.collect())
    ren_mass = sum(r["pr_rank"] for r in init_ren.collect())
    assert raw_mass > gr.PR_SCALE * 105 // 100   # old mass + 2 new uniforms
    assert gr.PR_SCALE * 999 // 1000 <= ren_mass <= gr.PR_SCALE


def test_pagerank_rejects_bad_damping(spark):
    import pytest as _pt

    n = spark.createDataFrame([(1,)], "node long")
    e = spark.createDataFrame([], "src long, dst long")
    with _pt.raises(ValueError):
        gr.pagerank_fixed(n, e, damping_pct=100)

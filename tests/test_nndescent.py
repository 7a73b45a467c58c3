"""NN-descent k-NN graph construction (`operators/nndescent.py`).

Covers the claims the registry 'nnd' stage leans on: graph shape
invariants (k out-edges per node, no self edges, deterministic
rebuild), the paper's monotone-improvement property (each local-join
round can only improve a node's neighborhood under the kept-k
ordering), convergence to the EXACT k-NN graph on a small corpus
(where enough rounds must reach it), and the member-query top-k
adapter.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from training_datawarehouse_spark.operators.nndescent import (
    nnd_graph, nnd_topk,
)


def _toy(spark, n=40, seed=3, dim=8):
    rng = np.random.RandomState(seed)
    pts = rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in np.round(p, 6)]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )


def _exact_graph(df, k):
    rows = df.collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype="float64")
         for r in rows}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))),
                     6)

    out = {}
    for s in X:
        sims = {d: cos(X[s], X[d]) for d in X if d != s}
        out[s] = set(sorted(sims, key=lambda d: (-sims[d], d))[:k])
    return out


def test_graph_shape_and_determinism(spark):
    df = _toy(spark)
    g1 = nnd_graph(df, k=5, iters=2)
    rows = g1.collect()
    assert len(rows) == 40 * 5
    assert all(r["src"] != r["dst"] for r in rows)
    per_src = {}
    for r in rows:
        per_src.setdefault(r["src"], set()).add(r["dst"])
    assert all(len(v) == 5 for v in per_src.values())
    # deterministic: a rebuild yields the identical edge set
    g2 = nnd_graph(df, k=5, iters=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, g2.collect()))


def test_monotone_improvement_and_convergence(spark):
    """Each round's kept-k neighborhoods only improve (the paper's
    monotonicity), and on a 40-point corpus the graph converges to
    NEAR-exact within a few rounds. It plateaus at a LOCAL optimum
    (measured: 0.985 here, stable from iters=4 to 6) — NN-descent is
    approximate by construction: an edge whose endpoints share no
    path of current neighbors is never proposed. The plateau, not
    1.0, is the honest published contract (Dong et al. 2011 report
    ~0.95–1.0 recall at convergence depending on data)."""
    df = _toy(spark)
    exact = _exact_graph(df, 5)

    def quality(g):
        return sum(r["cos"] for r in g.collect())

    def match(g):
        got = {}
        for r in g.collect():
            got.setdefault(r["src"], set()).add(r["dst"])
        return sum(len(got[s] & exact[s]) for s in exact) / (40 * 5)

    q_prev = m_prev = None
    for it in (0, 1, 2, 4):
        g = nnd_graph(df, k=5, iters=it)
        q, m = quality(g), match(g)
        if q_prev is not None:
            assert q >= q_prev - 1e-9, (it, q, q_prev)
            assert m >= m_prev - 1e-9, (it, m, m_prev)
        q_prev, m_prev = q, m
    assert m_prev >= 0.97  # near-exact plateau (measured 0.985)


def test_topk_member_queries(spark):
    df = _toy(spark)
    g = nnd_graph(df, k=6, iters=4)
    exact = _exact_graph(df, 3)
    q = spark.createDataFrame([(0,), (7,)], "query_id long")
    top = nnd_topk(g, q, 3).collect()
    assert {r["query_id"] for r in top} == {0, 7}
    for qid in (0, 7):
        mine = sorted((r for r in top if r["query_id"] == qid),
                      key=lambda r: r["rank"])
        assert [r["rank"] for r in mine] == [1, 2, 3]
        # ranks ordered by similarity, ties by id (the contract)
        assert all(a["cos"] >= b["cos"] for a, b in zip(mine, mine[1:]))
        # near-exact plateau: at least 2 of 3 true neighbors surface
        assert len({r["neighbor_id"] for r in mine} & exact[qid]) >= 2


def test_rejects_degenerate_corpus(spark):
    df = _toy(spark, n=5)
    with pytest.raises(ValueError, match="need more than k"):
        nnd_graph(df, k=8, iters=1)
    with pytest.raises(TypeError):
        nnd_topk(df, [0, 1], 3)


def test_checkpoints_released_on_failure(spark):
    """The iteration loop's error path releases its checkpoints — force
    a failure by passing a frame whose
    vector column breaks scoring lazily."""
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    # fail LAZILY at evaluation time (the first eager checkpoint's
    # job), not at plan construction
    bad = _toy(spark, n=20).withColumn(
        "embedding",
        F.when(F.assert_true(F.col("vec_id") < 5).isNull(),
               F.col("embedding")),
    )
    with pytest.raises(Exception):
        nnd_graph(bad, k=3, iters=1).collect()
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after <= before + 1  # at most the in-flight frame, no pile-up


def test_incremental_flag_is_result_identical(spark):
    """The paper's Algorithm-2 incremental flag (default on) must be
    RESULT-IDENTICAL to the full local join: a pair of co-neighbors of
    some center is generated exactly once — in the round its later
    entrant is still flagged new — so skipping settled (old, old)
    pairs discards only re-evaluations."""
    df = _toy(spark, n=60, seed=11)
    for iters in (1, 3):
        full = sorted(map(tuple, nnd_graph(
            df, k=5, iters=iters, incremental=False).collect()))
        inc = sorted(map(tuple, nnd_graph(
            df, k=5, iters=iters, incremental=True).collect()))
        assert full == inc, iters


def test_beam_search_non_member_queries(spark):
    """`nnd_search` — the serving path for queries OUTSIDE the corpus:
    held-out points must find (most of) their true neighbors by
    descending the graph from the fixed entry set, deterministically."""
    from training_datawarehouse_spark.operators.nndescent import nnd_search

    rng = np.random.RandomState(21)
    pts = rng.standard_normal((50, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in np.round(p, 6)])
         for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    # held-out queries: perturbations of corpus points (realistic ANN
    # load) plus one far-out random point
    qpts = [pts[3] + 0.05 * rng.standard_normal(8),
            pts[17] + 0.05 * rng.standard_normal(8),
            rng.standard_normal(8) * 2]
    queries = spark.createDataFrame(
        [(100 + i, [float(x) for x in np.round(p, 6)])
         for i, p in enumerate(qpts)],
        "query_id long, embedding array<double>",
    )
    g = nnd_graph(corpus, k=6, iters=4)
    got = nnd_search(g, corpus, queries, k=5, beam=10, hops=3)
    rows = got.collect()

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))),
                     6)

    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {100, 101, 102}
    total_hits = 0
    for i, qp in enumerate(qpts):
        sims = {j: cos(qp, pts[j]) for j in range(50)}
        exact = set(sorted(sims, key=lambda j: (-sims[j], j))[:5])
        mine = sorted(per_q[100 + i], key=lambda r: r["rank"])
        assert [r["rank"] for r in mine] == [1, 2, 3, 4, 5]
        assert all(a["cos"] >= b["cos"] for a, b in zip(mine, mine[1:]))
        total_hits += len({r["neighbor_id"] for r in mine} & exact)
    assert total_hits >= 12   # >= 0.8 mean recall@5 across the queries
    # deterministic serve: identical rerun
    again = nnd_search(g, corpus, queries, k=5, beam=10, hops=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_beam_search_clustered_needs_navigation_entries(spark):
    """The clustered-regime serving gate, with the failure mode pinned
    FIRST: a converged k-NN graph over clustered vectors is
    near-disconnected across clusters, so the global entry set leaves
    whole clusters unreachable (recall per cluster is binary). The
    production composition — per-query entries from the coarse
    quantizer's probed lists (IVF-entry + graph-refine) — must
    recover recall 1.0 on the same graph."""
    from pyspark.sql import functions as F

    from training_datawarehouse_spark.operators import similarity as sim
    from training_datawarehouse_spark.operators.nndescent import nnd_search
    from training_datawarehouse_spark.sources.tables import load_table

    base = (load_table(spark, "/root/testdata/sf0.001", "embeddings")
            .filter(F.col("vec_id") < 8).orderBy("vec_id").collect())
    centers = np.array([r["embedding"] for r in base], dtype="float64")
    centers = centers / np.linalg.norm(centers, axis=1, keepdims=True) * 6.0
    rng = np.random.RandomState(97)
    rows, pts = [], {}
    for c in range(8):
        p8 = centers[c] + 0.3 * rng.standard_normal((12, 64))
        for i, p in enumerate(p8):
            vid = c if i == 0 else 8 + c * 11 + (i - 1)
            rows.append((vid, [float(x) for x in np.round(p, 6)]))
            pts[vid] = p
    mog = spark.createDataFrame(
        sorted(rows), "vec_id long, embedding array<double>")
    qrows, qpts = [], {}
    for c in range(8):
        qp = centers[c] + 0.3 * rng.standard_normal(64)
        qrows.append((200 + c, [float(x) for x in np.round(qp, 6)]))
        qpts[200 + c] = qp
    qdf = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>")
    g = nnd_graph(mog, k=8, iters=3)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def mean_recall(result_rows):
        got = {}
        for r in result_rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recs = []
        for qid, qp in qpts.items():
            sims = {v: round(cos(qp, pts[v]), 6) for v in pts}
            exact = set(sorted(sims, key=lambda v: (-sims[v], v))[:5])
            recs.append(len(got.get(qid, set()) & exact) / 5)
        return sum(recs) / len(recs)

    # (1) the pinned failure: global entries strand most clusters
    m_global = mean_recall(
        nnd_search(g, mog, qdf, k=5, beam=10, hops=3).collect())
    assert m_global <= 0.8, m_global   # measured 0.375 — stuck by design

    # (2) navigation entries: train the coarse quantizer (the registry
    # init discipline: ids 0..7 as init vectors), probe 2 lists per
    # query, enter at each probed list's lowest-id member
    init = [r["embedding"] for r in base]
    cents, _ = sim.kmeans_fit(
        mog, "embedding", k=8, iters=4, init_vectors=init, round_dp=6)
    cassign = mog.select(
        F.col("vec_id").alias("nid"),
        sim.nearest_centroid_lists(
            sim._as_double(F.col("embedding")), cents, 1
        )[0]["list_id"].alias("list_id"),
    )
    reps = cassign.groupBy("list_id").agg(F.min("nid").alias("nid"))
    qassign = qdf.select(
        "query_id",
        F.explode(F.transform(
            sim.nearest_centroid_lists(
                sim._as_double(F.col("embedding")), cents, 2),
            lambda s: s["list_id"],
        )).alias("list_id"),
    )
    entries = qassign.join(reps, "list_id").select("query_id", "nid")
    m_nav = mean_recall(
        nnd_search(g, mog, qdf, k=5, beam=10, hops=3,
                   entry_df=entries).collect())
    assert m_nav == 1.0, m_nav


def test_search_covers_queries_with_repless_entry_cells(spark):
    """r16 (the r15 verdict's empty-rep seam): an IVF cell with no
    layer member yields no representative, so a query assigned only
    to rep-less cells used to get ZERO frontier rows and silently
    vanish from ``nnd_search``'s result. Now uncovered queries fall
    back to the global md5-least entries — bit-identical to the
    no-``entry_df`` descent for those queries — while covered queries
    are untouched. The cell is PLANTED: reps for one query's nearest
    list are deleted before entry derivation."""
    from pyspark.sql import functions as F

    from training_datawarehouse_spark.operators import similarity as sim
    from training_datawarehouse_spark.operators.nndescent import nnd_search
    from training_datawarehouse_spark.sources.tables import load_table

    base = (load_table(spark, "/root/testdata/sf0.001", "embeddings")
            .filter(F.col("vec_id") < 8).orderBy("vec_id").collect())
    centers = np.array([r["embedding"] for r in base], dtype="float64")
    centers = centers / np.linalg.norm(centers, axis=1, keepdims=True) * 6.0
    rng = np.random.RandomState(41)
    rows = []
    for c in range(8):
        p8 = centers[c] + 0.3 * rng.standard_normal((12, 64))
        for i, p in enumerate(p8):
            vid = c if i == 0 else 8 + c * 11 + (i - 1)
            rows.append((vid, [float(x) for x in np.round(p, 6)]))
    mog = spark.createDataFrame(
        sorted(rows), "vec_id long, embedding array<double>")
    qrows = []
    for c in range(8):
        qp = centers[c] + 0.3 * rng.standard_normal(64)
        qrows.append((200 + c, [float(x) for x in np.round(qp, 6)]))
    qdf = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>")
    g = nnd_graph(mog, k=8, iters=3)

    init = [r["embedding"] for r in base]
    cents, _ = sim.kmeans_fit(
        mog, "embedding", k=8, iters=4, init_vectors=init, round_dp=6)
    cassign = mog.select(
        F.col("vec_id").alias("nid"),
        sim.nearest_centroid_lists(
            sim._as_double(F.col("embedding")), cents, 1
        )[0]["list_id"].alias("list_id"),
    )
    reps = cassign.groupBy("list_id").agg(F.min("nid").alias("nid"))
    # 1-probe assignment so a single planted empty cell strands its
    # queries outright (2-probe would need two adjacent empty cells)
    qassign = qdf.select(
        "query_id",
        sim.nearest_centroid_lists(
            sim._as_double(F.col("embedding")), cents, 1
        )[0]["list_id"].alias("list_id"),
    )
    victim = qassign.filter(F.col("query_id") == 200) \
        .select("list_id").first()["list_id"]
    reps_f = reps.filter(F.col("list_id") != victim)
    entries = qassign.join(reps_f, "list_id").select("query_id", "nid")
    stranded = {r["query_id"] for r in qassign
                .join(reps_f.select("list_id"), "list_id", "left_anti")
                .select("query_id").collect()}
    assert 200 in stranded

    covered_rows = nnd_search(g, mog, qdf, k=5, beam=10, hops=3,
                              entry_df=entries).collect()
    got = {}
    for r in covered_rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos"]))
    # every query present with exactly k rows
    assert set(got) == {200 + c for c in range(8)}
    assert all(len(v) == 5 for v in got.values())
    # stranded queries' results are bit-identical to the global
    # default-entry descent (same rule, same rounding, same ties)
    fallback = nnd_search(
        g, mog,
        qdf.filter(F.col("query_id").isin(*stranded)),
        k=5, beam=10, hops=3).collect()
    want = {}
    for r in fallback:
        want.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos"]))
    for qid in stranded:
        assert sorted(got[qid]) == sorted(want[qid])
    # covered queries untouched by the fallback arm: they read the same
    # as a search over the covered queries alone, where none falls back
    alone = nnd_search(
        g, mog, qdf.filter(~F.col("query_id").isin(*stranded)),
        k=5, beam=10, hops=3, entry_df=entries).collect()
    alone_by_q = {}
    for r in alone:
        alone_by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos"]))
    assert set(alone_by_q) == set(got) - stranded
    for qid, v in alone_by_q.items():
        assert sorted(got[qid]) == sorted(v)


def test_returned_frames_are_releasable(spark):
    """r11 review regression gate: the frames nnd_graph/nnd_search
    RETURN must have the checkpoint as their plan root — a projection
    on top makes the caller's release_local_checkpoint a silent no-op
    and leaks the RDD for the session (the defect the review caught:
    similarity_ann 'released' a projection)."""
    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )
    from training_datawarehouse_spark.operators.nndescent import nnd_search

    df = _toy(spark, n=30)
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    for g in (nnd_graph(df, k=4, iters=2), nnd_graph(df, k=4, iters=0)):
        assert g.columns == ["src", "dst", "cos"]
        assert release_local_checkpoint(g) is True, "projection root"
    g = nnd_graph(df, k=4, iters=2)
    qvec = df.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    q = spark.createDataFrame(
        [(900, qvec)], "query_id long, embedding array<double>")
    res = nnd_search(g, df, q, k=3, beam=6, hops=2)
    assert release_local_checkpoint(res) is True
    assert release_local_checkpoint(g) is True
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after <= before  # everything created here was released


def test_search_rejects_k_wider_than_beam(spark):
    from training_datawarehouse_spark.operators.nndescent import nnd_search

    df = _toy(spark, n=30)
    g = nnd_graph(df, k=4, iters=1)
    qvec = df.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    q = spark.createDataFrame(
        [(900, qvec)], "query_id long, embedding array<double>")
    with pytest.raises(ValueError, match="exceeds beam"):
        nnd_search(g, df, q, k=10, beam=8)
    release = __import__(
        "training_datawarehouse_spark.functions.caching",
        fromlist=["release_local_checkpoint"]).release_local_checkpoint
    release(g)


def test_hier_search_beats_flat_on_manifold(spark):
    """The graph-diameter wall, pinned at test scale (the 200k probe's
    finding): on a 1-D ring manifold a flat beam search from global
    entries cannot walk to the target in a few hops; the 2-layer
    hierarchical descent (sampled coarse graph -> per-query entries)
    recovers the neighbors. Graphs here are the EXACT adjacency (the
    test isolates SEARCH from build quality)."""
    import math as m

    from training_datawarehouse_spark.operators.nndescent import (
        nnd_search, nnd_search_hier,
    )

    n = 400
    def vec(i):
        th = 2 * m.pi * i / n
        return [round(m.cos(th), 6), round(m.sin(th), 6)] + [0.0] * 6

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    def ring_edges(ids, step):
        rows = []
        for i in ids:
            for d in (-2, -1, 1, 2):
                j = (i + d * step) % n
                if j in set(ids):
                    c = round(m.cos(2 * m.pi * d * step / n), 6)
                    rows.append((i, j, c))
        return rows

    g0 = spark.createDataFrame(ring_edges(list(range(n)), 1),
                               "src long, dst long, cos double")
    layer_ids = list(range(0, n, 10))
    emb1 = emb.filter(F.col("vec_id") % 10 == 0)
    g1 = spark.createDataFrame(ring_edges(layer_ids, 10),
                               "src long, dst long, cos double")
    queries = spark.createDataFrame(
        [(i, vec(i)) for i in range(3, n, 40)],   # spread over the ring
        "query_id long, embedding array<double>",
    )
    exact = {
        i: {(i + d) % n for d in (-2, -1, 1, 2)} | {i}
        for i in range(3, n, 40)
    }

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(i, set()) & exact[i]) / 5
                   for i in exact) / len(exact)

    flat = recall(nnd_search(g0, emb, queries, k=5, beam=8, hops=4)
                  .collect())
    hier = recall(nnd_search_hier(
        g0, emb, g1, emb1, queries, k=5, beam=8, hops0=6, hops1=6,
        n_entry=4,
    ).collect())
    assert flat <= 0.5, flat     # the wall: 4 hops from 4 fixed entries
    assert hier >= 0.9, hier     # the hierarchy walks the manifold
    assert hier > flat

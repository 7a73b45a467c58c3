"""NN-descent k-NN graph construction — the graph ANN family.

Charter extension (no reference implementation — the reference's query
surface stops at relational operators; reference parity n/a). Public
method: Dong, Moses & Li, "Efficient K-Nearest Neighbor Graph
Construction for Generic Similarity Measures" (WWW 2011), implemented
from the paper's definitions: start from a random k-NN graph and
repeatedly apply the LOCAL JOIN — any two nodes that share a common
general neighbor (neighbor OR reverse neighbor) become candidates for
each other's k-NN lists — keeping the k best per node. Neighborhoods
improve monotonically because a neighbor's neighbor is likely a
neighbor; a handful of iterations reach near-exact graphs at
empirical cost ~O(n^1.14) (the paper's headline result).

Why a training-data engine needs it: the k-NN GRAPH itself is the
product for corpus curation — SemDeDup-style semantic dedup, diversity
sampling, graph-connected-component near-dup clusters — and the graph
family is the ANN family that wins on CLUSTERED embedding corpora
(the regime the r9/r10 eval slice measures), where quantizer cells
straddle cluster boundaries but neighbor-of-neighbor expansion stays
inside the cluster by construction.

Spark-first shape (100 TB posture):

- The graph lives as a DataFrame of (src, dst, cos) edges — n·k rows,
  never n². Each iteration is: one union for the reversed edges, one
  self-equi-join on the shared-neighbor center (the local join — the
  only quadratic-LOOKING step, and it is bounded per node by the
  general-degree (2k)², independent of n), one distance evaluation on
  the candidate edges, one per-node top-k window. Every step shuffles
  on node ids; nothing materializes beyond candidate grain.
- Iterations are eagerly checkpointed and the previous graph released
  (the train_wordpiece discipline): the plan never compounds across
  iterations, and a failed build leaks nothing.
- The published production refinements are IMPLEMENTED, not prose
  (the r10 lesson): the incremental new-neighbor flag (Algorithm 2 —
  result-identical, parity-tested, on by default so the registry
  entry ships the production shape) and the sample-rate cap (an
  approximation, priced by its recall test, off by default). Early
  termination on update count is the one knob deliberately left out:
  the oracle RETRAINS the graph and a FIXED iteration count is what
  keeps it closed-form.
- ``nnd_search`` serves NON-member queries by greedy beam descent
  over the built graph — per hop one slim equi-join against the
  n·k edge list + one candidate-vector join, amortized over the
  whole query batch.

Determinism/oracle contract (the k-means/BPE discipline): the initial
graph is a RING in md5-hash order (node i's neighbors are the k
successors of its rank in ORDER BY md5(id), id — a deterministic
pseudo-random permutation both engines compute identically; hash
order scatters embedding-space neighbors exactly as the paper's
random init wants), similarities are cosine rounded to 6 dp with ties
broken by the lower neighbor id, and the iteration count is fixed —
so a DuckDB oracle re-derives the ENTIRE graph, iteration by
iteration, and every edge hash-checks.

SESSION TUNING AT SCALE (measured, r13 probe): build at scale inside
``with session.iterative_tuning(spark):`` — it sets the three knobs
below for the build and restores them after, promoted out of this
prose per the r13 ADVICE so direct library users don't transcribe a
docstring:

- ``spark.sql.defaultSizeInBytes`` ≈ 64 MB. Checkpoint leaves
  (``LogicalRDD``) carry no stats, so Catalyst assumes
  Long.MaxValue bytes per leaf; size-estimate PRODUCTS through a
  wave plan's ~40 joins / ~50 unions become BigIntegers with
  thousands of digits, and the driver burns tens of minutes inside
  ``BigInteger.multiply`` during optimization (observed via jstack
  at the 200 k probe). Any realistic default above the 10 MB
  autoBroadcast line bounds the products without causing spurious
  broadcasts.
- ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` ≈ 64k.
  The family's shuffles carry slim (id, id, cos) rows but each
  mapped row costs a d-dim cosine; AQE's byte-based coalescing sees
  ~2 MB shuffles and squeezes scoring stages to 1-3 tasks
  (measured: same-plan hop checkpoints growing 1.5 s → 23 s across
  recursive-build waves). A small floor keeps parallelism-first
  coalescing at defaultParallelism width.
- ``spark.sql.optimizer.runtime.bloomFilter.enabled`` = false.
  InjectRuntimeFilter re-walks size statistics for every join of
  every freshly-copied plan tree, and on these checkpoint-leaf
  plans it can never fire (runtime bloom filters push into FILE
  scans; every leaf here is an in-memory RDD) — pure optimizer tax,
  the dominant term of the driver grind above.

SERVING GUIDANCE (measured, r14/r15 — SCALE.md 200 k/500 k/1 M
serve matrices): serve through ``nnd_search_hier`` with IVF-rep
entries INTO THE COARSE LAYER (layer members only — global hash
entries strand coarse descent in wrong clusters); 4+4 hops at
beam 8 is the 200 k knee (recall@5 0.648 at ~135 q/s vs 0.284 for
flat 8-hop at the same cost), 6+6 from 500 k up. The hop budget
SATURATES rather than growing without bound: 6+6 holds the
operating point from 500 k to 1 M (0.646 → 0.644) and 8+8 buys
nothing — hops track cluster diameter, not corpus size, because
the 1/64 coarse layer grows with the corpus. Build refinement does
not buy the saturated ceiling back either (measured at BOTH 200 k
and 1 M: refine-3 lifts adjacency recall@8 0.765 → 0.792 at 1 M
yet serves 0.652 vs 0.644 — within noise): at every measured
scale the serve ceiling is set by the DESCENT STRUCTURE (beam,
k-list depth, entry coverage, members-per-cluster), so spend
serving budget on hops/entries up to saturation and stop; a
consumer needing recall above ~0.65 in million-member regimes
belongs on IVF/PQ (the recall-at-any-cost path), and
``refine_iters`` pays only when the consumer reads the adjacency
itself (near-dup mining). The coarse layer's value GROWS with
corpus size (hier over flat: 2.4× at 200 k, 4.3× at 500 k, 7.5×
at 1 M).

KNOWN RESOLUTION FLOOR (measured, r12 probe): the 6-dp rounding that
buys oracle portability also SETS THE SIMILARITY RESOLUTION — on a
corpus whose true nearest-neighbor cosine gaps fall below 1e-6 (ultra-
tight clusters), candidates tie at the rounded value, descent reaches
a rounded-cos optimum early (the local join dries up — observed as
rounds 4..10 costing almost nothing), and "recall" against UNROUNDED
ground truth reads ~0 while the graph is exactly optimal under its
own declared total order (rounded cos DESC, id). Evaluate recall
under the same total order the operator promises, and for corpora
with sub-1e-6 structure raise the rounding in production (the oracle
needs 6 dp; production does not).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.caching import (eager_checkpoint,
                                 release_local_checkpoint)
from .similarity import _as_double, cosine, nearest_centroid_lists


def nnd_graph(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    incremental: bool = True,
    sample: int | None = None,
    init_edges: DataFrame | None = None,
) -> DataFrame:
    """Directed k-NN graph (src, dst, cos) after ``iters`` NN-descent
    rounds from the deterministic hash-ring init. ``cos`` is cosine
    similarity rounded to 6 dp; each src holds its k best dsts by
    (cos DESC, dst). The returned frame is eagerly materialized (its
    build windows/joins never enter a caller's plan).

    ``incremental`` (default, the paper's Algorithm 2 flag): each
    edge carries a NEW marker (set when the edge was absent from the
    previous round's graph) and the local join only emits pairs with
    at least one new member. RESULT-IDENTICAL to the full local join
    (a pair of eventual co-neighbors of some center is generated
    exactly once — in the round the later entrant is still new;
    parity-tested), but the scoring volume collapses after the first
    rounds instead of re-evaluating every settled neighborhood — the
    knob that matters at 10⁹ nodes, implemented and tested rather
    than documented.

    ``sample`` (the paper's sample-rate ρ, as an absolute per-center
    cap): before the local join, each center keeps only its ``sample``
    general-neighborhood entries with the smallest
    ``md5(center‖node)`` — a deterministic stand-in for the paper's
    random sampling, so runs are reproducible. Cuts the per-center
    join fan-out from (2k)² to sample²; an APPROXIMATION (unlike
    ``incremental``), priced by the recall test, default off.

    ``init_edges`` (r13 — the convergence fix the 200 k probe
    demanded): a caller-provided (src, dst) frame replacing the
    hash-ring init. The r12 probe measured WHY this lever exists:
    random init spends every early round on coarse navigation
    (candidates hit a node's true cluster at rate cluster/n — 1.6 %
    at the 200 k mixture — so 10 rounds left exact-set recall ≈ 0.01),
    while the insert path's IVF-seeded nodes reached sim-ratio 0.9868
    in 2 refine rounds because their lists STARTED in-cluster. Pass
    ``ivf_init_edges`` (each node's within-coarse-cell ring) and every
    descent round is fine refinement from the first local join. Edges
    are scored, self-loops dropped, and each src trimmed to its k best
    before round 1, so the loop's fan-out invariant ((2k)² per center)
    holds regardless of the init's per-node degree."""
    nodes = emb.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("v")
    )
    n = nodes.count()
    if n <= k:
        raise ValueError(f"need more than k={k} vectors, got {n}")

    def score(edges: DataFrame) -> DataFrame:
        """(src, dst) -> (src, dst, cos): join the vectors back in and
        evaluate the rounded cosine once per candidate edge."""
        return (
            edges
            .join(nodes.select(F.col("nid").alias("src"),
                               F.col("v").alias("__sv")), "src")
            .join(nodes.select(F.col("nid").alias("dst"),
                               F.col("v").alias("__dv")), "dst")
            .select(
                "src", "dst",
                F.round(cosine(F.col("__sv"), F.col("__dv")), 6)
                .alias("cos"),
            )
        )

    if init_edges is not None:
        wk0 = Window.partitionBy("src").orderBy(F.col("cos").desc(),
                                                "dst")
        g = (
            score(
                init_edges.select("src", "dst")
                .filter(F.col("src") != F.col("dst"))
                .distinct()
            )
            .withColumn("rn", F.row_number().over(wk0))
            .filter(F.col("rn") <= k)
            .drop("rn")
            .withColumn("new", F.lit(True))
            .transform(eager_checkpoint)
        )
        return _refine(nodes, g, k, iters, incremental, sample)
    # Init: ring in md5 order. The global row_number window is an
    # init-only, build-time cost over (id, hash) — at warehouse scale
    # the same permutation comes from a distributed sort +
    # per-partition index stitch; the semantics (a deterministic
    # pseudo-random k-regular graph) are what matters.
    wrk = Window.orderBy(F.md5(F.col("nid").cast("string")), "nid")
    perm = nodes.select("nid", F.row_number().over(wrk).alias("rn"))
    ring = (
        perm.select(
            "nid", "rn",
            F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)]))
            .alias("j"),
        )
        .withColumn("rn2", (F.col("rn") - 1 + F.col("j")) % n + 1)
        .join(
            perm.select(F.col("nid").alias("dst"),
                        F.col("rn").alias("rn2")),
            "rn2",
        )
        .select(F.col("nid").alias("src"), "dst")
    )
    g = score(ring).withColumn("new", F.lit(True)) \
        .transform(eager_checkpoint)
    return _refine(nodes, g, k, iters, incremental, sample)


def ivf_init_edges(
    emb: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    nprobe: int = 2,
    ring_mix: int = 2,
) -> DataFrame:
    """(src, dst) init edges for ``nnd_graph(init_edges=...)``: each
    node's ``k // nprobe`` md5-ring successors WITHIN each of its
    ``nprobe`` cosine-nearest coarse cells, plus ``ring_mix`` global
    md5-ring successors for cross-cell connectivity.

    Why this is the convergence fix (measured, r12 probe): NN-descent
    from random init is TWO-PHASE at scale — candidates reach a node's
    true cluster at rate cluster/n, so every early round is coarse
    navigation and fine descent only starts after the transition. The
    trained coarse quantizer (``kmeans_fit`` — the exact structure the
    IVF family already maintains) answers the navigation phase in ONE
    assignment pass: a node's initial neighbors are already drawn from
    its own cell, so round 1's neighbor-of-neighbor candidates are
    in-cluster at rate ~1 instead of cluster/n. ``nprobe=2`` seeds
    from the second-nearest cell too, bridging clusters that straddle
    a cell boundary; the ``ring_mix`` global edges (2·n rows — noise
    in the edge budget) keep the init graph connected so descent can
    repair arbitrary mis-assignment.

    Plan shape: one broadcast-literal centroid assignment over the
    corpus (no shuffle), one per-cell window pair (row_number + count
    share the sort), one equi-join on (cell, rank) — all cell-grain;
    cells are ~n/n_lists rows, and n_lists grows as √n in the IVF
    sizing this repo ships, so the per-cell sort stays partition-sized
    at any corpus. The global ring reuses the documented init-only
    permutation cost. Deterministic end to end: trained centroids +
    md5 order, no RNG."""
    nodes = emb.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("v")
    )
    member = nodes.select(
        "nid",
        F.explode(F.transform(
            nearest_centroid_lists(F.col("v"), cents, nprobe),
            lambda s: s["list_id"],
        )).alias("cell"),
    )
    wcell = Window.partitionBy("cell").orderBy(
        F.md5(F.col("nid").cast("string")), "nid")
    perm = member.select(
        "cell", "nid",
        F.row_number().over(wcell).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cell")).alias("cnt"),
    )
    per = max(1, k // max(1, nprobe))
    edges = (
        perm.select(
            "cell", "nid", "rn", "cnt",
            F.explode(F.array(*[F.lit(j) for j in range(1, per + 1)]))
            .alias("j"),
        )
        .select(
            "cell", "nid",
            ((F.col("rn") - 1 + F.col("j")) % F.col("cnt") + 1)
            .alias("rn2"),
        )
        .join(
            perm.select("cell", F.col("nid").alias("dst"),
                        F.col("rn").alias("rn2")),
            ["cell", "rn2"],
        )
        .select(F.col("nid").alias("src"), "dst")
    )
    if ring_mix > 0:
        n = nodes.count()
        wrk = Window.orderBy(F.md5(F.col("nid").cast("string")), "nid")
        gperm = nodes.select("nid", F.row_number().over(wrk).alias("rn"))
        gring = (
            gperm.select(
                "nid", "rn",
                F.explode(F.array(*[F.lit(j)
                                    for j in range(1, ring_mix + 1)]))
                .alias("j"),
            )
            .select("nid",
                    ((F.col("rn") - 1 + F.col("j")) % n + 1).alias("rn2"))
            .join(gperm.select(F.col("nid").alias("dst"),
                               F.col("rn").alias("rn2")), "rn2")
            .select(F.col("nid").alias("src"), "dst")
        )
        edges = edges.union(gring)
    return edges.filter(F.col("src") != F.col("dst")).distinct()


def nnd_graph_ivf(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 4,
    n_lists: int = 64,
    kmeans_iters: int = 4,
    nprobe: int = 2,
    ring_mix: int = 2,
    centroids: list[list[float]] | None = None,
    incremental: bool = True,
    sample: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """One-call IVF-seeded NN-descent build: train the coarse
    quantizer (deterministic ``kmeans_fit`` — init = first ``n_lists``
    vectors in id order, 6-dp centroid rounding, the oracle-portable
    recipe the probes use), seed every node's list from its coarse
    cells (``ivf_init_edges``), then run descent as pure refinement.

    Returns (graph, centroids) — the centroids are the SAME trained
    quantizer the serving path wants for per-query IVF entries
    (``nnd_search(entry_df=...)``), so one training pass feeds both
    build and serve. Pass ``centroids`` to reuse an existing
    quantizer and skip the fit."""
    if centroids is None:
        from .similarity import kmeans_fit
        # md5-order init = a deterministic pseudo-random sample of
        # n_lists vectors (engine-portable, no RNG). Id-order would be
        # a correlated sample — cluster-major id schemes would seed
        # every centroid inside ONE cluster and Lloyd's would never
        # recover the separation the seeding step depends on.
        init = [r[1] for r in
                emb.select(id_col, vec_col)
                .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
                .limit(n_lists).collect()]
        if len(init) < n_lists:
            raise ValueError(
                f"need at least n_lists={n_lists} vectors, "
                f"got {len(init)}")
        centroids, _ = kmeans_fit(
            emb, vec_col, k=n_lists, iters=kmeans_iters,
            init_vectors=init, round_dp=6)
    seeds = ivf_init_edges(
        emb, centroids, vec_col=vec_col, id_col=id_col,
        k=k, nprobe=nprobe, ring_mix=ring_mix)
    g = nnd_graph(
        emb, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        incremental=incremental, sample=sample, init_edges=seeds)
    return g, centroids


def _level(id_expr, core_frac: int):
    """Deterministic HNSW-style level: trailing-zero count of
    md5(id) mod core_frac (a power of two). Level log2(core_frac) —
    hash ≡ 0 — is the CORE (1/core_frac of nodes, the same set
    ``nnd_sample_layer`` selects); level j < log2(core_frac) holds
    2^(L−1−j)/core_frac of nodes, so inserting levels in descending
    order DOUBLES the graph per wave."""
    h = F.conv(
        F.substring(F.md5(id_expr.cast("string")), 1, 15), 16, 10
    ).cast("long")
    v = F.pmod(h, F.lit(core_frac))
    L = core_frac.bit_length() - 1
    lvl = F.lit(L)
    # trailing zeros of v, computed as a when-chain (v==0 -> L)
    for j in range(L - 1, -1, -1):
        lvl = F.when(F.pmod(v, F.lit(1 << (j + 1))) == (1 << j),
                     F.lit(j)).otherwise(lvl)
    return lvl


def nnd_graph_recursive(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    core_frac: int = 64,
    core_iters: int = 8,
    refine_iters: int = 2,
    beam: int = 8,
    hops_core: int = 4,
    hops: int = 3,
    n_entry: int = 4,
    n_lists: int = 64,
    kmeans_iters: int = 4,
    centroids: list[list[float]] | None = None,
    sample: int | None = -1,
) -> tuple[DataFrame, list[list[float]]]:
    """RECURSIVE NN-descent build: converge a small CORE layer's
    graph, then insert everyone else in DOUBLING WAVES (r13 — the
    build recipe the r12 probe's arithmetic demanded).

    Why not more descent rounds: descent's fine phase moves a list a
    bounded number of neighborhood steps per round, so
    rounds-to-converge grow with cluster population — at the 200 k
    probe (3 125-member clusters, k=8) neither random-ring init
    (coarse navigation eats the budget) nor IVF-seeded init (random
    IN-cell seeds still start a cluster-diameter away) converged in 10
    rounds. The one configuration that reached near-optimal lists was
    the INSERT path: nodes seeded by BEAM SEARCH hit sim-ratio 0.9868
    after 2 refine rounds, because beam seeds are already approximate
    top-k. So the build makes every node an insert.

    Why DOUBLING waves and not one bulk insert: inserting m nodes
    into a graph of g members lands m·k/g reverse seed edges on the
    average old node — one 63/64-of-corpus insert would give every
    core node a ~500-entry general neighborhood and a quadratic local
    join (the measured k=24 grind, reborn). With batch ≈ graph size,
    reverse fan-in stays ~k and every wave's local join keeps the
    (2k)²-per-center budget. log2(core_frac) waves total; the wave
    schedule is the md5 trailing-zero level (`_level`) — HNSW's
    geometric level assignment (Malkov & Yashunin 2018), derandomized.

    Wave seeding is HIERARCHICAL (the `nnd_search_hier` insight,
    applied at build time): each wave's queries first descend the
    CONVERGED core graph (IVF-entry navigation, ``hops_core`` hops on
    1/core_frac-sized frames — cheap), and those core hits become the
    per-query entries for the beam search over the CURRENT graph
    (``hops`` local hops). Entry navigation is solved once by the
    core; the per-wave walk is local.

    1/core_frac of the build (the core itself) still relies on
    IVF-seeded descent (``nnd_graph_ivf``) — at n/core_frac the
    cluster populations shrink by core_frac so ``core_iters`` rounds
    genuinely converge, and the trained quantizer is returned for the
    serving path to reuse.

    ``sample`` (default -1 = auto: 4·k) caps each refine center's
    general neighborhood, rotated per round — REQUIRED at scale for
    this builder: wave seeds tie-break toward low ids on tight
    clusters, concentrating reverse edges on a few old nodes per
    cluster whose (degree)² local joins otherwise grind the wave (the
    r12 'k=24 grind', reproduced and fixed at the r13 200 k probe).
    Pass None to uncap (test-scale parity checks).

    Returns (graph over all ids, trained centroids). Deterministic
    end to end: md5 levels, trained centroids, md5 rings, fixed round
    counts — no RNG anywhere."""
    if core_frac & (core_frac - 1) or core_frac < 2:
        raise ValueError("core_frac must be a power of two >= 2")
    if sample == -1:
        sample = 4 * k
    L = core_frac.bit_length() - 1
    lvl = _level(F.col(id_col), core_frac)
    levels = emb.select(
        F.col(id_col), F.col(vec_col), lvl.alias("__lvl")
    ).transform(eager_checkpoint)
    core = levels.filter(F.col("__lvl") == L).drop("__lvl")
    g_core, cents = nnd_graph_ivf(
        core, vec_col=vec_col, id_col=id_col, k=k,
        iters=core_iters, n_lists=n_lists,
        kmeans_iters=kmeans_iters, centroids=centroids)
    reps = (
        core.select(
            F.col(id_col).alias("nid"),
            nearest_centroid_lists(
                _as_double(F.col(vec_col)), cents, 1
            )[0]["list_id"].alias("cell"),
        )
        .groupBy("cell").agg(F.min("nid").alias("nid"))
        .transform(eager_checkpoint)
    )
    g = g_core
    try:
        for wave in range(L - 1, -1, -1):
            batch = levels.filter(F.col("__lvl") == wave).drop("__lvl")
            if batch.isEmpty():   # small corpora can skip a level
                continue
            members = levels.filter(F.col("__lvl") > wave).drop("__lvl")
            queries = batch.select(
                F.col(id_col).alias("query_id"), F.col(vec_col))
            ivf_entries = (
                queries.select(
                    "query_id",
                    F.explode(F.transform(
                        nearest_centroid_lists(
                            _as_double(F.col(vec_col)), cents, 2),
                        lambda s: s["list_id"],
                    )).alias("cell"),
                )
                .join(F.broadcast(reps), "cell")
                .select("query_id", "nid")
            )
            core_hits = nnd_search(
                g_core, core, queries, vec_col=vec_col, id_col=id_col,
                k=min(n_entry, beam), beam=beam, hops=hops_core,
                entry_df=ivf_entries,
            )
            try:
                g_next = nnd_insert(
                    g, members, batch, vec_col=vec_col, id_col=id_col,
                    k=k, iters=refine_iters, beam=beam, hops=hops,
                    entry_df=core_hits.select(
                        "query_id", F.col("neighbor_id").alias("nid")),
                    sample=sample,
                )
            finally:
                release_local_checkpoint(core_hits)
            if g is not g_core:
                release_local_checkpoint(g)
            g = g_next
    except BaseException:
        if g is not g_core:
            release_local_checkpoint(g)
        release_local_checkpoint(g_core)
        release_local_checkpoint(reps)
        release_local_checkpoint(levels)
        raise
    # r13 ADVICE: when every non-core wave batch was empty (tiny
    # corpus where all ids hash to the core level) g IS g_core —
    # releasing it here would unpersist the blocks behind the
    # returned graph.
    if g is not g_core:
        release_local_checkpoint(g_core)
    release_local_checkpoint(reps)
    release_local_checkpoint(levels)
    return g, cents


def _refine(
    nodes: DataFrame, g: DataFrame, k: int, iters: int,
    incremental: bool, sample: int | None,
    touched_only: bool = False,
) -> DataFrame:
    """The NN-descent iteration loop over a flagged (src, dst, cos,
    new) CHECKPOINTED graph. Takes ownership of ``g`` (releases it);
    returns the final bare (src, dst, cos) graph as an eager
    checkpoint. Shared by the full build (ring init) and the r12
    incremental insert (seed-merge init) — one loop, two entry
    points.

    ``touched_only`` (the insert path's cost shape, r12):
    RESULT-IDENTICAL restriction of each round's work to the batch's
    neighborhoods. Measured honestly (SCALE.md r12): the win is
    asymptotic in the BATCH FRACTION — a 10 % batch over a clustered
    corpus touches essentially every neighborhood, so the restriction
    saved little there; at production ingest fractions (≤1 %) the
    restricted frames are genuinely batch-sized, while without the
    flag every round shuffles and re-ranks the full n·k edge frame
    regardless of batch size. (a) The local join reads only centers carrying at
    least one NEW edge — sound because a candidate pair needs a new
    member (``incremental`` required), and a pair's new member puts a
    new edge at its center; centers with all-old edges emit nothing.
    (b) The top-k re-rank runs only for srcs that received scored
    candidates; every other node's list passes through an anti-join
    untouched (no sort). Both frames are batch-neighborhood-sized;
    the n·k frame is only ever SCANNED. Parity-tested edge-for-edge
    against the unrestricted loop."""
    if touched_only and not incremental:
        raise ValueError(
            "touched_only requires incremental=True (the center "
            "restriction is justified by the new-member pair filter)")

    def score(edges: DataFrame) -> DataFrame:
        return (
            edges
            .join(nodes.select(F.col("nid").alias("src"),
                               F.col("v").alias("__sv")), "src")
            .join(nodes.select(F.col("nid").alias("dst"),
                               F.col("v").alias("__dv")), "dst")
            .select(
                "src", "dst",
                F.round(cosine(F.col("__sv"), F.col("__dv")), 6)
                .alias("cos"),
            )
        )

    try:
        for it in range(iters):
            # general neighborhood: neighbors ∪ reverse neighbors.
            # Deliberately NOT deduped — the local join tolerates a
            # multiset (duplicate centers re-derive the same candidate
            # pair) and the candidate distinct below collapses them;
            # deduping here would cost a full extra shuffle per
            # iteration for nothing.
            und = g.select(
                F.col("src").alias("c"), F.col("dst").alias("nid"),
                "new",
            ).union(
                g.select(F.col("dst").alias("c"),
                         F.col("src").alias("nid"), "new")
            )
            if touched_only:
                tc = (
                    g.filter(F.col("new"))
                    .select(F.col("src").alias("c"))
                    .union(g.filter(F.col("new"))
                           .select(F.col("dst").alias("c")))
                    .distinct()
                )
                und = und.join(tc, "c", "left_semi")
            if sample is not None:
                # the round index rotates the sample (the paper's
                # fresh ρ-sample per iteration): a FIXED per-center
                # sample would stay blind to the same excluded pairs
                # every round, so capped hot centers could never try
                # them; rotation restores eventual coverage
                ws = Window.partitionBy("c").orderBy(
                    F.md5(F.concat_ws("|", F.col("c").cast("string"),
                                      F.col("nid").cast("string"),
                                      F.lit(str(it)))),
                    "nid",
                )
                und = (
                    und.withColumn("__sr", F.row_number().over(ws))
                    .filter(F.col("__sr") <= sample)
                    .drop("__sr")
                )
            # local join: nodes sharing a center become candidates;
            # under the incremental flag a settled pair (both old) was
            # already tried the round its later member arrived
            cand = und.alias("A").join(und.alias("B"), "c") \
                .filter(F.col("A.nid") < F.col("B.nid"))
            if incremental:
                cand = cand.filter(F.col("A.new") | F.col("B.new"))
            cand = cand.select(
                F.col("A.nid").alias("src"), F.col("B.nid").alias("dst")
            ).distinct()
            sc = score(cand)
            # CHECKPOINT the scored candidates (r13): `both` embeds
            # sc's subtree twice, and the touched path re-embeds
            # `both` three more times (changed / kept_changed / the
            # prev probe). Tree-expanded, one round's plan reached
            # ~44 joins, and Catalyst's size-estimate PRODUCTS over
            # the duplicated stat-less LogicalRDD leaves became
            # BigIntegers large enough that the DRIVER spent tens of
            # minutes inside BigInteger.multiply per wave at the
            # 200 k probe (caught by jstack). One eager checkpoint of
            # the candidate-grain (src, dst, cos) frame — rows the
            # round materializes anyway — turns every downstream
            # reference into a leaf; released before the next round.
            both = sc.union(
                sc.select(F.col("dst").alias("src"),
                          F.col("src").alias("dst"), "cos")
            ).transform(eager_checkpoint)
            wk = Window.partitionBy("src").orderBy(
                F.col("cos").desc(), "dst")
            if touched_only:
                # re-rank ONLY the srcs that received candidates; the
                # rest of the graph passes through an anti-join with
                # no sort (g is already each src's ranked top-k)
                changed = both.select("src").distinct()
                kept_changed = (
                    g.join(changed, "src", "left_semi")
                    .select("src", "dst", "cos").union(both).distinct()
                    .withColumn("rn", F.row_number().over(wk))
                    .filter(F.col("rn") <= k)
                    .drop("rn")
                )
                kept = (
                    g.join(changed, "src", "left_anti")
                    .select("src", "dst", "cos")
                    .union(kept_changed)
                )
            else:
                changed = kept_changed = None
                kept = (
                    g.select("src", "dst", "cos").union(both).distinct()
                    .withColumn("rn", F.row_number().over(wk))
                    .filter(F.col("rn") <= k)
                    .drop("rn")
                )
            try:
                g2 = _round_out(
                    g, kept, it, iters, touched_only,
                    changed, kept_changed)
            finally:
                release_local_checkpoint(both)
            release_local_checkpoint(g)
            g = g2
    except BaseException:
        release_local_checkpoint(g)
        raise
    if iters == 0:
        # drop the flag without leaving a projection over the
        # checkpoint (same releasability contract as above)
        out = g.select("src", "dst", "cos").transform(eager_checkpoint)
        release_local_checkpoint(g)
        return out
    return g


def _round_out(
    g: DataFrame, kept: DataFrame, it: int, iters: int,
    touched_only: bool, changed, kept_changed,
) -> DataFrame:
    """One refine round's output checkpoint — the final bare frame or
    the NEW-flagged frame for the next round (factored from `_refine`
    so the round's `both` checkpoint can be released in one place)."""
    if it == iters - 1:
        # final round: the flag has no consumer — checkpoint
        # the bare (src, dst, cos) frame so the RETURNED plan
        # root is the checkpoint itself (a projection on top
        # would make the caller's release_local_checkpoint a
        # silent no-op and leak the n·k RDD for the session)
        return kept.transform(eager_checkpoint)
    if touched_only:
        # untouched rows are old by construction; only the
        # re-ranked srcs need the prev probe (batch-sized)
        prev = (
            g.join(changed, "src", "left_semi")
            .select("src", "dst").withColumn("__old", F.lit(True))
        )
        return (
            g.join(changed, "src", "left_anti")
            .select("src", "dst", "cos")
            .withColumn("new", F.lit(False))
            .unionByName(
                kept_changed.join(prev, ["src", "dst"], "left")
                .withColumn("new", F.col("__old").isNull())
                .drop("__old")
            )
            .transform(eager_checkpoint)
        )
    # re-derive the NEW flag: an edge is new iff it was
    # not in the previous round's graph (an n·k-grain probe)
    prev = g.select("src", "dst").withColumn("__old", F.lit(True))
    return (
        kept.join(prev, ["src", "dst"], "left")
        .withColumn("new", F.col("__old").isNull())
        .drop("__old")
        .transform(eager_checkpoint)
    )


def nnd_insert(
    graph: DataFrame,
    emb: DataFrame,
    new_emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    beam: int = 8,
    hops: int = 3,
    n_entry: int = 4,
    entry_df: DataFrame | None = None,
    incremental: bool = True,
    refine_touched_only: bool = True,
    sample: int | None = None,
) -> DataFrame:
    """INCREMENTAL NN-descent maintenance (r12 — the r11 verdict's #2):
    insert a batch of new vectors into an existing k-NN graph without
    rebuilding it, so a growing corpus stops paying the full-build cost
    per ingest (the incremental-pHash-index precedent, r9, applied to
    the graph family).

    Three steps, all bounded by the BATCH and its touched
    neighborhoods, never by the corpus:

    1. SEED — each new vector descends the existing graph
       (``nnd_search``: beam search from global hash entries, or from
       ``entry_df`` per-query entries — pass the IVF-probed lists'
       members on clustered corpora, exactly the navigation layer the
       serving path uses) to its approximate top-k old neighbors;
       those become the new node's initial adjacency.
    2. SPLICE — reversed seed edges become candidates for the TOUCHED
       old nodes only: untouched rows of the old graph pass through
       via an anti-join without being re-sorted (at 10⁹ nodes this is
       the difference between a batch-sized job and an n·k re-rank).
    3. REFINE — the standard incremental local join (`_refine`, the
       Algorithm-2 flag machinery the full build uses) with ONLY the
       spliced edges marked new: settled old-old neighborhoods emit no
       candidates, so scoring volume tracks the batch's neighborhoods.
       The edge-list shuffle per round remains n·k-grain (the honest
       fixed cost, measured in SCALE.md); the quadratic part doesn't.

    Accuracy contract: insert-then-refine is NOT bit-identical to a
    full rebuild (different trajectory); parity is RECALL parity,
    gate-tested against the exact brute-force lists
    (`test_nndescent.py::test_insert_recall_parity_vs_rebuild`) and
    measured at the 200 k probe (`tools/scale100x.py --nnd-insert`),
    where the seeded-and-refined new-node lists came out NEAR-OPTIMAL
    (similarity ratio 0.987 vs the exact top-8) while a same-budget
    full rebuild's were not (0.806) — at scale the insert path is the
    quality winner, and its cost scales with the batch (seeding
    dominates), so amortization holds for ingest-sized fractions
    (SCALE.md r12 for the full table).

    ``sample`` passes through to the refine loop's per-center
    general-neighborhood cap (rotated per round). It matters when the
    BATCH is large relative to the graph: beam seeds tie-break toward
    low ids on tight clusters, so thousands of co-inserted near-dup
    queries can concentrate their reverse seed edges onto a few old
    nodes, whose (degree)² local joins then dominate the round (the
    r12 'k=24 grind', reproduced at the r13 200 k recursive-build
    probe). The cap bounds every center at sample² candidate pairs —
    the LSH hot-bucket treatment, applied to descent centers.

    Returns the merged (src, dst, cos) graph over old ∪ new ids as an
    eager checkpoint (caller releases)."""
    nodes = (
        emb.select(F.col(id_col).alias("nid"),
                   _as_double(F.col(vec_col)).alias("v"))
        .unionByName(
            new_emb.select(F.col(id_col).alias("nid"),
                           _as_double(F.col(vec_col)).alias("v")))
    )
    seeds = nnd_search(
        graph, emb,
        new_emb.select(F.col(id_col).alias("query_id"), vec_col),
        vec_col=vec_col, id_col=id_col,
        k=k, beam=max(beam, k), hops=hops, n_entry=n_entry,
        entry_df=entry_df,
    )
    try:
        new_edges = seeds.select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"), "cos",
        )
        rev = new_edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cos"
        )
        touched = rev.select("src").distinct()
        untouched = graph.join(touched, "src", "left_anti") \
            .withColumn("new", F.lit(False))
        wk = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
        # distinct BEFORE the flag: a seed edge can duplicate an
        # existing graph edge (identical 6-dp cos), and two flagged
        # copies of one edge would both survive the rank window
        spliced_edges = (
            graph.join(touched, "src", "left_semi")
            .select("src", "dst", "cos")
            .union(rev)
            .distinct()
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
        prev = graph.select("src", "dst").withColumn("__old", F.lit(True))
        spliced = (
            spliced_edges.join(prev, ["src", "dst"], "left")
            .withColumn("new", F.col("__old").isNull())
            .drop("__old")
        )
        g0 = (
            untouched
            .unionByName(spliced)
            .unionByName(new_edges.withColumn("new", F.lit(True)))
            .transform(eager_checkpoint)
        )
    except BaseException:
        release_local_checkpoint(seeds)
        raise
    release_local_checkpoint(seeds)
    return _refine(
        nodes, g0, k, iters, incremental, sample=sample,
        touched_only=refine_touched_only and incremental,
    )


def nnd_topk(graph: DataFrame, queries, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) for MEMBER queries: the
    graph method answers a member query from its adjacency list alone
    — no scoring pass, no scan (the use case a k-NN graph exists for:
    every corpus point's neighbors are precomputed). ``queries`` must
    be a DataFrame with a ``query_id`` column."""
    if not isinstance(queries, DataFrame):
        raise TypeError("queries must be a DataFrame with query_id")
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    return (
        graph.join(
            F.broadcast(queries.select(F.col("query_id").alias("src"))),
            "src",
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias("query_id"), "rank",
            F.col("dst").alias("neighbor_id"), "cos",
        )
    )


def nnd_search(
    graph: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    beam: int = 8,
    hops: int = 3,
    n_entry: int = 4,
    entry_df: DataFrame | None = None,
    cover_missing: bool = True,
) -> DataFrame:
    """Greedy beam search over the k-NN graph for NON-member queries
    (the graph family's serving path — member queries read their
    adjacency list via ``nnd_topk``; everything else descends the
    graph): start every query at its entry nodes, then per hop expand
    the beam by its graph neighbors, score the rounded cosine against
    the query vector, and keep the best ``beam`` per query; after
    ``hops`` rounds return the top ``k``.

    Returns (query_id, rank, neighbor_id, cos).

    ENTRY POINTS decide whether descent can reach the answer at all.
    A CONVERGED k-NN graph over a clustered corpus is near-DISCONNECTED
    across clusters (every edge is intra-cluster by construction), so
    with the default global entry set (the same ``n_entry`` md5-least
    ids for every query) a query whose cluster holds no entry point is
    unreachable no matter how many hops — measured on the
    mixture-of-gaussians slice: per-cluster recall is BINARY (1.0 when
    an entry lands in/near the cluster, 0.0 otherwise; more hops do
    not help, more entries help only linearly). The production answer
    is a NAVIGATION LAYER: pass ``entry_df`` (query_id, nid) with
    per-query entries from a coarse structure — e.g. each query's
    probed IVF lists' representative members (the published
    coarse-quantizer-entry + graph-refine composition; gate-tested at
    recall 1.0 on the clustered slice) — and the global default
    remains for structure-free corpora, where any entry works.
    ``cover_missing`` (default True, r16): queries ABSENT from a
    caller-supplied ``entry_df`` fall back to the global md5-least
    entries instead of silently vanishing from the result — the
    rep-less-IVF-cell seam (a cell with no layer member yields no
    representative, so a query assigned only to such cells had no
    frontier). Entry POLICY stays with the caller; entry TOTALITY is
    the library's job.

    Plan shape: the frontier is queries·beam rows; each hop is one
    join against the n·k edge list (on the frontier's node ids — a
    slim-key equi-join Spark broadcast-plans when the frontier is
    small) plus one join against the corpus for candidate vectors.
    In batch that corpus join is a scan per hop amortized over the
    WHOLE query set — the right shape for bulk scoring (millions of
    queries at once); single-query point serving belongs to an index
    service, not a batch engine, and is out of scope by design.

    Determinism: entry set, cosine rounding (6 dp), and (cos DESC,
    nid) tie-breaks make the search reproducible run-to-run and
    engine-portable (the `nnd_graph` contract). Requires k <= beam
    (the final top-k reads from the kept beam)."""
    if k > beam:
        raise ValueError(
            f"k={k} exceeds beam={beam}: the final top-k reads from "
            "the kept beam, so a wider k would silently return only "
            "beam rows")
    nodes = emb.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    entries = (
        nodes.select(
            "nid",
            F.md5(F.col("nid").cast("string")).alias("__h"),
        )
        .orderBy("__h", "nid")
        .limit(n_entry)
        .select("nid")
    )
    if entry_df is not None:
        frontier = entry_df.select("query_id", "nid")
        if cover_missing:
            # SAFE DEFAULT for uncovered queries (r16 — the r15
            # verdict's empty-rep seam): a query absent from
            # ``entry_df`` previously got NO frontier rows and
            # silently dropped out of the result — real at production
            # core_frac with small/skewed IVF cells, where a cell may
            # hold no layer member to serve as its representative.
            # Such queries fall back to the global md5-least entries
            # (the no-entry_df default), so every query always
            # descends from SOMETHING; covered queries are untouched,
            # making the fallback a no-op whenever entry derivation
            # is total (every bench/probe composition to date). Cost:
            # one slim anti-join on query_id against the entry frame
            # at build time, nothing in the final plan.
            uncovered = q.select("query_id").join(
                frontier.select("query_id").distinct(),
                "query_id", "left_anti")
            frontier = frontier.unionByName(
                uncovered.crossJoin(F.broadcast(entries)))
    else:
        frontier = q.select("query_id").crossJoin(F.broadcast(entries))

    def score_beam(cand: DataFrame) -> DataFrame:
        # NO forced broadcast of the query-vector frame (r11 advice —
        # same class as the r10 phash fix): its size is caller-chosen
        # and this path advertises bulk scoring of millions of queries,
        # where a forced broadcast OOMs the driver. AQE broadcasts it
        # when it is actually small and shuffle-joins on query_id when
        # it is not — the correct plan at either end.
        return (
            cand.join(nodes, "nid")
            .join(q, "query_id")
            .select(
                "query_id", "nid",
                F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cos"),
            )
        )

    wb = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "nid")
    beam_df = (
        score_beam(frontier)
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= beam)
        .drop("rn")
        .transform(eager_checkpoint)
    )
    try:
        for _ in range(hops):
            expanded = (
                beam_df.select("query_id", F.col("nid").alias("src"))
                .join(graph.select("src", "dst"), "src")
                .select("query_id", F.col("dst").alias("nid"))
                .union(beam_df.select("query_id", "nid"))
                .distinct()
            )
            nxt = (
                score_beam(expanded)
                .withColumn("rn", F.row_number().over(wb))
                .filter(F.col("rn") <= beam)
                .drop("rn")
                .transform(eager_checkpoint)
            )
            release_local_checkpoint(beam_df)
            beam_df = nxt
    except BaseException:
        release_local_checkpoint(beam_df)
        raise
    # materialize the queries·k result and release the beam frame —
    # returning a projection over the checkpoint would make the
    # caller's release_local_checkpoint a silent no-op (the nnd_graph
    # releasability contract)
    out = (
        beam_df.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("nid").alias("neighbor_id"),
                "cos")
        .transform(eager_checkpoint)
    )
    release_local_checkpoint(beam_df)
    return out


def nnd_sample_layer(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    frac: int = 64,
) -> DataFrame:
    """Deterministic 1/``frac`` corpus sample — the COARSE navigation
    layer for hierarchical serving (r12). Row-local md5 filter (no
    shuffle, no sampling RNG): a node joins the layer iff
    md5(id) % frac == 0, so the layer is stable across runs and
    engines and every node knows its layer membership without an
    index lookup."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return emb.select(F.col(id_col), F.col(vec_col)) \
        .filter(F.pmod(h, F.lit(frac)) == 0)


def nnd_search_hier(
    graph0: DataFrame,
    emb: DataFrame,
    graph1: DataFrame,
    emb1: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    beam: int = 8,
    hops0: int = 4,
    hops1: int = 4,
    n_entry: int = 4,
    entry_df1: DataFrame | None = None,
) -> DataFrame:
    """TWO-LAYER beam serving (r12 — the fix the 200 k serving probe
    demanded): descend a COARSE sampled layer's k-NN graph first, then
    enter the full graph at the coarse winners.

    Why a second layer, measured not argued: a flat k-NN graph's
    diameter grows GEOMETRICALLY with corpus structure — on a
    low-intrinsic-dimension manifold (the regime embedding corpora
    live in) the beam advances ~k/2 neighborhood steps per hop, so a
    3 125-member cluster needs hundreds of hops from a fixed entry;
    entry navigation (IVF lists) fixes WHICH region you land in, not
    the walk length (200 k mixture probe: recall@5 = 0.006 with
    IVF entries). A 1/``frac`` sampled layer walks the same manifold
    with ``frac``× the stride, then hands per-query entries to the
    full graph — the published hierarchy insight (Malkov & Yashunin,
    HNSW; DiskANN's medoid+sample entries), applied to the NN-descent
    family with the layers as plain DataFrames.

    ``graph1``/``emb1`` = the coarse layer (``nnd_sample_layer`` +
    ``nnd_graph`` over it); ``entry_df1`` optionally navigates the
    coarse layer itself (IVF reps — composable with the r11 lesson).
    Returns (query_id, rank, neighbor_id, cos) like ``nnd_search``.

    This exact composition (IVF coarse entries, beam 8, 4+4 hops) is
    oracle-hashed in the registry's ``ns_similarity_ann`` 'nnd_serve'
    method (r15): a DuckDB oracle re-derives the sampled layer,
    retrains the coarse graph, and replays both descents hop by hop —
    the serving path carries the same differential-correctness grade
    as the build."""
    l1 = nnd_search(
        graph1, emb1, queries, vec_col=vec_col, id_col=id_col,
        k=min(n_entry, beam), beam=beam, hops=hops1,
        n_entry=n_entry, entry_df=entry_df1,
    )
    try:
        out = nnd_search(
            graph0, emb, queries, vec_col=vec_col, id_col=id_col,
            k=k, beam=beam, hops=hops0,
            entry_df=l1.select("query_id",
                               F.col("neighbor_id").alias("nid")),
        )
    finally:
        release_local_checkpoint(l1)
    return out

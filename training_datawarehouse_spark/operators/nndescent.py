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
- Iterations are eagerly checkpointed and the previous graph
  released: the plan never compounds across iterations, and a failed
  build leaks nothing.
- The incremental new-neighbor flag (the paper's Algorithm 2) is
  implemented — result-identical, parity-tested, on by default so the
  registry entry ships the production shape. The paper's sample-rate
  cap and early termination on update count are left out: both are
  approximations, and the oracle RETRAINS the graph, so a FIXED
  iteration count over the full local join is what keeps it
  closed-form.
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

SERVING GUIDANCE (measured, r14/r15 — SCALE.md 200 k/500 k/1 M
serve matrices): serve through ``nnd_search_hier`` with IVF-rep
entries INTO THE COARSE LAYER (layer members only — global hash
entries strand coarse descent in wrong clusters); 4+4 hops at
beam 8 is the 200 k knee (recall@5 0.648 at ~135 q/s vs 0.284 for
flat 8-hop at the same cost), 6+6 from 500 k up. The hop budget
SATURATES rather than growing without bound: 6+6 holds the
operating point from 500 k to 1 M (0.646 → 0.644) and 8+8 buys
nothing — hops track cluster diameter, not corpus size, because
the 1/64 coarse layer grows with the corpus. At every measured
scale the serve ceiling is set by the DESCENT STRUCTURE (beam,
k-list depth, entry coverage, members-per-cluster), so spend
serving budget on hops/entries up to saturation and stop; a
consumer needing recall above ~0.65 in million-member regimes
belongs on IVF/PQ (the recall-at-any-cost path). The coarse
layer's value GROWS with corpus size (hier over flat: 2.4× at
200 k, 4.3× at 500 k, 7.5× at 1 M).

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
from .similarity import _as_double, cosine


def _score(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(src, dst) -> (src, dst, cos): join the (nid, v) vectors back in
    and evaluate the rounded cosine once per candidate edge."""
    return (
        edges
        .join(nodes.select(F.col("nid").alias("src"),
                           F.col("v").alias("__sv")), "src")
        .join(nodes.select(F.col("nid").alias("dst"),
                           F.col("v").alias("__dv")), "dst")
        .select(
            "src", "dst",
            F.round(cosine(F.col("__sv"), F.col("__dv")), 6).alias("cos"),
        )
    )


def nnd_graph(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    incremental: bool = True,
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
    than documented."""
    nodes = emb.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("v")
    )
    n = nodes.count()
    if n <= k:
        raise ValueError(f"need more than k={k} vectors, got {n}")

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
    g = _score(nodes, ring).withColumn("new", F.lit(True)) \
        .transform(eager_checkpoint)
    return _refine(nodes, g, k, iters, incremental)


def _refine(
    nodes: DataFrame, g: DataFrame, k: int, iters: int,
    incremental: bool,
) -> DataFrame:
    """The NN-descent iteration loop over a flagged (src, dst, cos,
    new) CHECKPOINTED graph. Takes ownership of ``g`` (releases it);
    returns the final bare (src, dst, cos) graph as an eager
    checkpoint."""

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
            sc = _score(nodes, cand)
            # CHECKPOINT the scored candidates (r13): `both` embeds
            # sc's subtree twice, and the round's output re-embeds
            # `both` again. Tree-expanded, one round's plan reached
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
            kept = (
                g.select("src", "dst", "cos").union(both).distinct()
                .withColumn("rn", F.row_number().over(wk))
                .filter(F.col("rn") <= k)
                .drop("rn")
            )
            try:
                g2 = _round_out(g, kept, it, iters)
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
    # re-derive the NEW flag: an edge is new iff it was
    # not in the previous round's graph (an n·k-grain probe)
    prev = g.select("src", "dst").withColumn("__old", F.lit(True))
    return (
        kept.join(prev, ["src", "dst"], "left")
        .withColumn("new", F.col("__old").isNull())
        .drop("__old")
        .transform(eager_checkpoint)
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
    k: int = 5,
    beam: int = 8,
    hops: int = 3,
    n_entry: int = 4,
    entry_df: DataFrame | None = None,
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
    Queries ABSENT from a
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
        F.col("vec_id").alias("nid"), _as_double(F.col("embedding")).alias("v")
    )
    q = queries.select(
        F.col("query_id"), _as_double(F.col("embedding")).alias("qv")
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
        # Uncovered queries (r16 — the r15 verdict's empty-rep seam):
        # a query absent from ``entry_df`` would get NO frontier rows
        # and silently drop out of the result — real at production
        # core_frac with small/skewed IVF cells, where a cell may hold
        # no layer member to serve as its representative. Such queries
        # fall back to the global md5-least entries (the no-entry_df
        # default), so every query always descends from SOMETHING;
        # covered queries are untouched, making the fallback a no-op
        # whenever entry derivation is total. Cost: one slim anti-join
        # on query_id against the entry frame at build time, nothing
        # in the final plan.
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
        graph1, emb1, queries, k=min(n_entry, beam), beam=beam, hops=hops1,
        n_entry=n_entry, entry_df=entry_df1,
    )
    try:
        out = nnd_search(
            graph0, emb, queries, k=k, beam=beam, hops=hops0,
            entry_df=l1.select("query_id",
                               F.col("neighbor_id").alias("nid")),
        )
    finally:
        release_local_checkpoint(l1)
    return out

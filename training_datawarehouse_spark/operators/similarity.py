"""Similarity search over embedding columns (charter extension).

- ``cosine_topk``: brute-force exact top-k — corpus ⋈ broadcast(queries)
  with a JVM-side fold dot product (``F.aggregate`` over ``zip_with``)
  and a ranking window per query. The corpus never shuffles: the join
  is broadcast-nested-loop over a tiny query set, then one shuffle of
  (query, candidate, score) tuples for the top-k window — at 100 TB
  replace the final window with a per-partition top-k (``map_batches``
  heap) + global merge, or the same window after a coarse score filter.
- ``signlsh_topk``: the scale path — random-hyperplane sign-LSH.
  Hyperplanes are deterministic (seeded numpy), shipped as literal
  arrays; bucket join prunes the candidate set before exact re-scoring.

All arithmetic is cast to double before folding so results are
reproducible against the DuckDB oracle (float32 folds are not).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_half_away


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def vec_lit(values) -> Column:
    """A constant vector as one cheap array-literal Column. NB (r8
    review finding): ``F.lit(list)`` does NOT build a single Literal —
    classic PySpark expands it client-side to ``array(*[lit(x)...])``,
    the same d-child CreateArray and d py4j calls as the spelled-out
    form. The numpy path is the real single-call constructor
    (measured: 64-float lit(list) 66 ms vs lit(ndarray) 15 ms per
    construction), and the values are identical doubles either way.
    For constant MATRICES use ``mat_lit`` (2-D ndarrays are not
    supported by lit; an outer ``F.array`` of k vec_lits is k calls
    instead of k·d)."""
    return F.lit(np.asarray(values, dtype="float64"))


def mat_lit(rows) -> Column:
    """A constant 2-D array (array<array<double>>) built as one outer
    ``F.array`` over per-row ``vec_lit``s — k py4j calls for a k×d
    matrix instead of k·d."""
    return F.array(*[vec_lit(r) for r in rows])


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — matches DuckDB list_dot_product
    evaluation order (pairwise multiply, left-to-right sum)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbours per query (self excluded).

    Returns (query_id, rank, neighbor_id, cosine)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def cosine_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine ≥ threshold — exact all-pairs.

    Quadratic by construction (this is the exact verifier / oracle
    anchor). The 100 TB path is the same computation behind a
    candidate-pruning stage: sign-LSH buckets (``signlsh_bucket``) or an
    IVF coarse quantizer (``ivf_topk``) so only same-bucket pairs reach
    the dot product; both prune strategies live in this module.
    """
    a = df.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _vec_dim(corpus: DataFrame, vec_col: str, dim: int | None) -> int:
    """Embedding dimensionality: pass ``dim`` to keep the builder fully
    plan-side; the ``first()`` fallback is a driver round-trip kept only
    for ad-hoc use on unknown tables (round-2 ADVICE)."""
    if dim is not None:
        return dim
    return len(corpus.select(vec_col).first()[0])


def nearest_centroid_lists(
    vec: Column, cents: list[list[float]], n: int
) -> Column:
    """The ``n`` cosine-nearest coarse-quantizer lists for a vector —
    one two-arg transform over the 2-D centroid Literal instead of
    n_lists separate struct expressions; same (neg, list_id) sort
    semantics (ties → lowest list id). Shared by IVF probing and the
    IVFADC composition."""
    cl = mat_lit(cents)
    scored = F.transform(
        cl,
        lambda c, i: F.struct(
            (-cosine(vec, c)).alias("neg"),
            i.cast("int").alias("list_id"),
        ),
    )
    return F.slice(F.array_sort(scored), 1, n)


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    centroids: list[list[float]], k: int = 5, n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to its nearest centroid
    (inverted list), probe each query's ``n_probe`` closest lists, exact
    re-score inside the probed lists only.

    ``centroids`` is the coarse quantizer, e.g. trained by
    ``kmeans_fit``. The *query shape* (assign → bucket-join → rescore)
    is what matters at scale: the corpus partitions by list id once,
    queries broadcast, and the all-pairs product shrinks by
    ~n_probe/len(centroids). Recall < 1 by construction → rows-only
    check.
    """
    def nearest_lists(vec: Column, n: int) -> Column:
        return nearest_centroid_lists(vec, centroids, n)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("list_id", nearest_lists(F.col("cv"), 1)[0]["list_id"])
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).select(
        "query_id", "qv",
        F.explode(
            F.transform(nearest_lists(F.col("qv"), n_probe), lambda s: s["list_id"])
        ).alias("list_id"),
    )
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    init_vectors: list[list[float]],
    k: int = 8,
    iters: int = 5,
    round_dp: int | None = None,
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's k-means over an embedding column with DataFrame ops —
    the iterative-algorithm shape: per iteration ONE distributed pass
    (assign + per-cluster partial sums), then only k·dim floats come
    back to the driver to become the next iteration's literals. The
    corpus never caches on the driver and never shuffles vectors —
    explode sends (cluster, pos, component) triples to a groupBy.

    Returns (centroids, inertia_per_iteration). Deterministic: explicit
    init, fixed iteration count (empty clusters keep their previous
    centroid).

    ``init_vectors`` are the k starting centroids, and ``round_dp``
    rounds each iteration's new centroids — together they make the fit
    reproducible in ANOTHER engine (the DuckDB oracle re-runs Lloyd's
    from the same literals; rounding absorbs the last-ulp float-sum
    ordering differences that would otherwise let assignments drift
    between engines).
    """
    if len(init_vectors) != k:
        raise ValueError(f"init_vectors must have k={k} rows")
    cents = [[float(x) for x in v] for v in init_vectors]

    # Iterative surface: persist the PRUNED vector projection once so
    # the per-iteration jobs rescan a columnar cache, not the source
    # (on a cluster this is the standard Lloyd's shape — cache the
    # feature column, never the full rows). Local alias, so a caller's
    # own persistence level is never touched.
    work = df.select(_as_double(F.col(vec_col)).alias("__v0")).persist()
    try:
        return _kmeans_iterate(work, cents, iters, round_dp)
    finally:
        # always release the session-cache slot, even when an
        # iteration's job fails — a leaked persist outlives the call
        work.unpersist()


def _kmeans_iterate(
    work: DataFrame,
    cents: list[list[float]],
    iters: int,
    round_dp: int | None,
) -> tuple[list[list[float]], list[float]]:
    v = F.col("__v0")
    inertia_hist: list[float] = []
    for _ in range(iters):
        # nearest centroid by squared L2: one transform over the 2-D
        # centroid Literal → d2 array; argmin via array_position of
        # the min (first occurrence = lowest cid, identical to the
        # former (d2, cid) struct sort tie-break) — k× fewer driver-
        # side expressions per iteration
        cl = mat_lit(cents)
        d2s = F.transform(
            cl,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x,
            ),
        )
        best_d2 = F.array_min(d2s)
        best_cid = (F.array_position(d2s, best_d2) - 1).cast("int")
        assigned = work.select(
            v.alias("__v"), best_cid.alias("__c"), best_d2.alias("__d2")
        )
        # ONE action per iteration: the per-(cluster, position) partial
        # sums AND the inertia ride the same shuffle — each source row's
        # d2 is attributed only to its position-0 triple so the global
        # sum isn't dim-times overcounted.
        stats = (
            assigned.select("__c", "__d2", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("__c", "__p")
            .agg(
                F.sum("__x").alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("__p") == 0, F.col("__d2"))).alias("d2p"),
            )
        )
        rows = stats.collect()  # k·dim tiny rows
        inertia = sum(r["d2p"] for r in rows if r["d2p"] is not None)
        inertia_hist.append(float(inertia))
        new_cents = [list(c) for c in cents]
        acc: dict[int, dict[int, tuple[float, int]]] = {}
        for r in rows:
            acc.setdefault(r["__c"], {})[r["__p"]] = (r["s"], r["n"])
        for cid, comps in acc.items():
            new_cents[cid] = [
                comps[p][0] / comps[p][1] for p in sorted(comps)
            ]
            if round_dp is not None:
                # round_half_away, not builtin round: the oracle's
                # DuckDB round() is ties-away-from-zero (see
                # functions/scalars.py) and these floats feed the next
                # Lloyd iteration as literals in BOTH engines.
                new_cents[cid] = [
                    round_half_away(x, round_dp) for x in new_cents[cid]
                ]
        cents = new_cents
    return cents, inertia_hist


def hyperplanes(dim: int, n_planes: int = 16) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.RandomState(7)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def signlsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit string of the vector against each plane.

    Built as ONE ``transform`` over a 2-D plane Literal (bit per
    plane, ``array_join`` to the string) instead of n_planes separate
    fold expressions: the per-plane dot is the same left-fold, but the
    DataFrame is constructed with 2 lambda conversions instead of
    2·n_planes — driver-side expression construction (py4j) was the
    dominant cost of the multi-table LSH builder, not execution
    (measured r8: 6.1 s build vs 1.0 s execute before this shape)."""
    planes_lit = mat_lit(planes)
    bits = F.transform(
        planes_lit,
        lambda p: F.when(dot(vec, p) >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def signlsh_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    k: int = 5, n_planes: int = 8, dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket-join on sign-LSH keys, exact cosine
    re-score on the union of candidates. ``n_tables`` independent hash
    tables (each with its own ``n_planes`` hyperplanes) trade scanned
    fraction for recall — the standard multi-table LSH knob: one
    6-plane table scans ~2% of an isotropic corpus at near-zero recall;
    8 tables × 4 planes scan ~40% at recall ≈ 0.8. Candidates are the
    DISTINCT union of the per-table equi-joins (each a broadcast of the
    tiny query side), and only candidates ever reach the cosine —
    at scale the candidate set is far smaller than the corpus, so the
    re-score join stays slim."""
    planes_all = hyperplanes(_vec_dim(corpus, vec_col, dim), n_tables * n_planes)

    # ALL tables' bucket keys from ONE 32-bit sign string (one
    # transform lambda over the full plane literal, per-table keys by
    # substring), and the per-table equi-joins collapsed into ONE
    # (table, bucket) join over an exploded key column — same buckets,
    # same candidate set, but the DataFrame builds with 2 lambda
    # conversions + 1 join instead of 2·n_tables bucket expressions +
    # n_tables joins (r8: driver-side construction dominated this
    # builder), and the single broadcast probe replaces an n_tables-arm
    # union at execution time.
    def keyed(df, out_id):
        bits = signlsh_bucket(_as_double(F.col(vec_col)), planes_all)
        tb = F.array(*[
            F.struct(
                F.lit(t).alias("t"),
                F.substring(bits, t * n_planes + 1, n_planes).alias("bucket"),
            )
            for t in range(n_tables)
        ])
        return df.select(
            F.col(id_col).alias(out_id), F.explode(tb).alias("tb")
        ).select(out_id, "tb.t", "tb.bucket")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cand = (
        keyed(corpus, "neighbor_id")
        .join(F.broadcast(keyed(queries, "query_id")), ["t", "bucket"])
        .select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )
    scored = (
        c.select("neighbor_id", "cv")
        .join(cand, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def semdedup_stats(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication statistics (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication" — public method): within each k-means
    cluster, find embedding pairs whose cosine clears ``threshold``,
    resolve them into duplicate groups (connected components), and
    keep ONE representative (min id) per group.

    This is the method's defining scale trick re-expressed
    Spark-first: the quadratic cosine comparison runs WITHIN clusters
    only — the coarse quantizer bounds each cluster, so total pair
    work is sum(|cluster|²) ≈ n²/k, made linear-ish by growing k with
    the corpus (SemDeDup uses k ~ sqrt(n)). The pair list is
    localCheckpoint'ed before component resolution so the quadratic
    join runs once, not once per label-propagation round.

    ``assigned`` must carry (id_col, vec_col double-array,
    cluster_col). Returns per-cluster
    (cluster_col, sd_n_pairs, sd_avg_cos, sd_n_dropped): the number of
    qualifying pairs, their mean cosine (6 dp; null when no pairs),
    and how many vectors a dedup pass would DROP (group members minus
    group representatives). Components cannot span clusters, so the
    per-cluster accounting is exact.
    """
    from .dedup import connected_components

    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col(cluster_col).alias("__cl"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col(cluster_col).alias("__cl2"),
    )
    pairs = (
        a.join(b, (F.col("__cl") == F.col("__cl2"))
               & (F.col("id_a") < F.col("id_b")))
        .withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("__cl", "id_a", "id_b", "cosine")
    ).localCheckpoint()
    comp = connected_components(pairs)
    node_cl = assigned.select(
        F.col(id_col).alias("node"), F.col(cluster_col).alias("__cl")
    )
    grouped = (
        comp.join(node_cl, "node")
        .groupBy("__cl")
        .agg(
            (F.count(F.lit(1)) - F.countDistinct("component"))
            .cast("long").alias("sd_n_dropped"),
        )
    )
    pair_stats = pairs.groupBy("__cl").agg(
        F.count(F.lit(1)).alias("sd_n_pairs"),
        F.round(F.avg("cosine"), 6).alias("sd_avg_cos"),
    )
    return (
        pair_stats.join(grouped, "__cl", "full")
        .select(
            F.col("__cl").alias(cluster_col),
            F.coalesce("sd_n_pairs", F.lit(0)).cast("long").alias("sd_n_pairs"),
            F.col("sd_avg_cos"),
            F.coalesce("sd_n_dropped", F.lit(0)).cast("long")
            .alias("sd_n_dropped"),
        )
    )

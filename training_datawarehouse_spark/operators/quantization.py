"""Product quantization (PQ) for embedding columns — compressed ANN.

Charter extension (no reference implementation — the reference's query
surface stops at relational operators; reference parity n/a). Public
method: Jégou, Douze & Schmid, "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011), implemented from the paper's
definitions: split a d-dim vector into ``m`` subspaces of d/m dims,
train an independent k-means codebook per subspace, store each vector
as ``m`` small code ids (here 64 floats → 4 bytes), and answer
queries with the ASYMMETRIC distance computation (ADC): the query
stays exact, each database vector is approximated by its per-subspace
centroids, so ``d²(q, x) ≈ Σ_j d²(q_j, cb[j][code_j(x)])``.

Why a training-data engine needs it: at 10⁹–10¹⁰ embeddings the
vectors themselves dominate storage and ANN scan cost; PQ codes are
the standard way to keep the WHOLE corpus's geometry resident
(16–64× compression) — IVF prunes which vectors to look at, PQ makes
each look cheap. This module is the PQ half; composing it with
``similarity.ivf_topk``'s coarse quantizer gives the published
IVF-ADC pipeline.

Spark-first shape (100 TB posture):

- Training fuses the m per-subspace Lloyd's fits into ONE distributed
  pass per iteration over a single cached projection (row-local
  argmins, one (subspace, cluster, position) partial-sum shuffle);
  only m·k·(d/m) = k·d floats return to the driver per iteration.
  The corpus never shuffles vectors.
- Encoding is ROW-LOCAL: the m codebooks ride the plan as array
  literals (k·d floats total — model-sized), each subspace's argmin
  is an ``array_sort(struct(d2, cid))[0]`` fold over the slice. No
  join, no shuffle, whole-stage codegen.
- ADC scoring joins the (tiny, broadcast) query frame to the codes
  frame and evaluates the distance sum row-locally by indexing the
  codebook literal with ``element_at`` — the classic distance-table
  lookup, expressed as JVM expressions. The only shuffle in a PQ
  top-k is the top-k itself (``retrieval.topk_per_query`` two-level
  pattern applies above bench scale).

Determinism/oracle contract: subspace codebooks train with
``init_vectors`` = the lowest-vec_id subvectors and 6-dp-rounded
iterations (the ``kmeans_fit`` discipline), codes tie-break on the
lowest code id, ADC distances round to 6 dp before ranking with
neighbor-id ties — so a DuckDB oracle can retrain the codebooks and
re-derive every code and distance (``plans/northstar.py`` splices the
same unrolled Lloyd's blocks per subspace).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_away
from .similarity import _as_double, mat_lit


def _sub(vec: Column, j: int, dsub: int) -> Column:
    """Subspace slice j of a vector column (1-based F.slice)."""
    return F.slice(vec, j * dsub + 1, dsub)


def pq_train(
    df: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    iters: int = 4,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``ksub`` centroids each.
    Returns ``codebooks[m][ksub][dim//m]``. Init per subspace = the
    ``ksub`` lowest-``vec_id`` rows' subvectors (deterministic, no
    RNG — the ``kmeans_fit`` oracle-reproducible discipline: rounded
    iterations, lowest-cid ties, empty clusters keep their previous
    centroid).

    The m fits are FUSED: Lloyd's iterations for all subspaces ride
    ONE distributed pass each (row-local per-subspace argmin, then a
    single (subspace, cluster, position) partial-sum shuffle of the
    same total volume one full-dim k-means iteration would move), so
    training costs ``iters`` jobs over one cached projection, not
    ``m × iters`` — m independent ``kmeans_fit`` calls would
    serialize m× the job-launch latency for identical results
    (parity-tested)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    init_rows = (
        df.filter(F.col("vec_id") < ksub)
        .orderBy("vec_id")
        .select(vec_col)
        .collect()
    )
    if len(init_rows) != ksub:
        raise ValueError(
            f"need ids 0..{ksub - 1} present for deterministic init"
        )
    real_dim = len(init_rows[0][0])
    if real_dim != dim:
        # r8 review: a silent mismatch would train on a prefix of (or
        # null-pad past) every vector — recall collapses with no error
        raise ValueError(
            f"dim={dim} does not match the data's vector length "
            f"{real_dim}"
        )
    books = [
        [
            [float(x) for x in r[0][j * dsub:(j + 1) * dsub]]
            for r in init_rows
        ]
        for j in range(m)
    ]
    work = df.select(_as_double(F.col(vec_col)).alias("__v")).persist()
    try:
        for _ in range(iters):
            subs = []
            for j, book in enumerate(books):
                sv = _sub(F.col("__v"), j, dsub)
                # argmin via array_position of the min over one
                # transform (first occurrence = lowest code id — same
                # tie-break as the former struct sort), not ksub
                # separate struct expressions
                d2s = F.transform(
                    mat_lit(book),
                    lambda c: _d2(sv, c),
                )
                cid = (F.array_position(d2s, F.array_min(d2s)) - 1).cast(
                    "int"
                )
                subs.append(F.struct(
                    F.lit(j).alias("j"),
                    cid.alias("cid"),
                    sv.alias("sv"),
                ))
            stats = (
                work.select(F.explode(F.array(*subs)).alias("s"))
                .select(
                    "s.j", "s.cid", F.posexplode("s.sv").alias("p", "x")
                )
                .groupBy("j", "cid", "p")
                .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
                .collect()  # m·ksub·dsub tiny rows
            )
            acc: dict = {}
            for r in stats:
                acc.setdefault((r["j"], r["cid"]), {})[r["p"]] = (
                    r["sx"], r["n"],
                )
            new_books = [[list(c) for c in b] for b in books]
            for (j, cid), comps in acc.items():
                cen = [round_half_away(comps[p][0] / comps[p][1], 6)
                       for p in sorted(comps)]
                new_books[j][cid] = cen
            books = new_books
    finally:
        work.unpersist()
    return books


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 between two equal-length arrays, the same
    left-to-right fold ``kmeans_fit`` uses (order matters for
    cross-engine float parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def residual_frame(
    df: DataFrame,
    vec_col: str,
    cents: list[list[float]],
) -> DataFrame:
    """Per-vector residual ``x − c(x)`` against a coarse quantizer —
    the input representation for residual-encoded IVFADC (Jégou et
    al. 2011 §IV-A: quantize what the coarse quantizer CANNOT express,
    so the per-subspace codebooks spend their 8 codes on a much
    tighter distribution than the raw vectors).

    ROW-LOCAL at any scale: the k coarse centroids ride the plan as
    one matrix literal (k·d floats — model-sized), the assignment is
    the same cosine-argmin expression IVF probing uses, and the
    subtraction is ``zip_with`` — no join, no shuffle, the corpus
    vectors never move.

    Returns ``(vec_id, list_id, residual array<double>)``. The
    subtraction of two exact doubles is deterministic IEEE — no
    rounding needed for the cross-engine oracle contract (centroids
    are already 6-dp from the shared Lloyd's trainer)."""
    from .similarity import nearest_centroid_lists

    v = _as_double(F.col(vec_col))
    lid = nearest_centroid_lists(v, cents, 1)[0]["list_id"]
    return df.select(
        F.col("vec_id"),
        lid.alias("list_id"),
        F.zip_with(
            v, F.element_at(mat_lit(cents), lid + 1), lambda x, c: x - c
        ).alias("residual"),
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as ``m`` code ids + its reconstruction
    error. Row-local (codebooks are literals): per subspace, argmin
    squared-L2 with lowest-code-id ties. Returns
    ``(vec_id, *keep_cols, codes array<int>, recon_err double)`` with
    recon_err = Σ_j d²(x_j, cb[j][code_j]) rounded to 6 dp.
    ``keep_cols`` carries extra columns (e.g. the coarse ``list_id``
    for residual IVFADC) through without a re-join."""
    dsub = len(codebooks[0][0])
    v = _as_double(F.col(vec_col))
    best = []  # (code, min_d2) per subspace
    for j, book in enumerate(codebooks):
        sv = _sub(v, j, dsub)
        d2s = F.transform(
            mat_lit(book),
            lambda c: _d2(sv, c),
        )
        mn = F.array_min(d2s)
        # first occurrence of the min = lowest code id (the former
        # (d2, cid) struct-sort tie-break, one transform instead of
        # ksub struct expressions)
        best.append(((F.array_position(d2s, mn) - 1).cast("int"), mn))
    codes = F.array(*[c for c, _ in best])
    errs = [d for _, d in best]
    err = F.round(sum(errs[1:], errs[0]), 6)
    return df.select(
        F.col("vec_id"), *[F.col(c) for c in keep_cols],
        codes.alias("codes"), err.alias("recon_err"),
    )


def pq_adc_scores(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric distance computation: exact query vs PQ-approximated
    corpus. ``codes_df`` is ``pq_encode`` output; ``queries`` is a
    small frame (broadcasts) with (vec_id, embedding). Returns
    ``(query_id, neighbor_id, adc_d2)`` (6 dp) excluding self-pairs —
    rank/top-k is the caller's (``retrieval.topk_per_query`` above
    bench scale).

    ``pairs`` (optional, ``(query_id, neighbor_id)``) restricts
    scoring to a candidate set — the IVFADC composition (Jégou et
    al.): the coarse quantizer prunes which (query, vector) pairs are
    even scored, PQ makes each score a code lookup. Without it every
    query scores the full codes frame (the exhaustive-ADC mode).
    The pairs projection is deduplicated here (r8 ADVICE): a caller
    whose candidate generator emits the same (query, neighbor) twice
    (e.g. multi-probe lists sharing a vector) would otherwise get
    duplicate ADC rows that corrupt downstream ``row_number``
    rankings; the extra hash-aggregate is on 16-byte id pairs at
    candidate grain, map-side combinable."""
    dsub = len(codebooks[0][0])
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("__qv"),
    )
    terms = [
        _d2(
            _sub(F.col("__qv"), j, dsub),
            F.element_at(
                mat_lit(book), F.element_at("codes", j + 1) + 1
            ),
        )
        for j, book in enumerate(codebooks)
    ]
    adc = F.round(sum(terms[1:], terms[0]), 6)
    base = codes_df.select(F.col("vec_id").alias("neighbor_id"), "codes")
    if pairs is None:
        cand = base.crossJoin(F.broadcast(q))
    else:
        # candidate-grain, not broadcast: at scale the pair set is
        # queries · corpus/n_lists · n_probe rows — it co-partitions
        # with the codes frame on neighbor_id (AQE broadcasts it at
        # bench scale anyway)
        cand = base.join(
            pairs.select("query_id", "neighbor_id").distinct(),
            "neighbor_id",
        ).join(F.broadcast(q), "query_id")
    return (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_d2"))
    )


def pq_adc_scores_residual(
    codes_df: DataFrame,
    queries_res: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """ADC where the QUERY representation varies per probed list — the
    residual-encoded IVFADC form (Jégou et al. 2011 §IV-A): corpus
    codes approximate ``x − c(x)``, so the query must be compared as
    ``q − c(L)`` for EACH probed list L. ``codes_df`` is
    ``pq_encode(..., keep_cols=("list_id",))`` output over the
    residual frame; ``queries_res`` is the (tiny, broadcast) per-
    (query, probed-list) residual frame ``(query_id, list_id,
    qres)`` — ``residual_frame``-shaped but exploded over n_probe
    lists.

    The list join IS the coarse pruning: only vectors whose list the
    query probes are ever scored, and since a corpus vector lives in
    exactly one list, (query_id, neighbor_id) pairs are unique by
    construction. Scale shape: the codes frame stays partitioned,
    queries broadcast, scoring is a row-local codebook lookup.

    Returns ``(query_id, neighbor_id, adc_d2)`` (6 dp), self-pairs
    excluded — rank/top-k is the caller's."""
    dsub = len(codebooks[0][0])
    q = queries_res.select(
        "query_id", "list_id", _as_double(F.col("qres")).alias("__qrv")
    )
    terms = [
        _d2(
            _sub(F.col("__qrv"), j, dsub),
            F.element_at(
                mat_lit(book), F.element_at("codes", j + 1) + 1
            ),
        )
        for j, book in enumerate(codebooks)
    ]
    adc = F.round(sum(terms[1:], terms[0]), 6)
    return (
        codes_df.select(
            F.col("vec_id").alias("neighbor_id"), "list_id", "codes"
        )
        .join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_d2"))
    )


# ------------------------------------------------ scalar quantization

def _bad_vec(vec_col: str, dim: int):
    """1 for a ragged, wrong-dim, or NULL vector, else 0. The NULL
    coalesce matters: F.size(NULL) is NULL, so a bare (size != dim)
    is NULL and F.sum would SKIP it — a null embedding would silently
    pass training (min/max ignore nulls) and then encode to null
    codes, diverging from the SQL oracle."""
    return F.coalesce(
        (F.size(F.col(vec_col)) != dim).cast("long"), F.lit(1)
    )


def sq_train(
    df: DataFrame, vec_col: str, dim: int
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) bounds for 8-bit SCALAR quantization
    (the FAISS ``SQ8`` family: each dimension affine-mapped to one
    uint8 — 4× compression for float32 at near-exact recall, the
    mild sibling of PQ's 64×). One map-side-combinable aggregation;
    2·d doubles return to the driver, the corpus never shuffles.
    Raises on ragged, wrong-dim, or NULL vectors (the ``pq_train``
    dim-check discipline). The bounds are exact data values (no arithmetic),
    so a SQL oracle re-derives them bit-for-bit with min()/max()."""
    v = _as_double(F.col(vec_col))
    # try_element_at: a short vector must reach the __bad counter (and
    # raise below), not blow up ANSI element_at inside the same agg
    row = df.agg(
        F.sum(_bad_vec(vec_col, dim)).alias("__bad"),
        *[F.min(F.try_element_at(v, F.lit(i + 1))).alias(f"mn{i}")
          for i in range(dim)],
        *[F.max(F.try_element_at(v, F.lit(i + 1))).alias(f"mx{i}")
          for i in range(dim)],
    ).collect()[0]
    if row["__bad"]:
        raise ValueError(
            f"sq_train: {row['__bad']} ragged or wrong-dim vectors "
            f"(expected {dim})")
    return ([row[f"mn{i}"] for i in range(dim)],
            [row[f"mx{i}"] for i in range(dim)])


def sq_encode(
    df: DataFrame, vec_col: str, mins: list[float], maxs: list[float],
) -> DataFrame:
    """(id, codes): ROW-LOCAL 8-bit encode — ``code_i = clamp(round(
    (x_i − mn_i) · 255 / (mx_i − mn_i)), 0, 255)``, constant
    dimensions (mx == mn) code to 0. The bounds ride the plan as two
    d-float array literals; no join, no shuffle, whole-stage codegen.
    The expression order is written identically in the SQL oracle, so
    codes are bit-identical across engines (round halves never need a
    tie-break: both engines round the SAME double, and both round
    non-negative halves away from zero)."""
    mn = F.array(*[F.lit(float(x)) for x in mins])
    mx = F.array(*[F.lit(float(x)) for x in maxs])
    v = _as_double(F.col(vec_col))
    codes = F.transform(
        v,
        lambda x, i: F.when(
            F.element_at(mx, i + 1) == F.element_at(mn, i + 1), F.lit(0)
        ).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.round(
                        (x - F.element_at(mn, i + 1)) * 255
                        / (F.element_at(mx, i + 1) - F.element_at(mn, i + 1))
                    ).cast("int"),
                ),
            )
        ),
    )
    return df.select("vec_id", codes.alias("codes"))


def sq_adc_scores(
    codes_df: DataFrame,
    queries: DataFrame,
    mins: list[float],
    maxs: list[float],
) -> DataFrame:
    """Asymmetric distance for scalar quantization: exact query vs
    per-dim reconstructed corpus ``x̂_i = mn_i + code_i·(mx_i−mn_i)/
    255``. Returns ``(query_id, neighbor_id, sq_d2)``, self-pairs
    excluded; rank/top-k is the caller's.

    Cross-engine exactness: each per-dim squared term is computed
    with the identical expression order in both engines, rounded to
    exact integer MICRO-units, and summed as int64 — an order-free
    sum (the dedup-stage exact-cents discipline), where a 64-term
    float sum would be engine-order-dependent. Scale shape: queries
    broadcast, scoring is row-local literal arithmetic, the only
    shuffle in an SQ top-k is the top-k itself."""
    mn = F.array(*[F.lit(float(x)) for x in mins])
    mx = F.array(*[F.lit(float(x)) for x in maxs])
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("__qv"),
    )

    def term(c, i):
        rec = F.element_at(mn, i + 1) + c * (
            F.element_at(mx, i + 1) - F.element_at(mn, i + 1)
        ) / 255.0
        d = F.element_at(F.col("__qv"), i + 1) - rec
        return F.round(d * d * 1e6).cast("long")

    micro = F.aggregate(
        F.transform(F.col("codes"), term),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    return (
        codes_df.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (micro / F.lit(1e6)).alias("sq_d2"))
    )


def sq_train_per_list(
    df: DataFrame, vec_col: str, dim: int, n_lists: int,
) -> tuple[list[list[float]], list[list[float]]]:
    """PER-COARSE-LIST (min, max) bounds — the production fix for
    SQ8's clustered-recall inversion (global bounds stretch across
    cluster centers; per-list bounds are tight within each cluster,
    the residual-PQ insight applied to scalar quantization). One
    groupBy(list) aggregation, ``2·n_lists·d`` doubles to the driver.
    A list with no members gets degenerate [0, 0] bounds (its codes
    would all be 0 — but an empty list also has nothing to encode).
    Raises on ragged, wrong-dim, or NULL vectors."""
    v = _as_double(F.col(vec_col))
    rows = df.groupBy("list_id").agg(
        F.sum(_bad_vec(vec_col, dim)).alias("__bad"),
        *[F.min(F.try_element_at(v, F.lit(i + 1))).alias(f"mn{i}")
          for i in range(dim)],
        *[F.max(F.try_element_at(v, F.lit(i + 1))).alias(f"mx{i}")
          for i in range(dim)],
    ).collect()
    bad = sum(r["__bad"] for r in rows)
    if bad:
        raise ValueError(
            f"sq_train_per_list: {bad} ragged or wrong-dim vectors "
            f"(expected {dim})")
    mins = [[0.0] * dim for _ in range(n_lists)]
    maxs = [[0.0] * dim for _ in range(n_lists)]
    for r in rows:
        li = int(r["list_id"])
        if not 0 <= li < n_lists:
            raise ValueError(f"list id {li} outside [0, {n_lists})")
        mins[li] = [r[f"mn{i}"] for i in range(dim)]
        maxs[li] = [r[f"mx{i}"] for i in range(dim)]
    return mins, maxs


def _sq_list_code(x, i, mn_row, mx_row):
    lo = F.element_at(mn_row, i + 1)
    hi = F.element_at(mx_row, i + 1)
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round((x - lo) * 255 / (hi - lo)).cast("int"),
            ),
        )
    )


def sq_encode_per_list(
    df: DataFrame, vec_col: str,
    mins: list[list[float]], maxs: list[list[float]],
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, list_id, codes): row-local encode against the row's OWN
    list bounds — the bounds matrix rides the plan as one
    ``n_lists × d`` literal, double-indexed by (list_id, dim)."""
    mn_mat = mat_lit(mins)
    mx_mat = mat_lit(maxs)
    v = _as_double(F.col(vec_col))
    mn_row = F.element_at(mn_mat, F.col("list_id").cast("int") + 1)
    mx_row = F.element_at(mx_mat, F.col("list_id").cast("int") + 1)
    codes = F.transform(v, lambda x, i: _sq_list_code(x, i, mn_row, mx_row))
    return df.select(
        F.col(id_col).alias(id_col), F.col("list_id").alias("list_id"),
        codes.alias("codes"),
    )


def sq_adc_scores_per_list(
    codes_df: DataFrame,
    queries_probed: DataFrame,
    mins: list[list[float]],
    maxs: list[list[float]],
    id_col: str = "vec_id",
    query_vec_col: str = "__qv",
) -> DataFrame:
    """IVF + per-list-SQ8 composition: the list join IS the coarse
    pruning (only vectors in a query's probed lists are scored — the
    `pq_adc_scores_residual` shape), and each score reconstructs
    against the vector's own list bounds. ``queries_probed`` is the
    (tiny, broadcast) per-(query, probed-list) frame
    ``(query_id, list_id, query_vec_col)``. Micro-exact order-free
    term sums as in ``sq_adc_scores``. Returns
    ``(query_id, neighbor_id, sq_d2)``, self-pairs excluded."""
    mn_mat = mat_lit(mins)
    mx_mat = mat_lit(maxs)
    mn_row = F.element_at(mn_mat, F.col("list_id").cast("int") + 1)
    mx_row = F.element_at(mx_mat, F.col("list_id").cast("int") + 1)

    def term(c, i):
        lo = F.element_at(mn_row, i + 1)
        hi = F.element_at(mx_row, i + 1)
        rec = lo + c * (hi - lo) / 255.0
        d = F.element_at(F.col(query_vec_col), i + 1) - rec
        return F.round(d * d * 1e6).cast("long")

    micro = F.aggregate(
        F.transform(F.col("codes"), term),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    q = queries_probed.select("query_id", "list_id", query_vec_col)
    return (
        codes_df.select(
            F.col(id_col).alias("neighbor_id"), "list_id", "codes"
        )
        .join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (micro / F.lit(1e6)).alias("sq_d2"))
    )

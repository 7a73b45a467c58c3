"""PCA whitening for embedding columns — power-iteration fit.

Charter extension (no reference implementation — reference parity
n/a). Why a training-data engine needs it: embedding-space curation
(SemDeDup-style semantic dedup, outlier pruning, ANN recall) degrades
when a few dominant directions carry most of the variance; the
standard fix is to center, rotate onto the top principal components,
and rescale by 1/√λ (whitening) before cosine comparisons. Public
method: power iteration with deflation (Golub & Van Loan, "Matrix
Computations"; the textbook dominant-eigenvector scheme) — chosen
over a black-box eigensolver because a FIXED-ITERATION, per-step
rounded power iteration is reproducible in another engine: the DuckDB
oracle re-derives the covariance in SQL and runs the SAME unrolled
matvec/normalize chain, so the fit itself is hash-checked, not
spliced (the k-means retrain discipline, applied to PCA).

Spark-first split of the work:

- **Distributed, corpus-scale:** per-dimension means (one
  posexplode + groupBy) and the centered covariance matrix (two
  chained posexplodes → d² products per row → map-side-combinable
  groupBy(i, j); the shuffle carries only d²·partitions partial
  sums). At extreme d the d²-per-row explode becomes the bottleneck
  and the standard swap is a per-partition numpy Gram via
  ``mapInPandas`` summed driver-side — at d=64 the expression path
  wins (no Python crossing) and is what the oracle mirrors.
- **Driver, model-scale:** power iteration over the ROUNDED d×d
  covariance (d² floats — model-sized, like k-means centroids
  between iterations). Each step: w = C·v (inner sum in j order),
  v' = round(w/‖w‖, 6); after ``iters`` steps λ = round(v·Cv, 6);
  deflate C ← round(C − λ v vᵀ, 6) and repeat for the next
  component. Every number that crosses an engine boundary is
  6-dp-rounded, so both engines iterate on identical doubles.
- **Distributed projection:** whitening is row-local — means,
  components, and 1/√λ ride the plan as literals;
  ``z_c = Σ_i (x_i − μ_i)·v_ci / √λ_c``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_away
from .similarity import _as_double, vec_lit

ROUND_DP = 6  # decimals of every number that crosses an engine boundary


def dim_means(df: DataFrame, vec_col: str) -> list[float]:
    """Per-dimension mean, rounded — one posexplode + groupBy pass."""
    rows = (
        df.select(F.posexplode(_as_double(F.col(vec_col))).alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    return [
        round_half_away(r["m"], ROUND_DP)
        for r in sorted(rows, key=lambda r: r["i"])
    ]


def covariance_matrix(
    df: DataFrame,
    vec_col: str,
    means: list[float],
) -> list[list[float]]:
    """Centered covariance C[i][j] = Σ (x_i−μ_i)(x_j−μ_j) / n,
    rounded. Two chained posexplodes produce the d² products per row
    ROW-LOCALLY; the groupBy(i, j) is map-side combinable so the
    shuffle moves d² partial sums per partition, never the vectors."""
    cent = F.zip_with(
        _as_double(F.col(vec_col)),
        vec_lit(means),
        lambda x, mu: x - mu,
    )
    rows = (
        df.select(cent.alias("__c"))
        .select(F.posexplode("__c").alias("i", "ci"), F.col("__c"))
        .select("i", "ci", F.posexplode("__c").alias("j", "cj"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("ci") * F.col("cj")).alias("s"),
            # every source row contributes exactly one product per
            # (i, j), so the group count IS n — no separate count()
            # pass over the corpus (r8 review)
            F.count(F.lit(1)).alias("n"),
            # non-null product count: a ragged or wrong-dim vector
            # null-pads through zip_with, its null products silently
            # DROP from the sum while still counting toward n — the
            # exact silent-skew class pq_train's dim check guards
            # against (r8 ADVICE). n_valid < n pinpoints it without a
            # second corpus pass.
            F.count(F.col("ci") * F.col("cj")).alias("n_valid"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("covariance over an empty frame")
    n = rows[0]["n"]
    dim = len(means)
    bad = [r for r in rows if r["n_valid"] != r["n"] or r["n"] != n]
    if bad or len(rows) != dim * dim:
        raise ValueError(
            f"ragged or wrong-dim vectors in covariance fit: expected "
            f"{dim * dim} uniform (i, j) groups of n={n} non-null "
            f"products, got {len(rows)} groups"
            + (
                f"; first bad group (i={bad[0]['i']}, j={bad[0]['j']}) "
                f"has n={bad[0]['n']}, n_valid={bad[0]['n_valid']}"
                if bad else ""
            )
        )
    cov = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        cov[r["i"]][r["j"]] = round_half_away(r["s"] / n, ROUND_DP)
    return cov


def power_iteration_components(
    cov: list[list[float]],
    n_components: int = 2,
    iters: int = 12,
) -> tuple[list[list[float]], list[float]]:
    """Top components of a (rounded) covariance by fixed-iteration
    power iteration with deflation — driver-side model math that
    MIRRORS the SQL oracle operation-for-operation: matvec, norm, and
    Rayleigh sums run in ascending index order (the oracle pins the
    same order via list_sum over ORDER-BY-collected lists — a plain
    GROUP-BY SUM's engine-chosen order could flip a 6-dp midpoint and
    cascade), each normalized vector rounds to ``ROUND_DP``, λ is the
    rounded Rayleigh quotient, and the deflated matrix re-rounds.
    Init: v0 = round(1/√d, 6) in every coordinate.
    Returns (components[n][d], eigenvalues[n])."""
    dim = len(cov)
    c = [row[:] for row in cov]
    comps: list[list[float]] = []
    eigs: list[float] = []
    v0 = round_half_away(1.0 / math.sqrt(dim), ROUND_DP)
    for _ in range(n_components):
        v = [v0] * dim
        for _t in range(iters):
            w = [
                sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)
            ]
            nrm = math.sqrt(sum(x * x for x in w))
            if nrm == 0.0:
                raise ValueError(
                    "power iteration collapsed (zero matvec norm): the "
                    "covariance is rank-deficient below the requested "
                    f"n_components — fit fewer components "
                    f"(got {len(comps)} before collapse)"
                )
            v = [round_half_away(x / nrm, ROUND_DP) for x in w]
        w = [sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        lam = round_half_away(
            sum(v[i] * w[i] for i in range(dim)), ROUND_DP
        )
        comps.append(v)
        eigs.append(lam)
        c = [
            [
                round_half_away(c[i][j] - lam * v[i] * v[j], ROUND_DP)
                for j in range(dim)
            ]
            for i in range(dim)
        ]
    return comps, eigs


def pca_whiten_fit(
    df: DataFrame,
    vec_col: str,
    n_components: int = 2,
    iters: int = 12,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit = distributed moments + driver power iteration. Returns
    (means, components, eigenvalues), all rounded — splice-ready for
    row-local projection in any engine."""
    means = dim_means(df, vec_col)
    cov = covariance_matrix(df, vec_col, means)
    comps, eigs = power_iteration_components(cov, n_components, iters)
    return means, comps, eigs


def whiten_project(
    df: DataFrame,
    vec_col: str,
    means: list[float],
    components: list[list[float]],
    eigenvalues: list[float],
) -> DataFrame:
    """Row-local whitened projection: z_c = (x − μ)·v_c / √λ_c, each
    coordinate rounded. Returns (vec_id, z array<double>). The model
    rides the plan as literals — no join, no shuffle."""
    cent = F.zip_with(
        _as_double(F.col(vec_col)),
        vec_lit(means),
        lambda x, mu: x - mu,
    )
    if len(components) != len(eigenvalues):
        raise ValueError(
            f"{len(components)} components vs {len(eigenvalues)} "
            "eigenvalues — a silent zip() would truncate the projection"
        )
    bad = [lam for lam in eigenvalues if lam <= 0.0]
    if bad:
        raise ValueError(
            f"whitening needs strictly positive eigenvalues, got {bad}: "
            "a ≤0 value (possible after deflation re-rounding on near-"
            "rank-deficient data) would produce NaN/Inf z coordinates "
            "that silently poison downstream near-dup pairs — fit fewer "
            "components instead"
        )
    zs = []
    for comp, lam in zip(components, eigenvalues):
        dotc = F.aggregate(
            F.zip_with(
                cent,
                vec_lit(comp),
                lambda a, b: a * b,
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        zs.append(F.round(dotc / F.lit(math.sqrt(lam)), ROUND_DP))
    return df.select(F.col("vec_id"), F.array(*zs).alias("z"))

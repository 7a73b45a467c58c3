"""Deterministic domain-mixture sampling for training-data composition.

A training corpus is assembled from source domains under target mixture
weights (so much web, so much code, ...). Both selection paths here are
id-hash driven (md5 of the stable document id) — selection is
reproducible across runs, cluster sizes, partitionings, and engines
(unlike ``df.sample``, whose output depends on partition layout), and
NESTED: the selection at fraction f1
is a subset of the selection at f2 ≥ f1 for the same domain, so mixture
weights can be re-tuned without churning previously selected documents.

Two paths, one semantic:

- ``mixture_sample_exact`` — exact per-domain quota
  ``floor(frac_d · n_d + 0.5)``, chosen by rank of the md5 content hash
  within the domain. Costs one shuffle on the domain key plus a
  per-domain sort (a single window pass computes rank and domain size
  together). Quota is exact; use when the mixture must land precisely.
- ``mixture_sample_threshold`` — the 100 TB path: keep rows whose
  256-bucket content hash falls below ``floor(frac_d · 256 + 0.5)``.
  Scan-only — no shuffle, no sort, no per-domain state — so it is
  immune to domain skew (a domain with 90% of the corpus costs nothing
  extra). The realized quota is binomial around the target (±1/16 of a
  bucket's worth of resolution); membership is still exactly
  reproducible and nested.

Both are plain SQL semantics (window rank / hash bucket), so both are
DuckDB-oracle-checkable — see ``plans/northstar.py``'s dataset
composition entry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import hash_bucket


def _fraction_col(domain_col: str, fractions: dict[str, float]) -> Column:
    """Literal-map lookup of the target fraction for a row's domain; a
    domain missing from ``fractions`` gets fraction 0."""
    for d, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {d!r} must be in [0, 1], got {f}")
    m = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
    return F.coalesce(m[F.col(domain_col)], F.lit(0.0))


def mixture_sample_exact(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Exact per-domain quota: ``floor(frac_d · n_d + 0.5)`` rows per
    domain, selected in md5(id) order (id as tiebreak). ``floor(x+0.5)``
    is explicit half-up rounding — identical in Spark and DuckDB, where
    bare ``round`` disagrees on .5 ties (half-up vs banker's)."""
    order = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    whole = Window.partitionBy(domain_col)
    quota = F.floor(
        _fraction_col(domain_col, fractions)
        * F.count(F.lit(1)).over(whole)
        + F.lit(0.5)
    )
    return (
        df.withColumn("__rk", F.row_number().over(order))
        .withColumn("__q", quota)
        .filter(F.col("__rk") <= F.col("__q"))
        .drop("__rk", "__q")
    )


def mixture_sample_threshold(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Scan-only mixture: keep rows whose 256-bucket content hash is
    below the domain's cutoff ``floor(frac_d · 256 + 0.5)``. Appends no
    shuffle to the plan — verify with ``.explain()``: the filter sits
    directly on the scan."""
    cutoff = F.floor(
        _fraction_col(domain_col, fractions)
        * F.lit(256)
        + F.lit(0.5)
    )
    return df.filter(hash_bucket(F.col(id_col)) < cutoff)

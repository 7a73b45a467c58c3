"""Z-order (Morton-curve) bit interleaving as Catalyst expressions.

Interleaving the bits of N columns — the Z-order / Morton curve — gives
EVERY interleaved column locality in the same linear order; it is the
key behind Delta Lake's ``OPTIMIZE ZORDER BY`` and Iceberg's sort
orders, built here from Catalyst bit expressions only (public Spark
API; no external formats).

Scale shape: ``zvalue`` unrolls to ``bits × N`` codegen'd
shift/and/add terms — whole-stage-codegen scalar work, no UDF, no
shuffle.

The same unrolled expression is emitted as engine-portable SQL by
``zvalue_sql`` — one loop generates both sides, so the registry's
differential oracle checks the interleave bit-for-bit.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Bit-interleave ``cols`` into one long (Morton code).

    Each input is masked to its low ``bits`` bits (callers scale/bin
    real-valued dimensions first — the curve only needs rank locality,
    not exact magnitudes). Term ``i`` of column ``j`` lands at output
    bit ``i·N + j``; positions are disjoint, so plain addition is the
    OR and Catalyst folds the whole thing into one codegen'd
    expression. ``bits × N`` must stay ≤ 63 (long, sign bit unused).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zvalue needs at least two columns to interleave")
    if bits < 1:
        raise ValueError("bits must be >= 1")
    if bits * n > 63:
        raise ValueError(f"bits*n = {bits * n} exceeds the 63-bit budget")
    mask = (1 << bits) - 1
    masked = [_as_col(c).cast("long").bitwiseAND(F.lit(mask)) for c in cols]
    terms = [
        F.shiftleft(
            F.shiftright(mc, i).bitwiseAND(F.lit(1)), i * n + j
        )
        for i in range(bits)
        for j, mc in enumerate(masked)
    ]
    return functools.reduce(operator.add, terms).cast("long")


def zvalue_sql(cols: list[str], bits: int = 16) -> str:
    """The SAME unrolled interleave as ANSI/DuckDB SQL — generated by
    the same loop so Spark and the oracle agree by construction."""
    n = len(cols)
    mask = (1 << bits) - 1
    masked = [f"(({c}) & {mask})" for c in cols]
    terms = [
        f"((({mc} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, mc in enumerate(masked)
    ]
    return "(" + " + ".join(terms) + ")"

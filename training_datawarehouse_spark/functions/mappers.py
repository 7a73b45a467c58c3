"""Derived-scalar mapper registry (OP-PRJ-2 / OP-UDF-1).

The reference dispatches these by name through ``eval``
(``populate_from_json.py:410,432,552-582``); here they are a static dict
of native Column builders — Catalyst codegens them, no Python at runtime.

Key semantic (SURVEY §2.3.2): mappers are recomputed **after**
aggregation from the already-aggregated inputs — ``mph`` from summed km
and summed seconds, ``rpe_tss`` from the seconds-weighted-mean rpe and
summed seconds — so ``rpe_tss(merged) ≠ Σ rpe_tss(parts)``.

Each builder reads the columns ``km``, ``seconds`` and ``rpe`` by
name, so the same registry works pre- and post-aggregation.
Div-by-zero guards mirror the reference (``seconds > 0`` else 0.0),
rounding is banker's 1dp (reference :557,567,580 use Python
``round(x, 1)``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _mph() -> Column:
    miles = F.col("km") * F.lit(0.621371)
    hours = F.col("seconds") / F.lit(3600.0)
    return F.when(F.col("seconds") > 0, F.bround(miles / hours, 1)).otherwise(F.lit(0.0))


def _kph() -> Column:
    hours = F.col("seconds") / F.lit(3600.0)
    return F.when(F.col("seconds") > 0, F.bround(F.col("km") / hours, 1)).otherwise(F.lit(0.0))


def _rpe_tss() -> Column:
    # rpe² · seconds / (49·36): a TSS-like load from perceived exertion
    # (reference :572-582). 49 = max_rpe², 36 = s/h · h-normalization.
    return F.bround(
        F.col("rpe") * F.col("rpe") * F.col("seconds") / F.lit(49.0 * 36.0), 1
    )


MAPPERS: dict[str, Callable[[], Column]] = {
    "mph": _mph,
    "kph": _kph,
    "rpe_tss": _rpe_tss,
}

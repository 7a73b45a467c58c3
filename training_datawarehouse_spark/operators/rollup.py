"""Periodic (week/month) rollups (OP-AGG-6; reference
``create_and_populate_agg_tables`` :305-342).

Day-grain lattice rows → one row per (cell, period) with:
- ``MAX(date)`` as the representative date (reference :538-539),
- SUM for Sum-tagged columns,
- **plain AVG** for Mean-tagged columns — deliberately different from
  the day-grain seconds-weighted mean (SURVEY §2.3.6),
- columns with no AggMethod dropped (reference :540-542).

One shuffle on (cell keys, period label); partial aggregation map-side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..specs import ColumnSpec, rollup_exprs


def periodic_rollup(
    df: DataFrame,
    period_col: str,
    specs: Sequence[ColumnSpec] | None = None,
    keys: Sequence[str] = (),
    measures: Sequence[Column] | None = None,
) -> DataFrame:
    """Roll day rows up to ``period_col`` grain (``year_week`` or
    ``year_month``).

    Either pass ``specs`` (config-driven, mirrors the reference's
    generated agg list :537-549) or explicit ``measures``.
    """
    aggs: list[Column] = [F.max("date").alias("date")]
    if specs is not None:
        aggs += rollup_exprs(list(specs))
    if measures is not None:
        aggs += list(measures)
    return df.groupBy(*keys, period_col).agg(*aggs)

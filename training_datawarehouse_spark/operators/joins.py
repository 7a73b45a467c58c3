"""Join operators Spark lacks as built-ins: as-of join (backward /
forward / nearest, optional tolerance — the full pandas
``merge_asof`` surface).

An as-of join attaches, to each left row, the nearest right row at or
before (backward) / at or after (forward) / on either side (nearest)
the left row's timestamp, per key — the canonical shape for "state as
of event time" in training-data pipelines (sensor readings, price
marks, feature snapshots).

Spark has no ASOF JOIN; the naive formulation (range join + per-key
max) explodes quadratically. Implementation here is the scalable
union-and-carry shape:

1. tag left/right rows, align schemas, union;
2. ONE shuffle: window per key ordered by (ts, tag) with right rows
   sorting before left at equal ts (>= semantics);
3. ``last(row_struct, ignorenulls=True)`` over the unbounded-preceding
   frame carries each right row forward ATOMICALLY — the whole payload
   travels as one struct, so a NULL value column in the matched row
   stays NULL instead of tearing through to an older row (the r12
   advice finding: per-column carries could emit a value from outside
   the tolerance window when the nearest row's column was NULL);
4. keep only left rows, unpack the struct.

``direction="nearest"`` runs BOTH carries over the same union — the
two window sorts share one partitioning, so Catalyst plans a single
exchange with two in-partition sorts — and picks the candidate with
the smaller |gap| (tie → backward, pandas' rule), after nulling each
side past the tolerance.

Cost: one shuffle + one (two for nearest) in-partition sort of
|left|+|right| slim rows — the same budget as a regular sort-merge
join, with no row explosion on dense right sides. Matches DuckDB's
``ASOF LEFT JOIN`` semantics (inclusive), which is the differential
oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Inclusive as-of join per key — the full merge_asof surface:

    - ``direction="backward"`` (default): most recent right row with
      right ts <= left ts.
    - ``direction="forward"``: nearest following right row with
      right ts >= left ts — the SAME union-and-carry plan with the
      window sort reversed (still one shuffle, no row explosion).
    - ``direction="nearest"``: whichever of the backward/forward
      candidates has the smaller |left ts − right ts|; equidistant
      ties resolve to the backward row (pandas merge_asof's rule).
      Both carries run over one union → one exchange, two sorts.
    - ``tolerance``: maximum |left ts − matched ts| in the units of
      ``ts.cast("double")`` (epoch SECONDS for timestamps); a match
      farther away than the tolerance nulls out, exactly pandas
      ``merge_asof(tolerance=...)`` semantics. Under ``nearest`` the
      tolerance gates each side BEFORE the argmin, so a backward row
      past the tolerance loses to an in-tolerance forward row.

    Returns every left row plus ``<value_col>_asof`` columns from
    the matched right row (null when no match; NULL value columns of
    the matched row stay NULL — the right row is carried as one
    struct, never column-by-column). Ties on (key, ts) between right
    rows resolve to the last in the union sort — make right (key, ts)
    unique upstream when exact tie determinism matters.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward' or 'nearest'")
    keys = list(keys)
    out_cols = list(left.columns)

    carried = [f"{c}_asof" for c in value_cols]
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.struct(
            *[F.col(c).alias(cc) for c, cc in zip(value_cols, carried)],
            F.col(right_ts).alias("__rts"),
        ).alias("__rrow"),
    ).withColumn("__is_left", F.lit(0))
    l = left.withColumn("__ts", F.col(left_ts)) \
        .withColumn("__is_left", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    def w(desc: bool):
        # forward: scan time DESCENDING so "unbounded preceding" means
        # "everything at-or-after me"; right (0) still sorts before
        # left (1) at equal ts, keeping the join inclusive
        order = (
            [F.col("__ts").desc(), F.col("__is_left")]
            if desc
            else [F.col("__ts"), F.col("__is_left")]
        )
        return (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )

    def gated(cand, gap):
        if tolerance is None:
            return cand
        return F.when(gap <= F.lit(float(tolerance)), cand)

    lts = F.col("__ts").cast("double")
    if direction in ("backward", "forward"):
        u = u.withColumn(
            "__mb",
            F.last("__rrow", ignorenulls=True)
            .over(w(desc=direction == "forward")),
        )
        out = u.filter(F.col("__is_left") == 1)
        gap = F.abs(lts - F.col("__mb.__rts").cast("double"))
        chosen = gated(F.col("__mb"), gap)
    else:
        u = (
            u.withColumn("__mb",
                         F.last("__rrow", ignorenulls=True).over(w(False)))
            .withColumn("__mf",
                        F.last("__rrow", ignorenulls=True).over(w(True)))
        )
        out = u.filter(F.col("__is_left") == 1)
        gb = lts - F.col("__mb.__rts").cast("double")
        gf = F.col("__mf.__rts").cast("double") - lts
        mb = gated(F.col("__mb"), gb)
        mf = gated(F.col("__mf"), gf)
        chosen = F.when(
            mb.isNotNull() & (mf.isNull() | (gb <= gf)), mb
        ).otherwise(mf)
    out = out.withColumn("__m", chosen)
    return out.select(
        *out_cols, *[F.col("__m")[cc].alias(cc) for cc in carried]
    )

"""The 3-dimensional aggregation lattice (OP-AGG-1, SURVEY §2.3.1).

The reference materializes one SQLite table per cell of
``CUBE(activity, activity_type, equipment)`` — 8 grouping sets — with
absent dimensions labelled ``'All'`` (reference
``populate_from_json.py:345-358,363-372``). We compute the identical 8
sets in ONE DataFrame with grain ``(dims..., measures...)``.

The subtle part (reference :391-392): rows whose equipment is
``'Not Set'`` or ``''`` are excluded **only from grouping sets that
include the equipment dimension**; sets without equipment still count
them. This needs only ONE grouping-sets pass: within equipment-grouped
sets, excluded rows can only land in groups keyed by a Not-Set value,
so dropping those output groups (guarded by ``grouping(equipment)``)
is exactly the per-set filter. Equipment names are space-stripped
*after* the Not-Set check but *before* grouping (reference :372).

Scale: one scan, one 8× Expand + partial (map-side) agg, one shuffle;
map-side combine collapses to |distinct cells| per task — cell
cardinality is the product of three low-cardinality dims, so the
shuffle is negligible at any scale factor. For massive fact tables use
``cube_lattice_two_level`` below, which pre-aggregates to cell grain
so the Expand touches |cells| rows instead of every fact row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import strip_spaces

NOT_SET = ("Not Set", "")


def _label(c: str) -> Column:
    """'All' roll-up label for a non-grouped dimension (reference :363-372).

    Uses ``grouping()`` — must be evaluated inside the Aggregate (i.e.
    passed to ``.agg``), Catalyst rejects it in a downstream Project.
    """
    return F.when(F.grouping(c) == 1, F.lit("All")).otherwise(F.col(c))


def cube_lattice(
    df: DataFrame,
    measures: list[Column],
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Aggregate ``df`` over the full 8-set lattice of ``activity``,
    ``activity_type`` and ``equipment`` in ONE pass.

    ``measures`` are reusable unresolved aggregate expressions (built by
    ``specs.agg_exprs`` or ad hoc). ``extra_keys`` (e.g. ``date``) are
    grouped in every set — the reference lattice is per-day.

    Note: a literal dimension value ``'All'`` in the data produces a row
    indistinguishable from the roll-up label by key — faithful to the
    reference, whose cell naming has the identical collision
    (``:363-372``); consumers needing the distinction should read
    ``grouping_id`` before the label projection.

    The per-set Not-Set exclusion (§2.3.1) does NOT need two passes:
    in grouping sets that include ``equipment``, Not-Set rows can only
    feed groups whose key IS a Not-Set value (a group key is shared by
    all its rows), so dropping those output groups — but only where
    ``grouping(equipment) = 0`` — removes exactly the excluded rows
    while sets without equipment still count them. One scan, one
    Expand, one shuffle. Equipment is space-stripped *before* grouping
    (group identity uses the stripped name, reference :372) but only
    for non-Not-Set values (the check precedes the strip).
    """
    extra = extra_keys or []
    a, t, e = "activity", "activity_type", "equipment"

    e_col = F.col(e)
    src = df.withColumn(
        e, F.when(e_col.isin(*NOT_SET), e_col).otherwise(strip_spaces(e_col))
    )
    agg = src.groupingSets(
        [
            [*extra], [*extra, a], [*extra, t], [*extra, a, t],
            [*extra, e], [*extra, a, e], [*extra, t, e], [*extra, a, t, e],
        ],
        *extra, a, t, e,
    ).agg(
        _label(a).alias("__a"), _label(t).alias("__t"), _label(e).alias("__e"),
        F.grouping(e).alias("__ge"),
        *measures,
    )
    kept = agg.filter((F.col("__ge") == 1) | ~F.col(e).isin(*NOT_SET))
    mcols = [
        c for c in agg.columns
        if c not in (*extra, a, t, e, "__a", "__t", "__e", "__ge")
    ]
    return kept.select(
        *extra, F.col("__a").alias(a), F.col("__t").alias(t),
        F.col("__e").alias(e), *mcols
    )


def cube_lattice_two_level(
    df: DataFrame,
    base_aggs: list[Column],
    re_aggs: list[Column],
) -> DataFrame:
    """Lattice via pre-aggregation — the shape that wins at 100 TB.

    ``cube_lattice`` feeds every input row through an 8-way Expand
    (8× the aggregation work and shuffle input). When every measure is
    algebraic (sum / weighted-sum / max / count — all of the
    reference's, SURVEY §2.1), aggregate once to the physical cell
    grain ``(activity, activity_type, equipment)`` with ``base_aggs``
    (ordinary shuffle, map-side combine collapses to |cells| rows per
    task), then run the 8-set lattice over the tiny cell table with ``re_aggs`` re-merging
    the partials. The per-set Not-Set filter (SURVEY §2.3.1) drops
    whole cells, so applying it to the pre-aggregate is exact.
    """
    base = df.groupBy("activity", "activity_type", "equipment").agg(*base_aggs)
    return cube_lattice(base, re_aggs)

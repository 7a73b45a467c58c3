"""Config-as-data column specifications.

The reference drives its entire schema, projection, casting, unit
conversion and aggregation-method choice from four Python list-of-dict
maps (reference ``src/populate_from_json.py:28-84``). We keep the same
design: one declarative spec per column, and pure generator functions
that emit (a) Spark select-expression lists (projection with unit
factor + banker's rounding) and (b) Spark aggregate-expression lists.
No ``eval`` — the reference dispatches mapper functions by name via
``eval`` (``populate_from_json.py:410,432``); here mappers are a
static registry of Column builders (see ``functions/mappers.py``).

All functions here are pure and unit-testable without a SparkSession
(they build unresolved Column expressions only).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Agg(str, Enum):
    """Aggregation method tags (reference ``populate_from_json.py:18-21``)."""

    SUM = "Sum"
    WEIGHTED_MEAN = "Mean"  # seconds-weighted (reference :416-420)
    BOOL_OR = "BoolOr"  # SUM then nonzero (reference :438-442)
    NONE = "None"  # dropped from rollups (reference :540-542)


@dataclass(frozen=True)
class ColumnSpec:
    """One output column: source field, type, unit factor, agg method.

    ``factor`` multiplies the source value at ingest; ``round_dp`` applies
    banker's rounding (Python ``round`` == HALF_EVEN → ``F.bround``,
    reference :435-437). ``mapper`` names a derived-column builder from the
    mapper registry, recomputed *after* aggregation (reference :431-433 —
    see SURVEY §2.3.2).
    """

    name: str
    source: str | None = None
    dtype: T.DataType = field(default_factory=T.DoubleType)
    factor: float = 1.0
    round_dp: int = 2
    agg: Agg = Agg.NONE
    mapper: str | None = None
    default: float | int | str | None = 0

    def is_integer(self) -> bool:
        return isinstance(self.dtype, (T.IntegerType, T.LongType))

    def is_boolean(self) -> bool:
        return isinstance(self.dtype, T.BooleanType)

    def ingest_expr(self) -> Column:
        """Projection expression: coalesce → factor → round/cast.

        Mirrors reference ``value_string_for_sql`` (:428-446):
        REAL    → round(x * factor, 2)       [banker's]
        INTEGER → int(round(x * factor, 0))  [banker's then truncate]
        BOOLEAN → 0 if x == 0 else 1
        """
        src = F.coalesce(F.col(self.source or self.name), F.lit(self.default))
        if isinstance(self.dtype, T.StringType):
            return src.cast("string").alias(self.name)
        if self.is_boolean():
            return (src.cast("double") != 0).cast("int").alias(self.name)
        scaled = src.cast("double") * F.lit(self.factor)
        if self.is_integer():
            return F.bround(scaled, 0).cast("long").alias(self.name)
        return F.bround(scaled, self.round_dp).alias(self.name)

    def agg_expr(self) -> Column | None:
        """Aggregate expression for the lattice merge (reference :409-422).

        SUM → plain sum; WEIGHTED_MEAN → sum(v·seconds)/sum(seconds)
        with integer truncation for INTEGER columns (reference :421-422);
        BOOL_OR → max (any nonzero). NONE columns are not aggregated.
        """
        c = F.col(self.name)
        if self.agg is Agg.SUM:
            return F.sum(c).alias(self.name)
        if self.agg is Agg.WEIGHTED_MEAN:
            wm = F.sum(c * F.col("seconds")) / F.sum(F.col("seconds"))
            if self.is_integer():
                wm = wm.cast("long")  # truncation toward zero == Python int()
            return wm.alias(self.name)
        if self.agg is Agg.BOOL_OR:
            return F.max(c).alias(self.name)
        return None

    def rollup_expr(self) -> Column | None:
        """Aggregate expression for week/month rollups (reference :537-549).

        Deliberately different from ``agg_expr``: rollups use **plain AVG**
        for Mean columns (reference :545-546), and drop columns with no
        AggMethod entirely (SURVEY §2.3.6).
        """
        c = F.col(self.name)
        if self.agg is Agg.SUM:
            return F.sum(c).alias(self.name)
        if self.agg is Agg.WEIGHTED_MEAN:
            return F.avg(c).alias(self.name)
        if self.agg is Agg.BOOL_OR:
            return F.max(c).alias(self.name)
        return None


# --------------------------------------------------------------------------
# The reference's four maps, re-expressed (semantics of reference :28-84).
# Unit factors: miles 0.621371, minutes 1/60, hours 1/3600, feet 3.28084,
# sleep h→s 3600, h→min 60, lbs 2.20462 (reference :29,35-38,55-57,177).
# --------------------------------------------------------------------------

D = T.DoubleType()
L = T.LongType()
B = T.BooleanType()
S = T.StringType()

WORKOUT_SPECS: list[ColumnSpec] = [
    ColumnSpec("km", "km", D, agg=Agg.SUM),
    ColumnSpec("miles", "km", D, factor=0.621371, agg=Agg.SUM),
    ColumnSpec("tss", "tss", L, agg=Agg.SUM),
    ColumnSpec("rpe", "rpe", D, agg=Agg.WEIGHTED_MEAN),
    ColumnSpec("hr", "hr", L, agg=Agg.WEIGHTED_MEAN),
    ColumnSpec("watts", "watts", L, agg=Agg.WEIGHTED_MEAN),
    ColumnSpec("seconds", "seconds", L, agg=Agg.SUM),
    # minutes/ascent_feet are INTEGER in the reference (:35-38): ingest is
    # int(round(x·factor)) — 90 s → 2 minutes, not 1.5 (SURVEY §2.3.9).
    ColumnSpec("minutes", "seconds", L, factor=1 / 60, agg=Agg.SUM),
    ColumnSpec("hours", "seconds", D, factor=1 / 3600, agg=Agg.SUM),
    ColumnSpec("ascent_metres", "ascentMetres", L, agg=Agg.SUM),
    ColumnSpec("ascent_feet", "ascentMetres", L, factor=3.28084, agg=Agg.SUM),
    ColumnSpec("kj", "kj", L, agg=Agg.SUM),
    ColumnSpec("reps", "reps", L, agg=Agg.SUM),
    ColumnSpec("is_race", "isRace", B, agg=Agg.BOOL_OR),
    ColumnSpec("brick", "brick", B, agg=Agg.BOOL_OR),
    ColumnSpec("watts_estimated", "wattsEstimated", B, agg=Agg.BOOL_OR),
    ColumnSpec("cadence", "cadence", L, agg=Agg.WEIGHTED_MEAN),
    # Derived mapper columns: recomputed AFTER aggregation (SURVEY §2.3.2).
    ColumnSpec("rpe_tss", None, D, agg=Agg.SUM, mapper="rpe_tss"),
    ColumnSpec("mph", None, D, agg=Agg.WEIGHTED_MEAN, mapper="mph"),
    ColumnSpec("kph", None, D, agg=Agg.WEIGHTED_MEAN, mapper="kph"),
]

DAY_SPECS: list[ColumnSpec] = [
    ColumnSpec("fatigue", "fatigue", D, agg=Agg.WEIGHTED_MEAN),
    ColumnSpec("motivation", "motivation", D, agg=Agg.WEIGHTED_MEAN),
    # sleep_seconds/sleep_minutes are INTEGER in the reference (:55-57);
    # sleep_hours is Sum-tagged there too, so weekly/monthly rollups hold
    # TOTAL sleep, not the daily average.
    ColumnSpec("sleep_seconds", "sleep", L, factor=3600, agg=Agg.SUM),
    ColumnSpec("sleep_minutes", "sleep", L, factor=60, agg=Agg.SUM),
    ColumnSpec("sleep_hours", "sleep", D, factor=1, agg=Agg.SUM),
    ColumnSpec("type", "type", S, agg=Agg.NONE, default="Normal"),
    ColumnSpec("sleep_quality", "sleepQuality", S, agg=Agg.NONE, default="Average"),
]

# Mean-tagged (reference agg-list generator :540-546 includes the
# calculated_map with Mean → plain AVG in rollups); at day grain these
# are computed by E2/E3, never merged, so only ``rollup_expr`` fires.
CALCULATED_SPECS: list[ColumnSpec] = [
    ColumnSpec(n, None, D, agg=Agg.WEIGHTED_MEAN)
    for n in (
        "ctl", "atl", "tsb", "rpe_ctl", "rpe_atl", "rpe_tsb",
        "monotony", "strain", "rpe_monotony", "rpe_strain",
    )
]


def select_exprs(specs: list[ColumnSpec]) -> list[Column]:
    return [s.ingest_expr() for s in specs]


def agg_exprs(specs: list[ColumnSpec]) -> list[Column]:
    out = [e for s in specs if (e := s.agg_expr()) is not None and s.mapper is None]
    return out


def rollup_exprs(specs: list[ColumnSpec]) -> list[Column]:
    return [e for s in specs if (e := s.rollup_expr()) is not None]

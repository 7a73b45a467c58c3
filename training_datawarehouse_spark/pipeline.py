"""The full training-diary pipeline: the reference's four entry points
(E1–E4, SURVEY §3) composed as ONE Spark DAG.

Reference shape (``populate_from_json.py``): imperative per-day loops,
8 SQLite tables per day-cell, per-row UPDATE passes for EWMA/rolling/
interpolation. Engine shape: declarative —

  E1  ingest:   read diary JSON → project specs → cube lattice per date
                → densify (date spine × cells) → join day dimension
                → join interpolated physiology (broadcast)
  E2  tsb:      per-cell EWMA (ctl/atl/tsb + rpe_ variants)
  E3  strain:   per-cell 7-row rolling monotony/strain (pure windows)
  E4  rollup:   week/month grain (plain AVG, MAX date)

Everything before E2 is a single shuffle-bounded DAG. E2 shuffles
nothing itself: the densified facts are already hash-partitioned on the
cell keys (the ``cells`` distinct is the stream side of densify's cross
join and of the broadcast joins after it), so no exchange sits below the
grouped Python operator. E3 cannot reuse that partitioning: the Python
operator emits new attributes, so its windows plan a fresh exchange on
the cell keys. E4 is one more shuffle onto (cell, period).

Scale posture: facts partitioned by cell keys; the physiological series
and day dimension are date-keyed and tiny relative to facts → broadcast
joins; lattice cells are low-cardinality so cell-partitioned writes are
safe at any fact volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import specs as S
from .functions.mappers import MAPPERS
from .functions.scalars import time_dims
from .operators.lattice import cube_lattice
from .operators.rollup import periodic_rollup
from .operators.timeseries import (
    densify,
    ewma,
    interpolate_linear,
    rolling_monotony_strain,
    tsb,
)
from .sources.diary import read_diary

CELL_KEYS = ["activity", "activity_type", "equipment"]


def build_lattice(workouts: DataFrame) -> DataFrame:
    """E1 core: config-projected workouts → per-date 8-set cube with
    mapper columns recomputed post-aggregation (SURVEY §2.3.1/2.3.2)."""
    projected = workouts.select(
        "date", *CELL_KEYS,
        *S.select_exprs([c for c in S.WORKOUT_SPECS if c.mapper is None]),
    )
    measures = S.agg_exprs(S.WORKOUT_SPECS)
    lat = cube_lattice(projected, measures, extra_keys=["date"])
    for spec in S.WORKOUT_SPECS:
        if spec.mapper:
            lat = lat.withColumn(spec.name, MAPPERS[spec.mapper]())
    return lat


def join_day_dimension(lat: DataFrame, days: DataFrame) -> DataFrame:
    """Day attributes are a date-keyed dimension broadcast onto every
    cell (SURVEY §2.3.10)."""
    day_dim = days.select("date", *S.select_exprs(S.DAY_SPECS))
    return lat.join(F.broadcast(day_dim), "date", "left")


def interpolated_physiology(weights: DataFrame, physio: DataFrame) -> DataFrame:
    """OP-FLT-2 + OP-TS-1/2/3 + the lbs projection (reference :151-236).

    Positive-only filters, daily reindex, linear interpolation, then
    ``lbs = bround(kg·2.20462, 1)`` computed from the *interpolated* kg
    (reference :177). The reference's rmssd←sdnn copy bug (:213,218) is
    NOT reproduced — we implement the evident intent (SURVEY §2.3.8).
    """
    kg_fat = interpolate_linear(
        weights.filter(F.col("kg") > 0).groupBy("date").agg(
            F.first("kg").alias("kg"), F.first("fatPercent").alias("fat_percentage")
        ),
        ["kg", "fat_percentage"],
    )
    hrv = interpolate_linear(
        physio.groupBy("date").agg(
            F.first(F.when(F.col("restingHR") > 0, F.col("restingHR"))).alias("resting_hr"),
            F.first(F.when(F.col("restingSDNN") > 0, F.col("restingSDNN"))).alias("sdnn"),
            F.first(F.when(F.col("restingRMSSD") > 0, F.col("restingRMSSD"))).alias("rmssd"),
        ),
        ["resting_hr", "sdnn", "rmssd"],
    )
    out = kg_fat.join(hrv, "date", "full")
    return out.withColumn("lbs", F.bround(F.col("kg") * 2.20462, 1))


def run_e1_ingest(spark: SparkSession, diary_path: str) -> DataFrame:
    """E1: diary document → densified per-cell daily facts."""
    frames = read_diary(spark, diary_path)
    lat = build_lattice(frames["workouts"])

    # Days without workouts only seed the All/All/All cell (§2.3.10);
    # densification then gives every cell every date.
    day_dates = frames["days"].select("date").distinct()
    all_cell = day_dates.join(
        lat.filter((F.col("activity") == "All") & (F.col("activity_type") == "All")
                   & (F.col("equipment") == "All")).select("date"),
        "date", "left_anti",
    ).select(
        "date",
        F.lit("All").alias("activity"), F.lit("All").alias("activity_type"),
        F.lit("All").alias("equipment"),
    )
    lat = lat.unionByName(all_cell, allowMissingColumns=True)

    workout_defaults = {
        c.name: 0 for c in S.WORKOUT_SPECS if not isinstance(c.dtype, type(S.S))
    }
    dense = densify(lat, keys=CELL_KEYS, defaults=workout_defaults)
    dense = join_day_dimension(dense, frames["days"])
    phys = interpolated_physiology(frames["weights"], frames["physio"])
    dense = dense.join(F.broadcast(phys), "date", "left")

    dims = time_dims(F.col("date"))
    for name, expr in dims.items():
        dense = dense.withColumn(name, expr)
    return dense


def run_e2_tsb(facts: DataFrame) -> DataFrame:
    """E2: CTL/ATL/TSB + rpe_ variants per lattice cell (reference
    ``calculate_all_tsb`` :246-274)."""
    curves = ewma(
        facts,
        [("tss", "ctl", 42.0), ("tss", "atl", 7.0),
         ("rpe_tss", "rpe_ctl", 42.0), ("rpe_tss", "rpe_atl", 7.0)],
        keys=CELL_KEYS,
    )
    curves = tsb(curves, "ctl", "atl", "tsb")
    return tsb(curves, "rpe_ctl", "rpe_atl", "rpe_tsb")


def run_e3_strain(facts: DataFrame) -> DataFrame:
    """E3: monotony/strain + rpe_ variants (reference :276-302)."""
    out = rolling_monotony_strain(facts, "tss", keys=CELL_KEYS)
    return rolling_monotony_strain(out, "rpe_tss", keys=CELL_KEYS, prefix="rpe_")


def run_e4_rollup(facts: DataFrame, period_col: str) -> DataFrame:
    """E4: week/month rollup with the reference's plain-AVG semantics.

    Includes the calculated columns (ctl/atl/tsb/monotony/strain and
    rpe_ variants) — the reference's agg-list generator (:540-546)
    rolls those up with Mean → AVG; only type/sleep_quality/physiology
    are dropped (SURVEY §2.3.6)."""
    return periodic_rollup(
        facts, period_col,
        specs=S.WORKOUT_SPECS + S.DAY_SPECS + S.CALCULATED_SPECS,
        keys=CELL_KEYS,
    )


def write_warehouse(facts: DataFrame, path: str) -> None:
    """OP-SNK-1: materialize the fact lattice, partitioned by cell keys.

    The reference's one-SQLite-table-per-cell (``create_table``
    :457-501) becomes parquet partition directories — a reader filtering
    on cell keys touches only its partitions (dynamic partition pruning;
    see test_pipeline partition-pruning assertion). Cell cardinality is
    bounded (|activities|×|types|×|equipment|), so partition count stays
    sane at any fact volume; ``date`` stays *inside* each partition,
    sorted, so parquet row-group min/max stats let date-range predicates
    skip row groups without a directory explosion.
    """
    (facts.sortWithinPartitions(*CELL_KEYS, "date")
     .write.mode("overwrite").partitionBy(*CELL_KEYS).parquet(path))

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


def write_warehouse(facts: DataFrame, path: str, mode: str = "overwrite") -> None:
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
    facts.sortWithinPartitions(*CELL_KEYS, "date").write.mode(mode).partitionBy(
        *CELL_KEYS
    ).parquet(path)


def append_days(
    spark: SparkSession, warehouse_path: str, new_facts: DataFrame
) -> DataFrame:
    """OP-SNK-2 + OP-DD-1: idempotent append — first-writer-wins on
    (date, cell). The reference relied on ``date UNIQUE`` +
    swallow-error inserts (:531-535); here the existing (date, cell)
    keys anti-join away re-arriving rows BEFORE the write, so the
    stored table never holds duplicates. Only the slim key columns of
    the existing table are read (column pruning reaches the scan)."""
    existing = spark.read.parquet(warehouse_path)
    keys = ["date", *CELL_KEYS]
    fresh = new_facts.join(existing.select(*keys), keys, "left_anti")
    fresh.write.mode("append").partitionBy(*CELL_KEYS).parquet(warehouse_path)
    return spark.read.parquet(warehouse_path)


def delete_rows(
    spark: SparkSession,
    warehouse_path: str,
    predicate,
) -> DataFrame:
    """Takedown-style deletion from the partitioned warehouse: rewrite
    ONLY the partitions that contain matching rows.

    Without a table format that supports row deletes, the primitive is
    a partition-selective rewrite: find affected cell partitions,
    anti-filter their rows, and overwrite just those partition
    directories via dynamic partition overwrite — untouched partitions'
    files are never read or rewritten (asserted by mtime in tests).
    ``predicate`` is a boolean Column (e.g. a doc-id blocklist via
    ``isin`` or a semi-join flag).
    """
    facts = spark.read.parquet(warehouse_path)
    affected_cells = facts.filter(predicate).select(*CELL_KEYS).distinct()
    survivors = facts.join(F.broadcast(affected_cells), CELL_KEYS, "left_semi").filter(
        ~predicate
    )
    # Dynamic partition overwrite only rewrites partitions PRESENT in
    # the output. A cell whose every row matches the predicate yields
    # zero survivor rows → no output partition → its old files would
    # silently stay on disk. Find those fully-emptied cells and remove
    # their directories explicitly. Cell cardinality is bounded by
    # design, so the collect is a handful of rows. The directories are
    # resolved by LISTING the store and decoding Hive partition names —
    # never by string-building paths from the values: Spark writes
    # null/'' partition values as __HIVE_DEFAULT_PARTITION__ and
    # percent-escapes special characters (%, :, =, /, #, ...), so a
    # hand-built f"{k}={v}" path misses exactly those cells and the
    # "deleted" rows would silently survive.
    surviving_cells = survivors.select(*CELL_KEYS).distinct()
    emptied = (
        affected_cells.join(surviving_cells, CELL_KEYS, "left_anti").collect()
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        survivors.write.mode("overwrite").partitionBy(*CELL_KEYS).parquet(warehouse_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if emptied:
        dirs = _partition_dirs(spark, warehouse_path, len(CELL_KEYS))
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.Path(warehouse_path).getFileSystem(hconf)
        for row in emptied:
            key = tuple(_normalize_part_value(row[k]) for k in CELL_KEYS)
            path = dirs.get(key)
            if path is not None:
                fs.delete(path, True)
    return spark.read.parquet(warehouse_path)


def _normalize_part_value(v) -> str | None:
    """A partition value as it round-trips through a Hive-style layout:
    null and '' are both stored as the default-partition token and read
    back as null — one equivalence class."""
    if v is None or v == "":
        return None
    return str(v)


def _unescape_part_name(name: str):
    """Decode one ``key=value`` directory's value the way Spark/Hive
    escaped it (``ExternalCatalogUtils.unescapePathName``): %XX byte
    escapes, __HIVE_DEFAULT_PARTITION__ → null."""
    import re

    if name == "__HIVE_DEFAULT_PARTITION__":
        return None
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _partition_dirs(spark: SparkSession, root: str, n_levels: int) -> dict:
    """Map (decoded partition values...) → Hadoop Path of the leaf
    directory, by listing the store (works on any Hadoop-compatible FS,
    not just local disk). Decoding the on-disk names and matching the
    decoded tuple is total — unlike re-implementing the escape rules,
    which silently breaks the day Spark's escape set and ours diverge."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root_path = jvm.org.apache.hadoop.fs.Path(root)
    fs = root_path.getFileSystem(hconf)
    out: dict = {}

    def walk(path, values, depth):
        if depth == n_levels:
            out[tuple(values)] = path
            return
        for st in fs.listStatus(path):
            if st.isDirectory():
                name = st.getPath().getName()
                if "=" in name:
                    walk(
                        st.getPath(),
                        values + [_unescape_part_name(name.split("=", 1)[1])],
                        depth + 1,
                    )

    walk(root_path, [], 0)
    return out


def compact_warehouse(
    spark: SparkSession, warehouse_path: str, n_tasks: int = 32
) -> None:
    """Small-file compaction: rewrite every cell partition to ONE file
    (append-heavy ingest fragments partitions; scan cost at 100 TB
    tracks file count as much as bytes). Hash-repartitioning on the
    cell keys routes each partition's rows to exactly one of
    ``n_tasks`` tasks — one output file per directory, partitions
    compacted in parallel — then dynamic overwrite swaps directories
    in place."""
    facts = spark.read.parquet(warehouse_path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            facts.repartition(n_tasks, *CELL_KEYS)
            .write.mode("overwrite")
            .partitionBy(*CELL_KEYS)
            .parquet(warehouse_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

"""End-to-end diary pipeline test (E1→E4) with the property-based
lattice invariants from SURVEY §5.4."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from training_datawarehouse_spark.pipeline import (
    CELL_KEYS,
    run_e1_ingest,
    run_e2_tsb,
    run_e3_strain,
    run_e4_rollup,
)


@pytest.fixture(scope="module")
def facts(spark, diary_path):
    df = run_e1_ingest(spark, diary_path)
    df = run_e2_tsb(df)
    df = run_e3_strain(df)
    df.cache()
    yield df
    df.unpersist()


def test_every_cell_has_every_date(facts):
    # also OP-DD-1 (insert-or-ignore on (date, cell)): no cell holds a
    # date twice
    span = facts.agg(F.min("date"), F.max("date")).collect()[0]
    n_days = (span[1] - span[0]).days + 1
    per_cell = facts.groupBy(*CELL_KEYS).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("date").alias("nd")
    ).collect()
    assert all(r["n"] == n_days and r["nd"] == n_days for r in per_cell)


def test_tsb_identity(facts):
    bad = facts.filter(
        F.abs(F.col("tsb") - (F.col("ctl") - F.col("atl"))) > 1e-9
    ).count()
    assert bad == 0


def test_booleans_are_01(facts):
    for c in ("is_race", "brick", "watts_estimated"):
        vals = {r[0] for r in facts.select(c).distinct().collect()}
        assert vals <= {0, 1}


def test_all_cell_sum_invariant(facts):
    """All/All/All SUM(km) == Σ over activity-partition cells (the
    activity dimension has no Not-Set exclusion)."""
    total = facts.filter(
        (F.col("activity") == "All") & (F.col("activity_type") == "All")
        & (F.col("equipment") == "All")
    ).agg(F.sum("km")).collect()[0][0]
    parts = facts.filter(
        (F.col("activity") != "All") & (F.col("activity_type") == "All")
        & (F.col("equipment") == "All")
    ).agg(F.sum("km")).collect()[0][0]
    assert parts == pytest.approx(total, rel=1e-9)


def test_ctl_positive_where_load_exists(facts):
    row = facts.filter(
        (F.col("activity") == "All") & (F.col("activity_type") == "All")
        & (F.col("equipment") == "All")
    ).orderBy(F.col("date").desc()).first()
    assert row["ctl"] > 0


def test_interpolated_physiology_attached(facts):
    # kg interpolated onto every cell-date within the weights span
    some = facts.filter((F.col("kg") > 0)).count()
    assert some > 0
    # lbs = bround(kg·2.20462, 1) wherever kg present
    bad = facts.filter(
        (F.col("kg") > 0)
        & (F.abs(F.col("lbs") - F.bround(F.col("kg") * 2.20462, 1)) > 1e-9)
    ).count()
    assert bad == 0


def test_weekly_rollup_shapes(spark, facts):
    weekly = run_e4_rollup(facts, "year_week")
    cols = set(weekly.columns)
    # Mean columns present, no-AggMethod columns dropped (§2.3.6)
    assert "rpe" in cols and "km" in cols and "date" in cols
    assert "type" not in cols and "sleep_quality" not in cols
    # calculated columns roll up with plain AVG (reference agg-list
    # generator includes the calculated map; only type/sleep_quality/
    # physiology are dropped)
    for c in ("ctl", "atl", "tsb", "monotony", "strain"):
        assert c in cols, c
    assert "kg" not in cols and "resting_hr" not in cols
    # one row per (cell, week)
    dup = weekly.groupBy(*CELL_KEYS, "year_week").count().filter("count > 1").count()
    assert dup == 0


def test_weekly_rollup_calculated_and_sleep_semantics(spark, facts):
    """ctl rolls up as the plain AVG of the daily ctl values; sleep_hours
    rolls up as the SUM (the reference's day_map tags sleep as Sum)."""
    cell = (
        (F.col("activity") == "All") & (F.col("activity_type") == "All")
        & (F.col("equipment") == "All")
    )
    weekly = run_e4_rollup(facts, "year_week")
    some_week = weekly.filter(cell).orderBy("year_week").first()["year_week"]
    daily = facts.filter(cell & (F.col("year_week") == some_week))
    got = weekly.filter(cell & (F.col("year_week") == some_week)).first()
    exp = daily.agg(
        F.avg("ctl").alias("ctl"), F.sum("sleep_hours").alias("sleep_hours")
    ).first()
    assert got["ctl"] == pytest.approx(exp["ctl"], rel=1e-9)
    assert got["sleep_hours"] == pytest.approx(exp["sleep_hours"], rel=1e-9)


def test_monthly_rollup_sum_matches_daily(spark, facts):
    monthly = run_e4_rollup(facts, "year_month")
    m = monthly.filter(
        (F.col("activity") == "All") & (F.col("activity_type") == "All")
        & (F.col("equipment") == "All")
    ).agg(F.sum("km")).collect()[0][0]
    d = facts.filter(
        (F.col("activity") == "All") & (F.col("activity_type") == "All")
        & (F.col("equipment") == "All")
    ).agg(F.sum("km")).collect()[0][0]
    assert m == pytest.approx(d, rel=1e-9)


def test_warehouse_write_prune_and_idempotent_append(spark, facts, tmp_path):
    from training_datawarehouse_spark.pipeline import write_warehouse

    wh = str(tmp_path / "warehouse")
    write_warehouse(facts, wh)
    back = spark.read.parquet(wh)
    assert back.count() == facts.count()

    # cell-key filter must become a partition filter, not a data filter:
    # only that cell's files are scanned
    one = back.filter(
        (F.col("activity") == "Run") & (F.col("activity_type") == "Road")
        & (F.col("equipment") == "ShoesA")
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "activity" in plan.split("PartitionFilters")[1][:200]


def test_cli_main_end_to_end(diary_path, tmp_path):
    """`python -m training_datawarehouse_spark DIARY OUT` writes the
    partitioned warehouse + rollups (reference parity: one command)."""
    from training_datawarehouse_spark.__main__ import main

    out = str(tmp_path / "wh_cli")
    main([diary_path, out, "--cpus", "4"])
    import glob

    assert glob.glob(f"{out}/facts/activity=*/activity_type=*/equipment=*/*.parquet")
    assert glob.glob(f"{out}/weekly/*.parquet")
    assert glob.glob(f"{out}/monthly/*.parquet")


def test_get_spark_sizes_shuffle_from_its_master():
    """`--cpus N` passes master local[N] to get_spark: the shuffle must
    be planned N wide, not $SPARK_GRAFT_CPUS wide. A fresh process,
    because a session already running here would be reused."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from training_datawarehouse_spark.session import get_spark\n"
        "s = get_spark('shuffle-width', master='local[2]')\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "32", "SPARK_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        cwd=Path(__file__).resolve().parents[1], timeout=300, check=True,
    )
    assert out.stdout.split()[-1] == "2"


def test_scd2_merge_two_batches_vs_duckdb(spark):
    """SCD2 emulation (close + version + passthrough) across two update
    batches, differentially checked against a DuckDB reimplementation
    of the same semantics."""
    import duckdb

    from training_datawarehouse_spark.operators.scd import scd2_merge

    dim0 = spark.createDataFrame(
        [(1, "Shoes A", "Run", "2020-01-01", None, True),
         (2, "Bike One", "Bike", "2020-01-01", None, True),
         (3, "Old Fins", "Swim", "2019-06-01", "2020-01-01", False),
         (3, "New Fins", "Swim", "2020-01-01", None, True)],
        "eq_id long, name string, sport string, effective_from string, "
        "effective_to string, is_current boolean",
    ).selectExpr(
        "eq_id", "name", "sport",
        "CAST(effective_from AS TIMESTAMP) AS effective_from",
        "CAST(effective_to AS TIMESTAMP) AS effective_to", "is_current",
    )
    b1 = spark.createDataFrame(
        [(1, "Shoes A v2", "Run"),   # changed -> close + version
         (2, "Bike One", "Bike"),    # no-op -> ignored
         (4, "Trainer", "Bike")],    # new key
        "eq_id long, name string, sport string",
    )
    b2 = spark.createDataFrame(
        [(1, "Shoes A v3", "Run"),   # changes again
         (4, "Trainer", "Ride")],    # tracked attr changes
        "eq_id long, name string, sport string",
    )
    t1, t2 = "2021-03-01 00:00:00", "2022-07-15 00:00:00"
    after1 = scd2_merge(dim0, b1, ["eq_id"], ["name", "sport"], t1)
    after2 = scd2_merge(after1, b2, ["eq_id"], ["name", "sport"], t2)
    got = sorted(
        (r["eq_id"], r["name"], r["sport"], str(r["effective_from"]),
         str(r["effective_to"]), r["is_current"])
        for r in after2.collect()
    )

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE dim(eq_id BIGINT, name VARCHAR, sport VARCHAR,
                         effective_from TIMESTAMP, effective_to TIMESTAMP,
                         is_current BOOLEAN);
        INSERT INTO dim VALUES
          (1,'Shoes A','Run','2020-01-01',NULL,true),
          (2,'Bike One','Bike','2020-01-01',NULL,true),
          (3,'Old Fins','Swim','2019-06-01','2020-01-01',false),
          (3,'New Fins','Swim','2020-01-01',NULL,true);
    """)
    for ts, batch in [
        (t1, [(1, "Shoes A v2", "Run"), (2, "Bike One", "Bike"),
              (4, "Trainer", "Bike")]),
        (t2, [(1, "Shoes A v3", "Run"), (4, "Trainer", "Ride")]),
    ]:
        con.execute("CREATE OR REPLACE TABLE upd(eq_id BIGINT, name VARCHAR, sport VARCHAR)")
        con.executemany("INSERT INTO upd VALUES (?,?,?)", batch)
        con.execute(f"""
            CREATE OR REPLACE TABLE dim AS
            SELECT * FROM dim WHERE NOT is_current
            UNION ALL
            SELECT d.eq_id, d.name, d.sport, d.effective_from,
                   CASE WHEN u.eq_id IS NOT NULL AND
                        (d.name IS DISTINCT FROM u.name OR d.sport IS DISTINCT FROM u.sport)
                        THEN TIMESTAMP '{ts}' ELSE d.effective_to END,
                   NOT (u.eq_id IS NOT NULL AND
                        (d.name IS DISTINCT FROM u.name OR d.sport IS DISTINCT FROM u.sport))
            FROM dim d LEFT JOIN upd u USING (eq_id) WHERE d.is_current
            UNION ALL
            SELECT u.eq_id, u.name, u.sport, TIMESTAMP '{ts}', NULL, true
            FROM upd u LEFT JOIN (SELECT * FROM dim WHERE is_current) d USING (eq_id)
            WHERE d.eq_id IS NULL
               OR d.name IS DISTINCT FROM u.name OR d.sport IS DISTINCT FROM u.sport
        """)
    want = sorted(
        (r[0], r[1], r[2], str(r[3]), str(r[4]), r[5])
        for r in con.execute("SELECT * FROM dim").fetchall()
    )
    assert got == want

    # exactly one open row per live key, no overlapping intervals
    cur = after2.filter("is_current").groupBy("eq_id").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_load_any_csv_jsonl_match_parquet(spark, tmp_path):
    """The format-dispatching loader reads CSV and JSONL copies of a
    table back byte-identical to the parquet original (explicit schema
    path — the production one)."""
    from training_datawarehouse_spark.sources.tables import load_any, load_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    rows = sorted(map(tuple, nation.collect()))

    csv_dir = str(tmp_path / "nation_csv")
    nation.coalesce(1).write.option("header", "true").csv(csv_dir)
    import glob
    import os
    csv_file = next(p for p in glob.glob(csv_dir + "/*") if p.endswith(".csv"))
    got_csv = sorted(map(tuple, load_any(spark, csv_file, nation.schema).collect()))
    assert got_csv == rows

    jl_dir = str(tmp_path / "nation_jsonl")
    nation.coalesce(1).write.json(jl_dir)
    jl_file = next(p for p in glob.glob(jl_dir + "/*") if p.endswith(".json"))
    os.rename(jl_file, jl_file + "l")  # .jsonl extension path
    got_jl = sorted(map(tuple, load_any(spark, jl_file + "l", nation.schema).collect()))
    assert got_jl == rows

    orc_dir = str(tmp_path / "nation_orc")
    nation.write.orc(orc_dir)
    got_orc = sorted(map(tuple, load_any(spark, orc_dir).collect()))
    assert got_orc == rows


def test_scd2_merge_rejects_bad_batches(spark):
    """Empty tracked_cols fails fast; a batch with two rows for one key
    fails at action time naming the key (a silent merge would open two
    current versions at once) — round-3 advice."""
    from training_datawarehouse_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [(1, "a", "2020-01-01", None, True)],
        "k long, v string, effective_from string, effective_to string, "
        "is_current boolean",
    ).selectExpr(
        "k", "v", "CAST(effective_from AS TIMESTAMP) effective_from",
        "CAST(effective_to AS TIMESTAMP) effective_to", "is_current",
    )
    with pytest.raises(ValueError, match="tracked_cols"):
        scd2_merge(dim, dim.select("k", "v"), ["k"], [], "2021-01-01")
    dup = spark.createDataFrame([(1, "b"), (1, "c")], "k long, v string")
    with pytest.raises(Exception, match="duplicate key"):
        scd2_merge(dim, dup, ["k"], ["v"], "2021-01-01").collect()


def test_load_quarantined_routes_bad_rows(spark, tmp_path):
    """Malformed-row quarantine (PERMISSIVE + corrupt column): broken
    lines in a JSON-lines source neither kill the job (FAILFAST) nor
    vanish (DROPMALFORMED) — they land in the bad frame with the raw
    line preserved for replay, while every parseable row flows through
    the good frame. Also covers Spark's corrupt-column-only-scan
    rejection: the bad frame must carry parsed columns alongside
    raw_record (which a quarantine sink wants anyway)."""
    from pyspark.sql import types as T

    from training_datawarehouse_spark.sources.tables import load_quarantined

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        '{"id": oops not json\n'
        '{"id": 3}\n'
        "garbage line\n"
    )
    good, bad, release = load_quarantined(spark, str(p), schema)
    try:
        assert sorted((r["id"], r["name"]) for r in good.collect()) == [
            (1, "ok"), (2, "also ok"), (3, None),
        ]
        assert sorted(r["raw_record"] for r in bad.collect()) == [
            "garbage line", '{"id": oops not json',
        ]
        assert bad.columns == ["raw_record", "id", "name"]
    finally:
        release()


def test_load_quarantined_single_pass_one_scan(spark, tmp_path):
    """The loader scans the source once: after the persist is
    materialized, both splits' executed plans read the cache
    (InMemoryTableScan), not the files (no FileScan/Scan json)."""
    from pyspark.sql import types as T

    from training_datawarehouse_spark.sources.tables import load_quarantined

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": oops not json\n'
        '{"id": 3, "name": "fine"}\n'
        "garbage line\n"
    )
    good, bad, release = load_quarantined(spark, str(p), schema)
    try:
        assert sorted(map(tuple, good.collect())) == [(1, "ok"), (3, "fine")]
        assert sorted(r["raw_record"] for r in bad.collect()) == [
            "garbage line", '{"id": oops not json',
        ]
        for split in (good, bad):
            plan = split._jdf.queryExecution().executedPlan().toString()
            # the executing part of the plan reads the cache; a FileScan
            # may appear BELOW InMemoryRelation (that's the cache's
            # build recipe, already materialized), never above it
            executing = plan.split("InMemoryRelation")[0]
            assert "InMemoryTableScan" in executing
            assert "FileScan" not in executing
    finally:
        release()


def test_warm_cli_passes_reuse_generated_code(spark, diary_path, tmp_path):
    """A CLI pass (E1-E3, cache, warehouse write, weekly and monthly
    rollup writes) needs more generated classes than Spark's default
    100-entry codegen cache holds, so with that cache every repeated pass
    recompiles 120-130 of them. With the cache ``get_spark`` sizes,
    later passes compile only the stage variants AQE re-plans, up to a few
    dozen in one pass. The smaller of the third and fourth passes must
    compile fewer than 64 classes, half of a thrashing pass. The bound
    does not involve the first pass, so it holds whatever the JVM
    compiled before this test."""
    from training_datawarehouse_spark.pipeline import write_warehouse

    metrics = getattr(
        spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"
    ).__getattr__("MODULE$")

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def cli_pass(out) -> int:
        before = compiles()
        facts = run_e3_strain(run_e2_tsb(run_e1_ingest(spark, diary_path))).cache()
        facts.count()
        write_warehouse(facts, str(out / "facts"))
        for period, name in (("year_week", "weekly"), ("year_month", "monthly")):
            run_e4_rollup(facts, period).write.mode("overwrite").parquet(str(out / name))
        facts.unpersist()
        return compiles() - before

    counts = [cli_pass(tmp_path / f"pass{i}") for i in range(4)]
    assert min(counts[2:]) < 64, counts

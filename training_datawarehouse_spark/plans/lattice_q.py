"""Lattice queries: the reference's core cube semantics on lineitem.

Role mapping (FIXTURES.md §B.1): activity = l_returnflag, activity_type
= l_linestatus, equipment = a synthetic low-cardinality dim derived from
l_suppkey that includes 'Not Set' / '' values and embedded spaces — so
the per-set filter (SURVEY §2.3.1) and space-stripping (OP-FN-4) are
both exercised. Measures mirror the reference's workout merge: SUM for
km/seconds, seconds-weighted mean for rpe (double) and hr (integer,
truncated), BOOL-OR for is_race, and the post-aggregation mapper
recompute for mph / rpe_tss (SURVEY §2.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.lattice import cube_lattice_two_level
from ..operators.rollup import periodic_rollup
from ..functions.crossing import local_frame
from ..functions.scalars import year_week, year_month
from ..sources.tables import load_table
from .base import Query

# Synthetic equipment dim: ~1/7 of rows 'Not Set', ~1/11 '', rest "SUP <k>"
# (space present → exercises strip). Shared between Spark + oracle.
_EQUIP_SQL = (
    "CASE WHEN l_suppkey % 7 = 0 THEN 'Not Set' "
    "WHEN l_suppkey % 11 = 0 THEN '' "
    "ELSE 'SUP ' || CAST(l_suppkey % 5 AS VARCHAR) END"
)


def _source(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_returnflag").alias("activity"),
        F.col("l_linestatus").alias("activity_type"),
        F.expr(
            "CASE WHEN l_suppkey % 7 = 0 THEN 'Not Set' "
            "WHEN l_suppkey % 11 = 0 THEN '' "
            "ELSE concat('SUP ', CAST(l_suppkey % 5 AS STRING)) END"
        ).alias("equipment"),
        F.col("l_quantity").alias("km"),
        F.col("l_extendedprice").alias("seconds"),
        F.col("l_discount").alias("rpe"),
        F.bround(F.col("l_tax") * 1000, 0).cast("long").alias("hr"),
        (F.col("l_quantity") > 25).cast("int").alias("is_race"),
    )


def _base_aggs() -> list:
    # Partial (cell-grain) aggregates: everything the lattice needs is
    # algebraic, so the 600k-row input collapses to |cells| rows in one
    # ordinary shuffle before any grouping-set expansion.
    w = F.col("seconds")
    return [
        F.sum("km").alias("km_s"),
        F.sum("seconds").alias("sec_s"),
        F.sum(F.col("rpe") * w).alias("rpe_ws"),
        F.sum(F.col("hr") * w).alias("hr_ws"),
        F.max("is_race").alias("race_m"),
        F.count(F.lit(1)).alias("n"),
    ]


def _re_aggs() -> list:
    # Final merge of cell partials inside the 8-set lattice.
    return [
        F.sum("km_s").alias("km_raw"),
        F.sum("sec_s").alias("seconds_raw"),
        (F.sum("rpe_ws") / F.sum("sec_s")).alias("rpe_raw"),
        (F.sum("hr_ws") / F.sum("sec_s")).cast("long").alias("hr"),
        F.max("race_m").cast("long").alias("is_race"),
        F.sum("n").alias("n_workouts"),
    ]


def cube_lattice_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-AGG-1/2/3/4/5/7 + OP-FLT-1: the full 8-set lattice with 'All'
    labels, per-set Not-Set exclusion, and mapper recompute post-agg."""
    src = _source(spark, sf_dir)
    lat = cube_lattice_two_level(src, _base_aggs(), _re_aggs())
    secs, km, rpe = F.col("seconds_raw"), F.col("km_raw"), F.col("rpe_raw")
    mph = F.when(secs > 0, F.bround(km * 0.621371 / (secs / 3600.0), 1)).otherwise(0.0)
    rpe_tss = F.bround(rpe * rpe * secs / F.lit(49.0 * 36.0), 1)
    return lat.select(
        "activity", "activity_type", "equipment",
        F.round(km, 2).alias("km"),
        F.round(secs, 2).alias("seconds"),
        F.round(rpe, 6).alias("rpe"),
        "hr", "is_race", "n_workouts",
        mph.alias("mph"),
        rpe_tss.alias("rpe_tss"),
    )


CUBE_LATTICE_ORACLE = f"""
WITH src AS (
  SELECT l_returnflag AS activity,
         l_linestatus AS activity_type,
         {_EQUIP_SQL} AS equipment,
         l_quantity AS km,
         l_extendedprice AS seconds,
         l_discount AS rpe,
         CAST(round(l_tax * 1000, 0) AS BIGINT) AS hr,
         CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS is_race
  FROM lineitem
),
half_a AS (
  SELECT coalesce(activity, 'All') AS activity,
         coalesce(activity_type, 'All') AS activity_type,
         'All' AS equipment,
         sum(km) AS km_raw, sum(seconds) AS seconds_raw,
         sum(rpe * seconds) / sum(seconds) AS rpe_raw,
         CAST(trunc(sum(hr * seconds) / sum(seconds)) AS BIGINT) AS hr,
         CAST(max(is_race) AS BIGINT) AS is_race,
         count(*) AS n_workouts
  FROM src
  GROUP BY GROUPING SETS ((), (activity), (activity_type), (activity, activity_type))
),
half_b AS (
  SELECT coalesce(activity, 'All') AS activity,
         coalesce(activity_type, 'All') AS activity_type,
         replace(equipment, ' ', '') AS equipment,
         sum(km) AS km_raw, sum(seconds) AS seconds_raw,
         sum(rpe * seconds) / sum(seconds) AS rpe_raw,
         CAST(trunc(sum(hr * seconds) / sum(seconds)) AS BIGINT) AS hr,
         CAST(max(is_race) AS BIGINT) AS is_race,
         count(*) AS n_workouts
  FROM src
  WHERE equipment NOT IN ('Not Set', '')
  GROUP BY GROUPING SETS ((equipment), (activity, equipment),
                          (activity_type, equipment), (activity, activity_type, equipment))
),
lat AS (SELECT * FROM half_a UNION ALL SELECT * FROM half_b)
SELECT activity, activity_type, equipment,
       round(km_raw, 2) AS km,
       round(seconds_raw, 2) AS seconds,
       round(rpe_raw, 6) AS rpe,
       hr, is_race, n_workouts,
       CASE WHEN seconds_raw > 0
            THEN round(km_raw * 0.621371 / (seconds_raw / 3600.0), 1)
            ELSE 0.0 END AS mph,
       round(rpe_raw * rpe_raw * seconds_raw / 1764.0, 1) AS rpe_tss
FROM lat
"""


def rollup_query(period: str):
    """OP-AGG-6: periodic rollup of a daily per-activity series —
    MAX(date) representative, SUM + **plain AVG** (SURVEY §2.3.6)."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        daily = (
            li.groupBy(
                F.to_date("l_shipdate").alias("date"),
                F.col("l_returnflag").alias("activity"),
            )
            .agg(
                # km: sums of integer-valued doubles — exact. rpe: the
                # day-grain value is a weighted mean (as in the reference's
                # day grain) and deliberately UNROUNDED — clean-decimal
                # daily values make the downstream plain-AVG land on exact
                # rounding midpoints where the engines' rounding diverges;
                # full-precision ratios never do.
                F.sum("l_quantity").alias("km"),
                (F.sum(F.col("l_discount") * F.col("l_extendedprice"))
                 / F.sum("l_extendedprice")).alias("rpe"),
            )
        )
        label = year_week(F.col("date")) if period == "week" else year_month(F.col("date"))
        daily = daily.withColumn("period", label)
        rolled = periodic_rollup(
            daily,
            "period",
            keys=["activity"],
            measures=[
                F.round(F.sum("km"), 4).alias("km"),
                F.round(F.avg("rpe"), 6).alias("rpe"),
                F.count(F.lit(1)).alias("n_days"),
            ],
        )
        return rolled.select("activity", "period", "date", "km", "rpe", "n_days")

    return build


def _rollup_oracle(period: str) -> str:
    label = (
        "year(date)::VARCHAR || '-' || weekofyear(date)::VARCHAR"
        if period == "week"
        else "year(date)::VARCHAR || '-' || strftime(date, '%b')"
    )
    return f"""
WITH daily AS (
  SELECT l_shipdate::DATE AS date, l_returnflag AS activity,
         sum(l_quantity) AS km,
         sum(l_discount * l_extendedprice) / sum(l_extendedprice) AS rpe
  FROM lineitem GROUP BY 1, 2
)
SELECT activity, {label} AS period,
       max(date) AS date,
       round(sum(km), 4) AS km,
       round(avg(rpe), 6) AS rpe,
       count(*) AS n_days
FROM daily GROUP BY activity, period
"""


def catalog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-SRC-2: catalog scan — the reference's ``Tables`` metadata table
    (create_db.py:9-16) becomes SELECT DISTINCT over the grouping
    columns plus the generated cell/table name (OP-FN-3): the lattice
    keys live *in* the data, not in a side catalog."""
    src = _source(spark, sf_dir)
    cells = (
        src.filter(~F.col("equipment").isin("Not Set", ""))
        .select(
            "activity", "activity_type",
            F.regexp_replace("equipment", " ", "").alias("equipment"),
        )
        .distinct()
    )
    return cells.withColumn(
        "table_name",
        F.concat_ws("_", F.lit("Day"), "activity", "activity_type", "equipment"),
    )


# SCD2 stage constants — shared verbatim by builder and oracle.
_SCD_T0, _SCD_T1, _SCD_T2 = (
    "2020-01-01 00:00:00", "2021-06-01 00:00:00", "2022-01-01 00:00:00",
)


def dim_source_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension & source surface, one tagged composite (registry
    budget: rides the OP-SRC-2 slot — COVERAGE.md):

    - 'catalog': the original OP-SRC-2 catalog scan.
    - 'scd2': TWO real ``scd2_merge`` batches over the customer
      dimension (batch 1: every 7th key changes segment, every
      7th+1 key arrives UNCHANGED — the no-op path; batch 2: every
      14th key changes again) — the full version history then
      hash-checks against a closed-form SQL oracle of the expected
      close/version/passthrough outcomes. This is the generic merge
      operator differentially verified at the driver, not just in
      pytest.
    - 'fmt_csv/jsonl/orc': ``load_any`` round-trip parity — the
      supplier table is written to each format and read back through
      the dispatching loader; exact aggregates (counts, key sums,
      name lengths, balances — the double column exercises float
      text round-trips) must equal the parquet truth the oracle
      computes. Eagerly collected (tiny) so the temp files don't
      outlive the builder.
    - 'quarantine' (r5): malformed-row quarantine, driver-visible.
      The supplier table is rendered to JSONL with every 5th key's
      line DELIBERATELY truncated mid-object, then read back through
      ``load_quarantined`` (one materialized scan, both
      splits from the cache). Good-split aggregates must equal the
      parquet truth over ``s_suppkey % 5 != 0``; the bad split's
      count and the key sum RECOVERED FROM THE RAW QUARANTINED LINES
      (regexp over ``raw_record``) must equal the planted complement
      — so both routing AND raw-line preservation are hash-checked.

    Unified string schema (stage, key, val, detail, flag).
    """
    import shutil
    import tempfile

    from ..operators.scd import scd2_merge
    from ..sources.tables import load_any, load_quarantined

    cat = catalog_query(spark, sf_dir).select(
        F.lit("catalog").alias("stage"),
        F.col("activity").alias("key"),
        F.col("activity_type").alias("val"),
        F.col("equipment").alias("detail"),
        F.col("table_name").alias("flag"),
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dim0 = cust.select(
        k.alias("k"), F.col("c_mktsegment").alias("seg"),
        F.lit(_SCD_T0).cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    b1 = cust.filter(k % 7 == 0).select(
        k.alias("k"),
        F.concat(F.lit("SEG_"), (k % 3).cast("string")).alias("seg"),
    ).unionByName(
        cust.filter(k % 7 == 1).select(
            k.alias("k"), F.col("c_mktsegment").alias("seg"),
        )
    )
    after1 = scd2_merge(dim0, b1, ["k"], ["seg"], _SCD_T1)
    b2 = cust.filter(k % 14 == 0).select(
        k.alias("k"), F.lit("SEG2").alias("seg"),
    )
    after2 = scd2_merge(after1, b2, ["k"], ["seg"], _SCD_T2)
    scd = after2.select(
        F.lit("scd2").alias("stage"),
        F.col("k").cast("string").alias("key"),
        F.col("seg").alias("val"),
        F.concat(
            F.col("effective_from").cast("string"), F.lit("|"),
            F.coalesce(F.col("effective_to").cast("string"), F.lit("open")),
        ).alias("detail"),
        F.col("is_current").cast("string").alias("flag"),
    )

    supp = load_table(spark, sf_dir, "supplier")
    work = tempfile.mkdtemp(prefix="fmt_parity_")
    rows = []
    try:
        for fmt in ("csv", "jsonl", "orc"):
            path = f"{work}/supplier.{fmt}"
            w = supp.coalesce(1).write.mode("overwrite")
            if fmt == "csv":
                w.option("header", "true").csv(path)
                back = load_any(spark, path, schema=supp.schema)
            elif fmt == "jsonl":
                w.json(path)
                # .json part files: rename-free dispatch via dir probe
                back = load_any(spark, path, schema=supp.schema)
            else:
                w.orc(path)
                back = load_any(spark, path)
            r = back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("s_suppkey").alias("s"),
                F.sum(F.length("s_name")).alias("lc"),
                F.round(F.sum("s_acctbal"), 2).alias("bal"),
                F.min("s_name").alias("mn"),
                F.max("s_name").alias("mx"),
            ).collect()[0]
            rows.append((
                f"fmt_{fmt}", fmt, str(r["n"]),
                f"{r['s']}/{r['lc']}/{r['bal']}", f"{r['mn']}|{r['mx']}",
            ))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    qwork = tempfile.mkdtemp(prefix="quarantine_")
    try:
        qpath = f"{qwork}/supplier.jsonl"
        supp.select(
            F.when(
                F.col("s_suppkey") % 5 == 0,
                F.concat(
                    F.lit('{"s_suppkey": '),
                    F.col("s_suppkey").cast("string"),
                    F.lit(', "s_name": TRUNCATED'),
                ),
            ).otherwise(
                F.to_json(F.struct("s_suppkey", "s_name", "s_acctbal"))
            ).alias("value")
        ).coalesce(1).write.mode("overwrite").text(qpath)
        qschema = T.StructType([
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ])
        qgood, qbad, release = load_quarantined(spark, qpath, qschema)
        try:
            g = qgood.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("s_suppkey").alias("s"),
                F.round(F.sum("s_acctbal"), 2).alias("bal"),
                F.min("s_name").alias("mn"),
                F.max("s_name").alias("mx"),
            ).collect()[0]
            b = qbad.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.regexp_extract(
                        "raw_record", r'"s_suppkey": (\d+)', 1
                    ).cast("long")
                ).alias("s"),
            ).collect()[0]
        finally:
            release()
        rows.append((
            "quarantine", "good", str(g["n"]),
            f"{g['s']}/{g['bal']}", f"{g['mn']}|{g['mx']}",
        ))
        rows.append(("quarantine", "bad", str(b["n"]), str(b["s"]), ""))
    finally:
        shutil.rmtree(qwork, ignore_errors=True)

    fmt_df = local_frame(
        spark, rows,
        "stage string, key string, val string, detail string, flag string",
    )

    # r12 'linkage' stage: blocked fuzzy entity resolution
    # (operators/linkage.py) over the customer dimension. The corpus
    # has no dirty names, so — the PII-stage pattern — a deterministic
    # dirty directory is synthesized from c_custkey residues:
    # %9==0 a delete+substitute twin (dist 2), else %3==0 one
    # substitution (dist 1), %3==1 a 5-char scramble (dist 5 — the
    # planted MISS, pinning that the threshold rejects). Blocking on
    # the last-3 normalized chars (digits the typos never touch);
    # best match resolves by (dist, id). The oracle re-derives dirty
    # names, blocks, levenshtein scores, and the argmin.
    from ..operators import linkage as lk

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("d_id"),
        F.lower(F.regexp_replace(F.col("c_name"), "[^a-zA-Z0-9]", ""))
        .alias("nm"),
    ).filter(F.col("d_id") % 3 < 2)
    did = F.col("d_id")
    dn = (
        F.when(did % 9 == 0,
               F.concat(F.expr("substring(nm, 1, 3)"),
                        F.expr("substring(nm, 5, 1)"), F.lit("x"),
                        F.expr("substring(nm, 7)")))
        .when(did % 3 == 0,
              F.concat(F.expr("substring(nm, 1, 3)"), F.lit("x"),
                       F.expr("substring(nm, 5)")))
        .otherwise(F.concat(F.lit("zzzzz"), F.expr("substring(nm, 6)")))
    )
    dirty = base.select("d_id", dn.alias("d_name"))
    best = lk.resolve_best_match(
        lk.blocked_fuzzy_pairs(dirty, cust, "d_id", "c_custkey",
                               "d_name", "c_name", max_dist=2),
        "d_id", "c_custkey",
    )
    link = dirty.join(best, "d_id", "left").select(
        F.lit("linkage").alias("stage"),
        F.col("d_id").cast("string").alias("key"),
        F.col("c_custkey").cast("string").alias("val"),
        F.col("dist").cast("string").alias("detail"),
        F.when(F.col("c_custkey").isNull(), F.lit("miss"))
        .otherwise(F.lit("hit")).alias("flag"),
    )

    return cat.unionByName(scd).unionByName(fmt_df).unionByName(link)


DIM_SOURCE_ORACLE = f"""
WITH src AS (
  SELECT l_returnflag AS activity,
         l_linestatus AS activity_type,
         {_EQUIP_SQL} AS equipment
  FROM lineitem
),
c AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
lk_nm AS (
  SELECT c_custkey AS k,
         lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g')) AS nm
  FROM customer
),
lk_dirty AS (
  SELECT k, CASE
      WHEN k % 9 = 0 THEN substr(nm,1,3) || substr(nm,5,1) || 'x' || substr(nm,7)
      WHEN k % 3 = 0 THEN substr(nm,1,3) || 'x' || substr(nm,5)
      ELSE 'zzzzz' || substr(nm,6) END AS dn
  FROM lk_nm WHERE k % 3 < 2
),
lk_best AS (
  SELECT dk, ck, dist FROM (
    SELECT dk, ck, dist,
           row_number() OVER (PARTITION BY dk ORDER BY dist, ck) AS rn
    FROM (
      SELECT d.k AS dk, c2.k AS ck, levenshtein(d.dn, c2.nm) AS dist
      FROM lk_dirty d JOIN lk_nm c2 ON right(d.dn, 3) = right(c2.nm, 3)
      WHERE levenshtein(d.dn, c2.nm) <= 2
    )
  ) WHERE rn = 1
)
SELECT DISTINCT 'catalog' AS stage, activity AS key, activity_type AS val,
       replace(equipment, ' ', '') AS detail,
       'Day' || '_' || activity || '_' || activity_type || '_'
             || replace(equipment, ' ', '') AS flag
FROM src WHERE equipment NOT IN ('Not Set', '')
UNION ALL
-- scd2: version 1 (original segment) — closed at t1 iff batch 1
-- changed the key (every 7th; the 7th+1 no-op arrivals do nothing)
SELECT 'scd2', CAST(k AS VARCHAR), seg,
       '{_SCD_T0}|' || CASE WHEN k % 7 = 0 THEN '{_SCD_T1}' ELSE 'open' END,
       CASE WHEN k % 7 = 0 THEN 'false' ELSE 'true' END
FROM c
UNION ALL
-- scd2: version 2 (batch-1 segment) — closed at t2 iff batch 2 hit it
SELECT 'scd2', CAST(k AS VARCHAR), 'SEG_' || CAST(k % 3 AS VARCHAR),
       '{_SCD_T1}|' || CASE WHEN k % 14 = 0 THEN '{_SCD_T2}' ELSE 'open' END,
       CASE WHEN k % 14 = 0 THEN 'false' ELSE 'true' END
FROM c WHERE k % 7 = 0
UNION ALL
-- scd2: version 3 (batch-2 segment) — always open
SELECT 'scd2', CAST(k AS VARCHAR), 'SEG2', '{_SCD_T2}|open', 'true'
FROM c WHERE k % 14 = 0
UNION ALL
-- format parity: every format must reproduce the parquet truth
SELECT 'fmt_' || f, f, CAST(count(*) AS VARCHAR),
       CAST(sum(s_suppkey) AS VARCHAR) || '/' ||
       CAST(sum(length(s_name)) AS VARCHAR) || '/' ||
       CAST(round(sum(s_acctbal), 2) AS VARCHAR),
       min(s_name) || '|' || max(s_name)
FROM supplier CROSS JOIN (
  SELECT 'csv' AS f UNION ALL SELECT 'jsonl' UNION ALL SELECT 'orc'
) fmts
GROUP BY f
UNION ALL
-- quarantine: the good split must equal the parquet truth over the
-- non-planted keys (s_suppkey % 5 != 0) ...
SELECT 'quarantine', 'good', CAST(count(*) AS VARCHAR),
       CAST(sum(s_suppkey) AS VARCHAR) || '/' ||
       CAST(round(sum(s_acctbal), 2) AS VARCHAR),
       min(s_name) || '|' || max(s_name)
FROM supplier WHERE s_suppkey % 5 <> 0
UNION ALL
-- ... and the bad split's raw-line key recovery must cover exactly
-- the planted complement
SELECT 'quarantine', 'bad', CAST(count(*) AS VARCHAR),
       CAST(sum(s_suppkey) AS VARCHAR), ''
FROM supplier WHERE s_suppkey % 5 = 0
UNION ALL
-- linkage: blocked fuzzy entity resolution — dirty names, blocks,
-- edit distances, and the (dist, id) argmin all re-derived here
SELECT 'linkage', CAST(d.k AS VARCHAR), CAST(b.ck AS VARCHAR),
       CAST(b.dist AS VARCHAR),
       CASE WHEN b.ck IS NULL THEN 'miss' ELSE 'hit' END
FROM lk_dirty d LEFT JOIN lk_best b ON b.dk = d.k
"""


def rollup_periodic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-AGG-6 both grains in one entry: the week AND month rollups,
    tagged by grain — each still hash-checked against its own oracle."""
    wk = rollup_query("week")(spark, sf_dir).withColumn("grain", F.lit("week"))
    mo = rollup_query("month")(spark, sf_dir).withColumn("grain", F.lit("month"))
    return wk.unionByName(mo)


ROLLUP_PERIODIC_ORACLE = f"""
SELECT *, 'week' AS grain FROM ({_rollup_oracle("week")})
UNION ALL
SELECT *, 'month' AS grain FROM ({_rollup_oracle("month")})
"""


QUERIES = {
    "op_agg_1_cube_lattice": Query(cube_lattice_query, CUBE_LATTICE_ORACLE),
    "op_src_2_catalog": Query(dim_source_surface, DIM_SOURCE_ORACLE),
    "op_agg_6_rollup_periodic": Query(rollup_periodic, ROLLUP_PERIODIC_ORACLE),
}

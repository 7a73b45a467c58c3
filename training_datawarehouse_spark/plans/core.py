"""Core scan/projection/aggregation queries (OP-PRJ-*, OP-FN-*, OP-AGG-2/3).

The flagship ``tpch_q1_pricing_summary`` is the canonical "wide scan →
grouped aggregate" shape: Catalyst pushes the shipdate filter and the
8-column projection into the parquet scan; the aggregation is partial
map-side then one shuffle on a 6-cell key space — the plan that scales
linearly to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import key_concat, time_dims
from ..sources.tables import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary report (OP-AGG-2, plain AVG).

    r5 adds the DECIMAL(15,2) money twin of the three price sums —
    TPC-H's canonical money type. The testdata carries 2-decimal
    doubles; cast to DECIMAL(15,2) every product and sum is EXACT
    (scales 2/4/6 — multiplication adds scales, addition keeps them),
    so unlike the double columns no rounding is involved anywhere and
    the result is bit-for-bit order-independent: what the twin checks
    is decimal cast / arithmetic / aggregation parity against DuckDB's
    independent decimal engine, string-compared at explicitly-cast
    scales."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.expr("timestamp'1998-09-02 00:00:00'")
    one = F.lit(1).cast("decimal(15,2)")
    p = F.col("l_extendedprice").cast("decimal(15,2)")
    dd = F.col("l_discount").cast("decimal(15,2)")
    t = F.col("l_tax").cast("decimal(15,2)")
    aggs = [
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
        F.sum(p).cast("decimal(38,2)").cast("string")
        .alias("dec_sum_base_price"),
        F.sum(p * (one - dd)).cast("decimal(38,4)").cast("string")
        .alias("dec_sum_disc_price"),
        F.sum(p * (one - dd) * (one + t)).cast("decimal(38,6)")
        .cast("string").alias("dec_sum_charge"),
    ]
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*aggs)
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                           AS sum_qty,
       round(sum(l_extendedprice), 2)                                      AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
       round(avg(l_quantity), 6)                                           AS avg_qty,
       round(avg(l_extendedprice), 6)                                      AS avg_price,
       round(avg(l_discount), 6)                                           AS avg_disc,
       count(*)                                                            AS count_order,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)))
            AS DECIMAL(38,2)) AS VARCHAR)                                  AS dec_sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                     * (CAST(1 AS DECIMAL(15,2))
                        - CAST(l_discount AS DECIMAL(15,2))))
            AS DECIMAL(38,4)) AS VARCHAR)                                  AS dec_sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                     * (CAST(1 AS DECIMAL(15,2))
                        - CAST(l_discount AS DECIMAL(15,2)))
                     * (CAST(1 AS DECIMAL(15,2))
                        + CAST(l_tax AS DECIMAL(15,2))))
            AS DECIMAL(38,6)) AS VARCHAR)                                  AS dec_sum_charge
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-AGG-3/4: seconds-weighted mean (weight = l_extendedprice) with
    integer truncation for INTEGER-typed columns (reference :416-422)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.col("l_extendedprice")
    wm_disc = F.sum(F.col("l_discount") * w) / F.sum(w)
    wm_qty = F.sum(F.col("l_quantity") * w) / F.sum(w)
    return li.groupBy("l_returnflag").agg(
        F.round(wm_disc, 6).alias("w_mean_discount"),
        wm_qty.cast("long").alias("w_mean_qty_int"),  # trunc toward 0 == int()
        F.round(F.sum(w), 2).alias("total_weight"),
    )


WEIGHTED_MEAN_ORACLE = """
SELECT l_returnflag,
       round(sum(l_discount * l_extendedprice) / sum(l_extendedprice), 6) AS w_mean_discount,
       CAST(trunc(sum(l_quantity * l_extendedprice) / sum(l_extendedprice)) AS BIGINT) AS w_mean_qty_int,
       round(sum(l_extendedprice), 2) AS total_weight
FROM lineitem
GROUP BY l_returnflag
"""


def time_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-PRJ-4 / OP-FN-1/2: ISO-week + calendar-year labels, month/day
    abbreviations — the reference's quirky `year-isoweek` included
    (SURVEY §2.3.4). Also OP-FN-6 (min/max date per group)."""
    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    dims = time_dims(d)
    return (
        ev.select(
            d.alias("date"),
            dims["year_week"].alias("year_week"),
            dims["year_month"].alias("year_month"),
            dims["day_of_week"].alias("day_of_week"),
            dims["month"].alias("month"),
        )
        .groupBy("year_week", "year_month", "day_of_week", "month")
        .agg(
            F.min("date").alias("first_date"),
            F.max("date").alias("last_date"),
            F.count(F.lit(1)).alias("n"),
        )
    )


TIME_DIMS_ORACLE = """
SELECT year(ts)::VARCHAR || '-' || weekofyear(ts)::VARCHAR AS year_week,
       year(ts)::VARCHAR || '-' || strftime(ts, '%b')      AS year_month,
       strftime(ts, '%a')                                  AS day_of_week,
       strftime(ts, '%b')                                  AS month,
       min(ts::DATE)                                       AS first_date,
       max(ts::DATE)                                       AS last_date,
       count(*)                                            AS n
FROM events
GROUP BY 1, 2, 3, 4
"""


def config_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-PRJ-1/3/5, OP-FN-3/4/5: config-driven cast + unit factor +
    banker's rounding (``F.bround`` == Python round, reference :435-437),
    unit-conversion twin columns, boolean normalization, key concat and
    whitespace strip."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        key_concat(F.col("l_orderkey"), F.col("l_linenumber")).alias("row_key"),
        F.bround(F.col("l_quantity"), 2).alias("km"),
        F.bround(F.col("l_quantity") * F.lit(0.621371), 6).alias("miles"),
        # 6 dp: x/60 of 2-dp inputs lands on 1/6000 grid points, which are
        # never 6-dp midpoints — 2 dp would hit exact ties where the two
        # engines' rounding differs.
        F.bround(F.col("l_extendedprice") / F.lit(60.0), 6).alias("minutes"),
        F.bround(F.col("l_extendedprice") / F.lit(3600.0), 6).alias("hours"),
        F.bround(F.col("l_quantity") * F.lit(3.28084), 0).cast("long").alias("ascent_feet"),
        (F.col("l_discount") != 0).cast("int").cast("long").alias("has_discount"),
        F.regexp_replace(F.col("l_returnflag"), " ", "").alias("flag_clean"),
    )


CONFIG_PROJECTION_ORACLE = """
SELECT l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR AS row_key,
       round(l_quantity, 2)                      AS km,
       round(l_quantity * 0.621371, 6)           AS miles,
       round(l_extendedprice / 60.0, 6)          AS minutes,
       round(l_extendedprice / 3600.0, 6)        AS hours,
       CAST(round(l_quantity * 3.28084, 0) AS BIGINT) AS ascent_feet,
       CAST(CASE WHEN l_discount <> 0 THEN 1 ELSE 0 END AS BIGINT) AS has_discount,
       replace(l_returnflag, ' ', '')            AS flag_clean
FROM lineitem
"""


JSON_EXTRACTION_ORACLE = """
SELECT event_type,
       -- DuckDB sum(BIGINT) widens to HUGEINT (pandas float64); cast back
       -- so both engines hand the driver an int64 column.
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
       min(CAST(props->>'$.k' AS BIGINT))   AS min_k,
       max(CAST(props->>'$.k' AS BIGINT))   AS max_k
FROM events
GROUP BY event_type
"""

from .base import Query  # noqa: E402

def mapper_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-PRJ-2 / OP-UDF-1: the derived-scalar mapper registry (mph,
    kph, rpe_tss) applied per row with the reference's div-by-zero
    guards and banker's 1dp rounding — dispatched from the static
    registry, never ``eval``."""
    from ..functions.mappers import MAPPERS
    from ..sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").alias("km"),
        # ~2% zero-seconds rows exercise the guards
        F.when(F.col("l_partkey") % 50 == 0, F.lit(0.0))
        .otherwise(F.col("l_extendedprice")).alias("seconds"),
        F.col("l_discount").alias("rpe"),
    )
    return src.select(
        "id", "ln",
        MAPPERS["mph"]().alias("mph"),
        MAPPERS["kph"]().alias("kph"),
        MAPPERS["rpe_tss"]().alias("rpe_tss"),
    )


MAPPER_SCALARS_ORACLE = """
WITH src AS (
  SELECT l_orderkey AS id, l_linenumber AS ln,
         l_quantity AS km,
         CASE WHEN l_partkey % 50 = 0 THEN 0.0 ELSE l_extendedprice END AS seconds,
         l_discount AS rpe
  FROM lineitem
)
SELECT id, ln,
       CASE WHEN seconds > 0
            THEN round(km * 0.621371 / (seconds / 3600.0), 1)
            ELSE 0.0 END AS mph,
       CASE WHEN seconds > 0
            THEN round(km / (seconds / 3600.0), 1)
            ELSE 0.0 END AS kph,
       round(rpe * rpe * seconds / 1764.0, 1) AS rpe_tss
FROM src
"""


def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column surface over embeddings: higher-order transform /
    filter / aggregate expressions with DuckDB list_* twins."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(l2, 6).alias("l2_norm"),
        F.round(F.array_max(v), 6).alias("max_el"),
        F.round(F.array_min(v), 6).alias("min_el"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    )


ARRAY_OPS_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       len(v)::INT AS dim,
       round(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')), 6) AS l2_norm,
       round(list_max(v), 6) AS max_el,
       round(list_min(v), 6) AS min_el,
       len(list_filter(v, x -> x > 0))::INT AS n_positive
FROM e
"""


def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date/time breadth: trunc, last_day, dayofweek, quarter,
    datediff from a fixed epoch — one row per order month."""
    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        orders.select(
            F.date_trunc("month", d).cast("date").alias("month_start"),
            F.last_day(d).alias("month_end"),
            F.quarter(d).alias("qtr"),
            F.dayofweek(d).alias("dow"),
            F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_epoch"),
        )
        .groupBy("month_start", "month_end", "qtr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("dow").alias("min_dow"),
            F.max("days_since_epoch").alias("max_days"),
        )
    )


DATETIME_ORACLE = """
SELECT date_trunc('month', o_orderdate)::DATE AS month_start,
       last_day(o_orderdate::DATE) AS month_end,
       quarter(o_orderdate)::INT AS qtr,
       count(*) AS n,
       min(dayofweek(o_orderdate)::INT + 1) AS min_dow,
       max(date_diff('day', DATE '1995-01-01', o_orderdate::DATE)) AS max_days
FROM orders
GROUP BY 1, 2, 3
"""


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string breadth: case, pad, reverse, substring, and
    levenshtein edit distance (small-string near-dup primitive).

    r4 adds the bit-function surface on the same scan: the Z-order
    Morton interleave of (doc_id, length(text)) from
    ``operators/layout.py`` — 10 bits per dimension, unrolled to 20
    codegen'd shift/and/add terms — plus its top-4-bit range bucket.
    The oracle runs the IDENTICAL unrolled expression emitted by
    ``zvalue_sql`` (one loop generates both sides), so the interleave
    is differentially checked bit-for-bit; the layout operator built
    on it (cluster → write → measured footer-stats file skipping) is
    exercised in tests/test_layout.py and measured in SCALE.md.

    r5 adds the DECIMAL surface on the same scan — the classic
    cross-engine divergence spots, each pinned: exact cast/multiply/
    divide at explicit result scales (``dec_q4``: doc_id·25/10000 at
    DECIMAL(17,4) — exact, divisor divides 10^4), HALF_UP rounding
    (``dec_round_up``), and banker's HALF_EVEN (``dec_round_even``) —
    rounded at scale 2, where doc_id ≡ 2 (mod 4) rows land EXACTLY on
    the .xx50 midpoint (q4 = doc_id·25/10⁴ = doc_id/400), so the two
    modes differ on a quarter of the rows and a tie-mode regression in
    either engine fails the hash. Results compare as strings at
    explicitly-cast scales (decimal print width is itself
    engine-sensitive — pinned by the cast)."""
    from ..operators.layout import zvalue
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    head = F.substring("text", 1, 20)
    z = zvalue([F.col("doc_id"), F.length("text")], bits=10)
    q4 = (
        F.col("doc_id").cast("decimal(15,2)") * F.lit(25) / F.lit(10000)
    ).cast("decimal(17,4)")
    cols = [
        F.col("doc_id"),
        F.upper(F.col("lang")).alias("lang_uc"),
        F.lpad(F.col("source"), 12, "_").alias("src_pad"),
        F.reverse(F.col("lang")).alias("lang_rev"),
        F.length(F.trim(head)).alias("head_len"),
        F.levenshtein(head, F.lit("the quick brown fox ")).alias("edit_dist"),
        z.alias("zval"),
        F.shiftright(z, 16).cast("long").alias("zbucket"),
        q4.cast("string").alias("dec_q4"),
        F.round(q4, 2).cast("decimal(17,2)").cast("string")
        .alias("dec_round_up"),
        F.bround(q4, 2).cast("decimal(17,2)").cast("string")
        .alias("dec_round_even"),
    ]
    return docs.select(*cols)


STRING_FUNCTIONS_ORACLE = """
SELECT doc_id,
       upper(lang) AS lang_uc,
       lpad(source, 12, '_') AS src_pad,
       reverse(lang) AS lang_rev,
       length(trim(substr(text, 1, 20))) AS head_len,
       levenshtein(substr(text, 1, 20), 'the quick brown fox ') AS edit_dist,
       __Z__ AS zval,
       (__Z__ >> 16) AS zbucket,
       CAST(q4 AS VARCHAR) AS dec_q4,
       -- HALF_UP and HALF_EVEN re-derived in closed-form integer
       -- arithmetic on the exact scale-4 value: DuckDB 1.0's own
       -- round_even() on DECIMAL inputs is inconsistent at exact
       -- midpoints (probed: 0.0050->0.00 but 1.0050->1.01), so the
       -- oracle must not delegate tie-breaking to it
       CAST(CAST(CAST((n10k // 100)
              + (CASE WHEN n10k % 100 >= 50 THEN 1 ELSE 0 END)
            AS DECIMAL(17,0)) / 100 AS DECIMAL(17,2)) AS VARCHAR)
         AS dec_round_up,
       CAST(CAST(CAST((n10k // 100)
              + (CASE WHEN n10k % 100 > 50 THEN 1
                      WHEN n10k % 100 < 50 THEN 0
                      ELSE (n10k // 100) % 2 END)
            AS DECIMAL(17,0)) / 100 AS DECIMAL(17,2)) AS VARCHAR)
         AS dec_round_even
FROM (
  SELECT *,
         CAST(CAST(doc_id AS DECIMAL(15,2)) * 25 / 10000 AS DECIMAL(17,4))
           AS q4,
         CAST(CAST(CAST(doc_id AS DECIMAL(15,2)) * 25 / 10000
              AS DECIMAL(17,4)) * 10000 AS BIGINT) AS n10k
  FROM documents
) documents
"""


def _splice_zorder_oracle() -> str:
    from ..operators.layout import zvalue_sql

    return STRING_FUNCTIONS_ORACLE.replace(
        "__Z__", zvalue_sql(["doc_id", "length(text)"], bits=10)
    )


STRING_FUNCTIONS_ORACLE = _splice_zorder_oracle()


def scalar_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + array scalar-function breadth in one entry: the
    documents string surface (case/pad/reverse/levenshtein, and from
    r5 the decimal cast/arithmetic/rounding columns) joined to the
    embeddings array surface (higher-order transform/filter/
    aggregate) on the shared id domain (doc_id ≡ vec_id)."""
    s = string_functions(spark, sf_dir)
    a = array_ops(spark, sf_dir)
    return s.join(a, s.doc_id == a.vec_id).drop("vec_id")


SCALAR_BREADTH_ORACLE = f"""
WITH s AS ({STRING_FUNCTIONS_ORACLE}),
a AS ({ARRAY_OPS_ORACLE})
SELECT s.*, a.dim, a.l2_norm, a.max_el, a.min_el, a.n_positive
FROM s JOIN a ON s.doc_id = a.vec_id
"""


def subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries through the SQL surface: events above the
    global mean value, restricted to users seen on the busiest day."""
    from ..sources.tables import register_tables

    register_tables(spark, sf_dir)
    return spark.sql("""
        SELECT event_type,
               count(*) AS n_above_mean,
               round(sum(value), 4) AS total_value
        FROM events
        WHERE value > (SELECT avg(value) FROM events)
          AND user_id IN (
            SELECT user_id FROM events
            WHERE to_date(ts) = (
              SELECT to_date(ts) FROM events
              GROUP BY to_date(ts) ORDER BY count(*) DESC, to_date(ts) LIMIT 1
            )
          )
        GROUP BY event_type
    """)


SUBQUERIES_ORACLE = """
SELECT event_type,
       count(*) AS n_above_mean,
       round(sum(value), 4) AS total_value
FROM events
WHERE value > (SELECT avg(value) FROM events)
  AND user_id IN (
    SELECT user_id FROM events
    WHERE ts::DATE = (
      SELECT ts::DATE FROM events
      GROUP BY ts::DATE ORDER BY count(*) DESC, ts::DATE LIMIT 1
    )
  )
GROUP BY event_type
"""


def diary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-SRC-1: nested-JSON diary ingest (reference
    ``populate_from_json.py:111-135``) — explicit-schema ``multiLine``
    JSON read, ``explode`` of ``days[].workouts[]``, ISO-8601 date
    parse (OP-FN-1), then a per-cell aggregation slice so the whole
    E1 entry path is oracle-checkable. The fixture document lives at a
    fixed temp path (written at registry import) so DuckDB's
    ``read_json`` sees the same bytes; every numeric is on a
    binary-exact grid, so no rounding slack is needed."""
    from ..sources.diary import read_diary
    from ..sources.diary_fixture import ensure_diary_fixture

    path = ensure_diary_fixture()
    w = read_diary(spark, path)["workouts"]
    return w.groupBy("activity", "activity_type", "equipment").agg(
        F.count(F.lit(1)).alias("n_workouts"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
        F.sum(F.col("tss").cast("long")).alias("sum_tss"),
        F.sum("km").alias("sum_km"),
        F.round(F.sum(F.col("rpe") * F.col("seconds")) / F.sum("seconds"), 6)
        .alias("rpe_wmean"),
    )


def _diary_ingest_oracle() -> str:
    from ..sources.diary_fixture import ensure_diary_fixture

    path = ensure_diary_fixture()
    return f"""
WITH doc AS (
  SELECT days FROM read_json('{path}', format='unstructured', records='true',
    columns={{days: 'STRUCT(iso8061DateString VARCHAR, "type" VARCHAR,
      fatigue DOUBLE, motivation DOUBLE, sleep DOUBLE, sleepQuality VARCHAR,
      workouts STRUCT(activityString VARCHAR, activityTypeString VARCHAR,
        equipmentName VARCHAR, km DOUBLE, tss BIGINT, rpe DOUBLE, hr BIGINT,
        watts BIGINT, seconds BIGINT, ascentMetres BIGINT, kj BIGINT,
        reps BIGINT, isRace BIGINT, brick BIGINT, wattsEstimated BIGINT,
        cadence BIGINT)[])[]'}})
),
d AS (SELECT unnest(days) AS d FROM doc),
w AS (
  SELECT substr(d.iso8061DateString, 1, 10)::DATE AS date, unnest(d.workouts) AS w
  FROM d WHERE d.workouts IS NOT NULL
)
SELECT w.activityString AS activity,
       w.activityTypeString AS activity_type,
       w.equipmentName AS equipment,
       count(*) AS n_workouts,
       min(date) AS first_date,
       max(date) AS last_date,
       CAST(sum(w.tss) AS BIGINT) AS sum_tss,
       sum(w.km) AS sum_km,
       round(sum(w.rpe * w.seconds) / sum(w.seconds), 6) AS rpe_wmean
FROM w GROUP BY 1, 2, 3
"""


QUERIES = {
    "op_src_1_diary_ingest": Query(diary_ingest, _diary_ingest_oracle()),
    "tpch_q1_pricing_summary": Query(q1_pricing_summary, Q1_ORACLE),
    "op_fn_scalar_breadth": Query(scalar_breadth, SCALAR_BREADTH_ORACLE),
    # subqueries ride inside relational.event_profile (sq branch)
    "op_fn_datetime": Query(datetime_functions, DATETIME_ORACLE),
    "op_prj_2_mappers": Query(mapper_scalars, MAPPER_SCALARS_ORACLE),
    "op_agg_3_weighted_mean": Query(weighted_mean, WEIGHTED_MEAN_ORACLE),
    "op_prj_4_time_dims": Query(time_dimensions, TIME_DIMS_ORACLE),
    "op_prj_1_config_projection": Query(config_projection, CONFIG_PROJECTION_ORACLE),
}

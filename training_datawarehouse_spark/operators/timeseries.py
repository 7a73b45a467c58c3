"""Time-series operators (OP-TS-1/2/3, OP-WIN-1/2, OP-JN-1).

The reference's time-series layer is pandas-on-driver (reindex +
interpolate, ``ewm`` recurrences, rolling stats — reference
``populate_from_json.py:151-302``). Here:

- date spine / densification / interpolation / rolling stats are pure
  window + join compositions — JVM-side, whole-stage-codegen'd, no UDF;
- the EWMA recurrence (CTL/ATL) is the one genuinely sequential
  computation: implemented per-key with an Arrow-batched
  ``applyInPandas`` (each key's series is one-row-per-day — small by
  construction). SURVEY §2.3.5 documents why a window-function closed
  form is numerically unsafe (decay^t underflow past ~258 days at the
  7-day constant); for a series too long for one task, the documented
  fallback is a segmented linear-recurrence prefix scan (compute per
  partition the pair (A, B) with y_end = A·y_start + B, scan the tiny
  per-partition pairs on one reducer, rerun with exact seeds).
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------- spine

def date_spine(df: DataFrame) -> DataFrame:
    """Dense daily date axis spanning [min(date), max(date)] (OP-TS-1).

    One tiny global agg then ``sequence`` + ``explode`` — the spine is
    generated, never shuffled from the fact table.
    """
    mm = df.agg(F.min("date").alias("lo"), F.max("date").alias("hi"))
    return mm.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("date")
    )


def densify(
    facts: DataFrame,
    keys: Sequence[str],
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Give every key cell one row per date in the global span (OP-JN-1).

    The reference does N+1 existence probes + default-row inserts per
    date (``day_exists`` :449-454, inserts :132-135); here it is one
    left join against spine × distinct-keys. Both spine and key set are
    tiny → broadcast; the fact table never moves.
    """
    spine = date_spine(facts)
    if keys:
        cells = facts.select(*keys).distinct()
        grid = F.broadcast(spine.crossJoin(cells))
    else:
        grid = F.broadcast(spine)
    out = grid.join(facts, on=["date", *keys], how="left")
    if defaults:
        out = out.na.fill(defaults)
    return out


# -------------------------------------------------------- interpolation

def interpolate_linear(
    series: DataFrame,
    value_cols: Sequence[str],
    fill_zero: bool = True,
) -> DataFrame:
    """Dense daily reindex + linear interpolation (OP-TS-1 + OP-TS-2) of
    one unkeyed ``date`` series.

    Equivalent of pandas ``Series.reindex(date_range).interpolate('linear')``
    (reference :168-171,214-219) as pure window functions: for each row,
    the previous/next non-null anchors via ``last ignorenulls`` over a
    running frame (ascending for prev, descending for next), then the
    lerp ``prev + (next-prev) · Δ(d,prev_d)/Δ(next_d,prev_d)``. Spark
    grows an ``unboundedPreceding..current`` frame one row at a time,
    but re-aggregates a ``current..unboundedFollowing`` frame over the
    rest of the partition for every row, O(n²) per series; hence the
    descending running frame for ``next``.
    Pandas' default ``limit_direction='forward'`` forward-fills every
    gap AFTER the last anchor with the last observed value, so trailing
    gaps get ``prev`` here too; only LEADING gaps (no prior anchor) stay
    null, then → 0 when ``fill_zero`` (the reference's ``fillna(0)``
    :175-176,222-224 only ever hits those, OP-TS-3).
    """
    dense = date_spine(series).join(series, on=["date"], how="left")

    w_back = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = (
        Window.orderBy(F.col("date").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = dense
    for v in value_cols:
        anchor_d = F.when(F.col(v).isNotNull(), F.col("date"))
        prev_v = F.last(v, ignorenulls=True).over(w_back)
        prev_d = F.last(anchor_d, ignorenulls=True).over(w_back)
        next_v = F.last(v, ignorenulls=True).over(w_fwd)
        next_d = F.last(anchor_d, ignorenulls=True).over(w_fwd)
        span = F.datediff(next_d, prev_d)
        lerp = prev_v + (next_v - prev_v) * F.datediff(F.col("date"), prev_d) / span
        interp = (
            F.when(F.col(v).isNotNull(), F.col(v))
            .when(next_v.isNull() & prev_v.isNotNull(), prev_v)
            .when(prev_v.isNull(), F.lit(None))
            .otherwise(lerp)
        )
        if fill_zero:
            interp = F.coalesce(interp, F.lit(0.0))
        out = out.withColumn(v, interp)
    return out


# ----------------------------------------------------------------- EWMA

def ewma(
    df: DataFrame,
    pairs: Iterable[tuple[str, str, float]],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-key EWMA recurrences (OP-WIN-1; reference ``calculate_tsb``
    :255-274).

    ``pairs``: (input_col, output_col, n_days). Recurrence per SURVEY
    §2.3.5: ``y_t = x_t·α + y_{t−1}·(1−α)`` with ``α = 1−e^{−1/N}``,
    ``y_0 = 0``, rows ordered by date (reference loop :264-269). The
    recurrence is evaluated as an explicit float64 loop — bit-identical
    to a recursive-CTE oracle evaluating ``α·x + (1−α)·y`` — rather
    than pandas ``ewm``, whose adjust=False kernel divides by
    ``(1−α)+α`` and can drift an ulp per step.

    Executed per key cell via Arrow-batched ``applyInPandas`` — one
    shuffle on the key columns; each group is one-row-per-day (the
    reference's series are ~10³–10⁴ rows), far below task memory.
    """
    pairs = list(pairs)
    if not keys:
        df = df.withColumn("__g", F.lit(0))
        group_keys: list[str] = ["__g"]
    else:
        group_keys = list(keys)

    out_fields = [f for f in df.schema.fields] + [
        T.StructField(out_col, T.DoubleType(), True) for _, out_col, _ in pairs
    ]
    schema = T.StructType(out_fields)
    alphas = {out: ewma_alpha(n) for _, out, n in pairs}
    srcs = {out: src for src, out, _ in pairs}

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        for out_col, alpha in alphas.items():
            decay = 1.0 - alpha
            x = pdf[srcs[out_col]].fillna(0.0).to_numpy(dtype="float64")
            y = x.copy()
            acc = 0.0
            for i in range(len(x)):
                acc = alpha * x[i] + decay * acc
                y[i] = acc
            pdf[out_col] = y
        return pdf

    result = df.groupBy(*group_keys).applyInPandas(compute, schema=schema)
    if not keys:
        result = result.drop("__g")
    return result


def ewma_alpha(n_days: float) -> float:
    """α = 1 − e^(−1/N) (reference constants :93-100)."""
    return 1.0 - math.exp(-1.0 / n_days)


EWMA_SCAN_BLOCK = 32  # rows per prefix-scan segment


def ewma_scan(
    df: DataFrame,
    pairs: Iterable[tuple[str, str, float]],
) -> DataFrame:
    """EWMA of one unkeyed ``date`` series as a segmented prefix scan —
    pure built-ins, no Python.

    The ``ewma`` operator above runs each key's series through one
    ``applyInPandas`` task; this is the documented fallback when a
    single series outgrows a task (SURVEY §2.3.5): a blocked linear
    recurrence, fully distributed.

    Numerics: the naive rescaled form ``Σ x_i·d^{−i} · d^t`` overflows/
    loses precision because ``d^{−i}`` grows unboundedly. Blocking
    bounds every exponent:

    1. within an ``EWMA_SCAN_BLOCK``-row segment, local prefix
       ``pre_j = d^j · Σ_{i≤j} (α x_i d^{−i})`` uses exponents ≤ 32
       (d^{−31} ≈ 84 at N=7 — harmless);
    2. each block's closing state B_b feeds a block-level closed form
       ``S_b = Σ_{k≤b} B_k · d^{block·(b−k)}`` where every exponent is
       ≥ 0 (terms underflow to 0 exactly when they stop mattering) —
       computed with a range join over the tiny block-summary
       table (|blocks| = |series|/block rows);
    3. ``y = d^{j+1}·S_{b−1} + pre_j``.

    Differential-tested against ``ewma`` and hash-checked against the
    same recursive-CTE oracle as the applyInPandas path.
    """
    pairs = list(pairs)
    # the series is one group: a constant key the windows partition by
    df = df.withColumn("__g", F.lit(0))
    group_keys = ["__g"]

    w_rn = Window.partitionBy(*group_keys).orderBy("date")
    out_df = (
        df.withColumn("__rn", F.row_number().over(w_rn) - 1)
        .withColumn("__b", F.floor(F.col("__rn") / EWMA_SCAN_BLOCK).cast("int"))
        .withColumn("__j", (F.col("__rn") % EWMA_SCAN_BLOCK).cast("int"))
    )

    w_blk = (
        Window.partitionBy(*group_keys, "__b")
        .orderBy("__j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre_cols = {}
    for src, out, n in pairs:
        alpha = ewma_alpha(n)
        d = 1.0 - alpha
        u = (
            F.coalesce(F.col(src), F.lit(0.0)).cast("double")
            * F.lit(alpha)
            * F.pow(F.lit(d), -F.col("__j"))
        )
        pre = F.pow(F.lit(d), F.col("__j")) * F.sum(u).over(w_blk)
        pre_cols[out] = f"__pre_{out}"
        out_df = out_df.withColumn(pre_cols[out], pre)

    # Block summaries: the prefix value on each block's last row.
    w_b = Window.partitionBy(*group_keys, "__b")
    ends = (
        out_df.withColumn("__maxj", F.max("__j").over(w_b))
        .filter(F.col("__j") == F.col("__maxj"))
        .select(*group_keys, "__b", *[F.col(c).alias(f"__B_{o}") for o, c in pre_cols.items()])
    )

    # Cross-block states via range join over the tiny summary table:
    # S_b = Σ_{k≤b} B_k · d^{block·(b−k)}. Exponents ≥ 0 throughout.
    b1 = ends.select(*group_keys, F.col("__b").alias("__b1"))
    b2 = ends.select(
        *[F.col(k).alias(f"__k2_{k}") for k in group_keys],
        F.col("__b").alias("__b2"),
        *[F.col(f"__B_{o}") for o in pre_cols],
    )
    cond = [F.col(k) == F.col(f"__k2_{k}") for k in group_keys] + [
        F.col("__b2") <= F.col("__b1")
    ]
    state_aggs = []
    for (src, out, n) in pairs:
        d = 1.0 - ewma_alpha(n)
        term = F.col(f"__B_{out}") * F.pow(
            F.lit(d), F.lit(float(EWMA_SCAN_BLOCK)) * (F.col("__b1") - F.col("__b2"))
        )
        state_aggs.append(F.sum(term).alias(f"__S_{out}"))
    states = (
        b1.join(b2, cond)
        .groupBy(*group_keys, "__b1")
        .agg(*state_aggs)
        # rows consume the PREVIOUS block's state
        .select(
            *group_keys, (F.col("__b1") + 1).alias("__b"),
            *[F.col(f"__S_{o}") for o in pre_cols],
        )
    )

    out_df = out_df.join(F.broadcast(states), [*group_keys, "__b"], "left")
    for src, out, n in pairs:
        d = 1.0 - ewma_alpha(n)
        carry = F.pow(F.lit(d), F.col("__j") + 1) * F.coalesce(
            F.col(f"__S_{out}"), F.lit(0.0)
        )
        out_df = out_df.withColumn(out, carry + F.col(pre_cols[out]))

    drop = ["__rn", "__b", "__j", "__maxj", *pre_cols.values(),
            *[f"__S_{o}" for o in pre_cols], "__g"]
    return out_df.drop(*[c for c in drop if c in out_df.columns])


def tsb(df: DataFrame, ctl: str = "ctl", atl: str = "atl", out: str = "tsb") -> DataFrame:
    """Training-stress balance: form stress = fitness − fatigue (:269)."""
    return df.withColumn(out, F.col(ctl) - F.col(atl))


# ------------------------------------------------- rolling stats (7-row)

def rolling_monotony_strain(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    prefix: str = "",
) -> DataFrame:
    """7-row rolling mean/std/sum → monotony & strain (OP-WIN-2).

    Pandas semantics reproduced exactly (reference :285-302, SURVEY
    §2.3.7): sample std (ddof=1), std clipped to ≥0.01 *before*
    dividing, single-row window → std NULL → monotony 0, and
    ``strain = rolling_sum(7) · monotony``. Pure window functions — no
    UDF, one sort per key partition.
    """
    w7 = (
        Window.partitionBy(*keys).orderBy("date").rowsBetween(-6, 0)
        if keys
        else Window.orderBy("date").rowsBetween(-6, 0)
    )
    mean7 = F.avg(value_col).over(w7)
    std7 = F.stddev_samp(value_col).over(w7)
    sum7 = F.sum(value_col).over(w7)
    monotony = F.when(std7.isNull(), F.lit(0.0)).otherwise(
        mean7 / F.greatest(std7, F.lit(0.01))
    )
    return (
        df.withColumn(f"{prefix}monotony", monotony)
        .withColumn(f"{prefix}strain", sum7 * F.col(f"{prefix}monotony"))
    )

"""Slowly-changing-dimension maintenance (SCD type 2) without MERGE.

The reference's only update story is point-UPDATE-by-key
(populate_from_json.py:270-274,295-302 — OP-SNK-2), which loses
history. Warehouses tracking dimension changes over time (equipment
renamed, athlete changes teams) need versioned rows instead. Spark has
no MERGE INTO on plain parquet, so the standard emulation is
anti-join + union + window, expressed here declaratively:

- rows whose tracked attributes changed get CLOSED (``effective_to`` =
  batch timestamp, ``is_current`` = false) and a NEW open version
  appended;
- genuinely new keys get an open version;
- no-op updates (tracked attributes identical) are ignored;
- untouched history passes through byte-identical.

Scale shape: ONE equi-join of the update batch against only the OPEN
slice of the dimension (history is never joined), one union, zero
windows — the dimension never shuffles more than once, and at 100 TB
the open slice is the small side (broadcastable when the batch is the
fact-sized side, or vice versa).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    batch_ts: str,
) -> DataFrame:
    """Apply one update batch to an SCD2 dimension table.

    ``dim`` carries (key_cols, tracked_cols, effective_from, effective_to,
    is_current); ``updates`` carries (key_cols, tracked_cols) — one row
    per key. A batch holding several rows for a key would silently open
    multiple current versions, so duplicates are rejected here (dedupe
    upstream with an explicit precedence rule instead — this operator
    cannot guess which row wins). ``batch_ts`` is the ISO timestamp
    stamped on closures and new versions, passed explicitly so replays
    are deterministic.
    """
    if not tracked_cols:
        raise ValueError("tracked_cols must be non-empty")
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    out_cols = [*keys, *tracked_cols,
                "effective_from", "effective_to", "is_current"]
    ts = F.lit(batch_ts).cast("timestamp")

    open_slice = dim.filter(F.col("is_current"))
    closed_slice = dim.filter(~F.col("is_current"))

    # One-row-per-key enforcement, kept lazy: aggregate the (small)
    # update batch by key and plant a raise_error that fires at action
    # time naming the offending key. A duplicate key would otherwise
    # fan out through the full-outer join and open several current
    # versions at once.
    dup_msg = F.concat(
        F.lit("scd2_merge: duplicate key in update batch: ("),
        F.concat_ws(", ", *[F.col(c).cast("string") for c in keys]),
        F.lit(")"),
    )
    updates = (
        updates.groupBy(*keys)
        .agg(
            *[F.first(c).alias(c) for c in tracked_cols],
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            *keys,
            *[
                F.when(F.col("__n") == 1, F.col(c))
                .otherwise(F.raise_error(dup_msg))
                .alias(c)
                for c in tracked_cols
            ],
        )
    )

    # full outer on the key-name list unifies key columns; presence
    # markers classify each key's fate (name-list join coalesces keys,
    # so side nullability cannot be read off the keys themselves)
    d = open_slice.withColumn("__in_dim", F.lit(True)).alias("d")
    u = updates.withColumn("__in_upd", F.lit(True)).alias("u")
    joined = d.join(u, keys, "full_outer")
    in_dim = F.col("__in_dim").isNotNull()
    in_upd = F.col("__in_upd").isNotNull()

    changed_pred = None
    for c in tracked_cols:
        p = ~F.col(f"d.{c}").eqNullSafe(F.col(f"u.{c}"))
        changed_pred = p if changed_pred is None else (changed_pred | p)

    untouched_open = joined.filter(
        in_dim & (~in_upd | ~changed_pred)
    ).select(
        *keys,
        *[F.col(f"d.{c}").alias(c) for c in tracked_cols],
        F.col("effective_from"), F.col("effective_to"), F.col("is_current"),
    )

    closures = joined.filter(in_dim & in_upd & changed_pred).select(
        *keys,
        *[F.col(f"d.{c}").alias(c) for c in tracked_cols],
        F.col("effective_from"),
        ts.alias("effective_to"),
        F.lit(False).alias("is_current"),
    )

    new_versions = joined.filter(
        in_upd & (~in_dim | changed_pred)
    ).select(
        *keys,
        *[F.col(f"u.{c}").alias(c) for c in tracked_cols],
        ts.alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )

    return (
        closed_slice.select(*out_cols)
        .unionByName(untouched_open)
        .unionByName(closures)
        .unionByName(new_versions)
    )

"""Skew-mitigation utilities: key salting for aggregations and joins.

AQE's skew-join splitting (on in `session.py`) handles most runtime
skew; these helpers are for the cases AQE cannot fix:

- ``salted_agg``: a groupBy where one key holds a huge share of rows
  (power-law user/event keys at 100 TB). Two-level: aggregate on
  (key, salt) first — map-side combine now spreads the hot key over
  ``n_salts`` reducers — then merge the per-salt partials. Any
  algebraic aggregate decomposes this way (same partial/final split as
  ``cube_lattice_two_level``).
- ``skew_split_join``: a fact ⋈ fact join where a few keys hold most
  rows — the hot keys (``detect_hot_keys``) join against a broadcast
  of the right side's hot slice, the cold keys take the ordinary
  shuffled join.

Salting trades one extra (cheap, |keys|·n_salts-row) shuffle for
eliminating the straggler task; it is NOT free and should only wrap
aggregations with measured hot keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame,
    n_salts: int,
    col_name: str = "__salt",
    cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic row-level salt in [0, n_salts): a content hash of a
    stable column set (retry-stable, unlike monotonic ids). Pass
    ``cols`` to hash a small distinguishing subset — on wide rows,
    hashing every column costs real CPU per row for no extra spread."""
    return df.withColumn(
        col_name,
        F.pmod(F.xxhash64(*(cols or df.columns)), F.lit(n_salts)).cast("int"),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partials: list[Column],
    finals: list[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-level aggregation that spreads hot keys over ``n_salts``
    reducers.

    ``partials`` aggregate at (keys, salt) grain; ``finals`` merge the
    per-salt partial columns at (keys) grain. Example::

        salted_agg(df, ["user_id"],
                   partials=[F.count(F.lit(1)).alias("n_p"),
                             F.sum("value").alias("v_p")],
                   finals=[F.sum("n_p").alias("n"),
                           F.sum("v_p").alias("value")])
    """
    salted = with_salt(df, n_salts)
    stage1 = salted.groupBy(*keys, "__salt").agg(*partials)
    return stage1.groupBy(*keys).agg(*finals)


def detect_hot_keys(
    df: DataFrame, key: str, threshold_frac: float = 0.05, max_keys: int = 64,
) -> list:
    """Planning-time hot-key detection: ONE map-side-combined shuffle of
    |keys| count rows, then only the ≤``max_keys`` keys holding more
    than ``threshold_frac`` of all rows come back to the driver. The
    count pass is a real cost — call once and reuse the list (or pass
    known hot keys straight to ``skew_split_join``)."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    total = df.count()
    rows = (
        counts.filter(F.col("__n") > threshold_frac * total)
        .orderBy(F.col("__n").desc())
        .limit(max_keys)
        .collect()
    )
    return [r[key] for r in rows]


def skew_split_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    hot_keys: list | None = None,
    how: str = "inner",
    threshold_frac: float = 0.05,
) -> DataFrame:
    """Fact⋈fact join under heavy key skew, split by key temperature:

    - COLD keys take the ordinary shuffled sort-merge join — skew-free
      by construction, since the hot keys are gone from both sides.
    - HOT keys join against a BROADCAST of the right side's hot-key
      slice — the hot left rows never shuffle at all, so the straggler
      task cannot exist.

    Preconditions (documented, not checked): the right side holds a
    broadcastable number of rows for the hot keys (true for the
    power-law case this exists for — few keys, huge LEFT fan-out), and
    ``how`` is inner/left (right/full would need the hot-right
    anti-slice unioned back).

    This is the manual twin of AQE's skew-join splitting: AQE splits a
    skewed SHUFFLE partition into parallel sub-reads at runtime, which
    fixes stragglers within a sort-merge join; the split join removes
    the hot shuffle entirely and is the shape to reach for when one key
    alone exceeds what a single executor should even receive.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError("skew_split_join supports inner/left joins")
    if hot_keys is None:
        hot_keys = detect_hot_keys(left, on, threshold_frac)
    if not hot_keys:
        return left.join(right, on, how)
    is_hot = F.col(on).isin([k for k in hot_keys])
    cold = left.filter(~is_hot).join(right.filter(~is_hot), on, how)
    hot = left.filter(is_hot).join(
        F.broadcast(right.filter(is_hot)), on, how
    )
    return cold.unionByName(hot)

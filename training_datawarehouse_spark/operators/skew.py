"""Skew mitigation: key salting for aggregations.

AQE's skew-join splitting (on in `session.py`) handles most runtime
skew; ``salted_agg`` is for a groupBy where one key holds a huge share
of rows (power-law user/event keys at 100 TB), which AQE cannot fix.
Two-level: aggregate on (key, salt) first — map-side combine now
spreads the hot key over ``n_salts`` reducers — then merge the per-salt
partials. Any algebraic aggregate decomposes this way (same
partial/final split as ``cube_lattice_two_level``).

Salting trades one extra (cheap, |keys|·n_salts-row) shuffle for
eliminating the straggler task; it is NOT free and should only wrap
aggregations with measured hot keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Deterministic row-level salt ``__salt`` in [0, n_salts): a
    content hash of every column (retry-stable, unlike monotonic
    ids)."""
    return df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int"),
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

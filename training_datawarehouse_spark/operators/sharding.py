"""Deterministic training-shard order — the last step of data prep.

Training wants the corpus in pseudo-random order (break domain/time
correlation) split into N shards, and wants the order REPRODUCIBLE:
re-running the pipeline must assign the same shard and position to
every row, and changing the seed must produce an unrelated order. Both
follow from deriving everything from ``md5(seed ':' id)``:

- shard assignment = first hash byte mod n_shards (scan-only, no state),
- order within a shard = the hash string itself (id as tiebreak).

At scale this is ONE shuffle (the rank window partitions by shard) plus
a sort WITHIN each shard — never a global sort. ``df.orderBy(rand())``
gives neither determinism nor a bounded sort; this gives both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _seeded_key(id_col: str, seed: str) -> Column:
    return F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))


def training_order(
    df: DataFrame, id_col: str, seed: str = "s0", n_shards: int = 8
) -> DataFrame:
    """Adds ``tshard`` (0..n_shards) and ``tshard_pos`` (0-based rank of
    the seeded hash within the shard). The rank window partitions by
    shard — its sort is exactly the per-shard sort the writer needs, so
    it costs nothing extra at write time."""
    key = _seeded_key(id_col, seed)
    shard = (
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int") % n_shards
    ).alias("tshard")
    w = Window.partitionBy("tshard").orderBy(F.col("__tkey"), F.col(id_col))
    return (
        df.withColumn("__tkey", key)
        .withColumn("tshard", shard)
        .withColumn("tshard_pos", F.row_number().over(w) - F.lit(1))
        .drop("__tkey")
    )

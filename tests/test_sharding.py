"""Training-shard order: determinism, seed sensitivity, dense positions."""

from __future__ import annotations

from pyspark.sql import functions as F

from training_datawarehouse_spark.operators.sharding import training_order


def _docs(spark, n=300):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("payload")
    )


def test_training_order_is_deterministic_and_layout_stable(spark):
    df = _docs(spark)
    a = {(r["doc_id"], r["tshard"], r["tshard_pos"])
         for r in training_order(df, "doc_id", seed="s1").collect()}
    b = {(r["doc_id"], r["tshard"], r["tshard_pos"])
         for r in training_order(df.repartition(7), "doc_id", seed="s1").collect()}
    assert a == b


def test_different_seed_reshuffles(spark):
    df = _docs(spark)
    a = {r["doc_id"]: (r["tshard"], r["tshard_pos"])
         for r in training_order(df, "doc_id", seed="s1").collect()}
    b = {r["doc_id"]: (r["tshard"], r["tshard_pos"])
         for r in training_order(df, "doc_id", seed="s2").collect()}
    assert sum(a[d] != b[d] for d in a) > len(a) // 2


def test_positions_are_dense_per_shard(spark):
    out = training_order(_docs(spark), "doc_id", seed="s1", n_shards=4).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["tshard"], []).append(r["tshard_pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for pos in by_shard.values():
        assert sorted(pos) == list(range(len(pos)))

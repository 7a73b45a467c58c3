"""Distributed trained quality classifier (charter extension; no
reference implementation — SURVEY §2.2 training-pipeline surface).

The fasttext-style corpus-filtering step real LLM pipelines run: train
a linear classifier on weak provenance labels (curated domains = 1,
everything else = 0) over hashing-trick n-gram features, then score
every document — all in DataFrame ops, no MLlib, no UDFs, so the
whole fit is expressible in the DuckDB oracle and hash-checkable.

Shape (100 TB): the feature store is DOC-GRAIN and ROW-LOCAL — one row
per document carrying its bigram-bucket occurrence array (bias
appended as an always-present element), built by ONE corpus scan with
no shuffle and no join, persisted once (the k-means pattern: cache the
slim projection, never the corpus). Margins and residuals are
row-local array folds against the weight-array literal, so a
full-batch gradient-descent epoch is ONE distributed pass whose only
exchange is the gradient groupBy(bucket) — map-side combinable,
≤ buckets+1 rows after partial aggregation — and only buckets+1 floats
return to the driver to become the next epoch's literals (scalar-only
driver traffic, like Lloyd's). The bias element makes one aggregation
train weights AND bias (its occurrence count doubles as the corpus
size, so no separate count job), and featureless documents still
score. Final scoring is row-local: no join, no shuffle, materialized
via localCheckpoint so the training cache releases before the scored
frame returns.

Cross-engine determinism: weights round to 8 dp per epoch in BOTH
engines (driver-side ``round_half_away`` here — operation-for-
operation DuckDB DOUBLE ``round(x, 8)``: half away from zero on the
scaled double product, the k-means centroid discipline), so each
epoch's inputs are identical doubles even on exact dyadic midpoints
and float-sum ordering can't drift the fit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_away
from .text import hash_bucket


def logreg_quality(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_flag: Column,
    n_buckets: int = 256,
    epochs: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Train + score a logistic-regression quality classifier on
    hashed-bigram counts with ``epochs`` unrolled full-batch GD steps
    (w ← round(w + lr/N · Σᵢ xᵢ(yᵢ − σ(w·xᵢ)), 8), starting from 0).

    Returns (id_col, lrq_score, lrq_pred): σ(w·x) rounded 1e-6 and the
    ≥0.5 decision ON THE ROUNDED SCORE (so the threshold compares
    identical values in both engines). md5 feature buckets keep the
    oracle in DuckDB.
    """
    bias_bkt = n_buckets  # one extra slot: the always-on bias feature

    # Doc-grain, fully ROW-LOCAL feature layout: one row per document
    # carrying its bigram-bucket OCCURRENCE array (bias appended as an
    # always-present element). No shuffle and no join builds the
    # cached frame — it is one corpus scan. Occurrence lists replace
    # (bucket, count) pairs: sum_b x_ib * w_b over counts equals the
    # plain sum over occurrences, so margins are a row-local array
    # fold and each epoch's ONLY exchange is the gradient
    # groupBy(bucket) — map-side combinable, <= buckets+1 rows after
    # partial aggregation; only buckets+1 floats reach the driver per
    # epoch (scalar-only traffic, like Lloyd's). Two earlier cuts of
    # this operator were measured slower: a per-epoch join of the
    # exploded feature stream back to the doc frame (id-shuffles
    # dominated), then a (bucket -> count) map build (three shuffles
    # plus a join just to materialize the cache).
    tk = F.split(F.col(text_col), " ")
    n1 = F.size(tk) - 1
    bkts = F.when(
        n1 < 1, F.array().cast("array<int>")
    ).otherwise(
        F.zip_with(
            F.slice(tk, 1, n1), F.slice(tk, 2, n1),
            lambda a, b: hash_bucket(
                F.concat(a, F.lit(" "), b), n_buckets
            ).cast("int"),
        )
    )
    work = docs.select(
        F.col(id_col).alias("__id"),
        label_flag.cast("int").alias("y"),
        F.concat(bkts, F.array(F.lit(bias_bkt))).alias("bk"),
    ).persist()

    def with_margin(frame: DataFrame, weights: list[float]) -> DataFrame:
        # Bind the weight-array literal to a COLUMN before the fold:
        # expressions referenced inside a higher-order lambda are
        # re-evaluated PER ELEMENT (no constant folding / CSE inside
        # lambdas — the SCALE.md trap); a column reference is bound
        # once per row. F.lit(list) stays a single array Literal
        # (an F.array of 257 children would re-generate+recompile the
        # whole-stage codegen every epoch).
        return frame.withColumn("__w", F.lit(weights)).withColumn(
            "__m",
            F.aggregate(
                "bk", F.lit(0.0),
                lambda acc, b: acc + F.element_at(F.col("__w"), b + 1),
            ),
        )

    try:
        w = [0.0] * (n_buckets + 1)
        n_docs = None
        for _ in range(epochs):
            r = (
                F.col("y").cast("double")
                - F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))
            )
            grads = (
                with_margin(work, w)
                .select(r.alias("r"), F.explode("bk").alias("bkt"))
                .groupBy("bkt")
                .agg(
                    F.sum("r").alias("g"),
                    F.count(F.lit(1)).alias("cnt"),
                )
                .collect()
            )
            if n_docs is None:
                # the bias element appears exactly once per document,
                # so its occurrence count IS the corpus size — no
                # separate count() job
                n_docs = next(
                    int(row["cnt"]) for row in grads
                    if row["bkt"] == bias_bkt
                )
            for row in grads:
                w[row["bkt"]] = round_half_away(
                    w[row["bkt"]] + lr / n_docs * row["g"], 8
                )

        score = F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m"))), 6
        )
        # Scoring is row-local over the cached frame; materialize it
        # (localCheckpoint truncates the lineage) so the cache can be
        # released without the returned plan recomputing through a
        # dropped persist.
        return (
            with_margin(work, w)
            .select(
                F.col("__id").alias(id_col),
                score.alias("lrq_score"),
                (score >= 0.5).alias("lrq_pred"),
            ).localCheckpoint(eager=True)
        )
    finally:
        work.unpersist()


def logreg_oracle_ctes(
    label_sql: str,
    bucket_rows_sql: str,
    n_buckets: int = 256,
    epochs: int = 3,
    lr: float = 0.5,
) -> str:
    """DuckDB CTE chain that RETRAINS the identical classifier: the
    same feature stream, the same unrolled epochs, the same 8-dp
    per-epoch weight rounding — emitting ``lrq(doc_id, lrq_score,
    lrq_pred)``. ``label_sql`` is the boolean weak-label expression
    over ``documents d``; ``bucket_rows_sql`` a query yielding one
    (doc_id, bkt) row per n-gram occurrence (callers typically reuse
    the DSIR bucket stream — same hashing trick, written once).
    CTEs referenced once per epoch are MATERIALIZED — inlined CTE
    chains re-evaluate exponentially (the BPE-oracle lesson).
    """
    bias = n_buckets
    parts = [
        f"""lrx AS MATERIALIZED (
  SELECT doc_id, bkt, count(*)::DOUBLE AS x
  FROM ({bucket_rows_sql}) GROUP BY doc_id, bkt
  UNION ALL
  SELECT doc_id, {bias} AS bkt, 1.0 AS x FROM documents
),
lry AS MATERIALIZED (
  SELECT d.doc_id, (CASE WHEN {label_sql} THEN 1 ELSE 0 END)::INT AS y
  FROM documents d
),
lrn AS (SELECT count(*)::DOUBLE AS n FROM documents),
lrw0 AS MATERIALIZED (
  SELECT unnest(range(0, {n_buckets + 1})) AS bkt, 0.0::DOUBLE AS w
)"""
    ]
    for e in range(1, epochs + 1):
        parts.append(f"""lrm{e} AS MATERIALIZED (
  SELECT f.doc_id, sum(w.w * f.x) AS m
  FROM lrx f JOIN lrw{e - 1} w USING (bkt) GROUP BY f.doc_id
),
lrr{e} AS MATERIALIZED (
  SELECT y.doc_id, y.y - 1.0 / (1.0 + exp(-m.m)) AS r
  FROM lry y JOIN lrm{e} m USING (doc_id)
),
lrg{e} AS MATERIALIZED (
  SELECT f.bkt, sum(f.x * r.r) AS g
  FROM lrx f JOIN lrr{e} r USING (doc_id) GROUP BY f.bkt
),
lrw{e} AS MATERIALIZED (
  SELECT w.bkt, round(w.w + {lr} / lrn.n * coalesce(g.g, 0.0), 8) AS w
  FROM lrw{e - 1} w LEFT JOIN lrg{e} g USING (bkt) CROSS JOIN lrn
)""")
    parts.append(f"""lrq AS MATERIALIZED (
  SELECT m.doc_id,
         round(1.0 / (1.0 + exp(-m.m)), 6) AS lrq_score,
         round(1.0 / (1.0 + exp(-m.m)), 6) >= 0.5 AS lrq_pred
  FROM (SELECT f.doc_id, sum(w.w * f.x) AS m
        FROM lrx f JOIN lrw{epochs} w USING (bkt) GROUP BY f.doc_id) m
)""")
    return ",\n".join(parts)

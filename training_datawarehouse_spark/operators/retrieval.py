"""Lexical ranked retrieval (BM25) and hybrid rank fusion (RRF).

Charter extension (no reference implementation — the reference's query
surface stops at relational operators): a training-data pipeline needs
corpus SEARCH as much as dedup — eval-set curation ("find the docs
about X"), decontamination triage, and hybrid lexical+vector retrieval
for RAG-style data selection. Two public methods, re-expressed
Spark-first:

- **BM25** (Robertson et al., TREC-3; the Lucene-default scoring
  function): ``score(q, d) = Σ_t idf(t) · tf·(k1+1) /
  (tf + k1·(1 − b + b·|d|/avgdl))`` with
  ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))``.
- **Reciprocal-rank fusion** (Cormack et al. 2009): fuse two rankings
  by ``Σ 1/(60 + rank)`` — the standard hybrid-search combiner.

Plan shape at 100 TB:

- Non-query tokens are dropped BEFORE any shuffle, so the
  inverted-index grain ``(doc, term, tf)`` is built only for matching
  terms. Two tested prune paths (``bm25_scores(prune=...)``): a
  literal IN-list pushed inside the token array (pre-explode — small
  vocabularies) and a broadcast semi-join on the exploded stream
  (unbounded / 10^4+-term query sets); either way the groupBy's input
  is the matched slice, not the corpus.
- Document length rides each token row (``size(split)`` is row-local)
  so tf and |d| come out of ONE aggregation — no doc-grain join back.
- df/idf is a per-term table bounded by the query vocabulary →
  broadcast. Corpus stats (N, avgdl) are a 1-row frame → broadcast
  cross join. (A production deployment keeps N/avgdl as table
  metadata; computing them here costs one narrow scan of the token
  column.)
- Top-k is TWO-LEVEL: a partial top-k inside ``n_shards`` hash shards
  of the doc space, then the final top-k over ``n_shards·k``
  candidates — a single global window per query would funnel every
  matching document of a 100 TB corpus through one partition.
  Scores round to 6 dp BEFORE ranking and ties break on neighbor id.
  Residual cross-engine flake class: a multi-term score is a float
  SUM whose addend order differs between Spark's partial aggregation
  and DuckDB, so a last-ulp difference can in principle land on a
  6-dp midpoint and flip a rank — rare (needs the sum to sit within
  one ulp of a midpoint), unlike the RRF sum which is deliberately
  two-addend order-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75
RRF_C = 60  # the fusion constant from Cormack et al. 2009
# Above this many distinct query terms, prune="auto" switches from the
# literal IN-list (pushed inside the token array, pre-explode) to a
# broadcast semi-join on the exploded stream. Measured (SCALE.md r8):
# the per-row cost of a big IN-list is NOT the hazard — Catalyst's
# OptimizeIn rewrites it to an InSet hash probe (10⁴ terms at 100×
# docs: 21.4 s inlist vs 23.0 s semijoin). What the semijoin path
# buys at large query sets is (a) no driver collect of the vocabulary
# (works for unbounded/derived/streaming query frames), and (b) no
# hundreds-of-KB literal expression tree re-analyzed and re-codegen'd
# per query set. 256 keeps the common small-query case on the
# zero-join plan while capping plan-size growth.
BM25_INLIST_MAX_TERMS = 256


def _tokens(text_col):
    return F.split(F.lower(F.col(text_col)), " ")


def bm25_scores(
    docs: DataFrame,
    qmap: DataFrame,
    prune: str = "auto",
) -> DataFrame:
    """Score every ``docs(doc_id, text)`` row against every query in
    ``qmap(query_id, term)`` (a tiny frame — literal or derived — that
    broadcasts).
    Returns ``(query_id, neighbor_id, score)`` for documents matching
    ≥1 query term; ``score`` is rounded to 6 dp. One corpus token
    scan builds tf+|d|; one narrow scan computes (N, avgdl).

    ``prune`` selects how non-query tokens are dropped (both paths
    produce byte-identical scores — parity-tested):

    - ``"inlist"``: collect the query vocabulary to the driver
      (bounded by the query set, not the corpus) and push it INSIDE
      the token array as a literal IN-list filter, so the explode
      emits only MATCHING occurrences — at web scale that is the
      difference between exploding every token of the corpus and
      exploding the posting entries the queries can touch.
    - ``"semijoin"``: explode all tokens and broadcast-LEFT-SEMI-join
      the distinct-term frame. The explode is corpus-wide but never
      leaves the map side (the semi-join is a broadcast probe feeding
      the same map-side-combinable groupBy), no driver collect — the
      path for unbounded / derived / 10^4+-term query sets.
    - ``"auto"`` (default): ``"inlist"`` when the distinct vocabulary
      is ≤ ``BM25_INLIST_MAX_TERMS``, else ``"semijoin"``.
    """
    if prune not in ("auto", "inlist", "semijoin"):
        raise ValueError(f"prune must be auto|inlist|semijoin, got {prune!r}")
    toks = _tokens("text")
    # Query-term contract (r8 review): terms are lowercased to match
    # the lowercased token stream (an uppercase query term would
    # silently match nothing), NULL terms are dropped in BOTH paths
    # (the inlist collect would otherwise crash in sorted() while the
    # semijoin silently dropped them — path-dependent behavior), and
    # (query_id, term) pairs are DEDUPLICATED: the docstring pins the
    # Lucene-default simplified BM25 with no query-term-frequency
    # weighting, so a duplicated pair must not double a term's
    # contribution.
    qmap = (
        qmap.where(F.col("term").isNotNull())
        .select("query_id", F.lower(F.col("term")).alias("term"))
        .distinct()
    )
    if prune == "auto":
        # BOUNDED probe (r8 review): collect at most threshold+1
        # distinct terms — enough to decide the branch, and, when
        # under the threshold, already the complete inlist vocabulary.
        # An unbounded/derived query frame never floods the driver
        # just so auto can pick 'semijoin'.
        rows = (
            qmap.select("term").distinct()
            .limit(BM25_INLIST_MAX_TERMS + 1).collect()
        )
        if len(rows) > BM25_INLIST_MAX_TERMS:
            prune = "semijoin"
        else:
            terms = sorted(r["term"] for r in rows)
            prune = "inlist"
    elif prune == "inlist":
        # explicit inlist: the caller asked for the literal plan, so
        # the FULL vocabulary is collected regardless of size
        terms = sorted(
            r["term"] for r in qmap.select("term").distinct().collect()
        )
    if prune == "inlist":
        matched = F.filter(toks, lambda t: t.isin(terms))
        tok_rows = docs.select(
            F.col("doc_id").alias("__doc"),
            F.size(toks).alias("__dl"),
            F.explode(matched).alias("term"),
        )
    else:
        tok_rows = docs.select(
            F.col("doc_id").alias("__doc"),
            F.size(toks).alias("__dl"),
            F.explode(toks).alias("term"),
        ).join(
            F.broadcast(qmap.select("term").distinct()), "term", "left_semi"
        )
    # tf + doc length out of ONE aggregation over the matched slice
    tf = tok_rows.groupBy("__doc", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("__dl").alias("dl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.size(toks)).alias("__avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sat = (
        F.col("tf") * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B)
               + F.lit(BM25_B) * F.col("dl") / F.col("__avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("__doc", "term", (idf * sat).alias("__c"))
        .join(F.broadcast(qmap), "term")
        .groupBy("query_id", F.col("__doc").alias("neighbor_id"))
        .agg(F.round(F.sum("__c"), 6).alias("score"))
    )


def topk_per_query(
    scored: DataFrame,
    k: int,
    n_shards: int = 32,
) -> DataFrame:
    """Two-level top-k per query over ``(query_id, neighbor_id,
    score)``: partial top-k inside hash shards of the neighbor space
    (bounds any one partition to its shard's rows), final top-k over
    the ≤ ``n_shards·k`` survivors. Deterministic: ties break on
    neighbor_id asc; callers must pre-round the score. Sharding hashes
    the id (``xxhash64``) so any orderable id type works — shard
    assignment never affects the result, only which partial window a
    row rides (partial top-k per disjoint shard + exact final top-k is
    correct for ANY sharding)."""
    shard = F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(n_shards))
    order = [F.col("score").desc(), F.col("neighbor_id")]
    partial = Window.partitionBy("query_id", shard).orderBy(*order)
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__pr", F.row_number().over(partial))
        .filter(F.col("__pr") <= k)
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def rrf_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    k: int,
) -> DataFrame:
    """Reciprocal-rank fusion of two ``(query_id, rank, neighbor_id)``
    rankings: ``score = Σ_lists 1/(RRF_C + rank)`` (a document absent from
    one list simply contributes nothing — the standard convention),
    rounded to 6 dp, re-ranked to the top ``k``. Two addends, so the
    double sum is order-exact across engines."""
    a = rank_a.select("query_id", "neighbor_id", F.col("rank").alias("__ra"))
    b = rank_b.select("query_id", "neighbor_id", F.col("rank").alias("__rb"))
    fused = (
        a.join(b, ["query_id", "neighbor_id"], "full")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(float(RRF_C)) + F.col("__ra")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(float(RRF_C)) + F.col("__rb")), F.lit(0.0)
                ),
                6,
            ).alias("score"),
        )
    )
    return topk_per_query(fused, k)


def mlt_query_terms(
    docs: DataFrame,
    max_terms: int = 8,
) -> DataFrame:
    """More-like-this query derivation: a query document's terms are
    the first ``max_terms`` of its SORTED distinct tokens — a
    deterministic rule both engines can recompute (no tf-weighted
    'interesting terms' heuristic, which would need its own oracle).
    Returns ``(query_id, term)``; callers pre-filter ``docs`` to the
    query slice (tiny → broadcasts downstream)."""
    toks = _tokens("text")
    return docs.select(
        F.col("doc_id").alias("query_id"),
        F.explode(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, max_terms)
        ).alias("term"),
    )

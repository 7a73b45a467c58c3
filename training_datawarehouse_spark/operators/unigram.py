"""Unigram-LM (SentencePiece-style) subword tokenizer training.

The second of the two published subword-vocabulary algorithms (Kudo
2018, "Subword Regularization: Improving Neural Network Translation
Models with Multiple Subword Candidates" — the SentencePiece unigram
model), beside BPE (``operators/bpe.py``). Where BPE greedily MERGES,
the unigram model fits piece probabilities by EM over ALL possible
segmentations of each word:

1. **Seed a candidate vocabulary** from corpus substrings: every
   single character plus the top-(V − |chars|) multi-character
   substrings (length ≤ P) by occurrence-weighted frequency with a
   deterministic (count desc, piece asc) tie-break — the paper's
   "make a reasonably big seed vocabulary" step, deterministic so
   another engine can re-derive it.
2. **EM, fixed iterations.** E-step: per word, forward/backward sums
   α/β over all segmentations (α[j] = Σ_{l≤P} α[j−l]·p(w[j−l+1..j]))
   give each piece occurrence its EXPECTED count
   α[i]·p·β[i+l]/α[L], weighted by the word's corpus count. M-step:
   p(q) = count(q)/Σcounts, floored at 1e-6 (smoothing — a piece
   whose 6-dp-rounded expectation hits zero must not make a word
   unsegmentable next iteration). SOFT EM is chosen deliberately
   over Viterbi hard-EM: expectations are pure arithmetic with NO
   argmax, so there is no segmentation tie-break to reconcile
   across engines.
3. **Score documents** with the trained model: per word, the total
   segmentation likelihood Z = α[L] gives ``nll = −ln Z`` and the
   expected piece count E[#pieces] = Σ occurrence-expectations; per
   document these sum over word occurrences.

Spark-first shape (the BPE discipline, ``bpe.py`` two-phase): the
corpus is touched ONCE (the word-frequency aggregation — map-side
combinable, vocabulary-sized output, collected to the driver once by
``bpe.collect_word_counts`` and shared with the BPE and WordPiece
trainers, less the words over 127 characters); the EM loop then runs
driver-side over the (word, count) table, as reference trainers hold
it. Scoring is a
broadcast join of the (vocabulary-sized) per-word stats table — no
per-document DP replay.

Cross-engine exactness contract (every value hash-checks): α/β/e are
IEEE doubles computed in a pinned operation order (l ascending,
((α·p)·β)/Z), expectations are 6-dp-rounded AT THE OCCURRENCE GRAIN
and summed as exact micro-unit longs (so neither engine's float
aggregation order matters), probabilities round to 6 dp at every
M-step (the ``kmeans_fit`` discipline), and the learned model is
stamped as a constant ``ulm_vocab`` tag column so the DuckDB oracle
must RETRAIN the identical model piece-for-piece
(``unigram_oracle_ctes`` unrolls the EM passes as sliding-window
recursive CTEs).

Reference parity note: no reference implementation (charter
extension; the reference's closest surface is the token-count mapper
family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..functions.crossing import local_frame
from ..functions.scalars import round_half_away

#: trainable-word alphabet: the BPE [a-z]+ rule (``bpe.WORD_RE``) PLUS
#: an explicit 127-char length cap — the oracle's position/length
#: expansion uses constant-bound ranges (DuckDB's range() cannot take a
#: lateral column bound), so the length bound is part of the
#: cross-engine contract, not an implementation detail
ULM_WORD_RE = "^[a-z]{1,127}$"
ULM_WORD_RE_SQL = "^[a-z]{1,127}$"

#: probability floor applied after every M-step (and at init):
#: a 6-dp-rounded expectation of 0 must not zero a piece that some
#: word needs to stay segmentable
P_FLOOR = 1e-6


def _micro(v: float) -> int:
    """6-dp round, then exact integer micro-units — the order-free
    cross-engine aggregation discipline (SQL twin:
    ``CAST(round(round(v, 6) * 1e6) AS BIGINT)``)."""
    return int(round_half_away(round_half_away(v, 6) * 1e6, 0))


def _alpha_beta(w: str, probs: dict, max_len: int):
    """Forward/backward total-probability passes over all
    segmentations of ``w``. Operation order is pinned (l ascending,
    left-assoc adds) to match the SQL twin exactly."""
    L = len(w)
    alpha = [1.0] + [0.0] * L
    for j in range(1, L + 1):
        s = 0.0
        for l in range(1, min(max_len, j) + 1):
            s += alpha[j - l] * probs.get(w[j - l:j], 0.0)
        alpha[j] = s
    beta = [0.0] * L + [1.0]
    for j in range(L - 1, -1, -1):
        s = 0.0
        for l in range(1, min(max_len, L - j) + 1):
            s += beta[j + l] * probs.get(w[j:j + l], 0.0)
        beta[j] = s
    return alpha, beta


def _estep_word(w: str, n: int, probs: dict, max_len: int):
    """Per-word expected piece counts as (piece, micro-long) pairs —
    e(i, l) = ((α[i]·p)·β[i+l])/Z, weighted by the word count, 6-dp
    micro-rounded per occurrence."""
    alpha, beta = _alpha_beta(w, probs, max_len)
    z = alpha[len(w)]
    if z <= 0.0:
        raise ValueError(
            f"word {w!r} unsegmentable under the current model — "
            "the P_FLOOR invariant was violated"
        )
    out = []
    L = len(w)
    for i in range(L):
        for l in range(1, min(max_len, L - i) + 1):
            q = w[i:i + l]
            p = probs.get(q, 0.0)
            if p:
                e = ((alpha[i] * p) * beta[i + l]) / z
                out.append((q, _micro(e * n)))
    return out


def _word_stats(w: str, probs: dict, max_len: int):
    """(nll_micro, exp_micro) for one word under the final model:
    nll = −ln Z (6-dp micro), exp = Σ per-occurrence 6-dp-micro
    expectations (count-unweighted)."""
    alpha, beta = _alpha_beta(w, probs, max_len)
    L = len(w)
    z = alpha[L]
    nll_micro = _micro(-math.log(z))
    exp_micro = 0
    for i in range(L):
        for l in range(1, min(max_len, L - i) + 1):
            p = probs.get(w[i:i + l], 0.0)
            if p:
                e = ((alpha[i] * p) * beta[i + l]) / z
                exp_micro += _micro(e)
    return nll_micro, exp_micro


def seed_vocab(word_counts: list, vocab_size: int, max_len: int) -> dict:
    """Deterministic seed model: all single chars + top multi-char
    substrings by (occurrence-weighted count desc, piece asc);
    p0 = round(c/Σc, 6) floored at ``P_FLOOR``."""
    cand: dict = {}
    for w, n in word_counts:
        L = len(w)
        for i in range(L):
            for l in range(1, min(max_len, L - i) + 1):
                q = w[i:i + l]
                cand[q] = cand.get(q, 0) + n
    chars = sorted(q for q in cand if len(q) == 1)
    multis = sorted(
        (q for q in cand if len(q) > 1),
        key=lambda q: (-cand[q], q),
    )[: max(0, vocab_size - len(chars))]
    vocab = chars + multis
    total = sum(cand[q] for q in vocab)
    return {
        q: max(round_half_away(cand[q] / total, 6), P_FLOOR)
        for q in vocab
    }


def train_unigram(
    word_counts: list[tuple[str, int]],
    vocab_size: int = 40,
    max_len: int = 3,
    iters: int = 2,
) -> dict:
    """Train the unigram model on a (word, count) table over
    ``ULM_WORD_RE`` (``bpe.collect_word_counts`` less the words over
    127 characters);
    returns the final ``{piece: prob}`` dict (model-sized). The EM
    loop runs on the driver — the algorithmic reference the SQL
    oracle must reproduce exactly."""
    probs = seed_vocab(word_counts, vocab_size, max_len)
    for _ in range(iters):
        micro = {q: 0 for q in probs}
        for w, n in word_counts:
            for q, m in _estep_word(w, n, probs, max_len):
                micro[q] += m
        ctot = sum(micro.values())
        if ctot == 0:
            raise ValueError("degenerate corpus: zero expected counts")
        probs = {
            q: max(round_half_away(micro[q] / ctot, 6), P_FLOOR)
            for q in probs
        }
    return probs


def doc_unigram_scores(
    docs: DataFrame,
    probs: dict,
    words: list[str],
) -> DataFrame:
    """Per-document scores under the trained model: ``ulm_nll`` =
    Σ over trainable word occurrences of −ln Z(word), and
    ``ulm_exp_tokens`` = Σ of E[#pieces] — both via exact micro-unit
    longs through a broadcast (vocabulary-sized) word-stats join.
    Documents with no trainable word are absent (LEFT-join from the
    caller).

    ``docs`` carries ``doc_id`` and ``text``; ``words``: the distinct
    trainable words (the keys of the trainer's table, which has exactly
    the scorer's distinct-word set)."""
    spark = docs.sparkSession
    # the distinct-word stats table: vocabulary-sized, computed once
    words = sorted(set(words))
    stat_rows = []
    for w in words:
        nll_micro, exp_micro = _word_stats(w, probs, 3)  # trained max_len
        stat_rows.append((w, nll_micro, exp_micro))
    stats = F.broadcast(local_frame(
        spark, stat_rows, "w string, nll_micro long, exp_micro long"
    ))
    doc_words = (
        docs.select(
            F.col("doc_id").alias("__id"),
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w").rlike(ULM_WORD_RE))
    )
    return (
        doc_words.join(stats, "w")
        .groupBy("__id")
        .agg(
            (F.sum("nll_micro").cast("double") / F.lit(1e6)).alias(
                "ulm_nll"
            ),
            (F.sum("exp_micro").cast("double") / F.lit(1e6)).alias(
                "ulm_exp_tokens"
            ),
        )
        .withColumnRenamed("__id", "doc_id")
    )


def vocab_tag(probs: dict) -> str:
    """The trained model as one deterministic string
    ('piece:prob,...', piece-ascending) — stamped as a constant
    column so the oracle's retrained model must match
    piece-for-piece AND probability-for-probability."""
    return ",".join(f"{q}:{probs[q]:.6f}" for q in sorted(probs))


# ----------------------------------------------------------- oracle

def unigram_oracle_ctes(
    vocab_size: int = 40,
    max_len: int = 3,
    iters: int = 2,
) -> str:
    """DuckDB CTE block RETRAINING the identical unigram model and
    re-scoring every document. Emits ``ulm(doc_id, ulm_nll,
    ulm_exp_tokens)`` and ``ulm_tag(tag)``.

    The α/β passes are sliding-window recursive CTEs: the state row
    carries (α[j], α[j−1], α[j−2]) so each generation advances one
    position using only the previous generation — the recursion's
    accumulated result set IS the full α table. Probabilities ride
    each pass as a 1-row MAP (vocabulary-sized) cross-joined into
    the recursion, and every arithmetic step mirrors the Python
    reference's operation order exactly (l ascending, left-assoc
    adds, ((α·p)·β)/Z)."""
    if max_len != 3:
        raise ValueError(
            "the unrolled sliding-window recursion is written for "
            "max_len=3 (state carries 3 α values)"
        )
    P = max_len

    def alpha_cte(k: str, pv: str) -> str:
        return f"""
ua{k}(w, j, a0, a1, a2) AS (
  SELECT w, 0, 1.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE FROM uw
  UNION ALL
  SELECT r.w, r.j + 1,
         (r.a0 * coalesce(m.m[substr(r.w, r.j + 1, 1)][1], 0.0))
         + (CASE WHEN r.j >= 1
            THEN r.a1 * coalesce(m.m[substr(r.w, r.j, 2)][1], 0.0)
            ELSE 0.0 END)
         + (CASE WHEN r.j >= 2
            THEN r.a2 * coalesce(m.m[substr(r.w, r.j - 1, 3)][1], 0.0)
            ELSE 0.0 END),
         r.a0, r.a1
  FROM ua{k} r, upm{pv} m
  WHERE r.j < len(r.w)
)"""

    def beta_cte(k: str, pv: str) -> str:
        return f"""
ub{k}(w, j, b0, b1, b2) AS (
  SELECT w, len(w), 1.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE FROM uw
  UNION ALL
  SELECT r.w, r.j - 1,
         (r.b0 * coalesce(m.m[substr(r.w, r.j, 1)][1], 0.0))
         + (CASE WHEN r.j + 1 <= len(r.w)
            THEN r.b1 * coalesce(m.m[substr(r.w, r.j, 2)][1], 0.0)
            ELSE 0.0 END)
         + (CASE WHEN r.j + 2 <= len(r.w)
            THEN r.b2 * coalesce(m.m[substr(r.w, r.j, 3)][1], 0.0)
            ELSE 0.0 END),
         r.b0, r.b1
  FROM ub{k} r, upm{pv} m
  WHERE r.j > 0
)"""

    def z_cte(k: str) -> str:
        return (f"uz{k} AS (SELECT w, a0 AS z FROM ua{k}"
                f" WHERE j = len(w))")

    def map_cte(pv: str) -> str:
        return (f"upm{pv} AS (SELECT map(list(piece ORDER BY piece),"
                f" list(p ORDER BY piece)) AS m FROM upv{pv})")

    parts = [f"""uw AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE regexp_matches(w, '{ULM_WORD_RE_SQL}') GROUP BY w
),
upos AS MATERIALIZED (
  SELECT w, i - 1 AS i, l, substr(w, i, l) AS piece
  FROM uw, range(1, 128) AS r1(i), range(1, {P} + 1) AS r2(l)
  WHERE i + l - 1 <= len(w)
),
ucand AS (
  SELECT o.piece, sum(uw.n)::BIGINT AS c
  FROM upos o JOIN uw USING (w) GROUP BY o.piece
),
uchars AS (SELECT piece, c FROM ucand WHERE len(piece) = 1),
umulti AS (
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
    FROM ucand WHERE len(piece) > 1
  ) WHERE rn <= {vocab_size} - (SELECT count(*) FROM uchars)
),
uvoc AS (SELECT * FROM uchars UNION ALL SELECT * FROM umulti),
utot AS (SELECT sum(c)::BIGINT AS t FROM uvoc),
upv0 AS MATERIALIZED (
  SELECT piece, greatest(round(c / t, 6), {P_FLOOR!r}) AS p
  FROM uvoc CROSS JOIN utot
)"""]
    for k in range(iters):
        parts.append(map_cte(str(k)))
        parts.append(alpha_cte(str(k), str(k)))
        parts.append(beta_cte(str(k), str(k)))
        parts.append(z_cte(str(k)))
        parts.append(f"""ue{k} AS (
  SELECT piece,
         CAST(round(round(e * n, 6) * 1e6) AS BIGINT) AS micro
  FROM (
    SELECT o.piece, uw.n,
           ((a.a0 * pv.p) * b.b0) / z.z AS e
    FROM upos o
    JOIN uw USING (w)
    JOIN upv{k} pv ON pv.piece = o.piece
    JOIN ua{k} a ON a.w = o.w AND a.j = o.i
    JOIN ub{k} b ON b.w = o.w AND b.j = o.i + o.l
    JOIN uz{k} z ON z.w = o.w
  )
),
um{k} AS (
  SELECT pv.piece, coalesce(s.cm, 0)::BIGINT AS cm
  FROM upv{k} pv
  LEFT JOIN (SELECT piece, sum(micro) AS cm FROM ue{k} GROUP BY piece) s
    USING (piece)
),
upv{k + 1} AS MATERIALIZED (
  SELECT piece,
         greatest(round(cm / (SELECT sum(cm) FROM um{k}), 6),
                  {P_FLOOR!r}) AS p
  FROM um{k}
)""")
    fin = str(iters)
    parts.append(map_cte(fin))
    parts.append(alpha_cte("f", fin))
    parts.append(beta_cte("f", fin))
    parts.append(z_cte("f"))
    parts.append(f"""uexp AS (
  SELECT w, sum(micro)::BIGINT AS exp_micro FROM (
    SELECT o.w,
           CAST(round(round(((a.a0 * pv.p) * b.b0) / z.z, 6) * 1e6)
                AS BIGINT) AS micro
    FROM upos o
    JOIN upv{fin} pv ON pv.piece = o.piece
    JOIN uaf a ON a.w = o.w AND a.j = o.i
    JOIN ubf b ON b.w = o.w AND b.j = o.i + o.l
    JOIN uzf z ON z.w = o.w
  ) GROUP BY w
),
ustat AS MATERIALIZED (
  SELECT z.w,
         CAST(round(round(-ln(z.z), 6) * 1e6) AS BIGINT) AS nll_micro,
         e.exp_micro
  FROM uzf z JOIN uexp e USING (w)
),
udw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE regexp_matches(w, '{ULM_WORD_RE_SQL}')
),
ulm AS (
  SELECT doc_id,
         CAST(sum(nll_micro) AS DOUBLE) / 1e6 AS ulm_nll,
         CAST(sum(exp_micro) AS DOUBLE) / 1e6 AS ulm_exp_tokens
  FROM udw JOIN ustat USING (w) GROUP BY doc_id
),
ulm_tag AS (
  SELECT string_agg(piece || ':' || printf('%.6f', p), ','
                    ORDER BY piece) AS tag
  FROM upv{fin}
)""")
    return ",\n".join(parts)

"""WordPiece subword-tokenizer training — the third published
vocabulary-learning family beside BPE (``operators/bpe.py``) and the
unigram LM (``operators/unigram.py``).

Public method (Schuster & Nakajima 2012, "Japanese and Korean Voice
Search"; the BERT/GNMT tokenizer — Wu et al. 2016 §4.1 describes the
selection rule; the de-facto open reference is the HuggingFace
`tokenizers` WordPiece trainer): like BPE, repeatedly merge an
adjacent symbol pair — but instead of the most FREQUENT pair, pick
the pair that maximizes the corpus unigram-LM likelihood gain,

    score(a, b) = count(ab) / (count(a) · count(b)),

i.e. frequent-together relative to frequent-apart. Non-initial
symbols carry the ``##`` continuation prefix and keep it through
merges (``merge('a', '##b') = 'ab'``, ``merge('##a', '##b') =
'##ab'``). Only training lives here: the learned merges encode the
training corpus's own words, and no unseen-word inference is built.

Spark-first shape — the ``train_bpe`` two-phase discipline exactly:
ONE corpus-scale word-frequency aggregation
(``bpe.collect_word_counts``), then the merge loop on the driver over
the vocabulary-sized table.

Cross-engine exactness: pair and symbol counts are exact int64s;
``score`` is the ONE division both engines compute on the same ints
(an IEEE double — bit-identical), ties broken (score DESC, a, b). The
denominator multiplies counts AS DOUBLES — two int64 counts can
overflow an int64 product at web scale, and the doubles are exact
anyway below 2^26 each (beyond that the score comparison tolerates
the shared rounding because both engines round identically). The
DuckDB oracle (``wordpiece_oracle_ctes``) RETRAINS every merge —
pair counts, symbol counts, the score argmax, the greedy
left-to-right fold with the overlap rule — and re-encodes every
document.

Reference parity: no reference implementation (charter extension —
SURVEY §2.2 tokenizer family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.crossing import local_frame
from .bpe import WORD_RE

CONT = "##"


def _init_syms_py(w: str) -> list[str]:
    return [w[0]] + [CONT + ch for ch in w[1:]]


def _merged_sym(a: str, b: str) -> str:
    return a + (b[len(CONT):] if b.startswith(CONT) else b)


def _merge_fold_py(syms: list, a: str, b: str) -> list:
    """Greedy left-to-right single-pair merge with the BPE overlap
    rule, producing the prefix-preserving WordPiece merged symbol."""
    out: list = []
    ab = _merged_sym(a, b)
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = ab
        else:
            out.append(s)
    return out


def _best_pair_py(words: dict, counts: dict):
    pc: dict = {}
    sc: dict = {}
    for w, syms in words.items():
        c = counts[w]
        for s in syms:
            sc[s] = sc.get(s, 0) + c
        for i in range(len(syms) - 1):
            k = (syms[i], syms[i + 1])
            pc[k] = pc.get(k, 0) + c
    if not pc:
        return None
    best = min(
        pc.items(),
        key=lambda kv: (
            -(kv[1] / (float(sc[kv[0][0]]) * float(sc[kv[0][1]]))),
            kv[0],
        ),
    )
    return best[0][0], best[0][1], best[1]


def train_wordpiece(
    spark,
    word_counts: list[tuple[str, int]],
    num_merges: int = 6,
):
    """Train ``num_merges`` WordPiece merges on a
    ``bpe.collect_word_counts`` table — WordPiece trains on EXACTLY
    BPE's (word, count) table, so a caller running both collects it
    once. Returns ``(words, merges)`` shaped exactly like
    ``bpe.train_bpe`` (``words`` = (w, cnt, syms) with ##-prefixed
    continuation symbols)."""
    words = {w: _init_syms_py(w) for w, _ in word_counts}
    counts = dict(word_counts)
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        got = _best_pair_py(words, counts)
        if got is None:
            raise ValueError(
                f"corpus exhausted adjacent pairs after {len(merges)} "
                f"merges; num_merges={num_merges} is too large for "
                f"this corpus"
            )
        a, b, c = got
        merges.append((a, b, int(c)))
        words = {w: _merge_fold_py(s, a, b) for w, s in words.items()}
    rows = [(w, counts[w], s) for w, s in words.items()]
    return (
        local_frame(spark, rows, "w string, cnt long, syms array<string>"),
        merges,
    )


def encode_token_counts(
    docs: DataFrame,
    trained_words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, wp_n_tokens): per-document WordPiece token count via a
    broadcast join of the trained (w -> syms) table — the
    ``bpe.encode_token_counts`` shape."""
    occ = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).filter(F.col("w").rlike(WORD_RE))
    enc = occ.join(
        F.broadcast(trained_words.select("w", F.size("syms").alias("__n"))),
        "w",
    )
    return enc.groupBy(id_col).agg(
        F.sum("__n").cast("long").alias("wp_n_tokens")
    )


def wordpiece_oracle_ctes(num_merges: int = 6) -> str:
    """DuckDB CTE block that RETRAINS the same ``num_merges``
    WordPiece merges and re-encodes every document — the
    ``bpe_oracle_ctes`` structure with a per-stage symbol-count CTE
    and the likelihood-ratio argmax. Symbol sequences are strings
    shaped ``' a ##b ##c '``; the greedy merge reuses the recursive
    (done, todo) scan with the ##-stripped merged symbol. Emits
    wp_w0..wp_wK, wp_b1..wp_bK, wp_merge_tag (the ``bpe.merges_tag``
string), wp_enc. Must be
    spliced into a WITH RECURSIVE."""
    parts = [f"""
wp_tw AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$')
),
wp_w0 AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
         ' ' || substr(w, 1, 1) || ' '
             || regexp_replace(substr(w, 2), '(.)', '##\\1 ', 'g') AS seq
  FROM wp_tw GROUP BY w
)"""]
    for i in range(1, num_merges + 1):
        p = i - 1
        parts.append(f"""
wp_p{i} AS MATERIALIZED (
  SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b,
         sum(cnt) AS c
  FROM (
    SELECT cnt,
           unnest([l[j] || ' ' || l[j + 1] for j in range(1, len(l))]) AS pr
    FROM (SELECT cnt, string_split(trim(seq), ' ') AS l FROM wp_w{p})
  ) GROUP BY a, b
),
wp_s{i} AS MATERIALIZED (
  SELECT s, sum(cnt) AS sc FROM (
    SELECT cnt, unnest(string_split(trim(seq), ' ')) AS s FROM wp_w{p}
  ) GROUP BY s
),
wp_b{i} AS MATERIALIZED (
  SELECT p.a, p.b, p.c
  FROM wp_p{i} p
  JOIN wp_s{i} sa ON sa.s = p.a
  JOIN wp_s{i} sb ON sb.s = p.b
  ORDER BY p.c / (sa.sc::DOUBLE * sb.sc::DOUBLE) DESC, p.a, p.b
  LIMIT 1
),
wp_m{i} AS (
  SELECT w, cnt, '' AS done, seq AS todo FROM wp_w{p}
  UNION ALL
  SELECT m.w, m.cnt,
         m.done || substr(m.todo, 1, strpos(m.todo, x.pat) - 1)
                || ' ' || x.mrg,
         substr(m.todo, strpos(m.todo, x.pat) + length(x.pat) - 1)
  FROM wp_m{i} m,
       (SELECT ' ' || a || ' ' || b || ' ' AS pat,
               a || CASE WHEN b LIKE '##%' THEN substr(b, 3) ELSE b END
                 AS mrg
        FROM wp_b{i}) x
  WHERE strpos(m.todo, x.pat) > 0
),
wp_w{i} AS MATERIALIZED (
  SELECT w, cnt, done || todo AS seq FROM wp_m{i}
  WHERE strpos(todo, coalesce(
          (SELECT ' ' || a || ' ' || b || ' ' FROM wp_b{i}), chr(1))) = 0
)""")
    tag = " || ',' || ".join(
        f"(SELECT a || '+' || b FROM wp_b{i})"
        for i in range(1, num_merges + 1)
    )
    parts.append(f"""
wp_merge_tag AS (SELECT {tag} AS tag),
wp_enc AS MATERIALIZED (
  SELECT t.doc_id,
         CAST(sum(len(string_split(trim(v.seq), ' '))) AS BIGINT)
           AS wp_n_tokens
  FROM wp_tw t JOIN wp_w{num_merges} v USING (w)
  GROUP BY t.doc_id
)""")
    return ",".join(parts)

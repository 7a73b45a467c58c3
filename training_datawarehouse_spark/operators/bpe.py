"""BPE subword tokenizer training.

The charter's token-counting surface (``operators/text.py``) is
regex-shaped; a real training-data pipeline TRAINS a subword
vocabulary on the corpus (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public algorithm).
Training is two-phase, like the reference trainers (subword-nmt,
HuggingFace ``tokenizers``):

1. **Word-frequency table, once.** BPE training never touches the
   corpus again after the initial ``(word, count)`` aggregation
   (``collect_word_counts``): one map-side-combinable groupBy whose
   vocabulary-sized output is collected to the driver, refused above
   ``DRIVER_VOCAB_CAP`` distinct words.
2. **k merge iterations on the driver.** Each iteration counts
   adjacent symbol pairs over the table (weighted by word count,
   overlapping positions included — Sennrich semantics), picks the
   most frequent pair with a DETERMINISTIC tie-break (count desc,
   then left symbol asc, then right symbol asc) and applies the
   merge to every word.
3. **Greedy left-to-right merge.** Applying pair (a, b) to a word's
   symbol sequence appends each symbol unless the last kept symbol
   is ``a`` and the incoming one is ``b``, in which case it replaces
   the last with ``a||b``. This reproduces the reference
   regex-replace semantics exactly, including the overlap rule
   ("aaa" + (a,a) -> [aa, a], never [a, aa]).
4. **Encoding is a broadcast join, not a second algorithm.** Training
   already computed the final symbol sequence of every distinct word,
   so encoding a document = split into words, broadcast-join the
   trained ``word -> symbols`` table, sum. No per-document merge
   replay, no UDF.

The trainable alphabet here is ``[a-z]+`` words (lower-cased,
whitespace-split) with the standard ``</w>`` end-of-word marker; a
production deployment widens the alphabet to bytes, which changes the
initial symbol split only — the loop, the merge, and the join shapes
are alphabet-independent.

Oracle: the DuckDB side RETRAINS the same k merges (fully unrolled
recursive-CTE stages — see ``bpe_oracle_ctes``) and re-encodes every
document; the driver hash-compares both the learned merge list and
the per-document token counts, so training AND encoding are
differentially checked.

Reference parity note: the reference engine has no subword trainer
(charter extension, VERDICT r5 task 4); the closest reference surface
is the token-count mapper family (Training-DataWarehouse
``populate_from_json.py`` projection mappers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.crossing import local_frame

EOW = "</w>"
WORD_RE = "^[a-z]+$"

#: the most distinct trainable words ``collect_word_counts`` brings to
#: the driver; reference trainers (subword-nmt, HuggingFace
#: ``tokenizers``) hold the same table in memory
DRIVER_VOCAB_CAP = 1_000_000


def _trainable_words(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id kept out) one row per word OCCURRENCE: lower-cased,
    whitespace-split, restricted to the [a-z]+ trainable alphabet."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        .filter(F.col("w").rlike(WORD_RE))
    )


def _merge_fold_py(syms: list, a: str, b: str) -> list:
    """Greedy left-to-right single-pair merge of (a, b) -> a||b over a
    symbol list, with the overlap rule ('aaa' + (a,a) -> [aa, a],
    never [a, aa])."""
    out: list = []
    ab = a + b
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = ab
        else:
            out.append(s)
    return out


def collect_word_counts(
    docs: DataFrame, text_col: str = "text",
) -> list[tuple[str, int]]:
    """The trainers' shared corpus scan, collected once: the
    (word, count) table over the [a-z]+ trainable alphabet. BPE and
    WordPiece train on EXACTLY this table, so a caller running both
    (the ``text_profile`` composite) collects it once and passes the
    list to each."""
    return collect_capped(
        _trainable_words(docs, text_col)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def collect_capped(counts: DataFrame) -> list[tuple[str, int]]:
    """Collect a (word, count) table to the driver, raising
    ``ValueError`` when it has more than ``DRIVER_VOCAB_CAP`` rows."""
    head = counts.take(DRIVER_VOCAB_CAP + 1)
    if len(head) > DRIVER_VOCAB_CAP:
        raise ValueError(
            f"{counts.count()} distinct trainable words exceed "
            f"DRIVER_VOCAB_CAP={DRIVER_VOCAB_CAP}: the trainers hold "
            f"the (word, count) table in driver memory"
        )
    return [(r[0], int(r[1])) for r in head]


def train_bpe(
    spark,
    word_counts: list[tuple[str, int]],
    num_merges: int = 8,
):
    """Train ``num_merges`` BPE merges on a ``collect_word_counts``
    table (the module docstring's steps 2-3).

    Returns ``(words, merges)``: ``words`` is the trained vocabulary
    DataFrame ``(w, cnt, syms array<string>)`` with the final
    (post-merge) symbol sequence of every distinct trainable word, a
    ``local_frame`` over the trained rows; join it to encode.
    ``merges`` is the learned rank-ordered list of ``(a, b, count)``
    tuples. Raises if the corpus exhausts pairs before ``num_merges``
    (keep k small relative to corpus — the differential oracle
    unrolls exactly k stages).
    """
    words = {w: [*w, EOW] for w, _ in word_counts}
    counts = dict(word_counts)
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pc: dict = {}
        for w, syms in words.items():
            c = counts[w]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + c
        if not pc:
            raise ValueError(
                f"corpus exhausted adjacent pairs after {len(merges)} "
                f"merges; num_merges={num_merges} is too large for "
                f"this corpus"
            )
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
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
    """Per-document token count under the trained BPE vocabulary:
    split into trainable words, broadcast-join the trained
    ``word -> symbols`` table (vocabulary-sized — broadcasts at any
    corpus scale), sum the per-word token counts. Documents with no
    trainable word are absent (LEFT-join from the caller).

    Returns ``(id_col, bpe_n_tokens)``.
    """
    doc_words = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
        )
        .filter(F.col("w").rlike(WORD_RE))
    )
    per_word = F.broadcast(
        trained_words.select("w", F.size("syms").alias("n"))
    )
    return (
        doc_words.join(per_word, "w")
        .groupBy("__id")
        .agg(F.sum("n").cast("long").alias("bpe_n_tokens"))
        .withColumnRenamed("__id", id_col)
    )


def merges_tag(merges: list[tuple[str, str, int]]) -> str:
    """The learned merge sequence as one deterministic string
    ('a+b,c+d,...', rank order) — stamped as a constant column so the
    differential oracle's retrained sequence must match symbol-for-
    symbol, not just produce the same token counts."""
    return ",".join(f"{a}+{b}" for a, b, _ in merges)


# ----------------------------------------------------------- oracle

def bpe_oracle_ctes(num_merges: int = 8) -> str:
    """DuckDB CTE block that RETRAINS the same ``num_merges`` BPE
    merges and re-encodes every document — fully unrolled, one
    (pairs, best, recursive-merge, vocabulary) stage per merge.

    Symbol sequences live as strings shaped ``' l o w </w> '``
    (leading + trailing space). The greedy left-to-right merge with
    its overlap rule is a recursive CTE carrying a ``(done, todo)``
    scan pointer: each step consumes the FIRST occurrence of
    ``' a b '`` in ``todo``, appends ``' ' || merged`` to ``done``,
    and restarts ``todo`` AT the consumed pattern's trailing space so
    adjacent occurrences (which share that space) are still found —
    a plain string replace() would miss them.

    Emits CTEs: bpe_tw (doc_id, w), bpe_w0..bpe_wK (w, cnt, seq),
    bpe_b1..bpe_bK (a, b, c), bpe_merge_tag (tag), bpe_enc
    (doc_id, bpe_n_tokens). Must be spliced into a WITH RECURSIVE.
    """
    parts = [f"""
bpe_tw AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$')
),
bpe_w0 AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
         ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '{EOW} ' AS seq
  FROM bpe_tw GROUP BY w
)"""]
    for i in range(1, num_merges + 1):
        p = i - 1
        parts.append(f"""
bpe_p{i} AS MATERIALIZED (
  SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b,
         sum(cnt) AS c
  FROM (
    SELECT cnt,
           unnest([l[j] || ' ' || l[j + 1] for j in range(1, len(l))]) AS pr
    FROM (SELECT cnt, string_split(trim(seq), ' ') AS l FROM bpe_w{p})
  ) GROUP BY a, b
),
bpe_b{i} AS MATERIALIZED (SELECT a, b, c FROM bpe_p{i} ORDER BY c DESC, a, b LIMIT 1),
bpe_m{i} AS (
  SELECT w, cnt, '' AS done, seq AS todo FROM bpe_w{p}
  UNION ALL
  SELECT m.w, m.cnt,
         m.done || substr(m.todo, 1, strpos(m.todo, x.pat) - 1)
                || ' ' || x.mrg,
         substr(m.todo, strpos(m.todo, x.pat) + length(x.pat) - 1)
  FROM bpe_m{i} m,
       (SELECT ' ' || a || ' ' || b || ' ' AS pat, a || b AS mrg
        FROM bpe_b{i}) x
  WHERE strpos(m.todo, x.pat) > 0
),
bpe_w{i} AS MATERIALIZED (
  SELECT w, cnt, done || todo AS seq FROM bpe_m{i}
  WHERE strpos(todo, coalesce(
          (SELECT ' ' || a || ' ' || b || ' ' FROM bpe_b{i}), chr(1))) = 0
)""")
    tag = " || ',' || ".join(
        f"(SELECT a || '+' || b FROM bpe_b{i})"
        for i in range(1, num_merges + 1)
    )
    parts.append(f"""
bpe_merge_tag AS (SELECT {tag} AS tag),
bpe_enc AS MATERIALIZED (
  SELECT t.doc_id,
         CAST(sum(len(string_split(trim(v.seq), ' '))) AS BIGINT)
           AS bpe_n_tokens
  FROM bpe_tw t JOIN bpe_w{num_merges} v USING (w)
  GROUP BY t.doc_id
)""")
    return ",".join(parts)

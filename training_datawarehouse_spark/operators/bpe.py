"""Distributed BPE-style subword tokenizer training.

The charter's token-counting surface (``operators/text.py``) is
regex-shaped; a real training-data pipeline TRAINS a subword
vocabulary on the corpus (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public algorithm).
This module re-expresses the classic byte-pair-encoding training loop
Spark-first:

1. **Word-frequency table, once.** BPE training never touches the
   corpus again after the initial ``(word, count)`` aggregation —
   exactly how reference trainers (subword-nmt, HuggingFace
   tokenizers) work. At 100 TB this is the only full-corpus scan: a
   map-side-combinable groupBy whose output is vocabulary-sized
   (millions of rows, not billions), persisted for the loop.
2. **k merge iterations, unrolled.** Each iteration is one
   vocabulary-sized job: count adjacent symbol pairs (weighted by
   word count, overlapping positions included — Sennrich semantics),
   pick the most frequent pair with a DETERMINISTIC tie-break
   (count desc, then left symbol asc, then right symbol asc), apply
   the merge to every word. Only ONE (pair, count) row crosses the
   driver per iteration — the same scalar-only-driver-traffic shape
   as ``similarity.kmeans_fit``'s Lloyd iterations.
3. **Greedy left-to-right merge as a fold.** Applying pair (a, b) to
   a word's symbol sequence is ``F.aggregate`` over the symbol array:
   append each symbol unless the accumulator's last element is ``a``
   and the incoming one is ``b``, in which case replace the last with
   ``a||b``. This reproduces the reference regex-replace semantics
   exactly, including the overlap rule ("aaa" + (a,a) -> [aa, a],
   never [a, aa]) — property-tested against a pure-Python reference.
4. **Encoding is a broadcast join, not a second algorithm.** Training
   already computed the final symbol sequence of every distinct word,
   so encoding a document = split into words, broadcast-join the
   trained ``word -> symbols`` table, sum. No per-document merge
   replay, no UDF.

The trainable alphabet here is ``[a-z]+`` words (lower-cased,
whitespace-split) with the standard ``</w>`` end-of-word marker; a
production deployment widens the alphabet to bytes, which changes the
initial symbol split only — the loop, the fold, and the join shapes
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

from ..functions.caching import eager_checkpoint, release_local_checkpoint
from ..functions.crossing import local_frame

EOW = "</w>"
WORD_RE = "^[a-z]+$"


def _trainable_words(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id kept out) one row per word OCCURRENCE: lower-cased,
    whitespace-split, restricted to the [a-z]+ trainable alphabet."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        .filter(F.col("w").rlike(WORD_RE))
    )


def _merge_fold(syms_col, a: str, b: str):
    """Greedy left-to-right single-pair merge of (a, b) -> a||b over a
    symbol array, as a fold: the ONLY correct non-iterative way to
    express the overlap rule ('aaa' + (a,a) -> [aa, a]) in one pass.
    Word arrays are short (chars + marker), so the per-element array
    rebuild is bounded — the r5 lambda-CSE trap (SCALE.md) applies to
    corpus-length arrays, not ~10-symbol words."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _merge_fold_py(syms: list, a: str, b: str) -> list:
    """Pure-Python twin of ``_merge_fold`` — same greedy left-to-right
    overlap semantics, used by the driver-side fast path (and as the
    property-test reference for the Spark fold)."""
    out: list = []
    ab = a + b
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = ab
        else:
            out.append(s)
    return out


def _train_merges_local(
    word_counts: list, num_merges: int
) -> tuple[list, list]:
    """Driver-side merge loop over a collected (word, count) table:
    identical algorithm and tie-break as the distributed loop."""
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
    return [(w, counts[w], s) for w, s in words.items()], merges


def collect_word_counts(
    docs: DataFrame, text_col: str = "text",
    driver_vocab_cap: int = 1_000_000,
) -> list[tuple[str, int]] | None:
    """The trainers' shared corpus scan, collected once: the
    (word, count) table over the [a-z]+ trainable alphabet, or
    ``None`` when it exceeds ``driver_vocab_cap`` (callers then let
    each trainer run its distributed loop). BPE and WordPiece train
    on EXACTLY this table, so a caller running both (the
    ``text_profile`` composite) passes the one collected list to each
    via ``word_counts=`` instead of paying the scan + aggregation +
    driver collect twice (r16; identical results by construction)."""
    head = (
        _trainable_words(docs, text_col)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .take(driver_vocab_cap + 1)
    )
    if len(head) > driver_vocab_cap:
        return None
    return [(r["w"], int(r["cnt"])) for r in head]


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    driver_vocab_cap: int = 1_000_000,
    word_counts: list[tuple[str, int]] | None = None,
):
    """Train ``num_merges`` BPE merges on the corpus.

    ``word_counts`` (r16): a pre-collected ``collect_word_counts``
    list — skips this trainer's own scan/collect and goes straight to
    the driver-side loop (the table is the trainers' shared input, so
    results are identical; callers running several trainers collect
    it once).

    Two-phase, like reference trainers (subword-nmt, HuggingFace
    tokenizers): the corpus-scale work is ONE distributed
    word-frequency aggregation; the merge loop then runs over the
    vocabulary-sized count table. When that table fits the driver
    (``distinct words <= driver_vocab_cap``, the common case — web
    corpora have ~1e7-1e8 distinct words after the [a-z]+ filter,
    reference trainers hold exactly this table in memory), the loop
    runs driver-side: zero per-iteration Spark jobs, identical
    algorithm and tie-break (equivalence pytest-pinned). Above the
    cap it falls back to the fully distributed loop below — one
    vocabulary-sized pair-count job per merge with scalar-only driver
    traffic, generations lineage-truncated via localCheckpoint.

    Returns ``(words, merges)``: ``words`` is the trained vocabulary
    DataFrame ``(w, cnt, syms array<string>)`` with the final
    (post-merge) symbol sequence of every distinct trainable word;
    join it to encode. On the driver fast path it is a plain
    ``createDataFrame`` over the locally-trained rows; on the
    distributed path it is the final generation's eager
    localCheckpoint (every superseded generation's checkpoint RDD is
    released — ``functions/caching.py``, RDD-level, since
    ``Dataset.unpersist`` is a no-op on checkpoints — as soon as its
    successor materializes, so only this one frame stays pinned). ``merges`` is the learned rank-ordered list of
    ``(a, b, count)`` tuples. Raises if the corpus exhausts pairs
    before ``num_merges`` (keep k small relative to corpus — the
    differential oracle unrolls exactly k stages).
    """
    chars = F.filter(F.split(F.col("w"), ""), lambda c: c != F.lit(""))
    if word_counts is None and driver_vocab_cap > 0:
        word_counts = collect_word_counts(docs, text_col, driver_vocab_cap)
    if word_counts is not None:
        rows, merges = _train_merges_local(word_counts, num_merges)
        words = local_frame(
            docs.sparkSession, rows, "w string, cnt long, syms array<string>"
        )
        return words, merges
    counts_df = (
        _trainable_words(docs, text_col)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    # Each generation is localCheckpoint'ed (not merely persisted):
    # an iterative fold nests every prior generation's plan inside the
    # next InMemoryRelation recipe, so after k iterations the PLAN
    # TEXT (and analyzer work) grows superlinearly — the standard
    # Spark iterative-algorithm fix is to truncate lineage per
    # iteration. Vocabulary-sized data, so the checkpoint is cheap; a
    # cluster deployment with executor churn would use reliable
    # checkpointing or land each generation to a scratch table
    # instead (localCheckpoint storage dies with its executor).
    # eager_checkpoint (stat-less leaves), not plain localCheckpoint:
    # each generation's plan reads the previous generation's leaf, so
    # origin-stats inheritance compounds the size estimate per merge —
    # at thousands of merges the same BigInteger optimizer grind
    # diagnosed on NN-descent (r13 verdict #5). eager=False keeps the
    # materialize-with-next-job shape documented below.
    words = eager_checkpoint(counts_df.withColumn(
        "syms", F.concat(chars, F.array(F.lit(EOW)))
    ), eager=False)

    merges: list[tuple[str, str, int]] = []
    prev: DataFrame | None = None
    try:
        for it in range(num_merges):
            n1 = F.size("syms") - 1
            pair_rows = (
                words.select(
                    "cnt",
                    F.explode(
                        F.when(
                            n1 < 1,
                            F.array().cast(
                                "array<struct<a:string,b:string>>"
                            ),
                        ).otherwise(
                            F.zip_with(
                                F.slice("syms", 1, n1),
                                F.slice("syms", 2, n1),
                                lambda x, y: F.struct(
                                    x.alias("a"), y.alias("b")
                                ),
                            )
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not pair_rows:
                raise ValueError(
                    f"corpus exhausted adjacent pairs after "
                    f"{len(merges)} merges; num_merges={num_merges} "
                    f"is too large for this corpus"
                )
            a, b, c = pair_rows[0]["a"], pair_rows[0]["b"], pair_rows[0]["c"]
            merges.append((a, b, int(c)))
            # The collect above materialized THIS generation's
            # checkpoint, so the one before it is no longer an input of
            # anything — release its RDD blocks now. NB
            # ``Dataset.unpersist`` would be a no-op here
            # (localCheckpoint persists at the RDD level, below the
            # cache manager — r7 ADVICE); the helper unpersists the
            # LogicalRDD's underlying RDD, which actually frees the
            # blocks. Never release before the successor materializes:
            # the lineage is truncated, so the blocks are the only
            # copy.
            if prev is not None:
                release_local_checkpoint(prev)
            prev = words
            # eager=False: the checkpoint materializes with the NEXT
            # iteration's pair-count job instead of spending a
            # dedicated job per generation — halves the serial job
            # count of the training loop (the loop's cost at small
            # scale is job launch latency, not data). The FINAL
            # generation is eager so its predecessor can be released
            # before returning.
            words = eager_checkpoint(words.select(
                "w", "cnt", _merge_fold(F.col("syms"), a, b).alias("syms")
            ), eager=it == num_merges - 1)
    except BaseException:
        # error-path release (r8 ADVICE): when the corpus-exhausts-
        # pairs ValueError (or any job failure) fires mid-loop, the
        # pinned checkpoint RDDs for prev/words would otherwise leak
        # for the session — the funnel_counts / pq_train try/finally
        # discipline. release_local_checkpoint is a safe no-op on a
        # never-materialized lazy checkpoint.
        for frame in (prev, words):
            if frame is not None:
                release_local_checkpoint(frame)
        raise
    if prev is not None:
        release_local_checkpoint(prev)
    return words, merges


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

def bpe_oracle_ctes(num_merges: int = 8, src: str = "documents",
                    text_col: str = "text") -> str:
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
    SELECT doc_id, unnest(string_split(lower({text_col}), ' ')) AS w
    FROM {src}
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

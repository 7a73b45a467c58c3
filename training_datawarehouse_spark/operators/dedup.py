"""Deduplication operators for training-data pipelines (charter
extensions; no reference implementation — SURVEY §2.2).

All variants are compositions of built-in expressions — no Python UDFs.
Every near-dup hash is md5-derived (the engine-portable family below),
so a DuckDB oracle can reproduce each of them bit-for-bit:

- ``exact_dedup``: min_by hash aggregate keyed on the content hash.
  One shuffle; at 100 TB the md5 key distributes uniformly so no skew.
- ``hashed_shingles_portable``: the shared shingling kernel — row-local
  split → transform(sequence) → explode → one md5 per gram; no shuffle,
  shingles ride downstream exchanges as two 60-bit longs.
- ``lsh_candidate_pairs_portable``: k universal-hash minima per doc;
  banded LSH buckets expanded in-bucket (no self-join), hot buckets
  capped, candidates broadcast into exact-Jaccard verification over
  the shingle sets produced by the SAME groupBy pass as the signatures.
- ``simhash_hex_portable``: 64-bit SimHash from md5 token hashes —
  per-bit weighted majority via explode + 64 conditional sums.
- ``winnowing_fingerprints_portable``: rolling-hash window minima
  (MOSS) — the containment-detection complement to MinHash resemblance.
- ``ngram_jaccard_pairs``: exact all-pairs n-gram Jaccard via shingle
  posting lists — quadratic in posting-list length; the scale path is
  LSH above, this is the exact verifier (and the DuckDB-oracled one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import eager_checkpoint, release_local_checkpoint


def exact_dedup(df: DataFrame, content_col: str, order_col: str) -> DataFrame:
    """Keep the first row (by ``order_col``) per distinct content value.

    ``min_by`` hash aggregate, not a sort-window: map-side combine
    collapses each task to one candidate per content hash before the
    shuffle, and no per-partition sort runs — measured ~45% faster cold
    at sf0.1 and the shape that wins at 100 TB. Winner is deterministic
    whenever ``order_col`` is unique per content value."""
    payload = F.struct(*df.columns)
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("__h"))
        .agg(F.min_by(payload, F.col(order_col)).alias("__row"))
        .select("__row.*")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-tokenized). Delegates to
    ``text.word_ngrams`` — the r5 zip_with-over-top-level-slices form:
    the old index-sequence transform re-ran ``split(text)`` per lambda
    element (higher-order lambdas get no CSE → O(tokens²) per doc;
    see SCALE.md "Expression-level scale trap"). ``_gram_stream``
    below was never affected: it materializes ``__tk`` first."""
    from .text import word_ngrams

    return F.array_distinct(word_ngrams(text, n))


def _gram_stream(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, __gram) — one row per word-shingle occurrence, built
    entirely row-locally: split → ``transform(sequence(...))`` over the
    token array → explode. No window, no shuffle — shingling is
    embarrassingly row-parallel and the first exchange downstream ships
    slim hashed longs, not token strings. (An earlier kernel used
    posexplode + window ``lead``, which shuffles and sorts every token
    row by id before the first hash — measured equal at sf0.1 and
    strictly worse at scale.) The explode's Generate node is also an
    optimizer barrier: CollapseProject cannot inline the gram
    construction into each downstream hash expression (the hazard the
    ``lsh_candidate_pairs_portable`` docstring describes).

    Duplicate shingles are removed PER DOCUMENT before the explode
    (``array_distinct`` — row-local, so it costs no shuffle): every
    consumer is set-semantics (``min`` aggregates, ``collect_set``,
    distinct-counted Jaccard), and repeated-phrase documents otherwise
    pay one hash + one shuffled row per repetition. The DuckDB oracles
    apply ``list_distinct`` at the same point.
    """
    if shingle_n < 1 or shingle_n > 8:
        raise ValueError("shingle_n must be in [1, 8]")
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__tk")
    ).filter(F.size("__tk") >= shingle_n)
    parts = ", ".join(
        "__tk[i]" if j == 0 else f"__tk[i + {j}]" for j in range(shingle_n)
    )
    grams = (
        f"array_distinct(transform(sequence(0, size(__tk) - {shingle_n}), "
        f"i -> concat_ws(' ', {parts})))"
    )
    return toks.select(F.col(id_col), F.explode(F.expr(grams)).alias("__gram"))


# ------------------------------------------------------------------
# Engine-portable hash family (differential-oracle support).
#
# Spark-native hashes (xxhash64, murmur3) exist in no other engine, so
# queries built on them could only ever get a rows-only check. This
# family uses ONE md5 per shingle (md5 exists in every engine) split
# into two 60-bit integers, then k universal hashes
# h_i(g) = (a_i·x + b_i·y + i) mod P over those integers — pure
# 64-bit-safe integer arithmetic any SQL engine reproduces
# bit-for-bit. It is the only near-dup hash family in this module.

_LSH_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)
LSH_SHINGLE_N = 3       # word shingle length of the banded near-dup pairs
LSH_MAX_BUCKET = 10_000  # hot-bucket cap: larger LSH buckets are dropped


def lsh_hash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficient pairs for the portable
    minhash family — a pure integer formula, reproducible in any
    engine/language (the DuckDB oracle generator embeds the same
    values as literals)."""
    out = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % _LSH_P
        b = (22695477 * (i + 7) + 54321) % _LSH_P
        out.append((a or 1, b or 1))
    return out


def hashed_shingles_portable(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(id, g1, g2) — one row per word-shingle occurrence as two 60-bit
    md5-prefix integers (hex chars 1-15 and 17-31 of md5(gram)).

    Fully row-local (``_gram_stream``: split → transform → explode, no
    shuffle; tokens cannot contain the space delimiter, so the gram
    string is unambiguous); ``conv(hex,16,10)`` turns
    the prefixes into longs identically to DuckDB's
    ``('0x' || substr(md5(g),1,15))::BIGINT``."""
    grams = _gram_stream(df, id_col, text_col, shingle_n).select(
        F.col(id_col), F.md5("__gram").alias("__m")
    )
    return grams.select(
        id_col,
        F.conv(F.substring("__m", 1, 15), 16, 10).cast("long").alias("g1"),
        F.conv(F.substring("__m", 17, 15), 16, 10).cast("long").alias("g2"),
    )


def _portable_min_exprs(num_hashes: int) -> list[Column]:
    """k portable minhash aggregates over (g1, g2) shingle rows."""
    x = F.col("g1") % _LSH_P
    y = F.col("g2") % _LSH_P
    return [
        F.min(((F.lit(a) * x) % _LSH_P + (F.lit(b) * y) % _LSH_P + i) % _LSH_P)
        .alias(f"h{i}")
        for i, (a, b) in enumerate(lsh_hash_coeffs(num_hashes))
    ]


def _band_structs(bands: int, rows_per_band: int) -> Column:
    """``bands`` (band, sig) structs over the h0..h{k-1} minhash
    columns: sig is the band's ``rows_per_band`` minima joined with
    '|' — the same string DuckDB's ``concat_ws`` builds."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[
                F.col(f"h{b * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)
            ]).alias("sig"),
        )
        for b in range(bands)
    ])


def lsh_candidate_pairs_portable(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 32, bands: int = 8, rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
    materialize: bool = False,
) -> DataFrame:
    """Banded-LSH near-dup pairs verified with exact shingle Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. Plan shape: signatures (1 shuffle on id) → band explode →
    groupBy bucket → in-bucket pair expansion via array expression (1
    shuffle of slim (band, sig, id) triples, no self-join) → distinct
    pairs → join shingle sets for the exact-Jaccard verification (only
    candidate pairs ever carry shingle arrays through a shuffle).
    Every hash is md5-derived, so a DuckDB oracle reproduces the full
    pipeline bit-for-bit (see plans/northstar.py). Jaccard is computed
    over the 60-bit g1 shingle ids in BOTH engines, so even a prefix
    collision cannot diverge them.

    Signatures are formulated as explode → groupBy(id) → k ``min``
    aggregates rather than ``array_min(transform(...))`` columns: the
    Aggregate is an optimizer barrier (CollapseProject would otherwise
    inline the whole shingle construction into EACH of the k hash
    expressions — measured ~5× slowdown), and partial map-side mins
    mean the shuffle carries one slim row per (mapper, doc), which is
    the shape that survives 100 TB. Docs with fewer than
    ``LSH_SHINGLE_N`` tokens have no shingles and drop out (they cannot
    be near-dups at this shingle size).

    ``materialize=True`` (r16): materializes the shared
    (signature + shingle-set) table for its THREE consumers (band
    explode and both Jaccard-verify sides — without it each consumer
    statically re-derives the whole shingle→md5→aggregate pipeline;
    the r16 plan audit measured zero exchange reuse across them) with
    ``localCheckpoint``, materializes the returned pair frame the same
    way, and releases the internal table. Identical rows either way.
    The internal table is corpus-sized and its lineage is truncated,
    so losing an executor fails the job."""
    sh = hashed_shingles_portable(df, id_col, text_col, LSH_SHINGLE_N)
    # ONE groupBy(id) produces both the k-min signature and the exact
    # shingle set — signature banding and the later Jaccard verification
    # share a single shuffle over slim (id, g1, g2) longs.
    per_doc = sh.groupBy(id_col).agg(
        *_portable_min_exprs(num_hashes), F.collect_set("g1").alias("sh")
    )
    if materialize:
        per_doc = per_doc.localCheckpoint(eager=True)

    banded = per_doc.select(
        F.col(id_col).alias("bid"),
        F.explode(_band_structs(bands, rows_per_band)).alias("bs"),
    ).select("bid", F.col("bs.band"), F.col("bs.sig"))

    # In-bucket pair expansion is quadratic in bucket size. A bucket
    # larger than LSH_MAX_BUCKET means a degenerate signature (boilerplate/
    # spam floods at corpus scale) — expanding it would dominate the
    # job for pairs that exact verification mostly rejects anyway.
    # Standard practice: drop the bucket (its members still pair up in
    # their other bands unless they collide everywhere).
    cand = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("bid")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= LSH_MAX_BUCKET))
        .select(F.explode(_pairs_expr("ids")).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )

    # Candidate set is tiny relative to the corpus — broadcast it into
    # both set-lookup joins so the (id, shingle-set) table never
    # reshuffles.
    sets = per_doc.select(F.col(id_col).alias("id"), "sh")
    verified = (
        sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a")
        .join(F.broadcast(cand), "id_a")
        .join(
            sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if not materialize:
        return out
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        release_local_checkpoint(per_doc)
    return out


def _pairs_expr(ids: str) -> Column:
    """All ordered pairs (a<b) from a sorted id array, as one expression:
    flatten(transform(ids, (x,i) -> transform(tail_after_i, y -> (x,y))))."""
    return F.flatten(
        F.transform(
            F.col(ids),
            lambda x, i: F.transform(
                F.slice(F.col(ids), (i + 2).cast("int"), F.greatest(F.size(F.col(ids)) - i - 1, F.lit(0)).cast("int")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (id_a < id_b).

    explode → self-equi-join on shingle → pair-count agg → Jaccard from
    |A∩B| and per-doc set sizes. SQL-expressible (has a DuckDB oracle).
    """
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("g")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # One scan, no self-join: group each shingle's (sorted) posting list,
    # expand in-list pairs with an array expression, count pair hits.
    # In-bucket expansion is quadratic in posting-list length — inherent
    # to exact Jaccard; rare hot shingles can be dropped like stopwords
    # upstream if a corpus makes them explode.
    common = (
        sh.groupBy("g")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_pairs_expr("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def contamination_pairs(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: find training documents that share
    word n-grams with an evaluation/benchmark set, so they can be
    dropped before training (the standard train/test-overlap guard;
    production pipelines use n of 8-13 — the knob is ``n``).

    Returns (train_id, eval_id, n_shared, overlap) where ``n_shared``
    counts shared DISTINCT n-grams and ``overlap`` is the fraction of
    the train doc's n-grams that are shared.

    Scale shape: the eval side is benchmark data — a few MB against a
    100 TB corpus — so its exploded gram list broadcasts and the train
    corpus NEVER shuffles for the join; the only shuffle is the final
    per-pair count, whose input is already filtered to gram hits.
    """
    base = train.select(
        F.col(id_col).alias("train_id"),
        word_shingles(F.col(text_col), n).alias("gs"),
    )
    tr = base.select(
        "train_id", F.size("gs").alias("n_grams"), F.explode("gs").alias("g")
    )
    ev = eval_docs.select(
        F.col(id_col).alias("eval_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    )
    hits = tr.join(F.broadcast(ev), "g")
    return (
        hits.groupBy("train_id", "eval_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "train_id",
            "eval_id",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("overlap"),
        )
    )


_HEX = "0123456789abcdef"


def simhash_hex_portable(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string, from md5
    token hashes (bit j of a token is bit (3 − j%4) of md5 hex digit
    j/4).

    Per-bit weighted majority vote over tokens (explode + 64
    conditional sums → one shuffle on id), bits recombined into hex
    digits. Output is a hex STRING because recombining bit 63 into a
    signed BIGINT overflows in ANSI engines; take Hamming distance on
    ``int(hex, 16)``.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    ).select("id", F.md5("t").alias("__m"))
    digs = toks.select(
        "id",
        *[
            F.conv(F.substring("__m", d + 1, 1), 16, 10).cast("int").alias(f"d{d}")
            for d in range(16)
        ],
    )
    votes = digs.groupBy("id").agg(*[
        F.sum(
            F.when(
                F.shiftright(F.col(f"d{j // 4}"), 3 - j % 4).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ])
    hex_chars = []
    alphabet = F.array(*[F.lit(c) for c in _HEX])
    for d in range(16):
        val = None
        for j4 in range(4):
            j = 4 * d + j4
            bit = F.when(F.col(f"b{j}") > 0, F.lit(1)).otherwise(F.lit(0))
            term = bit * (2 ** (3 - j4))
            val = term if val is None else val + term
        hex_chars.append(F.element_at(alphabet, val + 1))
    return votes.select("id", F.concat(*hex_chars).alias("simhash_hex"))


def winnowing_fingerprints_portable(
    df: DataFrame, id_col: str, text_col: str, k: int = 4, window: int = 5
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS scheme): rolling k-gram hashes → per-position minimum over a
    ``window``-wide frame → distinct minima per document. Each k-gram
    hashes to the 60-bit md5 prefix, so the DuckDB oracle in
    plans/northstar.py reproduces every fingerprint.

    Guarantees: any shared substring of length ≥ k + window − 1 between
    two documents yields at least one shared fingerprint, and
    fingerprint density is ~2/(window+1) of positions — a tunable
    size/recall knob for plagiarism-style containment detection
    (complementary to MinHash, which measures whole-set resemblance).

    Fully row-local: gram hashes, the rolling window minima, and the
    per-document fingerprint dedup are all array expressions over the
    token array — the ONLY shuffle in the whole operator is the final
    (id, fp) distinct, and it ships two longs per fingerprint. (The
    per-position ``array_min(slice(...))`` is O(n·window) per doc, the
    same work the frame-based window minimum does, without the
    shuffle+sort of every token row that a window would need.)
    """
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__tk")
    ).filter(F.size("__tk") >= k)
    parts = ", ".join(
        "__tk[i]" if j == 0 else f"__tk[i + {j}]" for j in range(k)
    )
    gh = (
        f"transform(sequence(0, size(__tk) - {k}), "
        f"i -> concat_ws(' ', {parts}))"
    )
    gh = (
        f"transform({gh}, g -> "
        "CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT))"
    )
    staged = toks.select(F.col(id_col), F.expr(gh).alias("__gh"))
    fps = (
        "array_distinct(transform(sequence(1, size(__gh)), "
        f"p -> array_min(slice(__gh, p, {window}))))"
    )
    return staged.select(
        F.col(id_col), F.explode(F.expr(fps)).alias("fp")
    ).distinct()


CC_MAX_ITER = 60  # label-propagation rounds before giving up


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected ``(id_a, id_b)`` edge
    list by min-label propagation with pointer jumping: every node's
    label converges to the smallest node id in its component. Returns
    (node, component).

    Iterative surface (like Lloyd's k-means): each round joins the
    label table to the symmetrized edges for the neighbor minimum, then
    jumps each node's label to its label's label (path halving — the
    same shortcutting that makes large-star/small-star O(log n)). The
    only driver-side value is the scalar changed-count that decides
    convergence; ``localCheckpoint`` truncates lineage per round so the
    plan doesn't grow with iterations.

    Rounds needed: O(log(diameter)) thanks to the jump step — a
    10⁶-node boilerplate chain converges in ~20 rounds instead of 10⁶,
    so ``CC_MAX_ITER = 60`` bounds any graph of < 2⁶⁰ nodes
    rather than being a scale hazard (round-2 ADVICE: diameter-bound
    propagation turned template chains into hard failures). A graph
    that does not converge in ``CC_MAX_ITER`` rounds raises
    ``RuntimeError``; that exit, like an error inside a round, releases
    the last round's checkpoint.
    """
    fwd = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = fwd.union(edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
    labels = sym.select("a").distinct().withColumn("label", F.col("a"))
    converged = False
    try:
        for _ in range(CC_MAX_ITER):
            nbr_min = (
                sym.join(
                    labels.select(F.col("a").alias("b"), F.col("label").alias("nl")),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nl").alias("nbr_min"))
            )
            stepped = labels.join(nbr_min, "a", "left").select(
                "a",
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
            )
            # pointer jump: label ← min(label, label(label)). Labels are
            # always node ids present in the table, so the self-join is
            # total; each jump halves remaining chain depth.
            lbl_of_lbl = stepped.select(
                F.col("a").alias("label"), F.col("label").alias("ll")
            )
            # eager_checkpoint, not plain localCheckpoint (r13 verdict #5):
            # each generation reads the previous generation's leaf twice
            # (neighbor-min + pointer-jump self-join), so origin-stats
            # inheritance would square the size estimate per round — the
            # same BigInteger driver grind diagnosed on NN-descent.
            new = eager_checkpoint(
                stepped.join(lbl_of_lbl, "label", "left")
                .select(
                    "a",
                    F.least("label", F.coalesce("ll", "label")).alias("label"),
                )
            )
            try:
                changed = (
                    new.join(labels.select("a", F.col("label").alias("old")), "a")
                    .filter(F.col("label") < F.col("old"))
                    .count()
                )
            finally:
                # the changed-count above was the last reader of the
                # previous round's checkpoint — release its RDD blocks
                # (Dataset.unpersist would be a no-op; see
                # functions/caching.py). The round-0 labels frame is not
                # a checkpoint → helper no-ops.
                release_local_checkpoint(labels)
                labels = new
            if changed == 0:
                converged = True
                return labels.select(F.col("a").alias("node"),
                                     F.col("label").alias("component"))
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITER} rounds"
        )
    finally:
        if not converged:
            release_local_checkpoint(labels)


def resolve_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    components: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution — the end step of every dedup
    pipeline: candidate pairs → connected components → ONE canonical
    survivor per cluster, longest ``text`` first, smallest ``doc_id`` as
    tiebreak. Returns (component, survivor, n_members).

    The survivor is row 1 of a (quality DESC, member ASC) window per
    component — the tiebreak works for ANY orderable id type (string
    doc ids included; a negate-the-id max_by trick silently breaks on
    non-numeric ids — round-2 ADVICE). Clusters are tiny relative to
    the corpus (only duplicate members reach this stage), so the
    per-component sort is bounded.
    Pass ``components`` to reuse an already-computed labeling.
    """
    comp = components if components is not None else connected_components(pairs)
    members = docs.join(
        comp, docs["doc_id"] == comp["node"], "inner"
    ).select("component", F.col("doc_id").alias("member"),
             F.length("text").alias("q"))
    w = Window.partitionBy("component").orderBy(
        F.col("q").desc(), F.col("member").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("__rn") == 1)
        .select("component", F.col("member").alias("survivor"), "n_members")
    )


def minhash_band_rows_rowlocal(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 4, rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, sig) LSH band rows computed ENTIRELY ROW-LOCALLY on
    the engine-portable md5 family — no groupBy, no window, no shuffle
    of any kind, which makes this the streaming-legal signature kernel:
    Structured Streaming forbids an aggregation upstream of
    ``applyInPandasWithState``, so the batch family's
    shingle-explode → groupBy(id) → k-min plan cannot feed a stateful
    operator, but a per-row ``aggregate()`` over the document's OWN
    gram array computes the identical minima (r12 — the streaming
    near-dup admission stage's input).

    One expression tree per row: grams (``array_distinct`` over the
    shingle windows, the `_gram_stream` semantics) → (g1, g2)
    md5-prefix integer pairs via ``transform`` (one md5 per gram,
    evaluated once — the array is bound to a higher-order-function
    variable, so CollapseProject cannot duplicate it into each
    downstream reference, the CSE trap the batch kernel avoids with
    its groupBy) → a single ``aggregate`` that folds every gram into
    the ``num_hashes``-vector of running minima via ``zip_with`` against
    the injected ``lsh_hash_coeffs`` literal arrays → band structs
    from the bound minima vector → explode. Values are bit-identical
    to ``lsh_candidate_pairs_portable``'s signatures (same formula
    h_i = (a_i·(g1%P) + b_i·(g2%P) + i) mod P; the fold's initial
    value P is an identity because every h_i < P) and to the DuckDB
    re-derivation (`plans/relational._neardup_admission_oracle`).

    At 100 TB: stateless and embarrassingly row-parallel — the exact
    shape an ingest stream needs (signatures ride the stream as slim
    (id, band, sig) rows; nothing waits on a shuffle boundary). Batch
    pipelines should keep the groupBy kernel (map-side combine beats
    per-row fold when shingle rows already flow through an exchange).

    Docs with fewer than ``shingle_n`` tokens have no shingles and are
    filtered out, exactly like the batch kernel."""
    if num_hashes != bands * rows_per_band:
        raise ValueError("num_hashes must equal bands * rows_per_band")
    p = _LSH_P
    coeffs = lsh_hash_coeffs(num_hashes)
    arr_a = "array(" + ",".join(str(a) for a, _ in coeffs) + ")"
    arr_b = "array(" + ",".join(str(b) for _, b in coeffs) + ")"
    idx = "array(" + ",".join(str(i) for i in range(num_hashes)) + ")"
    parts = ", ".join(
        "__tk[i]" if j == 0 else f"__tk[i + {j}]" for j in range(shingle_n)
    )
    grams = (
        f"array_distinct(transform(sequence(0, size(__tk) - {shingle_n}), "
        f"i -> concat_ws(' ', {parts})))"
    )
    gh = (
        f"transform({grams}, g -> named_struct("
        "'g1', CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT), "
        "'g2', CAST(conv(substring(md5(g), 17, 15), 16, 10) AS BIGINT)))"
    )
    mins = (
        f"aggregate({gh}, array_repeat(CAST({p} AS BIGINT), {num_hashes}), "
        f"(acc, s) -> zip_with(acc, {idx}, (m, i) -> least(m, "
        f"((element_at({arr_a}, i + 1) * (s.g1 % {p})) % {p} "
        f"+ (element_at({arr_b}, i + 1) * (s.g2 % {p})) % {p} + i) % {p})))"
    )
    sig_parts = ", ".join(
        f"CAST(element_at(ms, b * {rows_per_band} + {j} + 1) AS STRING)"
        for j in range(rows_per_band)
    )
    # bind the minima vector once (array(...) -> lambda var ms), so the
    # whole fold is evaluated once per row however many band structs
    # read from it
    banded = (
        f"explode(flatten(transform(array({mins}), ms -> "
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'band', CAST(b AS INT), "
        f"'sig', concat_ws('|', {sig_parts}))))))"
    )
    return (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__tk"))
        .filter(F.size("__tk") >= shingle_n)
        .select(F.col(id_col), F.expr(banded).alias("bs"))
        .select(id_col, F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig"))
    )


def dup_span_coverage(
    docs: DataFrame, id_col: str, text_col: str, gram_len: int = 5
) -> DataFrame:
    """Substring-level duplication coverage (the distributed
    approximation of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better" — public method): for every document,
    the number and fraction of token positions covered by a
    ``gram_len``-token window that occurs MORE THAN ONCE in the corpus
    (including within the same document). Exact-substring dedup via a
    corpus-wide suffix array doesn't distribute; k-gram anchors do —
    a repeated span of length >= gram_len is covered end-to-end by its
    repeated k-grams, so anchor coverage equals span coverage for all
    spans >= gram_len.

    Plan shape (100 TB): row-local gram construction (slice over the
    materialized token array — linear, no lambda-CSE trap), then ONE
    window partitioned by the 16-hex-char md5 gram key to count
    occurrences (same shuffle a groupBy+join-back would take, one pass
    instead of two), then per-doc interval union via a lag window:
    covered = sum(min(gram_len, pos - prev_pos)) — overlapping windows
    merge arithmetically, no interval list materializes. Two shuffles
    of the gram stream (by gram key, then by doc) — the honest cost of
    substring-level dedup; nothing is all-pairs and nothing collects.
    md5 keys keep the oracle in DuckDB.

    Returns (id_col, dup_span_tokens, dup_span_frac); documents with
    no duplicated grams (or fewer than ``gram_len`` tokens) get 0/0.0.
    """
    tk = docs.select(
        F.col(id_col).alias("__id"),
        F.split(F.col(text_col), " ").alias("tk"),
    )
    n_grams = F.size("tk") - F.lit(gram_len - 1)
    grams = tk.select(
        "__id",
        F.size("tk").alias("n_tokens"),
        F.explode(
            F.when(n_grams < 1, F.array().cast("array<struct<pos:int,g:string>>"))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), n_grams),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.substring(
                            F.md5(F.concat_ws(" ", F.slice("tk", i, gram_len))),
                            1, 16,
                        ).alias("g"),
                    ),
                )
            )
        ).alias("p"),
    ).select("__id", "n_tokens", F.col("p.pos").alias("pos"), F.col("p.g").alias("g"))
    dup = grams.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).filter(F.col("cnt") > 1)
    w = Window.partitionBy("__id").orderBy("pos")
    covered = (
        dup.withColumn(
            "inc",
            F.least(
                F.lit(gram_len),
                F.col("pos") - F.coalesce(
                    F.lag("pos").over(w), F.col("pos") - F.lit(gram_len)
                ),
            ),
        )
        .groupBy("__id")
        .agg(
            F.sum("inc").cast("long").alias("dup_span_tokens"),
            F.first("n_tokens").alias("__n"),
        )
        .select(
            "__id", "dup_span_tokens",
            F.round(
                F.col("dup_span_tokens") / F.col("__n").cast("double"), 6
            ).alias("dup_span_frac"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(covered, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("dup_span_tokens", F.lit(0)).alias("dup_span_tokens"),
            F.coalesce("dup_span_frac", F.lit(0.0)).alias("dup_span_frac"),
        )
    )


# ------------------------------------------------------------------
# Bloom-filter decontamination — the map-only scale path of
# ``contamination_pairs``.
#
# The pairwise path materializes one row per (train gram hit) and
# shuffles them into per-pair counts; at 100 TB that is still the right
# tool for the REPORT (which eval doc leaked where), but the ADMISSION
# decision ("does this train doc overlap the benchmark at all?") only
# needs a membership test. A Bloom filter over the eval set's distinct
# n-grams is a few KB..MB regardless of corpus size, broadcasts to
# every executor, and turns the decision into a pure projection over
# the corpus scan: no join, no shuffle, no eval-side re-read —
# one-sided error only (no false negatives, tunable false positives).
#
# Portable hash family: the K bit positions per gram are K disjoint
# 8-hex-char slices of ONE md5(gram) reduced mod M — the same
# md5-slice discipline as the portable minhash family above, so the
# DuckDB oracle re-derives the filter AND the probe bit-for-bit
# (verified: Spark conv(substring(md5 ..),16,10) == DuckDB
# ('0x'||substr(md5 ..))::BIGINT on shared inputs). Words pack 32 bits
# each (masks stay below 2^31: no sign-bit divergence in any engine).

BLOOM_M = 65_536          # filter bits
BLOOM_WORD_BITS = 32      # bits packed per array element
BLOOM_K = 4               # hash functions = disjoint md5 hex slices


def _bloom_pos_sql(h: str, i: int, m_bits: int = BLOOM_M) -> str:
    """Spark-SQL expression: bit position i (0-based) for md5 hex ``h``."""
    return (
        f"CAST(conv(substring({h}, {1 + 8 * i}, 8), 16, 10) AS BIGINT)"
        f" % {m_bits}"
    )


BLOOM_M_CAP = 1 << 27     # auto-sizing cap: 2^27 bits = 16 MB bitmap


def bloom_build(
    eval_docs: DataFrame, id_col: str, text_col: str, n: int = 5,
    m_bits: int | None = BLOOM_M,
) -> DataFrame:
    """Build the Bloom bitmap over the eval set's distinct word
    n-grams. Returns a ONE-ROW DataFrame with columns ``words``
    (``array<bigint>`` of length ``m_bits / 32``, 32 bits per word),
    ``m_bits``, and ``fill`` — the set-bit fraction, IN-BAND, so a
    saturated filter is detectable from the build output instead of
    only from the docstring's sizing note (r12 advice + verdict #2:
    the 100× probe measured the old fixed default at fill 1.000,
    flagging every train doc — a silently useless filter).

    ``m_bits=None`` AUTO-SIZES from the eval set: the next power of
    two ≥ 16·n_grams (K=4 → fp ≈ 2e-3), floored at the registry
    default and capped at 2^27 (a 16 MB bitmap — still a cheap
    broadcast; beyond that the eval set is large enough that the
    pairwise report path is the right tool anyway). Auto mode runs
    ONE count action over the eval gram stream — the eval side is
    benchmark data (MBs), and the build already aggregates exactly
    this stream; pinned-M callers (the registry, whose plan builders
    must stay action-free) pass the explicit value and keep a fully
    lazy build.

    Scale shape: the eval side is benchmark data (MBs); its gram
    stream reduces to ≤ M distinct bit positions, then to packed
    words via ``bit_or`` — every step is a shrinking aggregation, and
    the result is a broadcast payload of fixed size chosen by M,
    independent of corpus size. SIZE M TO THE EVAL SET: with K=4,
    fp ≈ (1 - e^(-K·n_grams/M))^K — M ≈ 16·n_grams gives ~2e-3."""
    g = (
        _gram_stream(eval_docs, id_col, text_col, n)
        .select("__gram").distinct()
    )
    if m_bits is None:
        n_grams = g.count()
        m_bits = max(BLOOM_M, 1 << max(0, (16 * n_grams - 1).bit_length()))
        m_bits = min(m_bits, BLOOM_M_CAP)
    if m_bits % BLOOM_WORD_BITS != 0:
        raise ValueError("m_bits must be a multiple of 32")
    pos = g.select(
        F.explode(
            F.array(*[F.expr(_bloom_pos_sql("md5(__gram)", i, m_bits))
                      for i in range(BLOOM_K)])
        ).alias("p")
    ).distinct()
    words = (
        pos.select(
            (F.col("p") / BLOOM_WORD_BITS).cast("long").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(p % {BLOOM_WORD_BITS} AS INT))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )
    spine = eval_docs.sparkSession.range(m_bits // BLOOM_WORD_BITS).select(
        F.col("id").alias("w")
    )
    return (
        spine.join(words, "w", "left")
        .select("w", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
        .agg(F.array_sort(F.collect_list(F.struct("w", "bits"))).alias("s"))
        .select(
            F.expr("transform(s, x -> x.bits)").alias("words"),
            F.lit(m_bits).alias("m_bits"),
            (F.expr("aggregate(s, 0L, (a, x) -> a + bit_count(x.bits))")
             / F.lit(float(m_bits))).alias("fill"),
        )
    )


def bloom_probe(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bloom: DataFrame,
    n: int = 5,
    m_bits: int = BLOOM_M,
) -> DataFrame:
    """Probe every document's distinct word n-grams against a
    ``bloom_build`` bitmap. Returns (id_col, n_grams, n_bloom_hits)
    — ``n_bloom_hits`` counts grams whose ``BLOOM_K`` bit tests all
    pass (a superset of true eval-set membership: Bloom filters have
    no false negatives).

    Plan shape: ``crossJoin(broadcast(bloom))`` pins the one-row
    bitmap to every task, then the whole probe — md5, K slice/mod
    positions, word lookup, shift, mask, count — runs inside a single
    codegen'd projection over the corpus scan. No shuffle touches the
    corpus; the operator is embarrassingly scan-parallel at any scale.
    """
    tests = " AND ".join(
        f"(shiftright(element_at(words, "
        f"CAST({_bloom_pos_sql('h', i, m_bits)} DIV {BLOOM_WORD_BITS} AS INT)"
        f" + 1), "
        f"CAST({_bloom_pos_sql('h', i, m_bits)} % {BLOOM_WORD_BITS} AS INT))"
        f" & 1) = 1"
        for i in range(BLOOM_K)
    )
    base = docs.select(
        F.col(id_col),
        word_shingles(F.col(text_col), n).alias("__gs"),
    )
    return (
        base.join(F.broadcast(bloom))
        .select(
            id_col,
            F.size("__gs").alias("n_grams"),
            F.expr(
                f"size(filter(transform(__gs, g -> md5(g)), h -> {tests}))"
            ).cast("long").alias("n_bloom_hits"),
        )
    )


def bloom_probe_lit(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    words: list,
    n: int = 5,
    m_bits: int = BLOOM_M,
    max_fill: float = 0.8,
) -> DataFrame:
    """``bloom_probe`` with the bitmap riding the EXPRESSION TREE as an
    array literal (one constant per task) instead of a joined column.

    Why it exists (measured, 100× probe): the join variant concatenates
    the build row into every probe row, so a large bitmap is copied
    per ROW — at m=2^23 (256 k longs, ~2 MB) that took the 500 k-doc
    probe from 6 s to 36 s while the m=65536 bitmap showed no cost.
    Embedding the bitmap as a ``lit`` array keeps it a per-task
    constant; the registry keeps the join form (tiny M, fully lazy —
    no driver action inside the plan builder), production probes with
    benchmark-suite-sized filters take this seam:
    ``bloom_probe_lit(docs, ..., bloom_build(...).collect()[0]["words"],
    m_bits=...)``. Semantics are identical bit-for-bit (pytest parity).

    SATURATION GUARD (r13, verdict #2): the bitmap is already on the
    driver here, so its fill factor is free to compute — a fill ≥
    ``max_fill`` means the filter flags (nearly) everything and the
    probe result is useless noise; that is a LOUD error, not a silent
    degrade (the 100× probe measured M=65536 at 500 k docs reaching
    fill 1.000 and flagging all 448 800 train docs). Re-build with
    ``bloom_build(..., m_bits=None)`` (auto-sized) or pass
    ``max_fill=1.0`` to explicitly accept a saturated probe.
    """
    from functools import reduce

    fill = sum(int(w).bit_count() for w in words) / max(1, m_bits)
    if max_fill < 1.0 and fill >= max_fill:   # max_fill=1.0 disables
        raise ValueError(
            f"bloom filter saturated: fill={fill:.3f} >= {max_fill} "
            f"at m_bits={m_bits} — the probe would flag (nearly) "
            "every document; re-build with bloom_build(m_bits=None) "
            "to auto-size, or pass max_fill=1.0 to accept")
    lw = F.lit([int(w) for w in words])

    def pos(h, i):
        return (
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
            % m_bits
        )

    def test(h, i):
        p = pos(h, i)
        word = F.element_at(lw, (p / BLOOM_WORD_BITS).cast("int") + 1)
        return (
            F.call_function(
                "shiftright", word, (p % BLOOM_WORD_BITS).cast("int")
            ).bitwiseAND(F.lit(1)) == 1
        )

    base = docs.select(
        F.col(id_col),
        word_shingles(F.col(text_col), n).alias("__gs"),
    )
    return base.select(
        id_col,
        F.size("__gs").alias("n_grams"),
        F.size(
            F.filter(
                F.transform("__gs", lambda g: F.md5(g)),
                lambda h: reduce(
                    lambda a, b: a & b,
                    [test(h, i) for i in range(BLOOM_K)],
                ),
            )
        ).cast("long").alias("n_bloom_hits"),
    )

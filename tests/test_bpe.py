"""BPE tokenizer training (operators/bpe.py).

Known-answer test uses the classic Sennrich et al. (2016) corpus
{low:5, lower:2, newest:6, widest:3}, whose first five merges are
the textbook sequence e+s, es+t, est+</w>, l+o, lo+w (the first three
exercise the count-desc/left-asc tie-break: e-s, s-t and t-</w> all
count 9). The DuckDB parity test re-trains via the UNROLLED
recursive-CTE oracle — an independent string-scan-pointer
re-derivation of the greedy merge, not the Python loop."""

import duckdb
import pytest

from training_datawarehouse_spark.operators import bpe


SENNRICH_DOCS = [
    (1, "low low low low low"),
    (2, "lower lower widest widest widest"),
    (3, "newest newest newest newest newest newest"),
]


def _train(docs, num_merges):
    return bpe.train_bpe(docs.sparkSession,
                         bpe.collect_word_counts(docs, "text"), num_merges)


def test_train_bpe_sennrich_known_answer(spark):
    """The textbook merge sequence, vocabulary, and encoding."""
    docs = spark.createDataFrame(SENNRICH_DOCS, "doc_id long, text string")
    vocab, merges = _train(docs, 5)
    try:
        assert [(a, b, c) for a, b, c in merges] == [
            ("e", "s", 9), ("es", "t", 9), ("est", "</w>", 9),
            ("l", "o", 7), ("lo", "w", 7),
        ]
        assert bpe.merges_tag(merges) == "e+s,es+t,est+</w>,l+o,lo+w"
        syms = {r["w"]: r["syms"] for r in vocab.collect()}
        assert syms["low"] == ["low", "</w>"]
        assert syms["lower"] == ["low", "e", "r", "</w>"]
        assert syms["newest"] == ["n", "e", "w", "est</w>"]
        assert syms["widest"] == ["w", "i", "d", "est</w>"]

        enc = {r["doc_id"]: r["bpe_n_tokens"] for r in
               bpe.encode_token_counts(docs, vocab).collect()}
        assert enc == {1: 10, 2: 20, 3: 24}
    finally:
        vocab.unpersist()


def test_merge_fold_overlap_rule(spark):
    """Greedy left-to-right overlap semantics: 'aaaa' + (a,a) merges
    positions 1-2 and 3-4 ([aa, aa]), 'aaa' leaves a tail ([aa, a]) —
    the Sennrich regex-replace rule, never [a, aa]."""
    docs = spark.createDataFrame(
        [(1, "aaaa aaa")], "doc_id long, text string"
    )
    vocab, merges = _train(docs, 1)
    try:
        assert merges == [("a", "a", 5)]
        syms = {r["w"]: r["syms"] for r in vocab.collect()}
        assert syms["aaaa"] == ["aa", "aa", "</w>"]
        assert syms["aaa"] == ["aa", "a", "</w>"]
    finally:
        vocab.unpersist()


def test_train_bpe_exhausted_corpus_raises(spark):
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    # 'ab' has pairs a-b, b-</w>; after 2 merges 'ab</w>' is a single
    # symbol -> no pairs left for merge 3
    with pytest.raises(ValueError, match="exhausted"):
        _train(docs, 3)


def test_encode_skips_untrainable_words(spark):
    """Words outside [a-z]+ (numbers, punctuation, mixed case kept
    only via lower()) are excluded from training AND encoding — both
    sides of the differential check define the same alphabet."""
    docs = spark.createDataFrame(
        [(1, "abc abc 123 ?!"), (2, "ABC abc"), (3, "42 77")],
        "doc_id long, text string",
    )
    vocab, _ = _train(docs, 1)
    try:
        enc = {r["doc_id"]: r["bpe_n_tokens"] for r in
               bpe.encode_token_counts(docs, vocab).collect()}
        # merge 1: (ab, c) is NOT first — pairs: a-b 4, b-c 4, c-</w> 4
        # -> tie-break picks a+b; 'abc' -> [ab, c, </w>] = 3 tokens
        assert enc[1] == 6
        assert enc[2] == 6  # 'ABC' lower-cases to a trainable word
        assert 3 not in enc  # no trainable words at all
    finally:
        vocab.unpersist()


def test_bpe_duckdb_oracle_parity(spark):
    """The unrolled recursive-CTE oracle must RETRAIN the identical
    merge sequence and token counts on the same corpus — training and
    encoding differentially checked against an independent
    implementation shape (string scan-pointer vs array fold)."""
    docs = spark.createDataFrame(SENNRICH_DOCS, "doc_id long, text string")
    vocab, merges = _train(docs, 5)
    try:
        spark_enc = {r["doc_id"]: r["bpe_n_tokens"] for r in
                     bpe.encode_token_counts(docs, vocab).collect()}
    finally:
        vocab.unpersist()

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in SENNRICH_DOCS)
        + ") t(doc_id, text)"
    )
    sql = ("WITH RECURSIVE " + bpe.bpe_oracle_ctes(num_merges=5)
           + " SELECT doc_id, bpe_n_tokens,"
             " (SELECT tag FROM bpe_merge_tag) AS tag"
             " FROM bpe_enc ORDER BY doc_id")
    rows = con.execute(sql).fetchall()
    assert {r[0]: r[1] for r in rows} == spark_enc
    assert rows[0][2] == bpe.merges_tag(merges)


def _persistent_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_release_local_checkpoint_frees_rdd_blocks(spark):
    """r7 ADVICE regression gate: Dataset.unpersist is a no-op on a
    localCheckpoint'ed frame (RDD-level persist, below the cache
    manager); release_local_checkpoint must actually free the blocks,
    and must no-op (False) on a non-checkpoint frame."""
    from pyspark.sql import functions as F

    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )

    df = spark.range(100).select("id", (F.col("id") * 2).alias("x"))
    assert release_local_checkpoint(df) is False  # not a checkpoint
    before = _persistent_ids(spark)
    ck = df.localCheckpoint(eager=True)
    assert _persistent_ids(spark) - before  # checkpoint pinned a block
    ck.unpersist(True)  # the documented no-op
    assert _persistent_ids(spark) - before, "unpersist should be a no-op"
    assert release_local_checkpoint(ck, blocking=True) is True
    assert _persistent_ids(spark) - before == set()

"""WordPiece tokenizer training (`operators/wordpiece.py`): selection
rule, prefix handling, exhaustion refusal, DuckDB retrain parity,
per-document encoding."""

from __future__ import annotations

import duckdb
import pytest

from training_datawarehouse_spark.operators import bpe, wordpiece as wp


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def _train(docs, num_merges):
    return wp.train_wordpiece(docs.sparkSession,
                              bpe.collect_word_counts(docs, "text"),
                              num_merges)


def test_likelihood_ratio_selection_not_frequency(spark):
    """The defining WordPiece property: the chosen pair maximizes
    count(ab)/(count(a)·count(b)), NOT raw pair frequency. Here
    ('x','##y') occurs 3 times but both symbols are rare-apart, while
    ('a','##b') occurs 4 times among very frequent symbols — BPE
    would pick (a, ##b); WordPiece must pick (x, ##y)."""
    counts = [("xy", 3), ("ab", 4), ("ac", 5), ("ba", 5), ("cb", 4)]
    words, merges = wp.train_wordpiece(spark, counts, 1)
    assert (merges[0][0], merges[0][1]) == ("x", "##y")


def test_continuation_prefix_through_merges():
    """merge('l','##o') -> 'lo' (word-initial keeps no prefix);
    merge('##w','##e') -> '##we' (continuation keeps ##)."""
    assert wp._merged_sym("l", "##o") == "lo"
    assert wp._merged_sym("##w", "##e") == "##we"
    assert wp._merge_fold_py(["l", "##o", "##w"], "l", "##o") == \
        ["lo", "##w"]
    assert wp._merge_fold_py(["h", "##u", "##g"], "##u", "##g") == \
        ["h", "##ug"]


def test_overlap_rule_greedy_left_to_right():
    """'aaaa' with merge ('##a','##a'): greedy left-to-right gives
    [a, ##aa, ##a]... the same single-pass overlap rule as BPE."""
    syms = ["a", "##a", "##a", "##a"]
    assert wp._merge_fold_py(syms, "##a", "##a") == ["a", "##aa", "##a"]


def test_duckdb_oracle_retrains_identically(spark):
    docs = _docs(spark, [
        "low lower lowest new newer newest wide wider widest",
        "low low lower new new newer hug hugs hugging",
        "the hug of the new low",
    ])
    vocab, merges = _train(docs, 6)
    enc = {r["doc_id"]: r["wp_n_tokens"]
           for r in wp.encode_token_counts(docs, vocab).collect()}
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    rows = con.execute(
        "WITH RECURSIVE " + wp.wordpiece_oracle_ctes(num_merges=6)
        + " SELECT (SELECT tag FROM wp_merge_tag), doc_id, wp_n_tokens "
          "FROM wp_enc ORDER BY doc_id"
    ).fetchall()
    con.close()
    assert rows[0][0] == bpe.merges_tag(merges)
    assert {r[1]: r[2] for r in rows} == enc


def test_exhaustion_refusal_and_checkpoint_release(spark):
    """Too many merges for the corpus must raise."""
    docs = _docs(spark, ["ab ab"])
    with pytest.raises(ValueError, match="exhausted"):
        _train(docs, 3)


def test_encode_counts_match_vocab_syms(spark):
    docs = _docs(spark, ["hug hug hugs", "the hug"])
    vocab, _ = _train(docs, 2)
    syms = {r["w"]: len(r["syms"]) for r in vocab.collect()}
    got = {r["doc_id"]: r["wp_n_tokens"]
           for r in wp.encode_token_counts(docs, vocab).collect()}
    assert got[1] == 2 * syms["hug"] + syms["hugs"]
    assert got[2] == syms["the"] + syms["hug"]

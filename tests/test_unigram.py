"""Unigram-LM tokenizer training (operators/unigram.py): known-answer
EM vs a hand-checkable corpus and the DuckDB retrain oracle."""

import math

import duckdb
import pytest

from training_datawarehouse_spark.operators import bpe
from training_datawarehouse_spark.operators import unigram as ug

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog ate the cat food"),
    (3, "a banana and an apple"),
    (4, "the the the banana cat 42 ?!"),
]


def _word_counts():
    wc: dict = {}
    for _, t in DOCS:
        for w in t.lower().split(" "):
            if w and all("a" <= c <= "z" for c in w):
                wc[w] = wc.get(w, 0) + 1
    return sorted(wc.items())


def _train(docs):
    """(model, distinct words) from the shared ``bpe.collect_word_counts``
    scan less words over 127 characters, as ``ns_text_profile`` trains."""
    wc = [(w, n) for w, n in bpe.collect_word_counts(docs, "text")
          if len(w) <= 127]
    return ug.train_unigram(wc), [w for w, _ in wc]


def test_alpha_beta_known_answer():
    """Hand-checked forward pass: w='ab', vocab {a:.2, b:.3, ab:.4} →
    segmentations [a][b] (.06) and [ab] (.4); Z = .46; β mirrors."""
    probs = {"a": 0.2, "b": 0.3, "ab": 0.4}
    alpha, beta = ug._alpha_beta("ab", probs, 3)
    assert alpha[2] == pytest.approx(0.2 * 0.3 + 0.4, abs=1e-15)
    assert beta[0] == alpha[2]  # total mass agrees from both ends
    # expected count of piece 'ab' = p(ab)/Z
    z = alpha[2]
    assert ((alpha[0] * 0.4) * beta[2]) / z == pytest.approx(0.4 / z)


def test_expected_counts_sum_to_expected_tokens():
    """Σ_q E[count(q)] per word == E[#pieces] — and for a word with
    only single-char coverage it is exactly len(w)."""
    probs = {"x": 0.5, "y": 0.5}
    out = dict()
    for q, m in ug._estep_word("xyx", 1, probs, 3):
        out[q] = out.get(q, 0) + m
    assert out == {"x": 2_000_000, "y": 1_000_000}  # micro units


def test_seed_vocab_deterministic_tie_break():
    wc = [("ab", 2), ("ba", 2)]
    probs = ug.seed_vocab(wc, vocab_size=3, max_len=2)
    # chars a, b always in; one multi slot: 'ab' vs 'ba' tie on count
    # 2 → piece-asc picks 'ab'
    assert set(probs) == {"a", "b", "ab"}


def test_em_monotone_likelihood():
    """EM must not decrease total corpus log-likelihood across the
    fixed iterations (the soft-EM guarantee, modulo the 6-dp rounding
    and floor — assert non-trivial improvement over the seed)."""
    wc = _word_counts()

    def ll(probs):
        s = 0.0
        for w, n in wc:
            alpha, _ = ug._alpha_beta(w, probs, 3)
            s += n * math.log(alpha[len(w)])
        return s

    seed = ug.seed_vocab(wc, 40, 3)
    trained = ug.train_unigram(wc, 40, 3, 2)
    assert ll(trained) >= ll(seed)


def test_unigram_oracle_retrains_identically(spark):
    """The DuckDB oracle must RETRAIN the identical model (tag equal
    piece-for-piece, prob-for-prob) and reproduce every document
    score bit-for-bit."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    probs, words = _train(docs)
    got = {
        r["doc_id"]: (r["ulm_nll"], r["ulm_exp_tokens"])
        for r in ug.doc_unigram_scores(docs, probs, words).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    pre = "WITH RECURSIVE " + ug.unigram_oracle_ctes(
        vocab_size=40, max_len=3, iters=2
    )
    tag_sql = con.execute(pre + " SELECT tag FROM ulm_tag").fetchone()[0]
    rows = con.execute(pre + " SELECT * FROM ulm").fetchall()
    con.close()
    assert tag_sql == ug.vocab_tag(probs)
    assert {d: (a, b) for d, a, b in rows} == got
    assert len(got) == 4


def test_scoring_plan_is_broadcast_join_no_python(spark):
    """Doc scoring is a broadcast join + exact long sums — no Python
    in the scoring plan (training is off-plan by design)."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    probs, words = _train(docs)
    sc = ug.doc_unigram_scores(docs, probs, words)
    plan = sc._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_word_length_cap_contract(spark):
    """Words over 127 chars are outside the trainable alphabet in BOTH
    engines (the oracle's constant-bound position expansion) — they
    must be ignored, not truncated."""
    long_word = "a" * 200
    docs = spark.createDataFrame(
        [(1, f"short {long_word} words")], "doc_id long, text string"
    )
    probs, words = _train(docs)
    # the 200-char all-'a' word is excluded whole: 'a' never enters
    # the vocabulary (no other word contains it), while the short
    # words' chars do
    assert "a" not in probs
    assert "s" in probs and "w" in probs
    sc = {r["doc_id"]: r for r in
          ug.doc_unigram_scores(docs, probs, words).collect()}
    # the 200-char word contributed nothing; the two short words did
    assert sc[1]["ulm_exp_tokens"] > 0

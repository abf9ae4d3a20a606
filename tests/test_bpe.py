"""BPE tokenizer training (operators/bpe.py) pinned against a pure-
Python reference implementation (Sennrich et al. 2016 algorithm 1):
identical word counting, pair argmax with the same (count DESC, left
ASC, right ASC) tiebreak, and greedy left-to-right non-overlapping
merges. The distributed trainer must reproduce the reference's merge
SEQUENCE and final segmentations exactly — not just similar vocab.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators import bpe as BPE

SF_DIR = "/root/testdata/sf0.001"


# --- pure-Python reference twin -------------------------------------------


def _ref_normalize(text: str) -> str:
    t = re.sub(r"[^a-z0-9 ]", " ", text.lower())
    return re.sub(r" +", " ", t).strip()


def _ref_word_counts(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        for w in _ref_normalize(t).split(" "):
            if w:
                c[w] += 1
    return c


def _ref_merge_word(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return tuple(out)


def _ref_bpe_train(texts: list[str], num_merges: int, min_pair_count: int = 2):
    wc = _ref_word_counts(texts)
    vocab = {w: tuple(w) for w in wc}
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, cnt in wc.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < min_pair_count:
            break
        merges.append((a, b, c))
        vocab = {w: _ref_merge_word(s, a, b) for w, s in vocab.items()}
    return merges, {w: list(s) for w, s in vocab.items()}


# --- fixtures --------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).cache()


# --- tests -----------------------------------------------------------------


def test_train_matches_python_reference(spark, docs):
    texts = [r["text"] for r in docs.select("text").collect()]
    ref_merges, ref_vocab = _ref_bpe_train(texts, num_merges=12)

    merges_df, vocab_df = BPE.bpe_train(docs, num_merges=12)
    got = [
        (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    assert got == ref_merges

    got_vocab = {r["word"]: r["syms"] for r in vocab_df.collect()}
    assert got_vocab == ref_vocab


def test_greedy_merge_is_non_overlapping(spark):
    # 'aaaa' under merge (a,a) must segment [aa, aa]; 'aaa' → [aa, a]
    df = spark.createDataFrame([("aaaa aaa",)], "text string")
    vocab = BPE.word_counts(df).withColumn("syms", BPE.split_chars(F.col("word")))
    merged = BPE.merge_pair(vocab, "a", "a")
    got = {r["word"]: r["syms"] for r in merged.collect()}
    assert got == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}


def test_merged_symbol_does_not_remerge_same_round(spark):
    # merge (a, ab): 'aab' folds to [a, ab] first? No — merge only
    # rewrites existing (a, ab) adjacencies; 'aab' is [a, a, b] and
    # stays untouched, while an explicit [a, ab] segmentation merges.
    df = spark.createDataFrame([(["a", "ab", "x"], 1)], "syms array<string>, cnt long")
    got = BPE.merge_pair(df, "a", "ab").collect()[0]["syms"]
    assert got == ["aab", "x"]


def test_early_stop_on_min_pair_count(spark):
    # every word distinct chars, each pair appears once → no merge
    df = spark.createDataFrame([("ab cd ef",)], "text string")
    merges_df, vocab_df = BPE.bpe_train(df, num_merges=5, min_pair_count=2)
    assert merges_df.count() == 0
    assert {r["word"]: r["syms"] for r in vocab_df.collect()} == {
        "ab": ["a", "b"],
        "cd": ["c", "d"],
        "ef": ["e", "f"],
    }


def test_train_matches_reference_on_adversarial_corpora(spark):
    """The trainer reproduces the reference merge sequence on corpora
    built for dense count ties, self-pairs (runs of one char),
    shared-symbol chains and result-symbol collisions — a tiny {a,b,c}
    alphabet with short random words maximizes all four."""
    import random

    corpora = []
    for seed in range(4):
        rng = random.Random(seed)
        words = [
            "".join(rng.choices("abc", k=rng.randint(1, 6)))
            for _ in range(25)
        ]
        texts = [" ".join(rng.choices(words, k=8)) for _ in range(12)]
        corpora.append((texts, 2))
    # early stop after a self-pair: merging (a,a) turns 'aaaa' into
    # [aa, aa], a new pair above the floor although the next-ranked
    # pair (b,c,2) is below it
    corpora.append((["aaaa"] * 10 + ["bc"] * 2, 3))
    for i, (corpus, min_pair_count) in enumerate(corpora):
        ref_merges, ref_vocab = _ref_bpe_train(
            corpus, num_merges=10, min_pair_count=min_pair_count
        )
        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        merges_df, vocab_df = BPE.bpe_train(
            df, num_merges=10, min_pair_count=min_pair_count
        )
        got = [
            (r["left_sym"], r["right_sym"], r["pair_count"])
            for r in merges_df.orderBy("merge_rank").collect()
        ]
        assert got == ref_merges, f"corpus {i}: merges != reference"
        got_vocab = {r["word"]: r["syms"] for r in vocab_df.collect()}
        assert got_vocab == ref_vocab, f"corpus {i}: vocab mismatch"


def test_train_is_deterministic_across_partitionings(spark, docs):
    m1, _ = BPE.bpe_train(docs.repartition(7), num_merges=8)
    m2, _ = BPE.bpe_train(docs.coalesce(1), num_merges=8)
    assert m1.orderBy("merge_rank").collect() == m2.orderBy("merge_rank").collect()


def test_pair_counts_weighted_by_word_frequency(spark):
    df = spark.createDataFrame([("to to to be",)], "text string")
    vocab = BPE.word_counts(df).withColumn("syms", BPE.split_chars(F.col("word")))
    got = {
        (r["left_sym"], r["right_sym"]): r["pair_count"]
        for r in BPE.pair_counts(vocab).collect()
    }
    assert got == {("t", "o"): 3, ("b", "e"): 1}


def test_apply_merges_reproduces_training_segmentations(spark, docs):
    merges_df, vocab_df = BPE.bpe_train(docs, num_merges=10)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    # re-encode the training words from scratch through the encoder path
    fresh = (
        BPE.word_counts(docs)
        .select("word")
        .withColumn("syms", BPE.split_chars(F.col("word")))
    )
    got = {r["word"]: r["syms"] for r in BPE.apply_merges(fresh, merges).collect()}
    want = {r["word"]: r["syms"] for r in vocab_df.collect()}
    assert got == want


def test_token_counts_match_reference(spark, docs):
    texts = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    ref_merges, ref_vocab = _ref_bpe_train([t for _, t in texts], num_merges=10)
    merges = [(a, b) for a, b, _ in ref_merges]
    want = {}
    for doc_id, t in texts:
        words = [w for w in _ref_normalize(t).split(" ") if w]
        if words:
            want[doc_id] = (len(words), sum(len(ref_vocab[w]) for w in words))
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in BPE.bpe_token_counts(docs, merges).collect()
    }
    assert got == want

"""Distributed BPE tokenizer training — byte-pair-encoding merges
learned from a document corpus (Sennrich et al. 2016, arXiv:1508.07909;
the tokenizer-training step of every LLM data pipeline).

Scale shape (the part that matters at 100 TB): the ONLY corpus-sized
job is the initial word count — one explode + one groupBy with map-side
combine, after which every merge round operates on the *vocabulary*
table (bounded by Heaps' law, sublinear in corpus size; the same
corpus-vs-vocab separation production BPE trainers rely on). Each round
is three small jobs over the vocab frame:

  1. adjacent-pair counts weighted by word frequency (array transform +
     explode + groupBy — JVM codegen, no Python),
  2. argmax pair with a deterministic tiebreak (count DESC, left ASC,
     right ASC) via a 1-row collect (the pair table is vocab-sized),
  3. greedy left-to-right in-word merge of the winning pair — an
     ``aggregate`` fold over each symbol array (non-overlapping: a
     just-merged symbol never re-merges within the same round).

The vocab frame is ``localCheckpoint``ed every few rounds: chained
per-round transforms otherwise grow the logical plan geometrically
(the same geometric-plan-growth hazard chained scd2_merge calls hit).

Driver-side state is bounded: one (pair, count) row per round plus the
merge list itself — never corpus rows, never the vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.pins import pin_corpus_sized
from cdc_historical_warehouse_platform_spark.operators.text import normalize_text, tokens

__all__ = [
    "word_counts",
    "split_chars",
    "pair_counts",
    "merge_pair",
    "bpe_train",
    "apply_merges",
    "bpe_token_counts",
]

# checkpoint cadence for the iterated vocab frame (plan-growth guard)
_CHECKPOINT_EVERY = 4


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-sized pass: normalized-word frequencies.
    Returns ``(word, cnt)`` — the trainer's working set from here on."""
    return (
        df.select(F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def split_chars(word: F.Column) -> F.Column:
    """Character symbols of a word. The ``(?!^)`` lookahead also
    matches at end-of-string, so Spark's split emits a trailing '' —
    filtered here or every word would grow a phantom (last_char, '')
    pair."""
    return F.filter(F.split(word, "(?!^)"), lambda s: s != "")


def pair_counts(vocab: DataFrame, syms_col: str = "syms") -> DataFrame:
    """Adjacent-symbol pair counts over a ``(…, cnt, syms)`` vocab
    frame, weighted by word frequency. Returns
    ``(left_sym, right_sym, pair_count)``. All JVM array ops — the
    explode is bounded by total symbols in the vocab, not the corpus."""
    s = F.col(syms_col)
    pairs = F.when(
        F.size(s) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.struct(
                F.element_at(s, i.cast("int")).alias("left_sym"),
                F.element_at(s, (i + 1).cast("int")).alias("right_sym"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left_sym:string,right_sym:string>>"))
    return (
        vocab.select(F.col("cnt"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left_sym").alias("left_sym"), F.col("p.right_sym").alias("right_sym"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def merge_pair(vocab: DataFrame, left: str, right: str, syms_col: str = "syms") -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (left, right) in
    every symbol array: fold each array, replacing a trailing ``left``
    followed by the current ``right`` with the concatenation. A merged
    symbol is compared as a whole, so it cannot re-merge in this round
    ('aaa' under (a,a) → [aa, a], matching reference BPE)."""
    a, b = F.lit(left), F.lit(right)
    merged = F.aggregate(
        F.col(syms_col),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (s == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(a, b)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return vocab.withColumn(syms_col, merged)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges from a document corpus.

    Returns ``(merges_df, vocab_df)``:

    - ``merges_df``: ``(merge_rank, left_sym, right_sym, pair_count)``
      in learned order — the tokenizer artifact;
    - ``vocab_df``: ``(word, cnt, syms)`` — each corpus word's final
      segmentation under the learned merges (the lookup table a
      BPE encoder ships with).

    Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times. Deterministic: ties broken by
    (left_sym ASC, right_sym ASC); no floats anywhere.

    Driver round-trips: each merge runs one vocab-sized pair-count job
    and collects its single argmax row; the in-word fold is lazy.
    """
    spark = df.sparkSession
    vocab = (
        word_counts(df, text_col)
        .withColumn("syms", split_chars(F.col("word")))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges:
        top = (
            pair_counts(vocab)
            .orderBy(F.col("pair_count").desc(), F.col("left_sym").asc(), F.col("right_sym").asc())
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["pair_count"]) < min_pair_count:
            break
        l, r = top[0]["left_sym"], top[0]["right_sym"]
        merges.append((len(merges), l, r, int(top[0]["pair_count"])))
        vocab = merge_pair(vocab, l, r)
        if len(merges) % _CHECKPOINT_EVERY == 0:
            # lazy: the next round's argmax collect (or the caller's
            # first action on vocab_df) materializes the pin inside a
            # job that runs anyway — the eager form paid one extra
            # driver round-trip per cadence for the same truncation
            vocab = vocab.localCheckpoint(eager=False)
    merges_df = spark.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, pair_count bigint"
    )
    return merges_df, vocab


def apply_merges(
    vocab: DataFrame, merges: list[tuple[str, str]], syms_col: str = "syms"
) -> DataFrame:
    """Apply a learned merge list, in order, to a symbol-array frame —
    the encoder half of BPE. Same fold as training (greedy,
    non-overlapping), same checkpoint cadence against plan growth.
    Cost is |merges| vocab-sized transforms — never corpus-sized.

    The checkpoints are LAZY (r12 optimization round): an eager pin
    here dispatched one driver-synchronous job per ``_CHECKPOINT_EVERY``
    merges — ~|merges|/4 sequential round-trips whose scheduling
    overhead dominated the vocab-sized work. A lazy ``localCheckpoint``
    truncates the plan identically (the downstream plan ends at the
    checkpointed RDD either way) but materializes every segment inside
    the CONSUMER'S one job, so the encode chain costs one job total.
    Unlike ``bpe_train`` there is no per-round driver decision forcing
    a job boundary — nothing reads the intermediate frames."""
    out = vocab
    for i, (left, right) in enumerate(merges):
        out = merge_pair(out, left, right, syms_col)
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            out = out.localCheckpoint(eager=False)
    return out


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document token counts under a learned BPE tokenizer —
    the sizing statistic sequence packing / token budgeting runs on.

    Scale shape: the merge loop runs over the corpus's DISTINCT words
    (vocab-sized, Heaps-law bounded), producing a word → n_subtokens
    lookup that joins back to the per-doc word stream (broadcast by
    default; ``broadcast_vocab=False`` hash-joins when the vocabulary
    outgrows the broadcast threshold). Returns
    ``(doc_id, n_words, n_bpe_tokens)``; docs with no words drop out.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("word"),
    ).filter(F.col("word").isNotNull())
    # Pin the per-doc word-count table ONCE (r12 optimization round,
    # guide §2.4): it feeds BOTH the distinct-word segmentation and
    # the final scoring join, and without the boundary each consumer
    # re-scans and re-tokenizes the whole corpus. The pinned
    # (doc, word, cnt) table is bounded by distinct words per document
    # — strictly smaller than the word stream it summarizes.
    wc = pin_corpus_sized(
        words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    seg = (
        wc.select("word")
        .distinct()
        .withColumn("syms", split_chars(F.col("word")))
    )
    seg = apply_merges(seg, merges).select(
        "word", F.size("syms").alias("n_subtokens")
    )
    sb = F.broadcast(seg) if broadcast_vocab else seg
    return (
        # Σ over occurrences == Σ cnt·value over distinct (doc, word):
        # same exact integers, no second corpus pass.
        wc.join(sb, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("__cnt").alias("n_words"),
            F.sum(F.col("__cnt") * F.col("n_subtokens")).alias("n_bpe_tokens"),
        )
    )

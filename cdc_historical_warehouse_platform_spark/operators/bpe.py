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

# pairs fetched per driver round trip (r13 optimization round): the
# trainer's cost is ~1 vocab-sized pair-count job + 1 collect per
# MERGE; fetching the top K+1 pairs at once and accepting the maximal
# PROVABLY-SAFE prefix cuts both to one per accepted batch. 1 restores
# the exact sequential protocol (the equivalence test pins batched ==
# sequential == the pure-Python reference).
_BATCH_COLLECT = 8


def _safe_merge_prefix(
    rows, symbols: set, min_pair_count: int, budget: int
) -> tuple[list, bool]:
    """The maximal prefix of a sorted pair-count table that provably
    reproduces per-round argmax when applied as sequential merges —
    the correctness core of the batched trainer.

    ``rows`` are the top pairs sorted (count DESC, left ASC, right
    ASC); ``symbols`` is the CURRENT symbol set (initial alphabet +
    every merge result so far). Returns (accepted, stop) where
    ``accepted`` is a list of (left, right, count) to apply in order
    and ``stop`` means training is provably finished (the best
    remaining pair after applying ``accepted`` is below
    ``min_pair_count``).

    Why the prefix is exact — invariants after applying accepted
    merges m_1..m_j (each guaranteed below to be non-self-paired with
    a brand-new result symbol):

    - m_t's own pair count drops to 0 (the greedy fold leaves no
      (l_t, r_t) adjacency when l_t != r_t);
    - a pair type not sharing a symbol with any m_t keeps its count
      EXACTLY (merges only touch adjacencies at their own symbols,
      and its symbols cannot equal a result — results are brand-new);
    - existing pair types only ever lose occurrences (no increments:
      an increment would need the result string to equal an existing
      symbol — excluded);
    - every occurrence of a NEW pair type maps injectively to a
      pre-batch occurrence of a pair q that shares a symbol with some
      m_t (the boundary adjacency under the merged symbols), so
      count(new) <= count_old(q); q conflicts with an accepted merge,
      so q is NOT in the accepted prefix and ranks strictly after the
      candidate — its count is <= the NEXT row's count.

    Therefore candidate p_i (i >= 2) is the true post-merge argmax
    whenever (a) it shares no symbol with the accepted prefix, (b)
    every accepted merge is non-self-paired with a brand-new result,
    and (c) the NEXT row's count is STRICTLY below p_i's (kills both
    decreased-old and new-type ties; ties among UNCHANGED pairs are
    already broken by the sort order, but a new type's lexicographic
    position is unknowable without computing it). The first row needs
    no conditions — it is the argmax of the table it came from.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()  # symbols of accepted merges
    chain_ok = True  # every accepted merge: l != r and result brand-new
    for i, row in enumerate(rows):
        if len(accepted) >= budget or len(accepted) >= _BATCH_COLLECT:
            return accepted, False
        l, r, c = row["left_sym"], row["right_sym"], int(row["pair_count"])
        if c < min_pair_count:
            # everything remaining (old: rank >= this row; new: bounded
            # by a conflicting old pair ranked here or later) is below
            # the floor — training is finished after the accepted prefix,
            # unless a self-pair or result collision broke that bound:
            # then the caller re-collects before deciding
            return accepted, chain_ok
        if i > 0:
            nxt = int(rows[i + 1]["pair_count"]) if i + 1 < len(rows) else None
            strict = nxt is None or nxt < c
            conflict = l in used or r in used
            if not (chain_ok and strict and not conflict):
                return accepted, False
        accepted.append((l, r, c))
        chain_ok = chain_ok and l != r and (l + r) not in symbols and (l + r) not in used
        used.update((l, r))
        used.add(l + r)  # a later result colliding with this one must stop the batch
    return accepted, False


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

    Driver round-trips (r13 optimization round): each iteration
    collects the top ``_BATCH_COLLECT + 1`` pairs in ONE job and
    applies the maximal provably-safe prefix (:func:`_safe_merge_prefix`
    — exact, never a heuristic: the merge sequence is byte-identical
    to the one-collect-per-merge protocol, pinned by the batched==
    sequential equivalence test and the pure-Python reference). The
    pair-count job AND the collect now run once per accepted batch
    instead of once per merge — the only remaining per-merge cost is
    the vocab-sized fold, which is lazy. One extra vocab-sized
    distinct-symbols job at train start seeds the alphabet the safety
    rule needs.
    """
    spark = df.sparkSession
    vocab = (
        word_counts(df, text_col)
        .withColumn("syms", split_chars(F.col("word")))
        .localCheckpoint(eager=True)
    )
    # current symbol set, maintained driver-side (alphabet-sized — one
    # new symbol per merge): the batched-acceptance rule must know
    # whether a merge result collides with an EXISTING symbol (such a
    # collision can increment an existing pair type's count, breaking
    # the new-type bound; the batch stops at that merge instead).
    symbols = {
        r["s"]
        for r in vocab.select(
            F.explode("syms").alias("s")
        ).distinct().collect()
    }
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges:
        rows = (
            pair_counts(vocab)
            .orderBy(F.col("pair_count").desc(), F.col("left_sym").asc(), F.col("right_sym").asc())
            .limit(_BATCH_COLLECT + 1)
            .collect()
        )
        accepted, stop = _safe_merge_prefix(
            rows, symbols, min_pair_count, num_merges - len(merges)
        )
        for l, r, c in accepted:
            merges.append((len(merges), l, r, int(c)))
            vocab = merge_pair(vocab, l, r)
            symbols.add(l + r)
            if len(merges) % _CHECKPOINT_EVERY == 0:
                # lazy: the next round's argmax collect (or the caller's
                # first action on vocab_df) materializes the pin inside a
                # job that runs anyway — the eager form paid one extra
                # driver round-trip per cadence for the same truncation
                vocab = vocab.localCheckpoint(eager=False)
        if stop or not accepted:
            # stop: provably below min_pair_count after the prefix.
            # not accepted: table exhausted (no rows at all).
            break
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

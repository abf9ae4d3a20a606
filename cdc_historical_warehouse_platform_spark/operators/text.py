"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in column expressions (JVM codegen, no
Python) so a 100 TB documents table is one scan with no serde: token
counting, quality ratios, language-ID heuristics, fingerprinting.
These generalize the reference's string/scalar surface (SURVEY.md
§2.8) to the document domain the north star asks for.

Every function returns a Column (composable) and is paired with an
ANSI-SQL twin in plans/datapipe_queries.py for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_historical_warehouse_platform_spark.operators.pins import pin_corpus_sized

__all__ = [
    "normalize_text",
    "fingerprint",
    "tokens",
    "token_count",
    "bpe_ish_token_count",
    "ngrams_from_tokens",
    "ngram_list_from_tokens",
    "dup_ngram_fraction",
    "word_ngrams",
    "punct_ratio",
    "digit_ratio",
    "stopword_ratio",
    "avg_token_len",
    "quality_score",
    "lang_id",
    "rolling_hash",
    "PII_PATTERNS",
    "pii_counts",
    "redact_pii",
    "STOPWORDS",
]

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the standard byte-pair pre-split shape.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalize_text(col: Column) -> Column:
    """lower → strip non-alnum (keep spaces) → collapse whitespace → trim."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, r" +", " ")
    return F.trim(c)


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (the F7 content-hash idea applied to documents)."""
    return F.md5(normalize_text(col))


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties removed (split semantics aligned with
    the SQL twin: split on single space, drop '')."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def ngrams_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column.

    Callers must compute the token array behind a projection boundary
    (``.select(tokens(...).alias("__toks"))``) before applying this —
    passing ``tokens(text)`` inline would re-evaluate the split inside
    every ``element_at`` of every sequence element: O(len²) per
    document (measured 30+ s for a 5k-doc shingle explode).

    Guarded: Spark's ``sequence(a, b)`` auto-descends when b < a, so
    short documents must short-circuit to an empty array."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(t) >= n, grams).otherwise(empty))


def ngram_list_from_tokens(t: Column, n: int = 2) -> Column:
    """NON-distinct n-gram list (order-preserving) from a materialized
    token array — the repetition-analysis counterpart of
    :func:`ngrams_from_tokens` (same projection-boundary warning)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(t) >= n, grams).otherwise(empty)


def dup_ngram_fraction(t: Column, n: int = 2) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier
    n-gram in the SAME document — the Gopher-style intra-doc
    repetition signal (boilerplate/spam detector). Integer counts, one
    double division: bit-exact across engines."""
    g = ngram_list_from_tokens(t, n)
    total = F.size(g)
    dup = (total - F.size(F.array_distinct(g))).cast("double")
    return F.when(total > 0, dup / total).otherwise(F.lit(0.0))


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column. Fine for one-off
    expressions; hot paths should tokenize once and use
    :func:`ngrams_from_tokens` (see its warning)."""
    return ngrams_from_tokens(tokens(col), n)


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def punct_ratio(col: Column) -> Column:
    return _count_matches(col, r"[^\w\s]") / F.greatest(F.length(col), F.lit(1))


def digit_ratio(col: Column) -> Column:
    return _count_matches(col, r"[0-9]") / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col: Column) -> Column:
    t = tokens(F.lower(col))
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return sw / F.greatest(F.size(t), F.lit(1))


def avg_token_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return total.cast("double") / F.greatest(F.size(t), F.lit(1))


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] quality: long enough, words not too short/long,
    some stopwords, little punctuation — the standard cheap pre-filter
    before expensive dedup/training steps. Integer-ratio arithmetic so
    the SQL twin is bit-exact."""
    n_tok = token_count(col).cast("double")
    len_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    sw = stopword_ratio(col)
    sw_ok = F.least(sw * F.lit(4.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(5.0), F.lit(1.0))
    # floor-truncate instead of round: floor(x*1e6)/1e6 is bit-identical
    # across engines, while round() on doubles is repr-based in Spark
    # and binary-based in DuckDB (splits on ties)
    score = (len_ok + sw_ok + punct_ok) / F.lit(3.0)
    return F.floor(score * F.lit(1000000.0)) / F.lit(1000000.0)


# PII patterns, shared verbatim with the DuckDB oracle twin. Kept in
# the Java∩RE2 common subset: no look-around, no backrefs, no \b (word
# boundaries are unicode-aware in Java but ASCII in RE2 — a parity
# trap), ASCII character classes only. Redaction order matters and is
# fixed (email → phone → ipv4): the email pattern consumes dots/digits
# that could otherwise seed a partial ipv4 match.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-category PII match counts on the RAW text (pre-redaction) —
    the audit columns a compliance pass reports per document."""
    return {
        f"n_{kind}": _count_matches(col, pattern)
        for kind, pattern, _tok in PII_PATTERNS
    }


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its category token, in the fixed
    PII_PATTERNS order. Pure regexp_replace chain — JVM codegen, one
    pass per pattern, no Python in the hot path."""
    out = col
    for _kind, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def lang_id(col: Column) -> Column:
    """n-gram/script language-ID heuristic: script ranges first (CJK,
    Cyrillic, kana), then diacritic classes, then stopword evidence,
    else 'en'. Deterministic and SQL-replicable."""
    return (
        F.when(col.rlike("[一-鿿]"), F.lit("zh"))
        .when(col.rlike("[぀-ヿ]"), F.lit("ja"))
        .when(col.rlike("[Ѐ-ӿ]"), F.lit("ru"))
        .when(col.rlike("[ãõçáéíóúâêô]"), F.lit("pt"))
        .when(col.rlike("[ñ¿¡]"), F.lit("es"))
        .when(col.rlike("[àèùëïü]"), F.lit("fr"))
        .when(col.rlike("[äöüß]"), F.lit("de"))
        .otherwise(F.lit("en"))
    )


def rolling_hash(col: Column, mod: int = 2147483647, base: int = 31) -> Column:
    """Polynomial rolling hash of the whole string (Rabin-Karp family):
    ``h = (h*base + code(ch)) % mod`` folded left-to-right — the
    fingerprint primitive for shift-resistant chunking. Kept in the
    2^31 modulus so the fold never overflows a long, and expressed as a
    codegen'd fold (no UDF) with an exact DuckDB twin."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.ascii(F.substring(col, i, 1)).cast("long"),
    )
    folded = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c) % mod,
    )
    return F.when(F.length(col) > 0, folded).otherwise(F.lit(0).cast("long"))


def unigram_surprisal(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> "DataFrame":
    """Model-based quality scoring with a corpus unigram LM (the
    CCNet/KenLM-filter idea reduced to its distributed core): fit
    token→count over the whole corpus, then score each doc by its mean
    token surprisal, −log2(count/total) averaged over tokens. Low
    bits/token ≈ in-distribution text; high ≈ rare-token noise.

    Returns ``(doc_id, n_tokens, surprisal_microbits, bits_per_token)``.

    Cross-engine exactness: per-token surprisal is quantized ONCE to
    integer micro-bits — floor((log2(total) − log2(cnt)) · 1e6) — so
    the per-doc reduction is an exact integer sum (no float partial-sum
    order anywhere) and ``bits_per_token`` is a single IEEE division.
    The only float op is log2 of an integer; a cross-libm 1-ulp wobble
    would have to land within ~1e-10 of a floor boundary to matter.

    Scale shape: one explode + one groupBy fits the model (map-side
    combine reduces each partition to its distinct tokens); scoring
    joins tokens to the vocab — broadcast-hinted by default (vocab ≪
    corpus by Heaps' law; sublinear in corpus size); pass
    ``broadcast_vocab=False`` when a 100 TB vocab outgrows the
    broadcast threshold and the scoring join must hash-join on token
    (the hint is forced, so the fallback has to be explicit); then one
    groupBy on doc_id. The corpus token total is embedded as a literal from one
    distributed count() at plan-build (the ivf_centroids / tfidf
    pattern) — an unpartitioned window over the vocab would funnel
    every distinct token through a single partition at 100 TB.
    """
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("token"),
        )
        .filter(F.col("token").isNotNull())
    )
    # Pin the per-doc token histogram once (r12 optimization round,
    # guide §2.4 — the DSIR/BPE one-pass featurization): the corpus
    # total, the vocab fit and the scoring reduction all derive from
    # it, where before EACH (the count() action at plan build, the
    # model groupBy, the scoring join) re-ran the regex-heavy
    # tokenize over the whole corpus. Σ over occurrences == Σ cnt·s
    # over distinct (doc, token) — the same exact integers. Eager:
    # it replaces the total-count action's full pass, so plan build
    # still runs exactly one corpus-sized job.
    wc = pin_corpus_sized(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("__cnt")),
        eager=True,
    )
    total = wc.agg(F.sum("__cnt")).first()[0] or 0
    vocab = wc.groupBy("token").agg(F.sum("__cnt").alias("cnt"))
    # ONE log2 of the IEEE-exact ratio, never log2(a) − log2(b): with two
    # separately-rounded logs an exact power-of-2 ratio (common with
    # repeated counts) can land one ulp below its integer log and floor
    # to N−1 in one engine but N in the other.
    s_micro = F.floor(
        F.log2(F.lit(float(total)) / F.col("cnt")) * F.lit(1000000.0)
    )
    vb = F.broadcast(vocab) if broadcast_vocab else vocab
    scored = wc.join(vb, "token").select("doc_id", "__cnt", s_micro.alias("__s"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("__cnt").alias("n_tokens"),
            F.sum(F.col("__cnt") * F.col("__s")).alias("surprisal_microbits"),
        )
        .withColumn(
            "bits_per_token",
            F.col("surprisal_microbits").cast("double")
            / (F.col("n_tokens") * F.lit(1000000.0)),
        )
    )


def tfidf_top_keywords(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    broadcast_vocab: bool = True,
) -> "DataFrame":
    """Per-document top-k keywords by TF-IDF. Classic text-analysis
    tier: tf = in-doc token count, idf = ln(N/df) over the corpus,
    keywords = the k highest-scoring tokens (ties broken by token asc —
    fully deterministic output).

    Cross-engine exactness: idf is quantized ONCE per token to integer
    micro-nats — floor((ln N − ln df)·1e6) — so the score tf·idf_micro
    and the ranking are pure integer arithmetic. N is embedded as a
    literal from one distributed count() at plan-build time (an
    aggregate action, same pattern as similarity.ivf_centroids — never
    a data-sized collect), which keeps ln(N) constant-folded and avoids
    a 1-row crossJoin that would plan as BroadcastNestedLoopJoin.

    Scale shape: explode → groupBy(doc, token) [one shuffle with
    map-side combine] → groupBy(token) for df [second, vocab-sized] →
    broadcast vocab join back (hash join on token when a 100 TB vocab
    outgrows the threshold) → per-doc window bounded by doc token
    count. No unpartitioned window anywhere.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("token"),
        )
        .filter(F.col("token").isNotNull())
    )
    # Pin the term-frequency table ONCE (r12 optimization round, guide
    # §2.4): it feeds BOTH the vocab/df aggregation and the scoring
    # join, and without the boundary each consumer re-scans, re-tokenizes
    # and re-shuffles the whole corpus. The pinned (doc, token, tf)
    # table is bounded by distinct tokens per document — strictly
    # smaller than the token stream it summarizes.
    tf = pin_corpus_sized(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    # single ln of the exact ratio (see unigram_surprisal's log note)
    idf_micro = F.floor(
        F.log(F.lit(float(n_docs)) / F.col("df_docs")) * F.lit(1000000.0)
    )
    vb = vocab.select("token", idf_micro.alias("__idf"))
    scored = tf.join(F.broadcast(vb) if broadcast_vocab else vb, "token")
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("__idf")).desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "token",
            "tf",
            (F.col("tf") * F.col("__idf")).alias("tfidf_micro"),
        )
    )


def bm25_topk(
    df: "DataFrame",
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """BM25 relevance top-k for a fixed query-term set (r11) — the
    retrieval scorer a corpus platform needs beside TF-IDF keywords:
    Okapi BM25 with Lucene's non-negative idf,
    ln(1 + (N − df + 0.5)/(df + 0.5)), and the standard length
    normalization tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).

    Cross-engine exactness (the tfidf_top_keywords discipline): idf is
    quantized ONCE per term to integer micro-nats, and each (doc,term)
    partial score is re-quantized to one BIGINT —
    floor(idf_micro · tf_norm) — so the final sum and ranking are pure
    integer arithmetic. N/avgdl are embedded as literals from one
    1-row distributed aggregate at plan-build time (the ivf_centroids
    pattern — never a data-sized collect), with avgdl = sum(dl)/n as
    one IEEE double division, identical in any engine.

    Scale shape: explode → per-doc length agg [one shuffle, map-side
    combine] → term filter BEFORE the tf groupBy (only query-term
    postings shuffle — at 100 TB the stream is |terms|-bounded per
    doc, not vocabulary-sized) → broadcast of the ≤|terms|-row idf
    table → per-doc sum → global top-k via TakeOrderedAndProject +
    a broadcast non-equi self-join for rank (the zipf-row pattern:
    never an unpartitioned window / sort-to-one-partition)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("token"),
    ).filter(F.col("token").isNotNull())
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:
        # empty corpus: sum_dl is NULL and avgdl would divide by zero —
        # the correct answer is an empty top-k with the output schema
        # (doc_id keeps the caller's id type)
        id_type = df.select(F.col(id_col).alias("doc_id")).schema[0].dataType
        return toks.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("rank", T.IntegerType()),
                    T.StructField("doc_id", id_type),
                    T.StructField("score_micronats", T.LongType()),
                    T.StructField("n_terms_hit", T.LongType()),
                ]
            ),
        )
    avgdl = stats["sum_dl"] / stats["n"]  # one IEEE double division
    tf = (
        toks.filter(F.col("token").isin(list(query_terms)))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf_micro = F.floor(
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df_docs") + F.lit(0.5))
            / (F.col("df_docs") + F.lit(0.5))
        )
        * F.lit(1000000.0)
    )
    idf = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs")).select(
        "token", idf_micro.alias("__idf")
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    per_term = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .select("doc_id", F.floor(F.col("__idf") * tf_norm).alias("__s"))
    )
    scored = per_term.groupBy("doc_id").agg(
        F.sum("__s").alias("score_micronats"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    top = (
        scored.orderBy(F.col("score_micronats").desc(), F.col("doc_id").asc())
        .limit(k)
        # consumed twice by the rank self-join; lazy barrier keeps the
        # scoring subtree from executing twice
        .localCheckpoint(eager=False)
    )
    ahead = top.select(
        F.col("score_micronats").alias("__s2"), F.col("doc_id").alias("__id2")
    )
    is_ahead = (F.col("__s2") > F.col("score_micronats")) | (
        (F.col("__s2") == F.col("score_micronats"))
        & (F.col("__id2") < F.col("doc_id"))
    )
    return (
        top.join(F.broadcast(ahead), is_ahead, "left")
        .groupBy("doc_id", "score_micronats", "n_terms_hit")
        .agg((F.count("__id2") + F.lit(1)).cast("int").alias("rank"))
        .select("rank", "doc_id", "score_micronats", "n_terms_hit")
        .orderBy("rank")
    )


def chunk_token_spans(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> "DataFrame":
    """Split documents into fixed-size token chunks with overlap — the
    context-window chunking step of a training/RAG pipeline (the
    inverse of sequence packing: packing concatenates short docs,
    chunking splits long ones).

    Returns ``(doc_id, chunk_id, start_token, n_chunk_tokens,
    chunk_text)``: chunk i covers tokens [i·stride, i·stride+chunk)
    with stride = chunk_tokens − overlap; the final chunk may be
    short. Empty docs yield zero chunks.

    Pure integer arithmetic + array slicing (whole-stage codegen, no
    UDF, map-only — zero shuffle at any scale); the chunk count per
    doc is ceil((n − chunk)/stride) + 1, computed with integer ops so
    the DuckDB twin is hash-exact. The sequence() is guarded for the
    zero-chunk case (Spark's sequence auto-descends when end < start).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("__t"),
    )
    n = F.size("__t")
    n_chunks = (
        F.when(n <= 0, F.lit(0).cast("long"))
        .when(n <= chunk_tokens, F.lit(1).cast("long"))
        .otherwise(
            F.floor((n - chunk_tokens + stride - 1).cast("double") / stride) + 1
        )
    )
    ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    exploded = base.select(
        "doc_id", "__t", F.explode_outer(ids).alias("chunk_id")
    ).filter(F.col("chunk_id").isNotNull())
    start = (F.col("chunk_id") * stride).cast("int")
    sl = F.slice(F.col("__t"), start + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.alias("start_token"),
        F.size(sl).alias("n_chunk_tokens"),
        F.concat_ws(" ", sl).alias("chunk_text"),
    )


def bigram_surprisal(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> "DataFrame":
    """Conditional bigram-LM scoring — the context-sensitive step up
    from :func:`unigram_surprisal`: per-doc mean of
    −log2 p(w2 | w1) = −log2( c(w1 w2) / c(w1 ·) ), where c(w1 ·)
    counts w1 as a bigram prefix. Repetitive/templated text scores low
    bits (its continuations are predictable), scrambled text high —
    the repetition-vs-novelty diagnostic a pure unigram model misses.

    Same exactness scheme as the unigram tier: per-bigram surprisal is
    quantized once to integer micro-bits (floor((log2 c1 − log2 c12)
    · 1e6)) so per-doc reductions are exact integer sums.

    Scale shape: one explode over order-preserving bigram lists → one
    groupBy(bigram) for the model; prefix totals are a second (smaller)
    aggregate over the bigram vocab, never the corpus; scoring re-joins
    the corpus bigram stream to the scored vocab (broadcast; hash join
    at 100 TB vocab) → one groupBy(doc). Docs with <2 tokens have no
    bigrams and drop out (mirrored by the oracle).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("__t"),
    )
    big = (
        toks.select(
            "doc_id",
            F.explode_outer(ngram_list_from_tokens(F.col("__t"), 2)).alias("bg"),
        )
        .filter(F.col("bg").isNotNull())
    )
    # Pin the per-doc bigram histogram once (r12 optimization round,
    # guide §2.4 — the DSIR/BPE one-pass featurization applied to this
    # operator): the model fit and the scoring reduction both derive
    # from it, where before each consumer re-tokenized and re-exploded
    # the whole corpus (3 corpus scans in the audited plan). Σ over
    # occurrences == Σ cnt·value over distinct (doc, bg) — the same
    # exact integers. The histogram is strictly smaller than the
    # bigram stream it summarizes; vocab2 (consumed by pref AND the
    # scoring) is vocabulary-sized. Lazy pins.
    bc = pin_corpus_sized(
        big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    vocab2 = (
        bc.groupBy("bg")
        .agg(F.sum("__cnt").alias("c12"))
        .localCheckpoint(eager=False)
    )
    pref = (
        vocab2.withColumn("w1", F.split(F.col("bg"), " ")[0])
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    scored_vocab = (
        vocab2.withColumn("w1", F.split(F.col("bg"), " ")[0])
        .join(pref, "w1")
        .select(
            "bg",
            # single log2 of the exact ratio — see unigram_surprisal
            F.floor(
                F.log2(F.col("c1").cast("double") / F.col("c12"))
                * F.lit(1000000.0)
            ).alias("__s"),
        )
    )
    return (
        bc.join(F.broadcast(scored_vocab) if broadcast_vocab else scored_vocab, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("__cnt").alias("n_bigrams"),
            F.sum(F.col("__cnt") * F.col("__s")).alias("surprisal_microbits"),
        )
        .withColumn(
            "bits_per_bigram",
            F.col("surprisal_microbits").cast("double")
            / (F.col("n_bigrams") * F.lit(1000000.0)),
        )
    )


def _hashed_bigram_bucket(col: Column, n_buckets: int) -> Column:
    """Portable hash bucket for a bigram string: unsigned 32-bit word
    from the first 8 md5 hex chars, mod n_buckets — re-derivable in
    DuckDB as ``('0x' || substr(md5(bg), 1, 8))::BIGINT % n`` (the
    dedup/_md5_word32 cross-engine primitive)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets).cast(
        "long"
    )


def dsir_importance_weights(
    raw: "DataFrame",
    target: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    broadcast_weights: bool = True,
) -> "DataFrame":
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw-corpus document by how
    target-like its hashed-bigram bag is, the standard knob for tilting
    a 100 TB crawl toward an in-domain exemplar set.

    Both corpora are featurized as bags of hashed word bigrams
    (``n_buckets`` buckets, portable md5 hash). With Laplace-smoothed
    bucket unigram models p (target) and q (raw), a doc's importance
    weight is Σ over its bigram occurrences of log2 p(b)/q(b); docs are
    then rank-ordered (resampling takes the top slice or samples
    proportionally).

    Cross-engine exactness (the unigram_surprisal scheme): the
    per-bucket log-ratio is quantized ONCE to integer micro-bits —
    floor(log2( ((t_cnt+1)·(r_total+B)) / ((r_cnt+1)·(t_total+B)) )
    · 1e6) — with the two products computed as exact BIGINTs, so the
    per-doc reduction is an exact integer sum and the only float ops
    are one division and one log2 of exact-integer-valued doubles.
    (Products stay below 2^53 for corpora up to ~90 T bigrams with the
    default B; shard the totals before that point.)

    Scale shape: one explode + groupBy(bucket) per corpus fits the two
    models (bucket tables are ≤ B rows — broadcast to the scoring
    join, or hash-join with ``broadcast_weights=False``); scoring is
    one map-side join over the raw bigram stream + one groupBy(doc).
    The target corpus is typically tiny (an eval/domain exemplar set);
    nothing here scales with raw × target.

    Returns ``(doc_id, n_bigrams, dsir_microbits, logratio_per_bigram)``
    — higher = more target-like. Docs with <2 tokens have no features
    and drop out (mirror in callers/oracles).
    """

    def _bigram_stream(df: "DataFrame") -> "DataFrame":
        t = df.select(
            F.col(id_col).alias("doc_id"),
            tokens(normalize_text(F.col(text_col))).alias("__t"),
        )
        return (
            t.select(
                "doc_id",
                F.explode_outer(ngram_list_from_tokens(F.col("__t"), 2)).alias("bg"),
            )
            .filter(F.col("bg").isNotNull())
            .select("doc_id", _hashed_bigram_bucket(F.col("bg"), n_buckets).alias("bucket"))
        )

    raw_bg = _bigram_stream(raw)
    tgt_bg = _bigram_stream(target)
    # ONE featurization pass over the raw corpus: both the model fit
    # (bucket totals) and the scoring reduction (per-doc weighted sums)
    # are functions of the per-doc bucket HISTOGRAM, so pin that once
    # and derive both from it. Without the pin the scoring join
    # re-tokenized + re-exploded the whole raw corpus a second time —
    # at 100 TB that is a full extra scan plus the regex-heavy
    # normalize/split, traded here for one executor-local materialization
    # of (doc_id, bucket, cnt) rows that are strictly fewer than the
    # bigram occurrences they summarize. The tiny target corpus keeps
    # the plain single-use stream.
    raw_hist = pin_corpus_sized(
        raw_bg.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # Model-fit tables (≤ B rows) are checkpointed, and the totals are
    # derived from them by an exact integer sum — a separate count()
    # action would re-tokenize the whole corpus just to learn a number
    # the bucket table already holds. Totals then enter as plan-build
    # literals (the ivf_centroids / tfidf pattern — an unpartitioned
    # window over the bucket table would single-thread the fit for no
    # reason).
    r_cnt = (
        raw_hist.groupBy("bucket")
        .agg(F.sum("__cnt").alias("r_cnt"))
        .localCheckpoint(eager=True)
    )
    t_cnt = (
        tgt_bg.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_cnt"))
        .localCheckpoint(eager=True)
    )
    r_total = r_cnt.agg(F.coalesce(F.sum("r_cnt"), F.lit(0))).collect()[0][0]
    t_total = t_cnt.agg(F.coalesce(F.sum("t_cnt"), F.lit(0))).collect()[0][0]
    numer = (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1) * F.lit(r_total + n_buckets)
    denom = (F.col("r_cnt") + 1) * F.lit(t_total + n_buckets)
    weights = (
        # raw-side buckets only: scoring joins on the raw stream, so a
        # bucket never seen in raw can never be looked up
        r_cnt.join(t_cnt, "bucket", "left")
        .select(
            "bucket",
            F.floor(
                F.log2(numer.cast("double") / denom.cast("double")) * F.lit(1000000.0)
            ).alias("__w"),
        )
    )
    wb = F.broadcast(weights) if broadcast_weights else weights
    return (
        # Score off the pinned histogram: Σ over occurrences of __w is
        # exactly Σ cnt·__w over distinct (doc, bucket) — same integers,
        # no second corpus scan.
        raw_hist.join(wb, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("__cnt").alias("n_bigrams"),
            F.sum(F.col("__cnt") * F.col("__w")).alias("dsir_microbits"),
        )
        .withColumn(
            "logratio_per_bigram",
            F.col("dsir_microbits").cast("double")
            / (F.col("n_bigrams") * F.lit(1000000.0)),
        )
    )

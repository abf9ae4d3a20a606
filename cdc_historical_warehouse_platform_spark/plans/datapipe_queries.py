"""Training-data pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing — over `documents` and `embeddings`.

Every operator gets a DuckDB oracle twin — including the approximate
tiers: as of r04 the driver-checked SimHash / hyperplane-ANN / IVF /
SemDeDup variants use portable hash primitives (md5-derived token
hashes, plane weights, and quantizer seeds — re-derivable in Spark,
DuckDB, and Python alike), so their twins replicate the banding /
bucketing / clustering itself instead of downgrading to a rows-only
check. The xxhash64 fast paths stay pinned by pytest recall checks.

The normalization / shingle / cosine SQL is kept in exact lockstep
with operators/{text,dedup,similarity}.py — integer-count arithmetic
with one final double division, and sequential double folds for vector
math (verified bit-exact across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators import text as TX
from cdc_historical_warehouse_platform_spark.operators.dedup import (
    banded_embedding_near_dup,
    containment_pairs,
    decontaminate,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_pairs_portable,
)
from cdc_historical_warehouse_platform_spark.operators.multimodal import attach_binary_payload, extract_binary_features
from cdc_historical_warehouse_platform_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_ann,
    portable_plane_weights,
)
from cdc_historical_warehouse_platform_spark.schemas import load_table

__all__ = ["DATAPIPE_QUERIES"]

# --- shared SQL fragments (lockstep with the Spark operators) -------------

SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

# Stop-shingle guard: shingles appearing in more docs than this are
# dropped before the pair self-join (a single boilerplate shingle common
# to all docs would otherwise square the join). Applied by the jaccard /
# keep-list queries and mirrored in their oracles; the minhash oracle
# stays uncapped (its scale path is the banding, not a frequency cap).
JACCARD_MAX_DOC_FREQ = 100


def _sql_shingles(cap: int | None = None) -> str:
    """Shared shingle CTEs; ``cap`` mirrors jaccard_pairs(max_doc_freq)."""
    capped = (
        f"""
x AS (SELECT x0.doc_id, x0.shingle FROM x0
      JOIN (SELECT shingle FROM x0 GROUP BY shingle
            HAVING count(*) <= {cap}) g USING (shingle)),"""
        if cap is not None
        else "\nx AS (SELECT doc_id, shingle FROM x0),"
    )
    return f"""
norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t FROM norm),
sh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks),
x0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),{capped}
sz AS (SELECT doc_id, count(*) AS n FROM x GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
          FROM x a JOIN x b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
"""


SQL_SHINGLES = _sql_shingles()


def _sql_jaccard_pairs(cap: int | None) -> str:
    return f"""
WITH {_sql_shingles(cap)}
SELECT i.doc_a, i.doc_b,
       CAST(i.n AS DOUBLE) / (sa.n + sb.n - i.n) AS jaccard
FROM inter i
JOIN sz sa ON i.doc_a = sa.doc_id
JOIN sz sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n AS DOUBLE) / (sa.n + sb.n - i.n) >= 0.5
"""


SQL_JACCARD_PAIRS = _sql_jaccard_pairs(JACCARD_MAX_DOC_FREQ)
# minhash's exact-verify tier operates on full shingle sets — its oracle
# stays uncapped to match.
SQL_JACCARD_PAIRS_UNCAPPED = _sql_jaccard_pairs(None)

SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"{SQL_DOT.format(a=a, b=b)} / "
        f"(sqrt({SQL_DOT.format(a=a, b=a)}) * sqrt({SQL_DOT.format(a=b, b=b)}))"
    )


# --- text analysis ---------------------------------------------------------


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens +
    average token length, one codegen'd projection."""
    docs = load_table(spark, sf, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_actual"),
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        TX.avg_token_len(t).alias("avg_token_len"),
    ).orderBy("doc_id")


SQL_TOKEN_STATS = r"""
WITH toks AS (
  SELECT doc_id, CAST(length(text) AS INT) AS n_chars_actual,
         list_filter(string_split(text, ' '), x -> x <> '') AS t,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS bpe
  FROM documents)
SELECT doc_id, n_chars_actual,
       CAST(len(t) AS INT) AS n_tokens,
       CAST(len(bpe) AS INT) AS n_bpe_tokens,
       CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         / greatest(len(t), 1) AS avg_token_len
FROM toks
ORDER BY doc_id
"""


def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: punctuation/digit/stopword ratios + composite
    score — the cheap pre-filter tier of a data pipeline."""
    docs = load_table(spark, sf, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        TX.punct_ratio(t).alias("punct_ratio"),
        TX.digit_ratio(t).alias("digit_ratio"),
        TX.stopword_ratio(t).alias("stopword_ratio"),
        TX.quality_score(t).alias("quality_score"),
    ).orderBy("doc_id")


_SW_LIST = ", ".join(f"'{w}'" for w in TX.STOPWORDS)

SQL_QUALITY = rf"""
WITH base AS (
  SELECT doc_id, lang,
         greatest(length(text), 1) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
ratios AS (
  SELECT doc_id, lang,
         n_punct / n_chars AS punct_ratio,
         n_digit / n_chars AS digit_ratio,
         CAST(len(list_filter(lt, x -> x IN ({_SW_LIST}))) AS DOUBLE)
           / greatest(len(lt), 1) AS stopword_ratio,
         CAST(len(t) AS DOUBLE) AS n_tok
  FROM base)
SELECT doc_id, lang, punct_ratio, digit_ratio, stopword_ratio,
       floor(((least(n_tok / 20.0, 1.0)
            + least(stopword_ratio * 4.0, 1.0)
            + (1.0 - least(punct_ratio * 5.0, 1.0))) / 3.0) * 1000000.0) / 1000000.0 AS quality_score
FROM ratios
ORDER BY doc_id
"""


def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column: confusion counts."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select("lang", TX.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


SQL_LANG = """
SELECT lang,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
            WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
            WHEN regexp_matches(text, '[ãõçáéíóúâêô]') THEN 'pt'
            WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
            WHEN regexp_matches(text, '[àèùëïü]') THEN 'fr'
            WHEN regexp_matches(text, '[äöüß]') THEN 'de'
            ELSE 'en' END AS predicted,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, predicted
"""


# --- dedup -----------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup groups: md5 fingerprint of normalized text."""
    docs = load_table(spark, sf, "documents")
    return exact_dedup_groups(docs).orderBy("fingerprint")


SQL_EXACT_DEDUP = f"""
SELECT md5({SQL_NORM}) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_id
FROM documents
GROUP BY 1
ORDER BY fingerprint
"""


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.5) with the
    stop-shingle doc-frequency cap on — the only configuration that
    survives a corpus with boilerplate shingles at scale."""
    docs = load_table(spark, sf, "documents")
    return jaccard_pairs(
        docs, n=3, threshold=0.5, max_doc_freq=JACCARD_MAX_DOC_FREQ
    ).orderBy("doc_a", "doc_b")


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(64) + 32×2 banded LSH candidates, verified by exact
    Jaccard ≥ 0.5. With these parameters the miss probability per true
    pair is < 1e-8, so the oracle is the exact pair set — the scalable
    pipeline provably reproduces the brute-force answer."""
    docs = load_table(spark, sf, "documents")
    return minhash_lsh_pairs(
        docs, n=3, bands=32, rows_per_band=2, threshold=0.5
    ).orderBy("doc_a", "doc_b")


def q_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (r11): |A∩B|/min(|A|,|B|) ≥
    0.8 with the stop-shingle cap on — the sub-document/quote
    duplication tier Jaccard structurally misses when sizes diverge
    (operators/dedup.containment_pairs). contained_id marks the doc a
    keep-list would drop."""
    docs = load_table(spark, sf, "documents")
    return containment_pairs(
        docs, n=3, threshold=0.8, max_doc_freq=JACCARD_MAX_DOC_FREQ
    ).orderBy("doc_a", "doc_b")


SQL_CONTAINMENT_PAIRS = f"""
WITH {_sql_shingles(JACCARD_MAX_DOC_FREQ)}
SELECT i.doc_a, i.doc_b,
       CAST(i.n AS DOUBLE) / least(sa.n, sb.n) AS containment,
       CASE WHEN sa.n < sb.n THEN i.doc_a
            WHEN sb.n < sa.n THEN i.doc_b
            ELSE least(i.doc_a, i.doc_b) END AS contained_id
FROM inter i
JOIN sz sa ON i.doc_a = sa.doc_id
JOIN sz sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n AS DOUBLE) / least(sa.n, sb.n) >= 0.8
ORDER BY doc_a, doc_b
"""


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 3 — the radius the 4×16-bit
    banding covers completely by pigeonhole). Registered via the
    portable (md5-word) signature so the weighted-bit votes, banding,
    and Hamming verify all have a hash-exact DuckDB twin
    (SQL_SIMHASH); the xxhash64 fast path stays pinned to the same
    recall in tests/test_datapipe.py."""
    docs = load_table(spark, sf, "documents")
    return simhash_pairs_portable(docs, max_hamming=3).orderBy("doc_a", "doc_b")


def _sql_simhash() -> str:
    """DuckDB twin of simhash_pairs_portable — generated, not
    hand-written, so the 64 bit-vote sums stay in lockstep with the
    Spark expression tree."""
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (w_{w} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{w}_{b}"
        for w in ("hi", "lo")
        for b in range(32)
    )

    def sig(w: str) -> str:
        return " + ".join(
            f"CASE WHEN v_{w}_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
        )

    return f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
tok AS (SELECT doc_id,
               unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS token
        FROM norm),
h AS (SELECT doc_id,
             ('0x' || substr(md5(token), 1, 8))::BIGINT AS w_hi,
             ('0x' || substr(md5(token), 9, 8))::BIGINT AS w_lo
      FROM tok),
votes AS (SELECT doc_id,
         {votes}
          FROM h GROUP BY doc_id),
sig AS (SELECT doc_id,
               CAST({sig('hi')} AS BIGINT) AS sig_hi,
               CAST({sig('lo')} AS BIGINT) AS sig_lo
        FROM votes),
chunks AS (SELECT doc_id, sig_hi, sig_lo,
                  unnest(['0:' || CAST(sig_hi & 65535 AS VARCHAR),
                          '1:' || CAST(sig_hi >> 16 AS VARCHAR),
                          '2:' || CAST(sig_lo & 65535 AS VARCHAR),
                          '3:' || CAST(sig_lo >> 16 AS VARCHAR)]) AS chunk
           FROM sig),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sig_hi AS hi_a, a.sig_lo AS lo_a,
                 b.sig_hi AS hi_b, b.sig_lo AS lo_b
          FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
ORDER BY doc_a, doc_b
"""


SQL_SIMHASH = _sql_simhash()


# --- similarity search -----------------------------------------------------


def q_knn_brute(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-10 for query vectors (vec_id < 10) — brute-force
    scan with broadcast queries."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries, k=10).orderBy("query_id", "rank")


SQL_KNN = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_cosine('q.qv', 'e.embedding')} AS cosine
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


ANN_LSH_PLANES = 6
ANN_LSH_DIM = 64


def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (6 planes → 64 buckets, probing the
    exact bucket + all 6 one-bit flips = full Hamming-1 ball) —
    the approximate scale path, now hash-exact: plane weights come
    from portable_plane_weights (md5-derived, re-derivable in any
    engine) and the DuckDB twin (SQL_ANN_LSH) replicates signature,
    probing, and rerank with the same literal weight matrix, so the
    oracle checks the *bucketing itself*, not just recall. Plane count
    scales with corpus size (log2(n/target bucket occupancy)); 6 fits
    the 500-5000-vector test corpora. Recall vs brute force stays
    asserted in pytest for the xxhash64 fast path."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_bucket_ann(
        emb,
        queries,
        k=10,
        n_planes=ANN_LSH_PLANES,
        probes=ANN_LSH_PLANES + 1,
        dim=ANN_LSH_DIM,
        weights=portable_plane_weights(ANN_LSH_PLANES, ANN_LSH_DIM),
    ).orderBy("query_id", "rank")


def _sql_ann_lsh() -> str:
    """DuckDB twin of q_ann_lsh — embeds the SAME literal plane-weight
    matrix the Spark expression uses (both sides take it from
    portable_plane_weights, so the buckets agree bit-for-bit)."""
    W = portable_plane_weights(ANN_LSH_PLANES, ANN_LSH_DIM)

    def proj(p: int, v: str) -> str:
        wlit = "CAST([" + ", ".join(repr(x) for x in W[p]) + "] AS DOUBLE[])"
        return (
            f"list_reduce(list_transform(list_zip("
            f"{v}[1:least({ANN_LSH_DIM}, len({v}))], "
            f"({wlit})[1:least({ANN_LSH_DIM}, len({v}))]), "
            f"p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        )

    def bucket(v: str) -> str:
        bits = " + ".join(
            f"CASE WHEN {proj(p, v)} > 0 THEN {1 << p} ELSE 0 END"
            for p in range(ANN_LSH_PLANES)
        )
        return f"CASE WHEN len({v}) > 0 THEN {bits} ELSE NULL END"

    flips = ", ".join(f"xor(qsig, {1 << b})" for b in range(ANN_LSH_PLANES))
    return f"""
WITH csig AS (
  SELECT vec_id AS neighbor_id, embedding,
         {bucket('embedding')} AS bucket
  FROM embeddings),
qsig AS (
  SELECT vec_id AS query_id, embedding AS qv,
         CAST({bucket('embedding')} AS BIGINT) AS qsig
  FROM embeddings WHERE vec_id < 10),
probed AS (
  SELECT query_id, qv, unnest([qsig, {flips}]) AS bucket FROM qsig),
scored AS (
  SELECT DISTINCT p.query_id, c.neighbor_id,
         {_sql_cosine('p.qv', 'c.embedding')} AS cosine
  FROM csig c JOIN probed p ON c.bucket = p.bucket
  WHERE c.neighbor_id <> p.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


SQL_ANN_LSH = _sql_ann_lsh()


def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (8 coarse lists, 1 Lloyd refinement, probing the 2
    closest lists per query) — the second approximate scale path next
    to ann_lsh_topk, now hash-exact: the quantizer (ivf_centroids) is
    cross-engine portable (md5 seed sample + quantized-pico Lloyd
    means), so the DuckDB twin re-derives the SAME centroids from
    scratch in SQL and checks assignment, probing, and rerank
    bit-for-bit. List count scales with corpus size (≈ sqrt(n) lists
    at production scale); 8 fits the 500-5000-vector test corpora.
    Recall vs brute force stays asserted in pytest."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries, k=10, n_lists=8, n_probes=2).orderBy(
        "query_id", "rank"
    )


def _sql_ivf_cents(n_lists: int, table: str = "embeddings") -> str:
    """Shared CTE chain re-deriving the portable IVF coarse quantizer
    (similarity.ivf_centroids, refine=1) entirely in DuckDB: md5 seed
    sample → argmax-cosine assignment to seeds → one Lloyd step with
    quantized-pico integer means (empty lists keep their seed).
    Terminates in cvec(list_id, c). ``table`` must expose
    (vec_id, embedding) — the two-stage row passes a prefix CTE."""
    return f"""
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
              AS INT) AS list_id,
         embedding AS c
  FROM {table}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {n_lists}),
a0r AS (
  SELECT e.vec_id, e.embedding, s.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cosine('e.embedding', 's.c')} DESC,
                                     s.list_id) AS rn
  FROM {table} e CROSS JOIN seeds s),
a0 AS (SELECT vec_id, embedding, list_id FROM a0r WHERE rn = 1),
ex AS (SELECT list_id, u.pos AS pos, u.val AS val FROM (
         SELECT list_id,
                unnest(list_transform(range(1, len(embedding) + 1),
                       i -> struct_pack(pos := i, val := embedding[i]))) AS u
         FROM a0) t),
m AS (SELECT list_id, pos,
             CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 / COUNT(*) AS val
      FROM ex GROUP BY list_id, pos),
sx AS (SELECT list_id, u.pos AS pos, CAST(u.val AS DOUBLE) AS val FROM (
         SELECT list_id,
                unnest(list_transform(range(1, len(c) + 1),
                       i -> struct_pack(pos := i, val := c[i]))) AS u
         FROM seeds) t),
cents AS (SELECT sx.list_id, sx.pos, COALESCE(m.val, sx.val) AS val
          FROM sx LEFT JOIN m ON m.list_id = sx.list_id AND m.pos = sx.pos),
cvec AS (SELECT list_id, list(val ORDER BY pos) AS c FROM cents GROUP BY list_id)"""


SQL_ANN_IVF = f"""
WITH {_sql_ivf_cents(8)},
a1r AS (
  SELECT e.vec_id, e.embedding, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cosine('e.embedding', 'c.c')} DESC,
                                     c.list_id) AS rn
  FROM embeddings e CROSS JOIN cvec c),
a1 AS (SELECT vec_id AS neighbor_id, embedding, list_id FROM a1r WHERE rn = 1),
pr AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv, c.list_id,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_sql_cosine('q.embedding', 'c.c')} DESC,
                                     c.list_id) AS rn
  FROM embeddings q CROSS JOIN cvec c WHERE q.vec_id < 10),
probed AS (SELECT query_id, qv, list_id FROM pr WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.neighbor_id, {_sql_cosine('p.qv', 'a.embedding')} AS cosine
  FROM a1 a JOIN probed p ON a.list_id = p.list_id
  WHERE a.neighbor_id <> p.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def _near_dup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Embeddings + deterministically perturbed copies of vec_id < 50
    (per-dim scale 1 + ((d mod 7) − 3)/1000, copy id = vec_id + 1000000).

    The synthetic embeddings are near-orthogonal (no pair above cosine
    0.8 at any SF), so a production-threshold near-dup query over the
    raw table would be trivially empty. The planted copies sit at
    cosine ≈ 0.999998 — the query must actually find them, and the
    banding must not miss them. The same augmentation is expressed in
    the DuckDB oracle, arithmetic in lockstep."""
    emb = load_table(spark, sf, "embeddings")
    as_double = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    copies = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, d: x.cast("double")
            * (F.lit(1.0) + (d % 7 - 3).cast("double") / F.lit(1000.0)),
        ).alias("embedding"),
    )
    return as_double.unionAll(copies)


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at the production threshold 0.95
    via banded hyperplane-LSH candidates + exact cosine verify, over
    the corpus with planted near-dups. Auto-tuned banding (r=10, B=50)
    prunes a random pair to ~4.8% candidate probability while missing a
    true pair at the threshold w.p. ≤ 1e−9 — candidates are generated
    by a bucketed equi-join over bare ids: no CartesianProduct /
    BroadcastNestedLoopJoin, no vector replication in the explode.
    Oracle is the exact brute-force cross join; any banding miss fails
    the value hash. The loose-threshold exact tier
    (`embedding_near_dup_pairs`, t = 0.4) stays pinned by
    tests/test_datapipe.py equivalence checks."""
    corpus = _near_dup_corpus(spark, sf)
    return banded_embedding_near_dup(corpus, threshold=0.95).orderBy("id_a", "id_b")


SQL_NEAR_DUP_CORPUS = """
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, len(embedding) + 1),
                        i -> CAST(embedding[i] AS DOUBLE)
                             * (1.0 + CAST(((i - 1) % 7) - 3 AS DOUBLE) / 1000.0))
  FROM embeddings WHERE vec_id < 50
)
"""

SQL_EMB_NEAR_DUP = f"""
WITH {SQL_NEAR_DUP_CORPUS}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_sql_cosine('a.embedding', 'b.embedding')} AS cosine
FROM corpus a CROSS JOIN corpus b
WHERE a.vec_id < b.vec_id
  AND {_sql_cosine('a.embedding', 'b.embedding')} >= 0.95
ORDER BY id_a, id_b
"""


# --- multimodal ------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing: attach a binary payload + typed metadata,
    then Arrow-batched (mapInPandas) feature extraction. Oracle covers
    the deterministic byte features (length + md5 checksum)."""
    docs = load_table(spark, sf, "documents")
    binary = attach_binary_payload(docs)
    feats = extract_binary_features(binary)
    return feats.select("doc_id", "n_bytes", "checksum").orderBy("doc_id")


SQL_MULTIMODAL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS checksum
FROM documents
ORDER BY doc_id
"""


DATAPIPE_QUERIES: dict[str, tuple] = {
    "text_token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "text_quality_scores": (q_quality_scores, SQL_QUALITY),
    "text_lang_confusion": (q_lang_confusion, SQL_LANG),
    "dedup_exact_groups": (q_exact_dedup, SQL_EXACT_DEDUP),
    "dedup_ngram_jaccard": (q_ngram_jaccard, SQL_JACCARD_PAIRS),
    "dedup_containment": (q_containment, SQL_CONTAINMENT_PAIRS),
    "dedup_minhash_lsh": (q_minhash_lsh, SQL_JACCARD_PAIRS_UNCAPPED),
    "dedup_simhash": (q_simhash, SQL_SIMHASH),
    "knn_cosine_brute": (q_knn_brute, SQL_KNN),
    "ann_lsh_topk": (q_ann_lsh, SQL_ANN_LSH),
    "ann_ivf_topk": (q_ann_ivf, SQL_ANN_IVF),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMB_NEAR_DUP),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL),
}


def q_vector_norms_by_label(spark: SparkSession, sf: str) -> DataFrame:
    """Vector arithmetic surface: per-label count + average L2 norm.
    Per-row norms are bit-identical sequential folds; the cross-row sum
    goes through DECIMAL so ordering can't perturb it."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import norm

    emb = load_table(spark, sf, "embeddings")
    n = norm(F.col("embedding")).cast("decimal(18,6)")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum(n).cast("double") / F.count(F.lit(1))).alias("avg_norm"),
        )
        .orderBy("label")
    )


SQL_VECTOR_NORMS = f"""
SELECT label, COUNT(*) AS n_vectors,
       CAST(SUM(CAST(sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS DECIMAL(18,6))) AS DOUBLE)
         / COUNT(*) AS avg_norm
FROM embeddings
GROUP BY label
ORDER BY label
"""


def q_array_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Array-function sweep over array<float>: size, element_at, slice,
    fold, max/min of elements — the ArrayType surface (SURVEY §1.3)."""
    emb = load_table(spark, sf, "embeddings")
    head8 = F.slice(F.col("embedding"), 1, 8)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.element_at("embedding", 1).cast("double").alias("first_dim"),
        F.aggregate(
            F.transform(head8, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("head8_sum"),
        F.array_max("embedding").cast("double").alias("max_dim"),
        F.array_min("embedding").cast("double").alias("min_dim"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
    ).orderBy("vec_id")


SQL_ARRAY_FUNCTIONS = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS n_dims,
       CAST(embedding[1] AS DOUBLE) AS first_dim,
       list_reduce(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS head8_sum,
       CAST(list_max(embedding) AS DOUBLE) AS max_dim,
       CAST(list_min(embedding) AS DOUBLE) AS min_dim,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
FROM embeddings
ORDER BY vec_id
"""

DATAPIPE_QUERIES.update(
    {
        "vector_norms_by_label": (q_vector_norms_by_label, SQL_VECTOR_NORMS),
        "array_functions_sweep": (q_array_functions, SQL_ARRAY_FUNCTIONS),
    }
)


def q_dedup_keep_list(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end dedup *decision*: which documents survive.
    Near-dup pairs (Jaccard ≥ 0.5) drop the higher doc_id of each pair
    (canonical-keeps-min policy) via left-anti join — the final step a
    training-data pipeline actually ships."""
    docs = load_table(spark, sf, "documents")
    pairs = jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=JACCARD_MAX_DOC_FREQ)
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        docs.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


SQL_DEDUP_KEEP_LIST = f"""
WITH {_sql_shingles(JACCARD_MAX_DOC_FREQ)},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON i.doc_a = sa.doc_id
  JOIN sz sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n AS DOUBLE) / (sa.n + sb.n - i.n) >= 0.5)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
ORDER BY doc_id
"""

DATAPIPE_QUERIES["dedup_keep_list"] = (q_dedup_keep_list, SQL_DEDUP_KEEP_LIST)


def q_rolling_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash document fingerprints (Rabin-Karp polynomial fold)
    over normalized text + md5 cross-check column."""
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        TX.rolling_hash(TX.normalize_text(F.col("text"))).alias("rolling_fp"),
        TX.fingerprint(F.col("text")).alias("md5_fp"),
    ).orderBy("doc_id")


SQL_ROLLING_FP = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents)
SELECT doc_id,
       CASE WHEN length(nt) > 0 THEN
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(nt) + 1),
                            i -> CAST(ascii(substr(nt, CAST(i AS INT), 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 2147483647)
       ELSE 0 END AS rolling_fp,
       md5(nt) AS md5_fp
FROM norm
ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_rolling_fingerprint"] = (q_rolling_fingerprint, SQL_ROLLING_FP)


def corpus_keep_decisions_unsorted(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data pipeline decision: every document
    classified as kept / low_quality / exact_dup / near_dup — the
    three dedup-and-filter tiers chained the way a corpus build
    actually ships them (quality pre-filter → exact fingerprint
    dedup keeping the min-id canonical → capped-Jaccard near-dup
    dropping the higher id of each pair).

    Scale shape: quality + fingerprint are map-only projections; the
    canonical id is a min over a window partitioned by the 16-byte
    fingerprint; near-dup pairs come from the banded MinHash-LSH tier
    (two corpus passes, candidate-only verification — the 100 TB path;
    its output equals the exact Jaccard pair set, pinned by tests and
    the dedup_minhash_lsh registry row); the verdict is a left join on
    doc_id. Priority is low_quality > exact_dup > near_dup so the
    decision is deterministic and SQL-expressible. A NULL-text document
    has a NULL fingerprint and gets no decision, as in the SQL twin."""
    from cdc_historical_warehouse_platform_spark.operators import text as _T

    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    t = F.col("text")
    base = docs.select(
        "doc_id",
        "lang",
        _T.quality_score(t).alias("__q"),
        _T.fingerprint(t).alias("__fp"),
    ).filter(F.col("__fp").isNotNull())
    # Canonical id as a WINDOW over the fingerprint, not a groupBy +
    # self-join (r13 optimization round, guide §2.4): the join form
    # evaluated ``base`` — the regex-heavy quality cascade + md5 over
    # the whole corpus — once per join side and shuffled both (measured
    # at the sf1 10x fixture: base alone 3.5 s, base ⋈ canon 12.1 s).
    # The window computes the same min-per-fingerprint in ONE pass over
    # base with ONE narrow shuffle (doc_id, lang, __q, __fp — no text).
    # Same rows, same values: the inner join on __fp kept every base
    # row with a non-NULL fingerprint (canon keys ⊆ base keys by
    # construction) and dropped the NULL ones, as the oracle's
    # ``JOIN canon`` does — hence the NULL filter on base above.
    base = base.withColumn(
        "__canonical", F.min("doc_id").over(Window.partitionBy("__fp"))
    )
    near = (
        minhash_lsh_pairs(docs, n=3, bands=32, rows_per_band=2, threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    return (
        base.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("__q") < 0.68, F.lit("low_quality"))
            .when(F.col("doc_id") != F.col("__canonical"), F.lit("exact_dup"))
            .when(F.col("__near"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("decision"),
        )
    )


def q_corpus_keep_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """The declared-query wrapper: the decision table in presentation
    order. ``corpus_build`` consumes the unsorted core directly (r12
    optimization round) — it materializes the decisions once and a
    global sort of a corpus-row-sized table is pure waste there."""
    return corpus_keep_decisions_unsorted(spark, sf).orderBy("doc_id")


SQL_CORPUS_KEEP = f"""
WITH {_sql_shingles(None)},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON i.doc_a = sa.doc_id
  JOIN sz sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n AS DOUBLE) / (sa.n + sb.n - i.n) >= 0.5),
near AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
qbase AS (
  SELECT doc_id, lang,
         greatest(length(text), 1) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
ratios AS (
  SELECT doc_id, lang,
         n_punct / n_chars AS punct_ratio,
         CAST(len(list_filter(lt, x -> x IN ({_SW_LIST}))) AS DOUBLE)
           / greatest(len(lt), 1) AS stopword_ratio,
         CAST(len(t) AS DOUBLE) AS n_tok
  FROM qbase),
quality AS (
  SELECT doc_id, lang,
         floor(((least(n_tok / 20.0, 1.0)
              + least(stopword_ratio * 4.0, 1.0)
              + (1.0 - least(punct_ratio * 5.0, 1.0))) / 3.0) * 1000000.0) / 1000000.0 AS q
  FROM ratios),
fp AS (SELECT doc_id, md5({SQL_NORM}) AS f FROM documents),
canon AS (SELECT f, MIN(doc_id) AS canonical FROM fp GROUP BY 1)
SELECT q.doc_id, q.lang,
       CASE WHEN q.q < 0.68 THEN 'low_quality'
            WHEN q.doc_id <> c.canonical THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS decision
FROM quality q
JOIN fp ON q.doc_id = fp.doc_id
JOIN canon c ON fp.f = c.f
LEFT JOIN near n ON q.doc_id = n.doc_id
ORDER BY q.doc_id
"""

DATAPIPE_QUERIES["corpus_keep_decisions"] = (q_corpus_keep_decisions, SQL_CORPUS_KEEP)


def q_multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Row-expanding multimodal UDF surface: frame-sample every 2nd
    256-byte "frame" of each binary payload via Arrow-batched
    mapInPandas. Hash-exact oracle: DuckDB 1.0 has no BLOB
    substring/md5, but the driver corpus is ASCII-only at every SF
    (byte positions == char positions and md5(varchar) hashes the
    utf-8 bytes), so the VARCHAR twin below is byte-exact — the same
    assumption ``multimodal_features``' green oracle already relies
    on. pytest additionally pins the Arrow path byte-for-byte against
    the declarative JVM substring twin
    (test_multimodal_resize_and_frame_sample)."""
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = load_table(spark, sf, "documents")
    return sample_frames(attach_binary_payload(docs), frame_bytes=256, every_n=2).orderBy(
        "doc_id", "frame_idx"
    )


# frame_idx sequence is 0,2,4,... below ceil(n_bytes/256); chunk i covers
# bytes [i*256, i*256+256). ASCII corpus ⇒ VARCHAR substring/md5 are
# byte-exact twins of Spark's binary substring/md5 (see docstring).
SQL_FRAME_SAMPLE = """
WITH base AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents
  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0),
frames AS (
  SELECT doc_id, text, n,
         unnest(range(0, CAST(ceil(n / 256.0) AS INT), 2)) AS frame_idx
  FROM base)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5,
       CAST(least(256, n - frame_idx * 256) AS INT) AS frame_len
FROM frames
ORDER BY doc_id, frame_idx
"""

DATAPIPE_QUERIES["multimodal_frame_sample"] = (
    q_multimodal_frame_sample,
    SQL_FRAME_SAMPLE,
)


def q_multimodal_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """The image decode→resize pipeline through the driver gate: each
    doc's text is framed as a 16×16 raw grayscale payload (substring+
    rpad, deterministic), decoded by the codec-free raw decoder, and
    run through the REAL Arrow pipeline (mapInPandas → numpy
    nearest-index resize to 4×4 → md5 of the resampled bytes) — the
    identical code a Pillow user executes, minus only the codec call.
    Hash-exact oracle: the ASCII corpus makes DuckDB's rpad/substring/
    md5 byte-exact twins of the byte-level math (the float
    mean_intensity column is excluded from the registered output —
    Python banker's rounding vs DuckDB half-away rounding can differ
    at k/256 midpoints; pytest covers it against numpy instead)."""
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_image_features,
        raw_image_decoder,
    )

    docs = load_table(spark, sf, "documents")
    framed = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode(
            F.rpad(F.substring(F.col("text"), 1, 256), 256, "."), "utf-8"
        ).alias("payload"),
    )
    feats = extract_image_features(
        framed, decoder=raw_image_decoder(16, 16), out_w=4, out_h=4
    )
    return feats.select(
        "doc_id", "width", "height", "channels", "resized_md5"
    ).orderBy("doc_id")


# 4×4 nearest-index gather from the 16×16 frame: output pixel (y, x)
# reads input byte (y*16//4)*16 + (x*16//4) → rows/cols 0,4,8,12
_IMG_POSITIONS = [y * 16 + x + 1 for y in (0, 4, 8, 12) for x in (0, 4, 8, 12)]
SQL_IMAGE_FEATURES = f"""
WITH base AS (
  SELECT doc_id, rpad(substring(text, 1, 256), 256, '.') AS s
  FROM documents
  WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       md5(concat({", ".join(f"substring(s, {p}, 1)" for p in _IMG_POSITIONS)}))
         AS resized_md5
FROM base
ORDER BY doc_id
"""

DATAPIPE_QUERIES["multimodal_image_features"] = (
    q_multimodal_image_features,
    SQL_IMAGE_FEATURES,
)


def q_corpus_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified corpus downsampling: bucket every
    document by quality stratum (high ≥ 0.8 / mid ≥ 0.65 / low) and
    keep all high, half of mid, 1/8 of low via md5-prefix hash gating
    (operators/sampling.py).

    Scale shape: the entire decision is one codegen'd projection +
    filter over the scan — no shuffle, no RNG state, identical keep
    set on re-run/backfill. The sample_key column makes every keep
    decision auditable. This is the standard curation step between
    quality scoring and dedup in a 100 TB corpus build."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        TX.quality_score(F.col("text")).alias("quality_score"),
    ).withColumn(
        "stratum",
        F.when(F.col("quality_score") >= 0.8, F.lit("high"))
        .when(F.col("quality_score") >= 0.65, F.lit("mid"))
        .otherwise(F.lit("low")),
    )
    kept = stratified_hash_sample(
        base,
        key_col="doc_id",
        stratum_col="stratum",
        rates={"high": 1.0, "mid": 0.5, "low": 0.125},
    )
    return kept.select(
        "doc_id", "lang", "stratum", "sample_key", "quality_score"
    ).orderBy("doc_id")


# rate thresholds: 0.5*65536 = 0x8000, 0.125*65536 = 0x2000 (lockstep
# with operators/sampling.py _rate_threshold)
SQL_SAMPLE_STRATIFIED = rf"""
WITH qbase AS (
  SELECT doc_id, lang,
         greatest(length(text), 1) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
ratios AS (
  SELECT doc_id, lang,
         n_punct / n_chars AS punct_ratio,
         CAST(len(list_filter(lt, x -> x IN ({_SW_LIST}))) AS DOUBLE)
           / greatest(len(lt), 1) AS stopword_ratio,
         CAST(len(t) AS DOUBLE) AS n_tok
  FROM qbase),
quality AS (
  SELECT doc_id, lang,
         floor(((least(n_tok / 20.0, 1.0)
              + least(stopword_ratio * 4.0, 1.0)
              + (1.0 - least(punct_ratio * 5.0, 1.0))) / 3.0) * 1000000.0) / 1000000.0 AS quality_score
  FROM ratios),
strata AS (
  SELECT doc_id, lang, quality_score,
         CASE WHEN quality_score >= 0.8 THEN 'high'
              WHEN quality_score >= 0.65 THEN 'mid'
              ELSE 'low' END AS stratum,
         substr(md5('corpus-sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key
  FROM quality)
SELECT doc_id, lang, stratum, sample_key, quality_score
FROM strata
WHERE CASE stratum WHEN 'high' THEN TRUE
                   WHEN 'mid' THEN sample_key < '8000'
                   ELSE sample_key < '2000' END
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_sample_stratified"] = (
    q_corpus_sample_stratified,
    SQL_SAMPLE_STRATIFIED,
)


def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive dedup canonicalization: connected components over the
    MinHash-LSH near-dup pair graph (Jaccard ≥ 0.5), labeling every
    duplicated document with the min doc_id of its duplicate cluster.
    The step after pair generation in a real corpus build — pairwise
    keep-lists can't resolve a~b~c chains; components can.

    Scale shape: pairs come from the banded-LSH tier (two corpus
    passes, no all-pairs join); label propagation then runs on the
    PAIR graph only — corpus-size-independent. Oracle: DuckDB
    recursive CTE computing min reachable id over the same exact pair
    set (LSH recall 1.0 is pinned by tests + the minhash driver row).
    """
    from cdc_historical_warehouse_platform_spark.operators.dedup import connected_components

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, bands=32, rows_per_band=2, threshold=0.5)
    return connected_components(pairs).orderBy("doc_id")


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_sql_shingles(None)},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON i.doc_a = sa.doc_id
  JOIN sz sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n AS DOUBLE) / (sa.n + sb.n - i.n) >= 0.5),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node)
SELECT node AS doc_id, MIN(label) AS component_id
FROM reach
GROUP BY node
ORDER BY doc_id
"""

DATAPIPE_QUERIES["dedup_components"] = (q_dedup_components, SQL_DEDUP_COMPONENTS)


def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition scoring (the Gopher-rule family):
    fraction of words / bigrams / trigrams that repeat earlier
    occurrences in the same document — the boilerplate/spam signal a
    quality pipeline applies before dedup. Map-only: one codegen'd
    projection per doc, no shuffle except the deterministic ORDER BY."""
    docs = load_table(spark, sf, "documents")
    base = docs.select("doc_id", TX.tokens(F.col("text")).alias("__t"))
    t = F.col("__t")
    n_tok = F.size(t)
    dup_words = (n_tok - F.size(F.array_distinct(t))).cast("double")
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, dup_words / n_tok).otherwise(F.lit(0.0)).alias("dup_word_frac"),
        TX.dup_ngram_fraction(t, 2).alias("dup_bigram_frac"),
        TX.dup_ngram_fraction(t, 3).alias("dup_trigram_frac"),
    ).orderBy("doc_id")


SQL_TEXT_REPETITION = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, t,
         list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                        i -> t[i] || ' ' || t[i+1]) AS g2,
         list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
  FROM toks)
SELECT doc_id,
       CAST(len(t) AS INT) AS n_tokens,
       CASE WHEN len(t) > 0
            THEN CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t)
            ELSE 0.0 END AS dup_word_frac,
       CASE WHEN len(g2) > 0
            THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
            ELSE 0.0 END AS dup_bigram_frac,
       CASE WHEN len(g3) > 0
            THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
            ELSE 0.0 END AS dup_trigram_frac
FROM grams
ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_repetition_scores"] = (q_text_repetition, SQL_TEXT_REPETITION)


def q_corpus_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing: every document's global token
    offset, training-sequence id and in-sequence position for
    seq_len=2048, via the distributed two-phase prefix sum in
    operators/packing.py (no single-task global window — the oracle
    twin IS the naive global window, proving the distributed
    decomposition exact)."""
    from cdc_historical_warehouse_platform_spark.operators.packing import packed_sequence_ids

    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return (
        packed_sequence_ids(base, "n_tokens", seq_len=2048, order_col="doc_id")
        .select("doc_id", "n_tokens", "tokens_before", "pack_id", "pack_offset")
        .orderBy("doc_id")
    )


SQL_PACK_SEQUENCES = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
              AS BIGINT) AS tokens_before
  FROM toks)
SELECT doc_id, n_tokens, tokens_before,
       CAST((tokens_before - tokens_before % 2048) / 2048 AS BIGINT) AS pack_id,
       CAST(tokens_before % 2048 AS BIGINT) AS pack_offset
FROM cum
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_pack_sequences"] = (q_corpus_pack_sequences, SQL_PACK_SEQUENCES)


def q_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII audit + redaction: per-category match counts on the raw text
    and an md5 of the redacted text (byte-exact proof of the redaction
    without shipping documents around).

    The synthetic corpus contains no natural PII, so a deterministic
    synthetic tail (email + ipv4 + phone, derived from doc_id) is
    appended to every 7th doc INSIDE the query — identical expression
    in the oracle — making the redaction genuinely exercised. Pure
    regexp chain, JVM codegen, single corpus scan, no shuffle before
    the final sort."""
    docs = load_table(spark, sf, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.format_string(
                " contact user%d@example.org or 10.0.%d.1 tel 555-%03d-1234",
                F.col("doc_id"),
                F.col("doc_id") % 256,
                F.col("doc_id") % 1000,
            ),
        ),
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", injected.alias("__t"))
    red = TX.redact_pii(F.col("__t"))
    counts = TX.pii_counts(F.col("__t"))
    return base.select(
        "doc_id",
        *[c.alias(k) for k, c in counts.items()],
        F.md5(red).alias("redacted_md5"),
        F.length(red).alias("redacted_len"),
    ).orderBy("doc_id")


_PII_SQL_TEMPLATE = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || printf(' contact user%d@example.org or 10.0.%d.1 tel 555-%03d-1234',
                                  doc_id, doc_id % 256, doc_id % 1000)
              ELSE text END AS t
  FROM documents),
red AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(regexp_replace(t,
           'EMAIL_P', '<EMAIL>', 'g'),
           'PHONE_P', '<PHONE>', 'g'),
           'IPV4_P', '<IP>', 'g') AS rt
  FROM base)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, 'EMAIL_P')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, 'PHONE_P')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t, 'IPV4_P')) AS INT) AS n_ipv4,
       md5(rt) AS redacted_md5,
       CAST(length(rt) AS INT) AS redacted_len
FROM red
ORDER BY doc_id
"""

# Substitute the shared patterns verbatim (plain .replace — the
# patterns contain regex braces that str.format/f-strings would eat).
SQL_PII = (
    _PII_SQL_TEMPLATE.replace("EMAIL_P", TX.PII_PATTERNS[0][1])
    .replace("PHONE_P", TX.PII_PATTERNS[1][1])
    .replace("IPV4_P", TX.PII_PATTERNS[2][1])
)

DATAPIPE_QUERIES["text_pii_redaction"] = (q_pii_redaction, SQL_PII)


def q_corpus_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:decontaminate):
    every 97th doc plays the held-out eval set; corpus docs sharing any
    word 3-gram with it are flagged with overlap counts. Eval n-gram
    set is broadcast; the corpus is shingled in one map pass and only
    shuffles for its own per-doc aggregation."""
    docs = load_table(spark, sf, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, eval_df, n=3).orderBy("doc_id")


SQL_DECONTAMINATE = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t FROM norm),
sh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks),
x AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
eval AS (SELECT DISTINCT shingle FROM x WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, shingle FROM x WHERE doc_id % 97 <> 0),
sz AS (SELECT doc_id, count(*) AS n_ngrams FROM corpus GROUP BY 1),
hits AS (SELECT c.doc_id, count(*) AS n_contaminated_ngrams
         FROM corpus c JOIN eval e USING (shingle) GROUP BY 1)
SELECT h.doc_id, h.n_contaminated_ngrams, sz.n_ngrams,
       CAST(h.n_contaminated_ngrams AS DOUBLE) / sz.n_ngrams AS contamination_frac
FROM hits h JOIN sz USING (doc_id)
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_decontaminate"] = (q_corpus_decontaminate, SQL_DECONTAMINATE)


def q_corpus_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing table: per-source token counts, quality, and the
    deterministic down-sampling rate that rebalances the corpus to a
    UNIFORM source mix (the DoReMi/data-mixture framing reduced to its
    closed form: weight_i ∝ 1/share_i, rate_i = min_share/share_i so
    the most under-represented source keeps everything).

    Determinism across engines: token sums are integers; avg_quality
    divides an exact DECIMAL sum of per-row 6-dp quality scores (float
    partial-sum order never enters); shares/weights/rates are single
    divisions of integers. The corpus-wide totals come from a 1-row
    second-level aggregate broadcast back over the per-source rows —
    no unpartitioned window, no shuffle-to-one-partition."""
    docs = load_table(spark, sf, "documents")
    t = F.col("text")
    per = docs.select(
        "source",
        TX.token_count(t).alias("__tok"),
        TX.quality_score(t).cast("decimal(18,6)").alias("__q"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.sum("__q").alias("__qsum"),
        # Pinned once (r12 optimization round, guide §2.4): the totals
        # aggregate AND the final cross-join consume this source-sized
        # frame, and without the pin each re-ran the per-doc tokenize/
        # quality pass over the whole corpus. Lazy.
    ).localCheckpoint(eager=False)
    totals = agg.agg(
        F.sum("n_tokens").alias("__total"),
        F.count(F.lit(1)).alias("__nsrc"),
        F.min("n_tokens").alias("__min_tok"),
    )
    return (
        # 1-row totals broadcast back over the per-source rows: plans
        # as a scalar-build BNLJ — map-side, lint-admitted explicitly
        agg.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("__qsum").cast("double") / F.col("n_docs")).alias("avg_quality"),
            (F.col("n_tokens").cast("double") / F.col("__total")).alias("token_share"),
            (
                F.col("__total").cast("double")
                / (F.col("__nsrc") * F.col("n_tokens"))
            ).alias("mix_weight"),
            (F.col("__min_tok").cast("double") / F.col("n_tokens")).alias(
                "sampling_rate"
            ),
        )
        .orderBy("source")
    )


SQL_SOURCE_MIX = rf"""
WITH base AS (
  SELECT source,
         greatest(length(text), 1) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
per AS (
  SELECT source, len(t) AS tok,
         CAST(floor(((least(CAST(len(t) AS DOUBLE) / 20.0, 1.0)
            + least((CAST(len(list_filter(lt, x -> x IN ({_SW_LIST}))) AS DOUBLE)
                     / greatest(len(lt), 1)) * 4.0, 1.0)
            + (1.0 - least((n_punct / n_chars) * 5.0, 1.0))) / 3.0) * 1000000.0)
            / 1000000.0 AS DECIMAL(18,6)) AS q
  FROM base),
agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS n_tokens, sum(q) AS qsum
  FROM per GROUP BY 1)
SELECT source,
       n_docs,
       n_tokens,
       CAST(qsum AS DOUBLE) / n_docs AS avg_quality,
       CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS token_share,
       CAST(sum(n_tokens) OVER () AS DOUBLE)
         / (count(*) OVER () * n_tokens) AS mix_weight,
       CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens AS sampling_rate
FROM agg
ORDER BY source
"""

DATAPIPE_QUERIES["corpus_source_mix"] = (q_corpus_source_mix, SQL_SOURCE_MIX)


def q_corpus_length_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum/packing planner: per-(lang, token-length-bucket) doc
    and token counts plus each bucket's share of its language. Fixed
    CASE bucket edges (quartile-ish for the synthetic corpus) keep the
    bucketing integer-exact in both engines — no float log2 whose
    last-ulp could flip a boundary doc. Map-only projection + one
    grouped aggregate; the per-lang share window runs on the tiny
    aggregate, partitioned by lang."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    n = TX.bpe_ish_token_count(F.col("text"))
    bucket = (
        F.when(n <= 25, F.lit("le_025"))
        .when(n <= 50, F.lit("le_050"))
        .when(n <= 75, F.lit("le_075"))
        .otherwise(F.lit("gt_075"))
    )
    agg = (
        docs.select("lang", n.alias("__n"), bucket.alias("len_bucket"))
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("n_tokens"),
            F.max("__n").cast("bigint").alias("max_tokens"),
        )
    )
    w = Window.partitionBy("lang")
    return (
        agg.withColumn(
            "doc_share",
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w),
        )
        .orderBy("lang", "len_bucket")
    )


SQL_LENGTH_BUCKETS = r"""
WITH per AS (
  SELECT lang,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n
  FROM documents),
agg AS (
  SELECT lang,
         CASE WHEN n <= 25 THEN 'le_025'
              WHEN n <= 50 THEN 'le_050'
              WHEN n <= 75 THEN 'le_075'
              ELSE 'gt_075' END AS len_bucket,
         count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(max(n) AS BIGINT) AS max_tokens
  FROM per GROUP BY 1, 2)
SELECT lang, len_bucket, n_docs, n_tokens, max_tokens,
       CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang) AS doc_share
FROM agg
ORDER BY lang, len_bucket
"""

DATAPIPE_QUERIES["corpus_length_buckets"] = (q_corpus_length_buckets, SQL_LENGTH_BUCKETS)


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup keep/drop decision per embedding (operators/dedup.py:
    semdedup): cluster with the deterministic IVF coarse quantizer,
    exact-cosine compare only within clusters, drop the larger id of
    every pair ≥ 0.95. Hash-exact as of the portable quantizer: the
    DuckDB twin re-derives the identical centroids in SQL
    (_sql_ivf_cents), reproduces the cluster assignment, and applies
    the same in-cluster drop rule — so the oracle now checks the
    cluster partition itself, not just aggregate recall (which stays
    pinned against the brute-force tier in pytest)."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import semdedup

    emb = load_table(spark, sf, "embeddings")
    return semdedup(emb, threshold=0.95, n_lists=16, refine=1).orderBy("id")


SQL_SEMDEDUP = f"""
WITH {_sql_ivf_cents(16)},
a1r AS (
  SELECT e.vec_id, e.embedding, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cosine('e.embedding', 'c.c')} DESC,
                                     c.list_id) AS rn
  FROM embeddings e CROSS JOIN cvec c),
a1 AS (SELECT vec_id AS id, embedding AS v, list_id FROM a1r WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.id
  FROM a1 a JOIN a1 b ON a.list_id = b.list_id AND a.id < b.id
  WHERE {_sql_cosine('a.v', 'b.v')} >= 0.95)
SELECT a1.id, a1.list_id, (d.id IS NULL) AS keep
FROM a1 LEFT JOIN dropped d ON a1.id = d.id
ORDER BY a1.id
"""

DATAPIPE_QUERIES["semdedup_keep"] = (q_semdedup, SQL_SEMDEDUP)


def q_text_lm_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM surprisal scores (operators/text.py:
    unigram_surprisal): corpus-fit token frequencies → per-doc mean
    −log2 p(token) in exact integer micro-bits. The model-based
    quality-filter tier (CCNet/KenLM family) next to the heuristic
    text_quality_scores."""
    docs = load_table(spark, sf, "documents")
    return TX.unigram_surprisal(docs).orderBy("doc_id")


SQL_LM_SURPRISAL = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS token
         FROM norm),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
vt AS (SELECT token, cnt, sum(cnt) OVER () AS total FROM vocab),
per AS (
  SELECT t.doc_id,
         CAST(floor(log2(CAST(v.total AS DOUBLE) / v.cnt)
                    * 1000000.0) AS BIGINT) AS s
  FROM toks t JOIN vt v USING (token))
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(s) AS BIGINT) AS surprisal_microbits,
       CAST(sum(s) AS DOUBLE) / (count(*) * 1000000.0) AS bits_per_token
FROM per
GROUP BY doc_id
ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_lm_surprisal"] = (q_text_lm_surprisal, SQL_LM_SURPRISAL)


def q_text_tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (operators/text.py:
    tfidf_top_keywords) — integer micro-nat scoring, deterministic
    tie-break, hash-exact oracle."""
    docs = load_table(spark, sf, "documents")
    return TX.tfidf_top_keywords(docs, k=3).orderBy("doc_id", "rank")


SQL_TFIDF = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS token
         FROM norm),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (
  SELECT token,
         CAST(floor(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / count(*))
                    * 1000000.0) AS BIGINT) AS idf
  FROM tf GROUP BY token),
ranked AS (
  SELECT t.doc_id, t.token, t.tf, t.tf * v.idf AS tfidf_micro,
         CAST(row_number() OVER (PARTITION BY t.doc_id
                                 ORDER BY t.tf * v.idf DESC, t.token ASC) AS INT) AS rank
  FROM tf t JOIN vocab v USING (token))
SELECT doc_id, rank, token, tf, tfidf_micro
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""

DATAPIPE_QUERIES["text_tfidf_keywords"] = (q_text_tfidf_keywords, SQL_TFIDF)


BM25_QUERY_TERMS = ["vector", "merge", "window"]


def q_text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 retrieval top-20 for a fixed query-term set (r11):
    operators/text.bm25_topk — Okapi BM25 with Lucene's non-negative
    idf, micro-nat integer quantization per (doc, term), global top-k
    via TakeOrderedAndProject + broadcast rank self-join (no
    unpartitioned window)."""
    docs = load_table(spark, sf, "documents")
    return TX.bm25_topk(docs, BM25_QUERY_TERMS, k=20)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

SQL_BM25 = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS token
         FROM norm),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                 CAST(count(*) AS DOUBLE) AS n
          FROM dl),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2),
idf AS (SELECT token,
               CAST(floor(ln(1.0 + ((SELECT n FROM stats) - count(*) + 0.5)
                                   / (count(*) + 0.5)) * 1000000.0) AS BIGINT) AS idf
        FROM tf GROUP BY token),
per AS (SELECT t.doc_id,
               CAST(floor(i.idf * ((t.tf * 2.2)
                    / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / (SELECT avgdl FROM stats)))))
                    AS BIGINT) AS s
        FROM tf t JOIN idf i USING (token) JOIN dl d USING (doc_id)),
scored AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_micronats,
                  count(*) AS n_terms_hit
           FROM per GROUP BY 1),
top AS (SELECT * FROM scored ORDER BY score_micronats DESC, doc_id ASC LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY score_micronats DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score_micronats, CAST(n_terms_hit AS BIGINT) AS n_terms_hit
FROM top ORDER BY rank
"""

DATAPIPE_QUERIES["text_bm25_topk"] = (q_text_bm25_topk, SQL_BM25)


def q_corpus_chunk_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking (operators/text.py:chunk_token_spans):
    32-token chunks, 8-token overlap, map-only."""
    docs = load_table(spark, sf, "documents")
    return TX.chunk_token_spans(docs, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


SQL_CHUNK_SPANS = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t FROM norm),
meta AS (SELECT doc_id, t, len(t) AS n FROM toks),
spans AS (
  SELECT doc_id, t,
         unnest(range(0, CASE WHEN n <= 0 THEN 0
                              WHEN n <= 32 THEN 1
                              ELSE ((n - 32 + 23) // 24) + 1 END)) AS chunk_id
  FROM meta),
sliced AS (
  SELECT doc_id, chunk_id,
         list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32) AS sl
  FROM spans)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(chunk_id * 24 AS INT) AS start_token,
       CAST(len(sl) AS INT) AS n_chunk_tokens,
       array_to_string(sl, ' ') AS chunk_text
FROM sliced
ORDER BY doc_id, chunk_id
"""

DATAPIPE_QUERIES["corpus_chunk_spans"] = (q_corpus_chunk_spans, SQL_CHUNK_SPANS)


def q_corpus_sample_quality_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep probability equals
    the document's quality score (operators/sampling.py:
    weighted_keep_expr — md5 draw vs per-row fixed-width hex
    threshold; zero shuffle, restart-stable). Returns every doc with
    its draw, threshold, and keep decision — auditable, and the kept
    set is reproducible across engines."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import sample_key, weighted_keep_expr

    docs = load_table(spark, sf, "documents")
    q = TX.quality_score(F.col("text"))
    return docs.select(
        "doc_id",
        q.alias("quality_score"),
        sample_key(F.col("doc_id")).alias("sample_key"),
        weighted_keep_expr(F.col("doc_id"), q).alias("kept"),
    ).orderBy("doc_id")


_SQL_QUALITY_EXPR = rf"""floor(((least(CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) / 20.0, 1.0)
  + least((CAST(len(list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''), x -> x IN ({_SW_LIST}))) AS DOUBLE)
           / greatest(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1)) * 4.0, 1.0)
  + (1.0 - least((CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / greatest(length(text), 1)) * 5.0, 1.0))) / 3.0)
  * 1000000.0) / 1000000.0"""

SQL_SAMPLE_QUALITY_WEIGHTED = f"""
WITH scored AS (
  SELECT doc_id, {_SQL_QUALITY_EXPR} AS quality_score,
         substr(md5('corpus-sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key
  FROM documents)
SELECT doc_id, quality_score, sample_key,
       (quality_score >= 1.0 OR
        sample_key < printf('%04x', CAST(floor(quality_score * 65536.0) AS BIGINT)))
         AS kept
FROM scored
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_sample_quality_weighted"] = (
    q_corpus_sample_quality_weighted,
    SQL_SAMPLE_QUALITY_WEIGHTED,
)


def q_corpus_sample_weighted_wor(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-budget weighted sampling WITHOUT replacement (r11):
    Efraimidis–Spirakis top-k per source stratum, weights = n_chars
    (long docs favored), deterministic md5 draws — the exact-budget
    complement to the Bernoulli quality-weighted row
    (operators/sampling.weighted_sample_wor). One shuffle on the
    stratum key; no RNG state, restart-identical at any scale."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import weighted_sample_wor

    docs = load_table(spark, sf, "documents")
    return (
        weighted_sample_wor(docs, k=10, weight_col="n_chars", strata_col="source")
        .select("source", "sample_rank", "doc_id", "n_chars")
        .orderBy("source", "sample_rank")
    )


# u = (13-hex md5 prefix + 1) / 2^52: EXACT double arithmetic in both
# engines (52 bits < the 53-bit mantissa); the E–S key ln(u)/w itself
# never reaches the output, so 1-ULP libm divergence cannot flip the
# hash (see operators/sampling.es_key).
SQL_SAMPLE_WEIGHTED_WOR = """
WITH d AS (SELECT doc_id, source, n_chars,
                  CAST(n_chars AS DOUBLE) AS w
           FROM documents WHERE n_chars > 0),
keyed AS (SELECT doc_id, source, n_chars,
                 ln((('0x' || substr(md5('wor-sample:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                    / 4503599627370496.0) / w AS k
          FROM d),
r AS (SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS sample_rank
      FROM keyed)
SELECT source, CAST(sample_rank AS INT) AS sample_rank, doc_id, n_chars
FROM r WHERE sample_rank <= 10
ORDER BY source, sample_rank
"""

DATAPIPE_QUERIES["corpus_sample_weighted_wor"] = (
    q_corpus_sample_weighted_wor,
    SQL_SAMPLE_WEIGHTED_WOR,
)


def q_corpus_zipf_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token rank-frequency table (the Zipf diagnostic every
    corpus report ships): top-100 tokens by count with dense rank and
    cumulative coverage of the token stream. Pure integer counts plus
    one division per row — hash-exact oracle. One explode + one
    groupBy(token); rank/cumsum run over the top-100 slice only via a
    broadcast self-join (TakeOrderedAndProject bounds the sort at any
    corpus size; no unpartitioned window in the plan)."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        F.explode_outer(TX.tokens(TX.normalize_text(F.col("text")))).alias("token")
    ).filter(F.col("token").isNotNull())
    total = toks.count()
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(100)
        # consumed twice by the rank self-join below; the lazy barrier
        # keeps the agg+limit subtree from executing twice
        .localCheckpoint(eager=False)
    )
    # rank + cumulative coverage over the (fixed-size) top-100 via a
    # broadcast non-equi self-join instead of an unpartitioned window:
    # rank = 1 + |strictly ahead|, cum = self + sum(ahead) — identical
    # under the (cnt DESC, token ASC) total order, and never a
    # sort-to-one-partition in the plan
    ahead = top.select(F.col("cnt").alias("cnt2"), F.col("token").alias("token2"))
    is_ahead = (F.col("cnt2") > F.col("cnt")) | (
        (F.col("cnt2") == F.col("cnt")) & (F.col("token2") < F.col("token"))
    )
    return (
        top.join(F.broadcast(ahead), is_ahead, "left")
        .groupBy("token", "cnt")
        .agg(
            (F.count("token2") + F.lit(1)).cast("int").alias("rank"),
            (
                (F.coalesce(F.sum("cnt2"), F.lit(0)) + F.col("cnt")).cast("double")
                / F.lit(float(total))
            ).alias("cum_coverage"),
        )
        .select("rank", "token", "cnt", "cum_coverage")
        .orderBy("rank")
    )


SQL_ZIPF = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS token FROM norm),
tot AS (SELECT count(*) AS n FROM toks),
top AS (
  SELECT token, count(*) AS cnt FROM toks GROUP BY 1
  ORDER BY cnt DESC, token ASC LIMIT 100),
ranked AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
  FROM top)
SELECT rank, token, cnt, cum / (SELECT n FROM tot) AS cum_coverage
FROM ranked
ORDER BY rank
"""

DATAPIPE_QUERIES["corpus_zipf_stats"] = (q_corpus_zipf_stats, SQL_ZIPF)


def q_text_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional bigram-LM surprisal (operators/text.py:
    bigram_surprisal) — context-sensitive counterpart of
    text_lm_surprisal, exact integer micro-bit accounting."""
    docs = load_table(spark, sf, "documents")
    return TX.bigram_surprisal(docs).orderBy("doc_id")


SQL_BIGRAM_SURPRISAL = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t FROM norm),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks),
vocab2 AS (SELECT bg, count(*) AS c12 FROM big GROUP BY 1),
pref AS (
  SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM vocab2 GROUP BY 1),
scored AS (
  SELECT v.bg,
         CAST(floor(log2(CAST(p.c1 AS DOUBLE) / v.c12)
                    * 1000000.0) AS BIGINT) AS s
  FROM vocab2 v JOIN pref p ON string_split(v.bg, ' ')[1] = p.w1)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(s.s) AS BIGINT) AS surprisal_microbits,
       CAST(sum(s.s) AS DOUBLE) / (count(*) * 1000000.0) AS bits_per_bigram
FROM big b JOIN scored s USING (bg)
GROUP BY b.doc_id
ORDER BY b.doc_id
"""

DATAPIPE_QUERIES["text_bigram_surprisal"] = (q_text_bigram_surprisal, SQL_BIGRAM_SURPRISAL)


def q_corpus_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document (paragraph-level) dedup: split every doc into
    non-overlapping 32-token chunks (operators/text.py:
    chunk_token_spans) and fingerprint each chunk — repeated
    fingerprints are boilerplate passages shared across documents, the
    thing document-level dedup cannot see. Returns every repeated
    chunk with its occurrence/document counts and canonical location.
    Map-only chunking + one groupBy on a 16-byte key — the exact-dedup
    scale shape applied one level down."""
    docs = load_table(spark, sf, "documents")
    chunks = TX.chunk_token_spans(docs, chunk_tokens=32, overlap=0)
    return (
        chunks.select(
            "doc_id",
            "chunk_id",
            F.md5(F.col("chunk_text")).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy("fingerprint")
    )


SQL_PARAGRAPH_DEDUP = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t FROM norm),
meta AS (SELECT doc_id, t, len(t) AS n FROM toks),
spans AS (
  SELECT doc_id, t,
         unnest(range(0, CASE WHEN n <= 0 THEN 0
                              WHEN n <= 32 THEN 1
                              ELSE ((n - 32 + 31) // 32) + 1 END)) AS chunk_id
  FROM meta),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(array_to_string(list_slice(t, chunk_id * 32 + 1, chunk_id * 32 + 32), ' ')) AS fingerprint
  FROM spans)
SELECT fingerprint,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS canonical_doc
FROM chunks
GROUP BY fingerprint
HAVING count(*) > 1
ORDER BY fingerprint
"""

DATAPIPE_QUERIES["corpus_paragraph_dedup"] = (q_corpus_paragraph_dedup, SQL_PARAGRAPH_DEDUP)


def q_ann_sq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar-quantized cosine top-k (operators/similarity.sq_topk)
    — the memory tier of the ANN stack: the corpus scans 4× fewer
    bytes than float32 per probe batch. Exact-by-construction across
    engines: the quantization is one IEEE-deterministic expression,
    the dot/norm sums are int64, and only the final score is a double
    ratio — the DuckDB twin replays all of it, so the driver row
    checks the quantized ranking itself. Recall vs the full-precision
    ranking is pinned separately in pytest."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import sq_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sq_topk(emb, queries, k=10).orderBy("query_id", "rank")


SQL_IDOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)), (x, y) -> x + y)"
)

SQL_ANN_SQ = f"""
WITH qz AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
  FROM embeddings),
qv AS (
  SELECT vec_id,
         CASE WHEN s > 0
              THEN list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS INT))
              ELSE list_transform(embedding, x -> 0) END AS q
  FROM qz),
scored AS (
  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         CAST({SQL_IDOT.format(a='cc.q', b='qq.q')} AS DOUBLE)
           / sqrt(CAST({SQL_IDOT.format(a='cc.q', b='cc.q')}
                       * {SQL_IDOT.format(a='qq.q', b='qq.q')} AS DOUBLE)) AS qcosine
  FROM qv qq CROSS JOIN qv cc
  WHERE qq.vec_id < 10 AND cc.vec_id <> qq.vec_id
    AND {SQL_IDOT.format(a='cc.q', b='cc.q')} > 0
    AND {SQL_IDOT.format(a='qq.q', b='qq.q')} > 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qcosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, qcosine
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


DOMAIN_CAP = 5
DOMAIN_CAP_SAFETY = 4


def q_corpus_domain_caps(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document cap (operators/sampling.cap_per_source):
    at most DOMAIN_CAP docs per source, chosen deterministically by
    md5 order. At sf0.01 every source is over-cap, so the driver row
    exercises BOTH phases — the 8-hex prefix gate (p < 1) and the
    rank on the gated remnant. The oracle replays both phases, so a
    silent divergence in either one hash-fails."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import cap_per_source

    docs = load_table(spark, sf, "documents")
    return (
        cap_per_source(
            docs, DOMAIN_CAP, safety=DOMAIN_CAP_SAFETY
        )
        .select("source", "doc_id", "cap_rank")
        .orderBy("source", "cap_rank")
    )


SQL_DOMAIN_CAPS = f"""
WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
d AS (SELECT doc_id, source,
             md5('domain-cap:' || CAST(doc_id AS VARCHAR)) AS draw
      FROM documents),
g AS (
  SELECT d.doc_id, d.source, d.draw,
         least(1.0, {DOMAIN_CAP_SAFETY * DOMAIN_CAP}.0 / CAST(c.n AS DOUBLE)) AS p
  FROM d JOIN counts c ON d.source IS NOT DISTINCT FROM c.source),
gated AS (
  SELECT * FROM g
  WHERE p >= 1.0
     OR substr(draw, 1, 8) < printf('%08x', CAST(floor(p * 4294967296.0) AS BIGINT))),
kept1 AS (
  SELECT source, doc_id, cap_rank FROM (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) AS cap_rank
    FROM gated) r
  WHERE cap_rank <= {DOMAIN_CAP}),
-- repair pass (operator parity): sources whose gated prefix kept fewer
-- than min(cap, n) rows re-rank without the gate
suspects AS (
  SELECT c.source
  FROM counts c
  LEFT JOIN (SELECT source, COUNT(*) AS k FROM kept1 GROUP BY source) kc
    ON c.source IS NOT DISTINCT FROM kc.source
  WHERE COALESCE(kc.k, 0) < least({DOMAIN_CAP}, c.n)),
repaired AS (
  SELECT source, doc_id, cap_rank FROM (
    SELECT d.source, d.doc_id,
           row_number() OVER (PARTITION BY d.source ORDER BY d.draw, d.doc_id) AS cap_rank
    FROM d
    WHERE d.source IN (SELECT source FROM suspects)
       OR (d.source IS NULL AND EXISTS (SELECT 1 FROM suspects WHERE source IS NULL))) r
  WHERE cap_rank <= {DOMAIN_CAP})
SELECT source, doc_id, cap_rank FROM kept1
-- null-safe anti vs suspects (NOT IN would NULL-drop NULL-source rows
-- whenever any non-null suspect exists; Spark side is eqNullSafe left_anti)
WHERE NOT EXISTS (
  SELECT 1 FROM suspects s WHERE s.source IS NOT DISTINCT FROM kept1.source)
UNION ALL
SELECT source, doc_id, cap_rank FROM repaired
ORDER BY source, cap_rank
"""


DATAPIPE_QUERIES.update(
    {
        "ann_sq_topk": (q_ann_sq_topk, SQL_ANN_SQ),
        "corpus_domain_caps": (q_corpus_domain_caps, SQL_DOMAIN_CAPS),
    }
)


TOKEN_BUDGET_FRACTION = 0.4


def q_corpus_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture sampling — assemble a corpus of (at most)
    ``TOKEN_BUDGET_FRACTION`` of the total tokens at a UNIFORM source
    mix: each source gets budget/|sources| tokens of allocation, its
    keep rate is min(1, allocation / its tokens), and documents are
    gated deterministically at that rate (weighted_keep_expr — md5
    draw vs fixed-width hex threshold, zero shuffle). The closed-form
    composition of corpus_source_mix's weights with the deterministic
    sampler: the standard "hit a token budget at a target mix" step of
    corpus assembly, restart-stable at any scale.

    Determinism across engines: token sums are integers, the budget is
    floor(total · fraction), rates are two chained divisions evaluated
    in the same order, and the gate is the shared printf('%04x')
    pattern. Expected kept tokens per source ≈ min(T_s, budget/S) —
    an expectation, not a cap (document sizes vary); the audit columns
    make the draw checkable row by row."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import weighted_keep_expr

    docs = load_table(spark, sf, "documents")
    # Pinned once (r12 optimization round, guide §2.4): the per-source
    # sums and the final gating join both consume `per`, and the rates
    # subtree consumes `per_source` twice (totals + cross-join) —
    # without the pins each consumer re-ran the tokenize pass (3
    # corpus scans in the audited plan). `per` is three scalars per
    # doc; `per_source` is source-sized. Lazy.
    per = docs.select(
        "doc_id", "source", TX.token_count(F.col("text")).alias("n_tokens")
    ).localCheckpoint(eager=False)
    per_source = (
        per.groupBy("source")
        .agg(F.sum("n_tokens").alias("__ts"))
        .localCheckpoint(eager=False)
    )
    # corpus-wide totals as a 1-row aggregate broadcast back over the
    # per-source rows (no unpartitioned window; the shared per-source
    # exchange is deduped by ReuseExchange)
    totals = per_source.agg(
        F.sum("__ts").alias("__total"), F.count(F.lit(1)).alias("__nsrc")
    )
    rates = (
        # 1-row totals broadcast back over per-source rows (scalar BNLJ)
        per_source.crossJoin(F.broadcast(totals))
        .select(
            F.col("source").alias("__src"),
            F.least(
                F.lit(1.0),
                (
                    F.floor(F.col("__total") * F.lit(TOKEN_BUDGET_FRACTION)).cast(
                        "double"
                    )
                    / F.col("__nsrc")
                )
                / F.col("__ts").cast("double"),
            ).alias("keep_rate"),
        )
    )
    return (
        # null-safe: a NULL source is one ordinary mix group (GROUP BY
        # semantics) — plain equality would silently drop its docs
        per.join(F.broadcast(rates), F.col("source").eqNullSafe(F.col("__src")))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("keep_rate"),
            weighted_keep_expr(F.col("doc_id"), F.col("keep_rate")).alias("kept"),
        )
        .orderBy("doc_id")
    )


SQL_TOKEN_BUDGET = f"""
WITH per AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_tokens
  FROM documents),
agg AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS ts FROM per GROUP BY source),
rates AS (
  SELECT source,
         least(1.0,
               -- CAST the fraction to DOUBLE: DuckDB would otherwise do
               -- this floor in exact DECIMAL while Spark does it in
               -- double, and the two diverge for totals >= ~2^52
               (CAST(floor(SUM(ts) OVER () * CAST({TOKEN_BUDGET_FRACTION} AS DOUBLE)) AS DOUBLE)
                / COUNT(*) OVER ())
               / CAST(ts AS DOUBLE)) AS keep_rate
  FROM agg)
SELECT p.doc_id, p.source, p.n_tokens, r.keep_rate,
       (r.keep_rate >= 1.0 OR
        substr(md5('corpus-sample:' || CAST(p.doc_id AS VARCHAR)), 1, 4)
          < printf('%04x', CAST(floor(r.keep_rate * 65536.0) AS BIGINT))) AS kept
FROM per p JOIN rates r ON p.source IS NOT DISTINCT FROM r.source
ORDER BY p.doc_id
"""

DATAPIPE_QUERIES["corpus_token_budget"] = (q_corpus_token_budget, SQL_TOKEN_BUDGET)


def q_text_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 most frequent tokens via the sketch-bounded heavy-hitter
    path (operators/heavy_hitters.py): per-partition Misra-Gries
    summaries → merged candidates → exact verify of candidates only.
    The shuffle moves O(partitions × m) summary rows instead of one
    row per distinct token — the 100 TB shape for a top-k question
    over a billion-token vocabulary. Output counts are EXACT (the
    sketch only bounds which items get counted; candidates ⊇ the true
    top-k whenever the k-th count exceeds the summed decrement mass,
    which tests/test_heavy_hitters.py pins and the registered corpus
    satisfies with wide margin), so the oracle is the plain exact
    top-k SQL."""
    from cdc_historical_warehouse_platform_spark.operators.heavy_hitters import top_k_frequent

    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        F.explode_outer(TX.tokens(TX.normalize_text(F.col("text")))).alias("token")
    ).filter(F.col("token").isNotNull())
    topk, _guarantee = top_k_frequent(toks, "token", k=50, m=4096)
    return topk.select(F.col("item").alias("token"), "cnt")


SQL_HEAVY_HITTERS = f"""
WITH norm AS (SELECT {SQL_NORM} AS nt FROM documents),
toks AS (SELECT unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS token FROM norm)
SELECT token, COUNT(*) AS cnt
FROM toks
GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT 50
"""

DATAPIPE_QUERIES["text_heavy_hitters"] = (q_text_heavy_hitters, SQL_HEAVY_HITTERS)


def q_corpus_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted source mixing (r6) — the standard LLM
    data-mixing knob: sampling shares ∝ T_s^(1/2) (temperature 2)
    upweight small sources relative to their raw token share.

    Exactness across engines follows the house integer-quantization
    trick (cf. the micro-bit surprisal tier): the temperature weight is
    floor(sqrt(T_s)) — sqrt is correctly-rounded IEEE in both engines
    and floor makes it an INTEGER, so the share denominators are exact
    integer sums (a float Σ sqrt(T_s) would be partition-order-
    dependent and hash-unstable). Shares and upweights are then single
    double divisions of exact integers. Corpus-wide totals ride a
    1-row broadcast (no unpartitioned window)."""
    docs = load_table(spark, sf, "documents")
    per_source = (
        docs.select("source", TX.token_count(F.col("text")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
        .withColumn(
            "temp_weight", F.floor(F.sqrt(F.col("n_tokens"))).cast("long")
        )
        # Pinned once (r12 optimization round, guide §2.4): the totals
        # and the final cross-join both consume this source-sized
        # frame; without the pin each re-ran the tokenize pass. Lazy.
        .localCheckpoint(eager=False)
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("__tot"), F.sum("temp_weight").alias("__wtot")
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("__tot").cast("double")).alias(
                "raw_share"
            ),
            "temp_weight",
            (
                F.col("temp_weight").cast("double") / F.col("__wtot").cast("double")
            ).alias("temp_share"),
            (
                (F.col("temp_weight").cast("double") / F.col("__wtot").cast("double"))
                / (F.col("n_tokens").cast("double") / F.col("__tot").cast("double"))
            ).alias("upweight"),
        )
        .orderBy("source")
    )


SQL_TEMPERATURE_MIX = f"""
WITH per AS (
  SELECT source, CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_tokens,
         CAST(FLOOR(sqrt(n_tokens)) AS BIGINT) AS temp_weight
  FROM per),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot, CAST(SUM(temp_weight) AS BIGINT) AS wtot FROM w)
SELECT source, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS raw_share,
       temp_weight,
       CAST(temp_weight AS DOUBLE) / CAST(wtot AS DOUBLE) AS temp_share,
       (CAST(temp_weight AS DOUBLE) / CAST(wtot AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) AS upweight
FROM w CROSS JOIN tot
ORDER BY source
"""

DATAPIPE_QUERIES["corpus_temperature_mix"] = (
    q_corpus_temperature_mix,
    SQL_TEMPERATURE_MIX,
)


DSIR_BUCKETS = 4096
DSIR_TARGET_SOURCE = "src0"


def q_corpus_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (operators/text.py:
    dsir_importance_weights; Xie et al. 2023, arXiv:2302.03169):
    every corpus doc scored by the hashed-bigram log-ratio of a
    target model (the 'src0' source as in-domain exemplar) vs the
    raw-corpus model — the data-selection knob for tilting a crawl
    toward a domain. Docs with <2 tokens have no bigram features and
    drop out (mirrored by the oracle)."""
    docs = load_table(spark, sf, "documents")
    target = docs.filter(F.col("source") == DSIR_TARGET_SOURCE)
    return TX.dsir_importance_weights(docs, target, n_buckets=DSIR_BUCKETS).orderBy(
        "doc_id"
    )


SQL_DSIR_WEIGHTS = f"""
WITH norm AS (SELECT doc_id, source, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, source,
                list_filter(string_split(nt, ' '), x -> x <> '') AS t
         FROM norm),
big AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks),
feat AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(bg), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM big),
tot AS (
  SELECT count(*) AS r_total,
         count(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}') AS t_total
  FROM feat),
rc AS (SELECT bucket, count(*) AS r_cnt FROM feat GROUP BY 1),
tc AS (SELECT bucket, count(*) AS t_cnt
       FROM feat WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY 1),
w AS (
  -- BIGINT products, ONE division, ONE log2 — lockstep with the Spark
  -- micro-bit quantization (products exact in double at any test SF)
  SELECT rc.bucket,
         CAST(floor(log2(
             CAST((COALESCE(tc.t_cnt, 0) + 1) * (tot.r_total + {DSIR_BUCKETS}) AS DOUBLE)
           / CAST((rc.r_cnt + 1) * (tot.t_total + {DSIR_BUCKETS}) AS DOUBLE)
         ) * 1000000.0) AS BIGINT) AS w
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot)
SELECT f.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(w.w) AS BIGINT) AS dsir_microbits,
       CAST(sum(w.w) AS DOUBLE) / (count(*) * 1000000.0) AS logratio_per_bigram
FROM feat f JOIN w USING (bucket)
GROUP BY f.doc_id
ORDER BY f.doc_id
"""

DATAPIPE_QUERIES["corpus_dsir_weights"] = (q_corpus_dsir_weights, SQL_DSIR_WEIGHTS)


def q_text_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The first BPE training round (operators/bpe.py): corpus word
    counts (the only corpus-sized pass), then adjacent CHARACTER pair
    counts weighted by word frequency — the statistic every merge
    decision is the argmax of. Top-100 pairs with a total tiebreak.
    The iterative trainer (bpe_train) is pinned by
    tests/test_bpe.py against a pure-Python reference; this row makes
    its per-round statistic driver-checkable."""
    from cdc_historical_warehouse_platform_spark.operators import bpe as BPE

    docs = load_table(spark, sf, "documents")
    vocab = BPE.word_counts(docs).withColumn("syms", BPE.split_chars(F.col("word")))
    return (
        BPE.pair_counts(vocab)
        .orderBy(F.col("pair_count").desc(), F.col("left_sym"), F.col("right_sym"))
        .limit(100)
    )


SQL_BPE_PAIR_COUNTS = f"""
WITH norm AS (SELECT {SQL_NORM} AS nt FROM documents),
words AS (
  SELECT unnest(list_filter(string_split(nt, ' '), x -> x <> '')) AS w
  FROM norm),
wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1),
pairs AS (
  -- parallel unnest zips the two per-position lists (ascii corpus:
  -- substr positions == Spark's codepoint split)
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 1))) AS left_sym,
         unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT) + 1, 1))) AS right_sym,
         cnt
  FROM wc)
SELECT left_sym, right_sym, CAST(SUM(cnt) AS BIGINT) AS pair_count
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT 100
"""

DATAPIPE_QUERIES["text_bpe_pair_counts"] = (q_text_bpe_pair_counts, SQL_BPE_PAIR_COUNTS)


# Linear calibration of the DSIR log-ratio onto a [0,1] keep rate for
# the testdata corpus (observed sf0.01 range ≈ [-1.84, -0.71]); a real
# deployment fits these to the weight distribution of its own corpus.
DSIR_RESAMPLE_OFFSET = 1.9
DSIR_RESAMPLE_SCALE = 1.2


def q_corpus_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance RESAMPLING — the selection step the weights
    exist for (arXiv:2302.03169 §3): keep probability proportional to
    the (linearly calibrated) importance weight, drawn through the
    deterministic md5 gate (operators/sampling.py:weighted_keep_expr —
    zero shuffle, restart-stable, reproducible across engines). Output
    is auditable: every doc with its weight, rate, draw, and keep
    decision."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import sample_key, weighted_keep_expr

    docs = load_table(spark, sf, "documents")
    target = docs.filter(F.col("source") == DSIR_TARGET_SOURCE)
    w = TX.dsir_importance_weights(docs, target, n_buckets=DSIR_BUCKETS)
    rate = (
        F.col("logratio_per_bigram") + F.lit(DSIR_RESAMPLE_OFFSET)
    ) / F.lit(DSIR_RESAMPLE_SCALE)
    return w.select(
        "doc_id",
        "logratio_per_bigram",
        rate.alias("resample_rate"),
        sample_key(F.col("doc_id"), "dsir-resample").alias("sample_key"),
        weighted_keep_expr(F.col("doc_id"), rate, "dsir-resample").alias("kept"),
    ).orderBy("doc_id")


SQL_DSIR_RESAMPLE = f"""
WITH dsir AS ({SQL_DSIR_WEIGHTS}),
rated AS (
  SELECT doc_id, logratio_per_bigram,
         (logratio_per_bigram + {DSIR_RESAMPLE_OFFSET}) / {DSIR_RESAMPLE_SCALE}
           AS resample_rate,
         substr(md5('dsir-resample:' || CAST(doc_id AS VARCHAR)), 1, 4)
           AS sample_key
  FROM dsir)
SELECT doc_id, logratio_per_bigram, resample_rate, sample_key,
       (resample_rate >= 1.0 OR
        sample_key < printf('%04x',
          CAST(floor(greatest(resample_rate, 0.0) * 65536.0) AS BIGINT)))
         AS kept
FROM rated
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_dsir_resample"] = (
    q_corpus_dsir_resample,
    SQL_DSIR_RESAMPLE,
)


def q_corpus_exact_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr dedup spans (r6): every 20-token span occurring more
    than once anywhere in the corpus, merged per doc — Lee et al. 2021
    (arXiv:2107.06499) done Spark-shaped (hash-grouped k-gram stream
    instead of a suffix array; operators/dedup.exact_substring_spans).
    md5 over the joined token slice is byte-identical in both engines,
    so the full flag→merge pipeline is hash-exact."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import exact_substring_spans

    docs = load_table(spark, sf, "documents")
    return exact_substring_spans(docs, k=20)


SQL_EXACT_SUBSTRING_SPANS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, p AS pos, md5(array_to_string(t[p:p+19], ' ')) AS g
  FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(p)),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
flagged AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM flagged),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos > prev + 20 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM lagged)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end,
       COUNT(*) AS n_positions
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""

DATAPIPE_QUERIES["corpus_exact_substring_spans"] = (
    q_corpus_exact_substring_spans,
    SQL_EXACT_SUBSTRING_SPANS,
)


def q_corpus_substring_clean(spark: SparkSession, sf: str) -> DataFrame:
    """The ExactSubstr CUT step through the driver gate (r6): rebuild
    each flagged doc's text with every duplicated-span token removed
    (operators/dedup.remove_duplicate_spans — positional-HOF filter
    after one equi-join; the token stream is never exploded). Only
    docs that HAD spans are returned (untouched docs would dominate
    the output with byte-identical passthroughs). The oracle takes the
    opposite physical shape — unnest-with-ordinality + anti-join +
    ordered string_agg — and must land on the same strings, which is
    the point: the semantics are engine-independent."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        exact_substring_spans,
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf, "documents")
    # Pin the spans once (r12 optimization round, guide §2.4): the
    # flagged-doc set and the cut step both consume them, and without
    # the pin each re-ran the whole k-gram dedup-window pipeline.
    # Span-sized (duplicated regions only). Lazy.
    spans = exact_substring_spans(docs, k=20).localCheckpoint(eager=False)
    flagged = docs.join(spans.select("doc_id").distinct(), "doc_id")
    return (
        remove_duplicate_spans(flagged, spans)
        .select("doc_id", "clean_text", F.length("clean_text").alias("clean_chars"))
        .orderBy("doc_id")
    )


SQL_SUBSTRING_CLEAN = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, p AS pos, md5(array_to_string(t[p:p+19], ' ')) AS g
  FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(p)),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
flagged AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM flagged),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos > prev + 20 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM lagged),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end
  FROM isl GROUP BY doc_id, island),
positions AS (
  SELECT doc_id, t[p] AS tok, p AS pos
  FROM toks, unnest(generate_series(1, len(t))) AS u(p)
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM spans)),
kept AS (
  SELECT p.doc_id, p.tok, p.pos
  FROM positions p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.span_start AND s.span_end))
SELECT doc_id,
       COALESCE(STRING_AGG(tok, ' ' ORDER BY pos), '') AS clean_text,
       LENGTH(COALESCE(STRING_AGG(tok, ' ' ORDER BY pos), '')) AS clean_chars
FROM (SELECT DISTINCT doc_id FROM spans) d
LEFT JOIN kept USING (doc_id)
GROUP BY doc_id
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_substring_clean"] = (
    q_corpus_substring_clean,
    SQL_SUBSTRING_CLEAN,
)


def q_corpus_substring_spans_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ExactSubstr through the driver gate (r7; persisted
    store + mixed probe modes r8): the corpus arrives as THREE appends
    (doc_id mod 3) into a real on-disk ExactSubstrIndex — the
    PRODUCTION path: bucketed g-store segments, content-derived txn
    ids, LSM flagged/unique/dup tables. The first two appends probe
    with the broadcast gram set; the LAST append is forced through the
    co-partitioned SHUFFLE probe (the r8 bulk path: batch side
    repartitioned to the store's bucket layout, store scans
    Exchange-free), so BOTH probe modes flow into the hash gate. The
    oracle computes from-scratch spans over the WHOLE corpus — hash
    equality IS the rebuild-equivalence proof, including old docs whose
    grams only duplicate when a later batch lands (the 1→2 frontier
    transition). Also pinned by tests/test_exact_substring.py and the
    substr-* CLI.

    Scale shape per append: map-only gram build of the batch, one scan
    of each stored table with NO store shuffle in either mode, one
    batch-keyed count window."""
    import shutil
    import tempfile

    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="driver_xs_")
    try:
        idx = ExactSubstrIndex(d, k=20, num_buckets=8)
        for i in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == i)
            idx.append(
                batch,
                txn_id=f"driver_b{i}",
                probe_mode="shuffle" if i == 2 else "broadcast",
            )
        # spans are duplicate-bounded (small) — pin them so the frame
        # outlives the index files (the lineage-vs-teardown rule every
        # stateful row uses); the gram-scale store never leaks
        return idx.spans(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


DATAPIPE_QUERIES["corpus_substring_spans_incremental"] = (
    q_corpus_substring_spans_incremental,
    SQL_EXACT_SUBSTRING_SPANS,
)


# corpus-export manifest (r7): fixed merge list + fixed shuffle seed so
# both engines derive identical coordinates. The multi-char merges
# (("sc","an")) exercise whole-symbol match semantics — a boundary
# substring like the 'a'+'n' inside "ban" must NOT merge under ("a","n")
# once 'ba' is one symbol.
_EXPORT_MERGES = [("a", "n"), ("o", "r"), ("s", "c"), ("sc", "an"), ("t", "h")]
_EXPORT_SEED = 7
_EXPORT_SEQ = 512


def q_corpus_export_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-export deliverable's manifest through the driver gate
    (r7): per-doc BPE token counts under a FIXED merge list, a seeded
    deterministic global shuffle (order key = md5(seed|doc_id), the
    restart-stable engine-independent draw run_pipeline corpus-export
    uses), and the hierarchical prefix-sum packing coordinates
    (tokens_before / pack_id / pack_offset) in that shuffled order —
    exactly what a trainer consumes. The oracle re-derives the BPE
    segmentation with wrapped-symbol string replaces and the
    coordinates with a naive global window; hash equality proves the
    distributed merge fold + two-phase prefix sum + md5 order are all
    engine-exact.

    Scale shape: the merge loop runs over DISTINCT words (vocab-sized,
    broadcast back), the shuffle key is a map-side expression, and the
    prefix sum is the bucketed two-phase decomposition — no global
    window; bucket width derives from the observed key span (bounded
    3-scalar probe), the same sizing the export CLI does for sparse
    md5 keys."""
    from cdc_historical_warehouse_platform_spark.operators import bpe as BPE
    from cdc_historical_warehouse_platform_spark.operators.packing import packed_sequence_ids

    docs = load_table(spark, sf, "documents")
    counts = BPE.bpe_token_counts(docs.select("doc_id", "text"), _EXPORT_MERGES)
    ord_key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{_EXPORT_SEED}|"), F.col("doc_id").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    base = counts.withColumn("__ord", ord_key).localCheckpoint(eager=False)
    bounds = base.agg(
        F.min("__ord").alias("lo"), F.max("__ord").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    span = int(bounds["hi"]) - int(bounds["lo"]) + 1
    target_buckets = max(1, min(65536, int(bounds["n"]) // 16384 + 1))
    bucket_size = max(16384, -(-span // target_buckets))
    return (
        packed_sequence_ids(
            base,
            token_col="n_bpe_tokens",
            seq_len=_EXPORT_SEQ,
            order_col="__ord",
            bucket_size=bucket_size,
        )
        .select("doc_id", "n_bpe_tokens", "tokens_before", "pack_id", "pack_offset")
        .orderBy("doc_id")
    )


def _sql_apply_merges(expr: str) -> str:
    """Nested-replace application of _EXPORT_MERGES over a
    wrapped-symbol string (each symbol enclosed in chr(31) on BOTH
    sides): merge (x, y) rewrites SEPxSEP SEPySEP -> SEPxySEP.  The
    wrapping makes matches whole-symbol-anchored (no cross-boundary
    false merges) and replace()'s left-to-right non-overlapping scan
    IS the BPE in-round greedy semantics."""
    out = expr
    for left, right in _EXPORT_MERGES:
        pat = f"chr(31) || '{left}' || chr(31) || chr(31) || '{right}' || chr(31)"
        rep = f"chr(31) || '{left}{right}' || chr(31)"
        out = f"replace({out}, {pat}, {rep})"
    return out


SQL_EXPORT_MANIFEST = f"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split({SQL_NORM}, ' '), x -> x <> '')) AS w
  FROM documents),
vocab AS (SELECT DISTINCT w FROM words),
seg AS (
  SELECT w,
         {_sql_apply_merges(
             "array_to_string(list_transform(range(1, length(w) + 1),"
             " i -> chr(31) || substr(w, CAST(i AS INT), 1) || chr(31)), '')"
         )} AS m
  FROM vocab),
segn AS (
  SELECT w,
         (length(m) - length(replace(m, chr(31), ''))) / 2 AS n_subtokens
  FROM seg),
counts AS (
  SELECT doc_id, CAST(SUM(n_subtokens) AS BIGINT) AS n_bpe_tokens
  FROM words JOIN segn USING (w) GROUP BY doc_id),
ordered AS (
  SELECT doc_id, n_bpe_tokens,
         substr(md5('{_EXPORT_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15) AS ok
  FROM counts),
cum AS (
  SELECT doc_id, n_bpe_tokens,
         CAST(SUM(n_bpe_tokens) OVER (ORDER BY ok
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_bpe_tokens AS BIGINT) AS tokens_before
  FROM ordered)
SELECT doc_id, n_bpe_tokens, tokens_before,
       CAST((tokens_before - tokens_before % {_EXPORT_SEQ}) / {_EXPORT_SEQ} AS BIGINT) AS pack_id,
       CAST(tokens_before % {_EXPORT_SEQ} AS BIGINT) AS pack_offset
FROM cum
ORDER BY doc_id
"""

DATAPIPE_QUERIES["corpus_export_manifest"] = (
    q_corpus_export_manifest,
    SQL_EXPORT_MANIFEST,
)


# --- HTML text extraction (r9 continuation) ---------------------------------


_HTML_HEAD = (
    '<html><head><script type="text/javascript">var x = 1 < 2;</script>'
    "<style>p { color: red; }</style></head><body><!-- crawler\nheader -->"
    '<nav><a href="/">Home</a> | <a href="/about">About</a></nav><h1>'
)
_HTML_MID = "</h1><p>"
_HTML_TAIL1 = '</p><div class="meta">&amp;copy; &lt;site&gt;&nbsp;&#39;'
_HTML_TAIL2 = "&#39;</div></body></html>"


def q_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """WET-style HTML→text extraction, entirely JVM-side
    (operators/html.strip_html): wrap each document in a
    deterministic crawl-page skeleton (script + style + comment +
    nav boilerplate + entity-bearing footer), then strip it back to
    visible text with the Catalyst regexp/replace chain. The oracle
    runs the literally-same patterns in DuckDB (Java-regex ∩ RE2
    dialect — no backreferences, inline (?s) only), so dialect drift
    in any pattern fails the hash. Map-only: no shuffle, whole-stage
    codegen end-to-end."""
    from cdc_historical_warehouse_platform_spark.operators.html import strip_html

    docs = load_table(spark, sf, "documents")
    page = F.concat(
        F.lit(_HTML_HEAD),
        F.col("source"),
        F.lit(_HTML_MID),
        F.col("text"),
        F.lit(_HTML_TAIL1),
        F.col("lang"),
        F.lit(_HTML_TAIL2),
    )
    extracted = strip_html(page)
    return docs.select(
        "doc_id",
        extracted.alias("extracted"),
        F.length(extracted).cast("int").alias("n_chars"),
    ).orderBy("doc_id")


def _sql_html_extract() -> str:
    from cdc_historical_warehouse_platform_spark.operators.html import strip_html_sql

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    page = (
        f"{lit(_HTML_HEAD)} || source || {lit(_HTML_MID)} || text || "
        f"{lit(_HTML_TAIL1)} || lang || {lit(_HTML_TAIL2)}"
    )
    stripped = strip_html_sql(page)
    return f"""
SELECT doc_id,
       {stripped} AS extracted,
       CAST(length({stripped}) AS INT) AS n_chars
FROM documents
ORDER BY doc_id
"""


DATAPIPE_QUERIES["text_html_extract"] = (q_html_extract, _sql_html_extract())


# --- Gopher quality rules (r9 continuation) ---------------------------------


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q_text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, public
    appendix A): word-count bounds, mean word length bounds,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic
    word fraction, and stopword presence — the canonical pre-filter of
    web-scale training corpora. The corpus has no line structure, so
    lines are synthesized deterministically in-query (8-word lines;
    every 5th bulleted, every 7th ellipsis-terminated) exactly as the
    oracle does — word-level rules run on the ORIGINAL text,
    line-level rules on the constructed lines. One codegen'd map-only
    projection: no shuffle, no Python."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_words = F.size(toks)
    mean_wl = F.length(F.array_join(toks, "")).cast("double") / F.greatest(
        n_words, F.lit(1)
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ell).cast("double") / F.greatest(n_words, F.lit(1))
    alpha_frac = F.size(
        F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("double") / F.greatest(n_words, F.lit(1))
    lower_toks = F.transform(toks, F.lower)
    n_stops = sum(
        F.array_contains(lower_toks, F.lit(s)).cast("int") for s in _GOPHER_STOPS
    )
    # ceil division via explicit floor: Spark's double->int CAST
    # truncates while DuckDB's ROUNDS, so the cast must see an
    # already-floored value in both engines
    n_lines = F.greatest(F.floor((n_words + F.lit(7)) / F.lit(8)), F.lit(1)).cast(
        "int"
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.concat(
            F.when(i % 5 == 2, F.lit("- ")).otherwise(F.lit("")),
            F.array_join(F.slice(toks, i * F.lit(8) + F.lit(1), F.lit(8)), " "),
            F.when(i % 7 == 3, F.lit("...")).otherwise(F.lit("")),
        ),
    )
    bullet_frac = F.size(
        F.filter(lines, lambda l: l.like("- %"))
    ).cast("double") / n_lines.cast("double")
    ellipsis_frac = F.size(
        F.filter(lines, lambda l: l.like("%..."))
    ).cast("double") / n_lines.cast("double")
    keep = (
        n_words.between(50, 100000)
        & mean_wl.between(3.0, 10.0)
        & (symbol_ratio < 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_frac > 0.8)
        & (n_stops >= 2)
    )
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stops.cast("int").alias("n_stop_present"),
        keep.cast("int").alias("keep"),
    ).orderBy("doc_id")


_GOPHER_STOP_SUM = " + ".join(
    f"CAST(list_contains(lt, '{s}') AS INT)" for s in _GOPHER_STOPS
)

SQL_GOPHER_RULES = rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell
  FROM documents),
m AS (
  SELECT doc_id, t, lt, n_hash, n_ell,
         len(t) AS n_words,
         greatest(CAST(floor((len(t) + 7) / 8) AS INT), 1) AS n_lines
  FROM base),
lined AS (
  SELECT *,
         list_transform(range(0, n_lines), i ->
           (CASE WHEN i % 5 = 2 THEN '- ' ELSE '' END)
           || array_to_string(t[i*8+1 : i*8+8], ' ')
           || (CASE WHEN i % 7 = 3 THEN '...' ELSE '' END)) AS lines
  FROM m),
scored AS (
  SELECT doc_id,
         CAST(n_words AS INT) AS n_words,
         CAST(length(array_to_string(t, '')) AS DOUBLE) / greatest(n_words, 1)
           AS mean_word_len,
         CAST(n_hash + n_ell AS DOUBLE) / greatest(n_words, 1)
           AS symbol_word_ratio,
         CAST(len(list_filter(lines, l -> l LIKE '- %')) AS DOUBLE)
           / CAST(n_lines AS DOUBLE) AS bullet_line_frac,
         CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
           / CAST(n_lines AS DOUBLE) AS ellipsis_line_frac,
         CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
           / greatest(n_words, 1) AS alpha_word_frac,
         CAST({_GOPHER_STOP_SUM} AS INT) AS n_stop_present
  FROM lined)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
       ellipsis_line_frac, alpha_word_frac, n_stop_present,
       CAST(n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_word_ratio < 0.1
            AND bullet_line_frac < 0.9
            AND ellipsis_line_frac < 0.3
            AND alpha_word_frac > 0.8
            AND n_stop_present >= 2 AS INT) AS keep
FROM scored
ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_gopher_rules"] = (q_text_gopher_rules, SQL_GOPHER_RULES)


# --- C4 line filters + unicode sanitation (r9 continuation) -----------------


def q_text_c4_filters(spark: SparkSession, sf: str) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, public §2.2) at
    line granularity: keep lines ending in terminal punctuation with
    >= 5 words and no "javascript"; drop documents containing lorem
    ipsum or curly braces. Lines are synthesized deterministically
    (8-word lines, every 3rd period-terminated, every 11th ending in
    the word javascript) identically to the oracle. Map-only,
    codegen'd."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_words = F.size(toks)
    n_lines = F.greatest(F.floor((n_words + F.lit(7)) / F.lit(8)), F.lit(1)).cast(
        "int"
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * F.lit(8) + F.lit(1), F.lit(8)), " "),
            F.when(i % 11 == 5, F.lit(" javascript")).otherwise(F.lit("")),
            F.when(i % 3 == 1, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    kept_lines = F.filter(
        lines,
        lambda l: l.endswith(".")
        & (F.size(F.filter(F.split(l, " "), lambda w: w != "")) >= 5)
        & ~l.contains("javascript"),
    )
    doc_ok = ~F.col("text").contains("lorem ipsum") & ~F.col("text").rlike(
        "[{}]"
    )
    return docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept_lines).alias("n_kept_lines"),
        F.when(doc_ok, F.array_join(kept_lines, "\n")).otherwise(F.lit("")).alias(
            "clean_text"
        ),
        doc_ok.cast("int").alias("doc_ok"),
    ).orderBy("doc_id")


SQL_C4_FILTERS = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
m AS (
  SELECT doc_id, text, t,
         greatest(CAST(floor((len(t) + 7) / 8) AS INT), 1) AS n_lines
  FROM base),
lined AS (
  SELECT doc_id, text, n_lines,
         list_transform(range(0, n_lines), i ->
           array_to_string(t[i*8+1 : i*8+8], ' ')
           || (CASE WHEN i % 11 = 5 THEN ' javascript' ELSE '' END)
           || (CASE WHEN i % 3 = 1 THEN '.' ELSE '' END)) AS lines
  FROM m),
kept AS (
  SELECT doc_id, text, n_lines, lines,
         list_filter(lines, l ->
           l LIKE '%.'
           AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
           AND l NOT LIKE '%javascript%') AS kept_lines
  FROM lined)
SELECT doc_id,
       CAST(n_lines AS INT) AS n_lines,
       CAST(len(kept_lines) AS INT) AS n_kept_lines,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark
       CASE WHEN text NOT LIKE '%lorem ipsum%'
                 AND NOT regexp_matches(text, '[{}]')
            THEN coalesce(array_to_string(kept_lines, chr(10)), '')
            ELSE '' END AS clean_text,
       CAST(text NOT LIKE '%lorem ipsum%'
            AND NOT regexp_matches(text, '[{}]') AS INT) AS doc_ok
FROM kept
ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_c4_filters"] = (q_text_c4_filters, SQL_C4_FILTERS)


def q_text_unicode_sanitize(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode hygiene — the ingest-time sanitation every crawl
    pipeline runs: CRLF normalization, C0/DEL control-char stripping
    (tab/newline kept), zero-width character removal (ZWSP/ZWNJ/ZWJ/
    BOM), with removal counts. The corpus is clean ASCII, so noise is
    injected deterministically (same construction in the oracle) to
    exercise every rule. Patterns use \\x{...} escapes valid in both
    Java regex and RE2."""
    docs = load_table(spark, sf, "documents")
    noisy = F.concat(
        F.lit("\x01﻿hdr\r\nrow "),
        F.col("text"),
        F.lit(" tail​z\x07\x7f"),
    )
    crlf = F.regexp_replace(noisy, r"\r\n?", "\n")
    ctrl_pat = r"[\x{0}-\x{8}\x{B}\x{C}\x{E}-\x{1F}\x{7F}]"
    zw_pat = r"[\x{200B}-\x{200D}\x{FEFF}]"
    no_ctrl = F.regexp_replace(crlf, ctrl_pat, "")
    clean = F.regexp_replace(no_ctrl, zw_pat, "")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length(crlf) - F.length(no_ctrl)).cast("int").alias("n_control"),
        (F.length(no_ctrl) - F.length(clean)).cast("int").alias("n_zero_width"),
    ).orderBy("doc_id")


SQL_UNICODE_SANITIZE = r"""
WITH noisy AS (
  SELECT doc_id,
         chr(1) || chr(65279) || 'hdr' || chr(13) || chr(10) || 'row '
           || text || ' tail' || chr(8203) || 'z' || chr(7) || chr(127) AS s
  FROM documents),
crlf AS (
  SELECT doc_id, regexp_replace(s, '\r\n?', chr(10), 'g') AS s FROM noisy),
noctrl AS (
  SELECT doc_id, s,
         regexp_replace(s, '[\x{0}-\x{8}\x{B}\x{C}\x{E}-\x{1F}\x{7F}]', '', 'g') AS s2
  FROM crlf)
SELECT doc_id,
       regexp_replace(s2, '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g') AS clean_text,
       CAST(length(s) - length(s2) AS INT) AS n_control,
       CAST(length(s2)
            - length(regexp_replace(s2, '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'))
            AS INT) AS n_zero_width
FROM noctrl
ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_unicode_sanitize"] = (
    q_text_unicode_sanitize,
    SQL_UNICODE_SANITIZE,
)


# --- two-stage coarse-to-fine ANN (r9 continuation) -------------------------


_TS_DIMS = 16  # truncated-prefix width for the cheap first pass
_TS_K1 = 40  # candidates per query surviving stage 1


def q_ann_two_stage(spark: SparkSession, sf: str) -> DataFrame:
    """Coarse-to-fine two-stage search — the Matryoshka / rerank
    pattern of modern embedding pipelines: stage 1 searches ONLY the
    first 16 dimensions (the Matryoshka prefix) through the IVF coarse
    quantizer — each query probes its 2 closest of 8 lists, so the
    cheap pass scores ~n_probes/n_lists of the corpus, never all
    pairs — and keeps the top-40 candidates per query; stage 2
    reranks just those candidates with the exact full-dimension
    cosine and emits the top-10.

    Scale posture (r10, verdict task #4): stage 1 is list-pruned (no
    CartesianProduct/BNLJ anywhere — the row left the
    ALL_PAIRS_BY_DESIGN lint exemption) and operates on a computed
    prefix column; the PERSISTED Matryoshka layout — a stored prefix
    column scanned without touching the full vectors — lives in
    sources/ann_index.IVFIndex(prefix_dims=...) + probe_two_stage,
    whose stage-1 scan is plan-pinned to read the narrow column only
    (tests/test_ann_index.py). Stage 2 touches only k1 rows per query
    through a broadcast candidate join — the expensive full-dim math
    runs on 40 rows/query instead of the whole corpus. Every stage is
    deterministic (portable md5-seeded quantizer, sequential-fold
    cosine, (score DESC, id ASC) tie-breaks), so the DuckDB twin
    re-derives the same centroids from scratch and is hash-exact."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    trunc_corpus = emb.select(
        "vec_id", F.slice("embedding", 1, _TS_DIMS).alias("embedding")
    )
    trunc_queries = queries.select(
        "query_id", F.slice("query_vec", 1, _TS_DIMS).alias("query_vec")
    )
    cand = ivf_topk(
        trunc_corpus, trunc_queries, k=_TS_K1, n_lists=8, n_probes=2
    ).select("query_id", "neighbor_id")
    from cdc_historical_warehouse_platform_spark.operators.similarity import cosine as _cos

    rerank = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
        .join(F.broadcast(cand.join(queries, "query_id")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cos(F.col("query_vec"), F.col("__cv")).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    )


SQL_ANN_TWO_STAGE = f"""
WITH pemb AS (
  SELECT vec_id, embedding[1:{_TS_DIMS}] AS embedding FROM embeddings),
{_sql_ivf_cents(8, table='pemb')},
a1r AS (
  SELECT e.vec_id, e.embedding, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_cosine('e.embedding', 'c.c')} DESC,
                                     c.list_id) AS rn
  FROM pemb e CROSS JOIN cvec c),
a1 AS (SELECT vec_id AS neighbor_id, embedding, list_id FROM a1r WHERE rn = 1),
pr AS (
  SELECT p.vec_id AS query_id, p.embedding AS qv16, c.list_id,
         row_number() OVER (PARTITION BY p.vec_id
                            ORDER BY {_sql_cosine('p.embedding', 'c.c')} DESC,
                                     c.list_id) AS rn
  FROM pemb p CROSS JOIN cvec c WHERE p.vec_id < 10),
probed AS (SELECT query_id, qv16, list_id FROM pr WHERE rn <= 2),
s1 AS (
  SELECT p.query_id, a.neighbor_id,
         {_sql_cosine('p.qv16', 'a.embedding')} AS c1
  FROM a1 a JOIN probed p ON a.list_id = p.list_id
  WHERE a.neighbor_id <> p.query_id),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY c1 DESC, neighbor_id ASC) AS rk
    FROM s1) WHERE rk <= {_TS_K1}),
rerank AS (
  SELECT c.query_id, c.neighbor_id,
         {_sql_cosine('q.qv', 'e.embedding')} AS cosine
  FROM cand c
  JOIN q USING (query_id)
  JOIN embeddings e ON e.vec_id = c.neighbor_id)
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rerank)
WHERE rank <= 10
ORDER BY query_id, rank
"""

DATAPIPE_QUERIES["ann_two_stage_rerank"] = (q_ann_two_stage, SQL_ANN_TWO_STAGE)


# --- URL-canonicalization dedup (r10) ---------------------------------------


def q_dedup_url_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-URL dedup after canonicalization — the first dedup tier
    of CC-scale pipelines (CCNet/C4/RefinedWeb dedup by normalized URL
    before any content pass). The documents table carries no URL
    column, so the row synthesizes one DETERMINISTICALLY per doc —
    scheme/case/www/port/tracking-param/fragment variants arranged so
    doc pairs (2k, 2k+1) differ only in noise the canonicalizer must
    remove — then groups by operators/urls.normalize_url. Map-only
    projection + one count shuffle; the regex chain is shared verbatim
    with the DuckDB twin (Java ∩ RE2, per-dialect group syntax)."""
    from cdc_historical_warehouse_platform_spark.operators.urls import normalize_url

    docs = load_table(spark, sf, "documents")
    did = F.col("doc_id")
    g = F.floor(did / F.lit(2)).cast("long")
    num = (g % 20).cast("string")
    scheme = F.when(g % 2 == 0, F.lit("https://")).otherwise(F.lit("http://"))
    www = F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit(""))
    host = F.when(
        did % 5 == 0, F.concat(F.lit("SITE"), num, F.lit(".EXAMPLE"))
    ).otherwise(F.concat(F.lit("site"), num, F.lit(".example")))
    port = F.when(
        did % 7 == 0,
        F.when(g % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
    ).otherwise(F.lit(""))
    path = F.when(
        g % 11 == 0,
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    ).otherwise(F.concat(F.lit("/d/"), g.cast("string")))
    base_q = F.when(
        g % 3 == 0, F.concat(F.lit("?ref="), (g % 7).cast("string"))
    ).otherwise(F.lit(""))
    track = F.when(
        did % 2 == 0,
        F.when(g % 3 == 0, F.lit("&utm_source=feed&utm_medium=rss")).otherwise(
            F.lit("?utm_campaign=x&utm_term=y")
        ),
    ).otherwise(F.lit(""))
    frag = F.when(did % 6 == 0, F.lit("#frag")).otherwise(F.lit(""))
    url = F.concat(scheme, www, host, port, path, base_q, track, frag)
    return (
        docs.select(
            did.alias("doc_id"),
            url.alias("url"),
            normalize_url(url).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("kept_doc"),
        )
        .orderBy("canonical_url")
    )


def _sql_dedup_url() -> str:
    from cdc_historical_warehouse_platform_spark.operators.urls import (
        normalize_url_sql,
    )

    url = """concat(
      CASE WHEN (g % 2) = 0 THEN 'https://' ELSE 'http://' END,
      CASE WHEN (doc_id % 3) = 0 THEN 'www.' ELSE '' END,
      CASE WHEN (doc_id % 5) = 0
           THEN concat('SITE', CAST((g % 20) AS VARCHAR), '.EXAMPLE')
           ELSE concat('site', CAST((g % 20) AS VARCHAR), '.example') END,
      CASE WHEN (doc_id % 7) = 0
           THEN CASE WHEN (g % 2) = 0 THEN ':443' ELSE ':80' END
           ELSE '' END,
      CASE WHEN (g % 11) = 0
           THEN CASE WHEN (doc_id % 2) = 0 THEN '/' ELSE '' END
           ELSE concat('/d/', CAST(g AS VARCHAR)) END,
      CASE WHEN (g % 3) = 0
           THEN concat('?ref=', CAST((g % 7) AS VARCHAR)) ELSE '' END,
      CASE WHEN (doc_id % 2) = 0
           THEN CASE WHEN (g % 3) = 0
                THEN '&utm_source=feed&utm_medium=rss'
                ELSE '?utm_campaign=x&utm_term=y' END
           ELSE '' END,
      CASE WHEN (doc_id % 6) = 0 THEN '#frag' ELSE '' END)"""
    return f"""
WITH u AS (
  SELECT doc_id, {url} AS url
  FROM (SELECT doc_id, CAST(floor(doc_id / 2) AS BIGINT) AS g FROM documents)),
c AS (SELECT doc_id, url, {normalize_url_sql('url')} AS canonical_url FROM u)
SELECT canonical_url,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT url) AS n_variants,
       MIN(doc_id) AS kept_doc
FROM c GROUP BY canonical_url ORDER BY canonical_url
"""


DATAPIPE_QUERIES["dedup_url_normalized"] = (
    q_dedup_url_normalized,
    _sql_dedup_url(),
)


def q_char_ngram_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Character-trigram diversity per document (r12) — the exact
    repetition/diversity signal beside text_repetition_scores: the
    Simpson collision index Σc² over trigram counts c (the exact
    rational core of Rényi-2 entropy, −ln(Σ(c/n)²)) stays in BIGINT so
    no libm call can diverge across engines; the shipped ratio is one
    integer division, floor(10⁶·Σc² / n²).

    Scale shape: explode → (doc, gram) groupBy with map-side combine →
    per-doc aggregate — two key-bounded shuffles, no windows, no UDFs;
    normalization shares SQL_NORM/normalize_text with the dedup tier."""
    docs = load_table(spark, sf, "documents")
    nt = docs.select(
        "doc_id", TX.normalize_text(F.col("text")).alias("__nt")
    )
    grams = nt.select(
        "doc_id",
        F.explode_outer(
            F.when(
                F.length("__nt") >= 3,
                F.expr(
                    "transform(sequence(1, length(__nt) - 2),"
                    " i -> substring(__nt, i, 3))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    c = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("distinct_grams"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("collision_sum"),
        )
        .select(
            "doc_id",
            "n_grams",
            "distinct_grams",
            "collision_sum",
            F.expr(
                "(1000000 * collision_sum) div (n_grams * n_grams)"
            ).alias("simpson_micro"),
        )
        .orderBy("doc_id")
    )


SQL_CHAR_NGRAM_DIVERSITY = f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS nt FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(length(nt) - 2, 0) + 1),
                                   i -> substr(nt, i, 3))) AS gram
      FROM norm),
c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       COUNT(*) AS distinct_grams,
       CAST(SUM(cnt * cnt) AS BIGINT) AS collision_sum,
       CAST((1000000 * CAST(SUM(cnt * cnt) AS BIGINT))
            // (CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT))
            AS BIGINT) AS simpson_micro
FROM c GROUP BY doc_id ORDER BY doc_id
"""

DATAPIPE_QUERIES["text_char_ngram_diversity"] = (
    q_char_ngram_diversity,
    SQL_CHAR_NGRAM_DIVERSITY,
)


def q_corpus_ngram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/test n-gram contamination COVERAGE per language (r12) —
    the corpus-level measurement beside corpus_decontaminate's per-doc
    flags: split the corpus into a held-out slice (doc_id % 10 == 0)
    and a train remainder, and report what fraction of the held-out
    slice's distinct word-trigram shingles also occur in train. The
    number an eval-leakage report leads with.

    Exactness: counts and one integer division (micro units) — no
    floats anywhere. Scale shape: shingles share the dedup tier's
    _shingles path (per-doc DISTINCT sets, O(len) per doc); the two
    DISTINCT (lang, shingle) sets shuffle on the shingle key
    (map-side-combined), and the coverage join is equi-keyed — no
    all-pairs, no windows, vocabulary-bounded intermediate."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import _shingle_sets

    docs = load_table(spark, sf, "documents")
    # Pin the per-doc shingle SETS (with lang) once (r12 optimization
    # round, guide §2.4): the test and train sides each re-ran the
    # regex-heavy tokenize + lang join over the whole corpus (4
    # document scans in the audited plan). The explode per side over
    # the pinned arrays is cheap. Lazy pin.
    sets = (
        _shingle_sets(docs, "text", "doc_id", 3)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=False)
    )
    g = sets.select(
        "doc_id", "lang", F.explode_outer("sh_set").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    test_g = (
        g.filter(F.col("doc_id") % 10 == 0).select("lang", "shingle").distinct()
    )
    train_g = (
        g.filter(F.col("doc_id") % 10 != 0).select("lang", "shingle").distinct()
    )
    joined = test_g.join(
        train_g.withColumn("__hit", F.lit(1)), ["lang", "shingle"], "left"
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_covered"),
        )
        .select(
            "lang",
            "n_test_grams",
            "n_covered",
            F.expr("(1000000 * n_covered) div n_test_grams").alias(
                "coverage_micro"
            ),
        )
        .orderBy("lang")
    )


SQL_NGRAM_COVERAGE = f"""
WITH norm AS (SELECT doc_id, lang, {SQL_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, lang,
                list_filter(string_split(nt, ' '), x -> x <> '') AS t
         FROM norm),
sh AS (SELECT doc_id, lang,
              list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks),
x AS (SELECT doc_id, lang, unnest(s) AS shingle FROM sh),
test_g AS (SELECT DISTINCT lang, shingle FROM x WHERE doc_id % 10 = 0),
train_g AS (SELECT DISTINCT lang, shingle FROM x WHERE doc_id % 10 <> 0)
SELECT t.lang,
       COUNT(*) AS n_test_grams,
       CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST((1000000 * CAST(SUM(CASE WHEN tr.shingle IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT))
            // COUNT(*) AS BIGINT) AS coverage_micro
FROM test_g t
LEFT JOIN train_g tr ON t.lang = tr.lang AND t.shingle = tr.shingle
GROUP BY 1 ORDER BY 1
"""

DATAPIPE_QUERIES["corpus_ngram_coverage"] = (
    q_corpus_ngram_coverage,
    SQL_NGRAM_COVERAGE,
)


def q_dedup_cluster_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster SIZE distribution (r12) — the corpus-health
    diagnostic above dedup_components' per-doc labels: how many
    near-dup clusters exist at each size, plus the docs they'd retire
    (size − 1 per cluster). The number a dedup report leads with, and
    the skew signal that says whether one mega-cluster (boilerplate,
    mirrored site) dominates the pair graph.

    Scale shape: inherits the banded-LSH pair tier (never all-pairs);
    the histogram is two grouped counts over the component labels —
    pair-graph-sized, corpus-size-independent."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import connected_components

    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, bands=32, rows_per_band=2, threshold=0.5)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("docs_retired"),
        )
        .orderBy("cluster_size")
    )


SQL_DEDUP_CLUSTER_SIZES = f"""
WITH RECURSIVE {_sql_shingles(None)},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON i.doc_a = sa.doc_id
  JOIN sz sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n AS DOUBLE) / (sa.n + sb.n - i.n) >= 0.5),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node),
comp AS (SELECT node AS doc_id, MIN(label) AS component_id
         FROM reach GROUP BY node),
sizes AS (SELECT component_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY 1)
SELECT cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_retired
FROM sizes GROUP BY 1 ORDER BY 1
"""

DATAPIPE_QUERIES["dedup_cluster_size_histogram"] = (
    q_dedup_cluster_size_histogram,
    SQL_DEDUP_CLUSTER_SIZES,
)


def q_corpus_global_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training shuffle (r12): every document
    gets a shard in [0, 16) and a dense 0-based position within its
    shard, both pure functions of (salt, doc_id) — the "shuffle the
    corpus before training" step every export runs, reproducible
    across re-runs/backfills and engine-portable (md5 draws, no RNG
    state). Changing the salt is the next epoch's permutation.

    Scale shape (operators/sampling.py:global_shuffle): one shuffle on
    the shard key; the ranking window is PARTITIONED by shard (sort
    input = corpus/num_shards — pick num_shards ≥ cluster cores at
    100 TB). No global sort anywhere; the ORDER BY below is
    display-determinism for the gate, dropped in production."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import global_shuffle

    docs = load_table(spark, sf, "documents")
    return (
        global_shuffle(docs, num_shards=16, key_col="doc_id")
        .select("doc_id", "shard", "position")
        .orderBy("shard", "position")
    )


SQL_GLOBAL_SHUFFLE = """
WITH d AS (
  SELECT doc_id,
         md5('shard-shuffle:' || CAST(doc_id AS VARCHAR)) AS draw
  FROM documents),
s AS (
  SELECT doc_id, draw,
         CAST(('0x' || substr(draw, 1, 8))::BIGINT % 16 AS INT) AS shard
  FROM d)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY draw, doc_id) - 1
            AS BIGINT) AS position
FROM s
ORDER BY shard, position
"""

DATAPIPE_QUERIES["corpus_global_shuffle"] = (
    q_corpus_global_shuffle,
    SQL_GLOBAL_SHUFFLE,
)


def q_corpus_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter blocklist prefilter with exact false-positive
    accounting (r12): the banned-content list is the md5 fingerprint
    of every 'zh' document's text; every document probes an 8192-bit /
    3-hash Bloom filter over that list (sized ~11 bits/key for the
    largest-SF blocklist — ~1-2% FP; an undersized filter saturates
    toward all-maybe, pinned in pytest) and reports maybe_blocked (all
    3 bits hot), blocked (exact membership), and false_positive — the
    measured price of skipping the exact blocklist join on the
    (1−fill)^k of a 100 TB corpus that cannot match.

    Scale shape (operators/dedup.py:bloom_prefilter): the filter is
    the RELATIONAL set of hot bit positions (≤ min(k·|blocklist|, m)
    rows — broadcastable at ANY corpus size because m bounds it); the
    probe is a broadcast position join + bool_and, zero false
    negatives by construction (pinned in pytest). The exact join runs
    over every row HERE only so the gate can check the FP accounting;
    production runs it on the maybe_blocked survivors alone."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import bloom_prefilter

    docs = load_table(spark, sf, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("content_fp"))
    block = docs.filter(F.col("lang") == "zh").select(
        F.md5("text").alias("content_fp")
    )
    return (
        bloom_prefilter(
            keyed,
            block,
            key_col="content_fp",
            id_col="doc_id",
            m=8192,
            k=3,
            salt="blocklist",
        )
        .select("doc_id", "maybe_blocked", "blocked", "false_positive")
        .orderBy("doc_id")
    )


SQL_BLOOM_PREFILTER = """
WITH keyed AS (
  SELECT doc_id, md5(text) AS fp FROM documents),
block AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE lang = 'zh'),
hot AS (
  SELECT DISTINCT
         ('0x' || substr(md5('blocklist-' || CAST(j AS VARCHAR) || ':' || fp), 1, 8))::BIGINT
           % 8192 AS pos
  FROM block, (SELECT unnest([1, 2, 3]) AS j)),
probe AS (
  SELECT doc_id, fp,
         ('0x' || substr(md5('blocklist-' || CAST(j AS VARCHAR) || ':' || fp), 1, 8))::BIGINT
           % 8192 AS pos
  FROM keyed, (SELECT unnest([1, 2, 3]) AS j)),
maybe AS (
  SELECT p.doc_id, p.fp, bool_and(h.pos IS NOT NULL) AS maybe_blocked
  FROM probe p LEFT JOIN hot h ON p.pos = h.pos
  GROUP BY 1, 2)
SELECT m.doc_id, m.maybe_blocked,
       (b.fp IS NOT NULL) AS blocked,
       (m.maybe_blocked AND b.fp IS NULL) AS false_positive
FROM maybe m LEFT JOIN block b ON m.fp = b.fp
ORDER BY m.doc_id
"""

DATAPIPE_QUERIES["corpus_bloom_prefilter"] = (
    q_corpus_bloom_prefilter,
    SQL_BLOOM_PREFILTER,
)


def q_multimodal_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """Waveform feature extraction through the REAL Arrow audio path
    (r12): each doc's first 512 bytes framed as an 8-bit delta-PCM
    payload, decoded by the codec-free dpcm8 decoder (waveform = first
    difference of the byte levels — sign-varying, unlike raw
    offset-binary ASCII), then mapInPandas → numpy features — the
    identical extract_audio_features pipeline a librosa user runs,
    minus only the codec call (multimodal.py env seam).

    Hash-exact oracle: the integer features (n_samples = bytes−1,
    zero_crossings = sign changes of the diff stream) are byte-exact
    VARCHAR twins in DuckDB on the ASCII corpus — the same assumption
    multimodal_frame_sample's green oracle pins. The float columns
    (rms, duration) are excluded here and covered against numpy in
    pytest (test_datapipe.py::test_dpcm8_audio_features)."""
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        dpcm8_decoder,
        extract_audio_features,
    )

    docs = load_table(spark, sf, "documents")
    framed = docs.filter(
        F.col("text").isNotNull() & (F.length("text") >= 2)
    ).select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 512), "utf-8").alias("payload"),
    )
    feats = extract_audio_features(framed, decoder=dpcm8_decoder(16000))
    return feats.select(
        "doc_id", "n_samples", "sample_rate", "zero_crossings"
    ).orderBy("doc_id")


# sample i (1-based, i in 1..len-1) = ascii(char i+1) - ascii(char i);
# signbit(d/128) == (d < 0), zero for d == 0 (numpy signbit of +0.0 is
# False) — so crossings = count of consecutive (d<0) flips.
SQL_AUDIO_FEATURES = """
WITH base AS (
  SELECT doc_id, substring(text, 1, 512) AS s
  FROM documents
  WHERE text IS NOT NULL AND length(text) >= 2),
samp AS (
  SELECT doc_id, s, unnest(range(1, length(s))) AS i
  FROM base),
sgn AS (
  SELECT doc_id, i,
         (ascii(substring(s, CAST(i + 1 AS INT), 1))
          - ascii(substring(s, CAST(i AS INT), 1)) < 0) AS neg
  FROM samp),
flips AS (
  SELECT doc_id, neg,
         lag(neg) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM sgn)
SELECT b.doc_id,
       CAST(length(b.s) - 1 AS INT) AS n_samples,
       CAST(16000 AS INT) AS sample_rate,
       CAST(COUNT(*) FILTER (WHERE f.prev IS NOT NULL AND f.neg <> f.prev)
            AS INT) AS zero_crossings
FROM base b
JOIN flips f ON b.doc_id = f.doc_id
GROUP BY b.doc_id, b.s
ORDER BY b.doc_id
"""

DATAPIPE_QUERIES["multimodal_audio_features"] = (
    q_multimodal_audio_features,
    SQL_AUDIO_FEATURES,
)

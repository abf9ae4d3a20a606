"""Dedup / similarity / text / multimodal operators — correctness and
recall checks the oracle gate can't express (approximate tiers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.dedup import (
    _tune_banding,
    banded_embedding_near_dup,
    embedding_near_dup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_pairs_portable,
)
from cdc_historical_warehouse_platform_spark.operators.similarity import cosine_topk, lsh_bucket_ann
from cdc_historical_warehouse_platform_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image,
    extract_binary_features,
)
from cdc_historical_warehouse_platform_spark.operators import text as TX
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello,   WORLD!"), (3, "different text")],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    # 1 and 2 normalize identically -> keep 1
    assert kept == [1, 3]


def test_minhash_lsh_recall_equals_exact(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, bands=32, rows_per_band=2, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    assert lsh == exact  # b=32, r=2 ⇒ miss prob < 1e-8 at j >= 0.7


def test_simhash_finds_planted_near_dups(spark, docs):
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=0.9).collect()
    }
    sim = {
        (r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert true_pairs, "fixture should contain >=0.9 jaccard pairs"
    recall = len(true_pairs & sim) / len(true_pairs)
    assert recall >= 0.5, f"simhash recall {recall} too low"


def test_simhash_portable_matches_xxhash_recall(spark, docs):
    """The md5-word (oracle-checkable) SimHash variant must find the
    planted near-dups AT LEAST as well as the xxhash64 fast path —
    swapping the hash primitive shifts boundary pairs, not true
    duplicates, so the parity is asserted directly (not just two
    independent fixed thresholds)."""
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert true_pairs, "fixture should contain >=0.9 jaccard pairs"
    xx = {
        (r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    portable = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs_portable(docs, max_hamming=3).collect()
    }
    recall_xx = len(true_pairs & xx) / len(true_pairs)
    recall_p = len(true_pairs & portable) / len(true_pairs)
    assert recall_p >= 0.5, f"portable simhash recall {recall_p} too low"
    assert recall_p >= recall_xx, (
        f"portable recall {recall_p} fell below the xxhash64 path's "
        f"{recall_xx} on the same planted dups"
    )


def test_ann_lsh_finds_planted_neighbors(spark):
    """LSH recall is only meaningful when true near neighbors exist —
    plant jittered copies of base vectors and require the ANN tier to
    find them (random-vector 'nearest' pairs at cos≈0.3 are noise LSH
    is *supposed* to prune)."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i * 2, [float(x) for x in base]))
        jitter = [float(x + rng.gauss(0, 0.05)) for x in base]
        rows.append((i * 2 + 1, jitter))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = vecs.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = lsh_bucket_ann(vecs, queries, k=1, n_planes=6, probes=7).collect()
    hits = sum(1 for r in ann if r["neighbor_id"] == r["query_id"] + 1)
    assert hits / 40 >= 0.8, f"planted-neighbor recall {hits}/40"

    # the md5-derived (oracle-checkable) weight matrix must deliver the
    # same planted-neighbor recall — it changes which boundary pairs
    # collide, not whether jittered copies land in the same bucket
    from cdc_historical_warehouse_platform_spark.operators.similarity import portable_plane_weights

    ann_p = lsh_bucket_ann(
        vecs, queries, k=1, n_planes=6, probes=7,
        weights=portable_plane_weights(6, 64),
    ).collect()
    hits_p = sum(1 for r in ann_p if r["neighbor_id"] == r["query_id"] + 1)
    assert hits_p / 40 >= 0.8, f"portable-weights recall {hits_p}/40"


@pytest.fixture(scope="module")
def jittered_vecs(spark):
    """40 random base vectors + a planted near-dup of each (cos ≈ 0.999)
    — near-dup queries over this corpus have a non-trivial true pair
    set at production thresholds."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i * 2, [float(x) for x in base]))
        jitter = [float(x + rng.gauss(0, 0.02)) for x in base]
        rows.append((i * 2 + 1, jitter))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()


@pytest.mark.parametrize("threshold", [0.95, 0.4])
def test_banded_near_dup_equals_brute_force(spark, jittered_vecs, threshold):
    """The banded-LSH path must reproduce the brute-force pair set AND
    the exact cosine values (the verify step shares the cosine fold)."""
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(jittered_vecs, threshold=threshold).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in banded_embedding_near_dup(jittered_vecs, threshold=threshold).collect()
    }
    assert len(exact) >= 40, "fixture should contain the planted pairs"
    assert banded == exact


def test_banded_near_dup_finds_planted_copies(spark, jittered_vecs):
    """Recall floor of the corpus-scale configuration (BLAS signatures,
    banding sized by n_hint): every planted jittered copy is found, and
    no pair falls below the threshold."""
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in banded_embedding_near_dup(
            jittered_vecs, threshold=0.99, signature="arrow", n_hint=80
        ).collect()
    }
    assert {(i * 2, i * 2 + 1) for i in range(40)} <= set(pairs)
    assert min(pairs.values()) >= 0.99


def test_tune_banding_extremes():
    # threshold 1.0: p=1 ⇒ pr=1 for every r — must not raise (log(0))
    # and must return a zero-miss single-band scheme
    r, b = _tune_banding(1.0)
    assert b == 1 and r >= 1
    # production threshold: banding must actually prune random pairs
    r, b = _tune_banding(0.95)
    prune = 1.0 - (1.0 - 0.5**r) ** b
    assert prune < 0.1, f"candidate prob {prune} for random pairs at t=0.95"


def test_ann_scores_match_brute_force(spark, emb):
    """Every ANN hit must carry exactly the cosine brute force computes."""
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(emb, queries, k=50).collect()
    }
    ann = lsh_bucket_ann(emb, queries, k=5, n_planes=6, probes=7).collect()
    checked = 0
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute_scores:
            assert r["cosine"] == brute_scores[key]
            checked += 1
    assert checked > 0


def test_multimodal_plumbing_roundtrip(spark, docs):
    binary = attach_binary_payload(docs.limit(20))
    feats = extract_binary_features(binary).collect()
    assert len(feats) == 20
    meta = {r["doc_id"]: r for r in binary.select("doc_id", "meta.*").collect()}
    for r in feats:
        assert r["n_bytes"] == meta[r["doc_id"]]["n_bytes"]
        assert r["checksum"] == meta[r["doc_id"]]["checksum"]
        assert r["byte_entropy"] is not None and r["distinct_bytes"] > 0


def test_multimodal_decode_stub_raises():
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present — the real-codec seam test runs instead")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image(b"\x89PNG fake")


def test_text_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "a b c d"), (4, "  spaced   out  ")],
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n"),
        TX.word_ngrams(F.col("text"), 3).alias("grams"),
        TX.quality_score(F.col("text")).alias("q"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n"] == 0 and by_id[1]["grams"] == []
    assert by_id[2]["n"] == 2 and by_id[2]["grams"] == []  # shorter than n
    assert by_id[3]["grams"] == ["a b c", "b c d"]
    assert by_id[4]["n"] == 2
    assert all(r["q"] is not None for r in out)


def test_approx_aggregates_within_bounds(spark):
    """The bound booleans the oracle expects to be TRUE must hold, and
    the raw estimators (not part of the hashed output) must land near
    the exact values."""
    from cdc_historical_warehouse_platform_spark.plans.relational_queries import q_approx_aggregates
    from cdc_historical_warehouse_platform_spark.schemas import load_table

    r = q_approx_aggregates(spark, SF_DIR).collect()[0]
    assert r["hll_within_5pct"] is True
    assert r["approx_median_within_decile"] is True
    li = load_table(spark, SF_DIR, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("hll"),
        F.percentile_approx(F.col("l_extendedprice").cast("double"), 0.5, 10000).alias("med"),
    ).collect()[0]
    assert abs(approx["hll"] - r["exact_orders"]) / r["exact_orders"] < 0.05
    assert approx["med"] > 0


def test_variance_matches_numpy(spark):
    """Variance went rows-only after a cross-engine 1-ulp divergence in
    DECIMAL(38,4)->double conversion; pin it against numpy instead."""
    import numpy as np

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    prices = np.array([r["o_totalprice"] for r in o.select("o_totalprice").collect()])
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    sum_x = F.sum(dec).cast("double")
    sum_x2 = F.sum((dec * dec).cast("decimal(38,4)")).cast("double")
    n = F.count(F.lit(1)).cast("double")
    var = o.agg(((sum_x2 - sum_x * sum_x / n) / (n - F.lit(1.0))).alias("v")).collect()[0]["v"]
    assert abs(var - prices.var(ddof=1)) / prices.var(ddof=1) < 1e-9


def test_salted_topk_matches_direct_window(spark):
    """Skew-resilient two-phase top-k must equal the direct window plan
    on data with one pathologically hot key."""
    from pyspark.sql import Window
    from cdc_historical_warehouse_platform_spark.operators.skew import salted_topk_per_key

    # key 1 holds 5000 rows (hot), keys 2-20 hold 10 each
    rows = [(1, i, float((i * 37) % 9973)) for i in range(5000)]
    for key in range(2, 21):
        rows += [(key, i, float((i * 13) % 97)) for i in range(10)]
    df = spark.createDataFrame(rows, ["k", "row_id", "score"])

    order = [F.col("score").desc(), F.col("row_id").asc()]
    direct = (
        df.withColumn("rank", F.row_number().over(Window.partitionBy("k").orderBy(*order)))
        .filter(F.col("rank") <= 5)
    )
    salted = salted_topk_per_key(df, "k", [F.col("score").desc()], k=5,
                                 tiebreak=F.col("row_id").asc())
    a = sorted((r["k"], r["rank"], r["row_id"]) for r in direct.collect())
    b = sorted((r["k"], r["rank"], r["row_id"]) for r in salted.collect())
    assert a == b


def test_ivf_finds_planted_neighbors(spark):
    """IVF tier: same planted-neighbor bar as the LSH tier — jittered
    copies of base vectors must come back as the top-1 neighbor, and
    centroid construction must be deterministic run-to-run."""
    import random

    from cdc_historical_warehouse_platform_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i * 2, [float(x) for x in base]))
        rows.append((i * 2 + 1, [float(x + rng.gauss(0, 0.05)) for x in base]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = vecs.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = ivf_topk(vecs, queries, k=1, n_lists=8, n_probes=2).collect()
    hits = sum(1 for r in ann if r["neighbor_id"] == r["query_id"] + 1)
    assert hits / 40 >= 0.8, f"planted-neighbor recall {hits}/40"

    assert ivf_centroids(vecs, 8) == ivf_centroids(vecs, 8)


def test_ivf_scores_match_brute_force(spark):
    """Scores IVF reports must be the exact cosines the brute-force
    tier computes for the same (query, neighbor) pairs — the
    approximation may prune candidates, never perturb arithmetic."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    ivf = ivf_topk(emb, queries, k=10, n_lists=8, n_probes=2).collect()
    overlap = [r for r in ivf if (r["query_id"], r["neighbor_id"]) in brute]
    assert overlap, "IVF should recover some exact top-10 neighbors"
    for r in overlap:
        assert r["cosine"] == brute[(r["query_id"], r["neighbor_id"])]


def test_corpus_keep_decisions_partition_docs(spark):
    """Every document gets exactly one decision; the priority chain is
    consistent with its inputs (no kept doc is a non-canonical exact
    dup or a near-dup doc_b; every low-quality doc scores < 0.68)."""
    from cdc_historical_warehouse_platform_spark.operators import text as TX
    from cdc_historical_warehouse_platform_spark.operators.dedup import jaccard_pairs
    from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import (
        JACCARD_MAX_DOC_FREQ,
        q_corpus_keep_decisions,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = q_corpus_keep_decisions(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == docs.count()
    decisions = {r["doc_id"]: r["decision"] for r in rows}
    assert set(decisions.values()) <= {"kept", "low_quality", "exact_dup", "near_dup"}

    scores = {
        r["doc_id"]: r["q"]
        for r in docs.select("doc_id", TX.quality_score(F.col("text")).alias("q")).collect()
    }
    near_b = {
        r["doc_b"]
        for r in jaccard_pairs(
            docs, n=3, threshold=0.5, max_doc_freq=JACCARD_MAX_DOC_FREQ
        ).collect()
    }
    for did, d in decisions.items():
        if d == "low_quality":
            assert scores[did] < 0.68
        if d == "kept":
            assert scores[did] >= 0.68
            assert did not in near_b


def test_corpus_keep_decisions_null_text_matches_oracle(spark, tmp_path):
    """A NULL-text document has a NULL fingerprint. The SQL twin's
    ``JOIN canon c ON fp.f = c.f`` drops it (NULL never equi-joins), so
    the Spark decision table must drop it too; every other document,
    including a planted exact duplicate, keeps the oracle's verdict."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import (
        SQL_CORPUS_KEEP,
        q_corpus_keep_decisions,
    )

    src = pq.read_table(f"{SF_DIR}/documents.parquet").slice(0, 12).to_pylist()
    dup = dict(src[0], doc_id=10_001)
    null_text = dict(src[1], doc_id=10_002, text=None)
    pq.write_table(
        pa.Table.from_pylist(src + [dup, null_text], schema=pq.read_schema(
            f"{SF_DIR}/documents.parquet"
        )),
        tmp_path / "documents.parquet",
    )

    got = sorted(
        tuple(r) for r in q_corpus_keep_decisions(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(con.execute(SQL_CORPUS_KEEP).fetchall())
    assert got == want
    assert 10_002 not in {doc_id for doc_id, _, _ in got}


def test_multimodal_resize_and_frame_sample(spark, docs):
    """Resize: one row per payload, exact target geometry, md5 stable
    across repartitioning. Frame sampling: the row-expanding Arrow
    path must agree byte-for-byte (via md5) with the declarative
    JVM substring twin."""
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        resize_binary,
        sample_frames,
        sample_frames_jvm_twin,
    )

    binary = attach_binary_payload(docs.limit(30))

    resized = resize_binary(binary, width=4, height=4).collect()
    assert len(resized) == 30
    assert all(r["width"] == 4 and r["height"] == 4 for r in resized)
    again = {
        r["doc_id"]: r["resized_md5"]
        for r in resize_binary(binary.repartition(7), width=4, height=4).collect()
    }
    assert {r["doc_id"]: r["resized_md5"] for r in resized} == again

    arrow = {
        (r["doc_id"], r["frame_idx"]): (r["frame_md5"], r["frame_len"])
        for r in sample_frames(binary, frame_bytes=64, every_n=2).collect()
    }
    jvm = {
        (r["doc_id"], r["frame_idx"]): (r["frame_md5"], r["frame_len"])
        for r in sample_frames_jvm_twin(binary, frame_bytes=64, every_n=2).collect()
    }
    assert arrow == jvm and arrow
    assert any(idx > 0 for _, idx in arrow)  # genuinely row-expanding


def test_connected_components_chain_and_islands(spark):
    from cdc_historical_warehouse_platform_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["doc_a", "doc_b"],
    )
    got = {
        r.doc_id: r.component_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    from cdc_historical_warehouse_platform_spark.operators.dedup import connected_components

    # a 12-node path exercises multi-round propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.component_id for r in connected_components(pairs).collect()}
    assert got == {i: 100 for i in range(100, 113)}


def test_connected_components_empty_pairs(spark):
    from cdc_historical_warehouse_platform_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_packed_sequence_ids_matches_naive_global_window(spark):
    from pyspark.sql import Window
    from cdc_historical_warehouse_platform_spark.operators.packing import packed_sequence_ids

    rows = [(i, (i * 37) % 500 + 1) for i in range(0, 1000, 7)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    # tiny bucket size forces many buckets + non-trivial offsets
    got = {
        r.doc_id: (r.tokens_before, r.pack_id, r.pack_offset)
        for r in packed_sequence_ids(
            df, "n_tokens", seq_len=256, bucket_size=64
        ).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r.doc_id: (r.tb, r.tb // 256, r.tb % 256)
        for r in df.withColumn(
            "tb", F.sum("n_tokens").over(w) - F.col("n_tokens")
        ).collect()
    }
    assert got == naive


def test_packed_sequence_ids_deterministic_under_repartition(spark):
    from cdc_historical_warehouse_platform_spark.operators.packing import packed_sequence_ids

    df = spark.createDataFrame(
        [(i, i % 97 + 1) for i in range(500)], "doc_id long, n_tokens int"
    )
    a = sorted(
        map(tuple, packed_sequence_ids(df, "n_tokens").collect())
    )
    b = sorted(
        map(
            tuple,
            packed_sequence_ids(
                df.orderBy(F.rand(seed=3)).repartition(7), "n_tokens"
            ).collect(),
        )
    )
    assert a == b


def test_dup_ngram_fraction_edges(spark):
    from cdc_historical_warehouse_platform_spark.operators.text import dup_ngram_fraction, tokens

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # all bigrams identical: 2 dups of 3
            (2, "a b c d"),          # no repeats
            (3, "x"),                # too short for bigrams
            (4, ""),                 # empty
        ],
        ["doc_id", "text"],
    )
    base = df.select("doc_id", tokens(F.col("text")).alias("__t"))
    got = {
        r.doc_id: round(r.f, 6)
        for r in base.select(
            "doc_id", dup_ngram_fraction(F.col("__t"), 2).alias("f")
        ).collect()
    }
    assert got == {1: round(2 / 3, 6), 2: 0.0, 3: 0.0, 4: 0.0}


def test_pii_redaction_counts_and_tokens(spark):
    from cdc_historical_warehouse_platform_spark.operators.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com now"),
            (2, "call 555-123-4567 or visit 192.168.0.1 today"),
            (3, "no pii here at all"),
            (4, "two mails a@b.io c@d.org one ip 10.0.0.255"),
        ],
        ["doc_id", "text"],
    )
    t = F.col("text")
    got = {
        r.doc_id: (r.n_email, r.n_phone, r.n_ipv4, r.red)
        for r in df.select(
            "doc_id",
            *[c.alias(k) for k, c in pii_counts(t).items()],
            redact_pii(t).alias("red"),
        ).collect()
    }
    assert got[1] == (1, 0, 0, "mail <EMAIL> now")
    assert got[2] == (0, 1, 1, "call <PHONE> or visit <IP> today")
    assert got[3] == (0, 0, 0, "no pii here at all")
    assert got[4] == (2, 0, 1, "two mails <EMAIL> <EMAIL> one ip <IP>")


def test_decontaminate_flags_planted_overlap(spark):
    from cdc_historical_warehouse_platform_spark.operators.dedup import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "quick brown fox seen in the park"),   # shares 'quick brown fox'
            (2, "completely unrelated words entirely here"),
            (3, "over the lazy dog went the quick brown fox again"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_contaminated_ngrams, r.n_ngrams)
        for r in decontaminate(corpus, eval_df, n=3).collect()
    }
    # doc 2 shares nothing -> absent; docs 1 and 3 flagged
    assert set(got) == {1, 3}
    assert got[1][0] == 1  # 'quick brown fox'
    # doc 3: 'over the lazy','the lazy dog','the quick brown','quick brown fox'
    assert got[3][0] == 4
    f = {
        r.doc_id: r.contamination_frac
        for r in decontaminate(corpus, eval_df, n=3).collect()
    }
    assert all(0.0 < v <= 1.0 for v in f.values())


def test_semdedup_drops_planted_exact_duplicates(spark, emb):
    from cdc_historical_warehouse_platform_spark.operators.dedup import semdedup

    # Plant exact duplicates: ids 10000+k carry the same vector as id k.
    dup = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    out = semdedup(corpus, threshold=0.95, n_lists=8, refine=1).collect()
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == corpus.count()  # exactly one decision per vector
    # Identical vectors always share the argmax cluster, so every planted
    # duplicate (the larger id of its pair) must be dropped.
    for k in range(10):
        assert by_id[10000 + k]["keep"] is False
    # Precision: every dropped id has a genuine smaller-id cosine>=t
    # neighbor in the brute-force (exact, no clustering) pair set.
    dropped = {i for i, r in by_id.items() if not r["keep"]}
    brute_b = {
        r["id_b"]
        for r in embedding_near_dup_pairs(corpus, threshold=0.95).collect()
    }
    assert dropped <= brute_b
    assert dropped, "fixture should plant at least the 10 duplicates"


def test_source_mix_invariants(spark, docs):
    from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import q_corpus_source_mix

    rows = q_corpus_source_mix(spark, SF_DIR).collect()
    assert rows
    shares = [r["token_share"] for r in rows]
    assert abs(sum(shares) - 1.0) < 1e-12
    # rate_i = min_share/share_i: bounded by 1, and exactly 1 for the
    # smallest source (everything of the under-represented is kept)
    rates = [r["sampling_rate"] for r in rows]
    assert all(0 < x <= 1.0 for x in rates)
    assert max(rates) == 1.0
    # uniform-target weights: weight_i * share_i == 1/n_sources
    n = len(rows)
    for r in rows:
        assert abs(r["mix_weight"] * r["token_share"] - 1.0 / n) < 1e-12


def test_length_buckets_shares_sum_to_one(spark, docs):
    from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import q_corpus_length_buckets

    rows = q_corpus_length_buckets(spark, SF_DIR).collect()
    assert rows
    per_lang: dict[str, float] = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0.0) + r["doc_share"]
        assert r["n_docs"] > 0 and r["n_tokens"] >= r["max_tokens"] > 0
    for lang, s in per_lang.items():
        assert abs(s - 1.0) < 1e-12, lang


def test_unigram_surprisal_orders_rare_above_common(spark):
    # 'zzz' appears once in the corpus, 'the' dominates: the rare-token
    # doc must score strictly more bits/token than the common-token doc,
    # and the exact integer accounting must hold per row.
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "zzz"), (3, "the zzz the")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in TX.unigram_surprisal(df).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[2]["n_tokens"] == 1
    assert rows[2]["bits_per_token"] > rows[1]["bits_per_token"]
    for r in rows.values():
        assert r["bits_per_token"] == r["surprisal_microbits"] / (r["n_tokens"] * 1e6)
    # total = 8 tokens: the×6, zzz×2 -> surprisal(the) = log2(8/6)
    import math
    expect_the = math.floor((math.log2(8) - math.log2(6)) * 1e6)
    assert rows[1]["surprisal_microbits"] == 4 * expect_the


def test_tfidf_keywords_rank_rare_tokens_first(spark):
    # 'apple' is unique to doc 1 while 'the' is corpus-wide: idf must
    # rank 'apple' above 'the' despite equal tf; k bounds output per doc.
    df = spark.createDataFrame(
        [(1, "the apple the apple"), (2, "the pear"), (3, "the plum")],
        ["doc_id", "text"],
    )
    out = TX.tfidf_top_keywords(df, k=2).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in per_doc.items():
        assert len(rows) <= 2
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
            range(1, len(rows) + 1)
        )
    top1 = {r["doc_id"]: r["token"] for r in out if r["rank"] == 1}
    assert top1[1] == "apple"
    assert top1[2] == "pear" and top1[3] == "plum"
    # corpus-wide token scores zero: ln(3/3) = 0
    the_rows = [r for r in out if r["token"] == "the"]
    assert all(r["tfidf_micro"] == 0 for r in the_rows)


def test_chunk_spans_cover_and_overlap(spark):
    from cdc_historical_warehouse_platform_spark.operators.text import chunk_token_spans

    text = " ".join(f"w{i}" for i in range(70))  # 70 tokens
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")], ["doc_id", "text"])
    rows = sorted(
        chunk_token_spans(df, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 70 tokens, chunk 32 stride 24 -> ceil((70-32)/24)+1 = 3 chunks
    assert [r["start_token"] for r in by_doc[1]] == [0, 24, 48]
    assert [r["n_chunk_tokens"] for r in by_doc[1]] == [32, 32, 22]
    # overlap: chunk i+1 repeats the last 8 tokens of chunk i
    c0, c1 = by_doc[1][0]["chunk_text"].split(), by_doc[1][1]["chunk_text"].split()
    assert c0[-8:] == c1[:8]
    # every token position covered exactly once ignoring overlaps
    assert c0[:24] + c1[:24] + by_doc[1][2]["chunk_text"].split() == text.split()
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 2
    assert 3 not in by_doc  # empty doc -> zero chunks


def test_weighted_sampling_rate_tracks_quality(spark):
    from cdc_historical_warehouse_platform_spark.operators.sampling import weighted_keep_expr

    # rate column 0.0 / 1.0 extremes are exact; mid-rate keeps roughly
    # rate fraction (deterministic, so the observed fraction is fixed)
    df = spark.range(0, 2000).select(F.col("id"))
    kept_all = df.filter(weighted_keep_expr(F.col("id"), F.lit(1.0))).count()
    kept_none = df.filter(weighted_keep_expr(F.col("id"), F.lit(0.0))).count()
    assert (kept_all, kept_none) == (2000, 0)
    kept_half = df.filter(weighted_keep_expr(F.col("id"), F.lit(0.5))).count()
    assert abs(kept_half / 2000 - 0.5) < 0.05
    # determinism under repartition
    again = df.repartition(13).filter(weighted_keep_expr(F.col("id"), F.lit(0.5))).count()
    assert again == kept_half


def test_incremental_minhash_dedup_matches_full_rebuild(spark):
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_buckets,
        minhash_lsh_pairs,
    )

    base_words = [f"w{i}" for i in range(30)]
    a = " ".join(base_words)
    a_nearzz = " ".join(base_words[:-1] + ["zz"])  # ~high jaccard vs a
    fresh = " ".join(f"x{i}" for i in range(30))
    fresh_near = " ".join([f"x{i}" for i in range(29)] + ["yy"])
    batch1 = spark.createDataFrame([(1, a), (2, "totally different words here " * 3)], ["doc_id", "text"])
    batch2 = spark.createDataFrame(
        [(10, a_nearzz), (11, fresh), (12, fresh_near)], ["doc_id", "text"]
    )
    store = minhash_band_buckets(batch1).localCheckpoint(eager=True)

    kept, kept_buckets = incremental_minhash_dedup(
        batch2, stored_buckets=store, stored_docs=batch1, threshold=0.5
    )
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # 10 collides with stored doc 1; 12 is an intra-batch near-dup of 11
    assert kept_ids == [11]
    assert sorted({r["doc_id"] for r in kept_buckets.collect()}) == [11]

    # equivalence: the incrementally-built corpus contains no near-dup
    # pair that a full-rebuild pipeline would have caught
    corpus = batch1.unionByName(kept)
    residual = minhash_lsh_pairs(corpus, threshold=0.5).collect()
    assert residual == []


def test_bigram_surprisal_scores_repetition_low(spark):
    from cdc_historical_warehouse_platform_spark.operators.text import bigram_surprisal

    # doc 1 repeats one bigram pattern; doc 2 uses the same words in
    # unique orders -> conditional surprisal must rank 2 above 1
    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),
            (2, "a a b b a b b a"),
            (3, "x"),  # <2 tokens -> no bigrams -> absent
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in bigram_surprisal(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bigrams"] == 7 and rows[2]["n_bigrams"] == 7
    assert rows[2]["bits_per_bigram"] > rows[1]["bits_per_bigram"]
    for r in rows.values():
        assert r["bits_per_bigram"] == r["surprisal_microbits"] / (r["n_bigrams"] * 1e6)


def test_multimodal_null_and_empty_payloads(spark):
    """NULL payloads drop (not TypeError); empty payloads yield zero
    frames in BOTH the Arrow worker and the JVM twin (the twin's
    sequence() used to throw on empty input)."""
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_binary_features,
        sample_frames,
        sample_frames_jvm_twin,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, b"some real payload bytes"), (2, None), (3, b"")], schema
    )
    feats = extract_binary_features(df).collect()
    assert [r["doc_id"] for r in feats] == [1, 3]  # null dropped, empty kept
    py = sample_frames(df).collect()
    jvm = sample_frames_jvm_twin(df).collect()
    assert {r["doc_id"] for r in py} == {1}
    assert {r["doc_id"] for r in jvm} == {1}  # no crash, no rows for 2/3


def test_incremental_dedup_exact_tier_catches_short_docs(spark):
    """Docs with fewer than n=3 tokens have empty shingle sets — no LSH
    buckets, null jaccard — so only the exact-fingerprint tier can drop
    their duplicates (r4 ADVICE fix). Store dup, intra-batch dup, and a
    distinct short doc must all resolve correctly, and normalization
    (case/whitespace) must apply."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_buckets,
    )

    batch1 = spark.createDataFrame(
        [(1, "ok go"), (2, "some longer stored document here")], ["doc_id", "text"]
    )
    batch2 = spark.createDataFrame(
        [
            (10, "OK   go"),     # exact dup of stored 1 after normalization
            (11, "new short"),   # fresh short doc -> kept
            (12, "new short"),   # intra-batch dup of 11 -> dropped
            (13, "completely different long document text"),
        ],
        ["doc_id", "text"],
    )
    store = minhash_band_buckets(batch1).localCheckpoint(eager=True)
    kept, kept_buckets = incremental_minhash_dedup(
        batch2, stored_buckets=store, stored_docs=batch1, threshold=0.5
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]
    # bucket state only grows for kept docs (short docs have none)
    assert {r["doc_id"] for r in kept_buckets.collect()} == {13}


def test_hyperplane_signature_null_for_empty_vectors(spark):
    """Empty vectors must get a NULL signature (never the all-zero
    signature that would collapse them into one hot bucket) and drop
    out of banding joins entirely."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import (
        hyperplane_signature,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 1.0]), (2, []), (3, [0.5, -0.25, 1.0])],
        ["id", "vec"],
    )
    rows = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", hyperplane_signature(F.col("vec"), n_planes=8, dim=3).alias("sig")
        ).collect()
    }
    assert rows[2] is None
    assert rows[1] is not None and rows[1] == rows[3]


def test_weighted_keep_expr_clamps_negative_rates(spark):
    """A negative per-row rate (bad upstream score) must keep nothing —
    not render as 16-char two's-complement hex and keep ~everything."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import (
        weighted_keep_expr,
    )

    df = spark.range(0, 500)
    kept_neg = df.filter(weighted_keep_expr(F.col("id"), F.lit(-0.25))).count()
    assert kept_neg == 0
    kept_half = df.filter(weighted_keep_expr(F.col("id"), F.lit(0.5))).count()
    assert 0 < kept_half < 500


def test_corpus_state_repair_rolls_back_torn_epoch(tmp_path):
    """Crash between corpus-append's physically separate writes must be
    rolled back by the marker protocol: unlisted data files deleted,
    committed files untouched, epoch preserved."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import (
        read_marker,
        repair,
        write_marker,
    )

    out = tmp_path / "corpus"
    for d in ("_kept_docs", "_lsh_index", "_fp_index", "shard=0"):
        (out / d).mkdir(parents=True)
        (out / d / "part-0.parquet").write_bytes(b"committed")
    write_marker(out, epoch=3)

    # torn epoch: some writes landed, the marker never did
    (out / "_kept_docs" / "part-1.parquet").write_bytes(b"torn")
    (out / "shard=0" / "part-9.parquet").write_bytes(b"torn")

    result = repair(out)
    assert result["epoch"] == 3
    assert sorted(result["removed"]) == [
        "_kept_docs/part-1.parquet",
        "shard=0/part-9.parquet",
    ]
    assert (out / "_kept_docs" / "part-0.parquet").exists()
    assert not (out / "_kept_docs" / "part-1.parquet").exists()
    assert not (out / "shard=0" / "part-9.parquet").exists()
    # idempotent on clean state
    assert repair(out)["removed"] == []
    assert read_marker(out)["epoch"] == 3


def test_image_decode_pipeline_with_raw_decoder(spark):
    """The decode → nearest-neighbor resize → feature pipeline runs
    end-to-end through Arrow with an injected raw decoder — the exact
    code path a Pillow user gets, minus only the codec call — and the
    features match a local numpy ground truth."""
    import hashlib

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_image_features,
        raw_image_decoder,
    )

    h, w = 16, 12
    payloads = {
        i: bytes((np.arange(h * w, dtype=np.uint8) * (i + 1)) % 251)
        for i in range(3)
    }
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()], ["doc_id", "payload"]
    )
    rows = {
        r["doc_id"]: r
        for r in extract_image_features(
            df, decoder=raw_image_decoder(w, h), out_w=4, out_h=4
        ).collect()
    }
    assert set(rows) == {0, 1, 2}
    for i, p in payloads.items():
        arr = np.frombuffer(p, dtype=np.uint8).reshape(h, w, 1)
        ys = (np.arange(4) * h) // 4
        xs = (np.arange(4) * w) // 4
        expect_md5 = hashlib.md5(
            np.ascontiguousarray(arr[ys][:, xs]).tobytes()
        ).hexdigest()
        r = rows[i]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 1)
        assert r["mean_intensity"] == round(float(arr.mean()), 6)
        assert r["resized_md5"] == expect_md5
    # shape mismatch must surface, not silently mis-decode
    bad = spark.createDataFrame([(9, bytearray(b"abc"))], ["doc_id", "payload"])
    with pytest.raises(Exception, match="expected"):
        extract_image_features(bad, decoder=raw_image_decoder(w, h)).collect()


def test_audio_decode_pipeline_with_raw_decoder(spark):
    """Waveform feature path with an injected int16 decoder: duration,
    RMS, and zero crossings against a local numpy ground truth."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_audio_features,
        raw_audio_decoder,
    )

    sr = 8000
    t = np.arange(sr)  # one second
    wave16 = (np.sin(2 * np.pi * 440 * t / sr) * 20000).astype("<i2")
    df = spark.createDataFrame(
        [(1, bytearray(wave16.tobytes())), (2, bytearray(b""))],
        ["doc_id", "payload"],
    )
    rows = {
        r["doc_id"]: r
        for r in extract_audio_features(df, decoder=raw_audio_decoder(sr)).collect()
    }
    r = rows[1]
    assert r["n_samples"] == sr and r["sample_rate"] == sr
    assert r["duration_sec"] == 1.0
    wave = wave16.astype(np.float64) / 32768.0
    assert r["rms"] == round(float(np.sqrt(np.mean(wave**2))), 9)
    assert r["zero_crossings"] == int(
        np.count_nonzero(np.diff(np.signbit(wave)))
    )
    # empty payload: zero-length waveform, not a crash
    assert rows[2]["n_samples"] == 0 and rows[2]["rms"] == 0.0


def test_codec_decoders_are_honest_stubs_without_libs(spark):
    """Default decoders raise the env stub when PIL/librosa are absent
    (and would run the identical tested pipeline when present)."""
    import importlib.util

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_audio_features,
        extract_image_features,
    )

    df = spark.createDataFrame([(1, bytearray(b"xx"))], ["doc_id", "payload"])
    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(Exception, match="Pillow"):
            extract_image_features(df).collect()
    if importlib.util.find_spec("librosa") is None:
        with pytest.raises(Exception, match="librosa"):
            extract_audio_features(df).collect()


def test_corpus_state_repair_restores_manifest(tmp_path):
    """A torn append may have merged its (now rolled-back) files into
    _manifest.json before crashing — repair must restore the committed
    epoch's manifest, not leave ghost files double-counting rows."""
    import json

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import (
        repair,
        write_marker,
    )

    out = tmp_path / "corpus"
    (out / "shard=0").mkdir(parents=True)
    (out / "shard=0" / "part-0.parquet").write_bytes(b"committed")
    committed_manifest = {"total_rows": 10, "shards": {"0": {"files": ["part-0.parquet"], "rows": 10}}}
    (out / "_manifest.json").write_text(json.dumps(committed_manifest))
    write_marker(out, epoch=1)

    # torn epoch: a new shard file landed AND the manifest was rewritten
    (out / "shard=0" / "part-9.parquet").write_bytes(b"torn")
    (out / "_manifest.json").write_text(
        json.dumps({"total_rows": 25, "shards": {"0": {"files": ["part-0.parquet", "part-9.parquet"], "rows": 25}}})
    )

    result = repair(out)
    assert result["removed"] == ["shard=0/part-9.parquet"]
    assert json.loads((out / "_manifest.json").read_text()) == committed_manifest


def test_incremental_dedup_null_text_not_collapsed(spark):
    """Docs with NULL text (NULL fingerprint) must not be deduped
    against each other — unknown texts are not evidence of
    duplication — while empty-NORMALIZED texts (pure punctuation)
    share a real md5('') fingerprint and do dedup, matching
    exact_dedup's grouping."""
    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_buckets,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    batch1 = spark.createDataFrame([(1, "some stored doc text here")], schema)
    batch2 = spark.createDataFrame(
        [(10, None), (11, None), (12, "!!!"), (13, "???"), (14, "regular fresh doc")],
        schema,
    )
    store = minhash_band_buckets(batch1).localCheckpoint(eager=True)
    kept, _ = incremental_minhash_dedup(
        batch2, stored_buckets=store, stored_docs=batch1, threshold=0.5
    )
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # both NULLs kept; '???' dropped as exact dup of '!!!' (both
    # normalize to ''); the regular doc kept
    assert kept_ids == [10, 11, 12, 14]


def test_hyperplane_signature_matches_per_element_hash_expression(spark):
    """The literal-weight signature must be BIT-identical to the
    original per-row xxhash64 formulation (same buckets, same float
    sum order) — including short and over-long vectors."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import (
        _plane_weight,
        hyperplane_signature,
    )

    def reference_sig(vec, n_planes, dim):
        end = F.least(F.lit(dim), F.size(vec)) - 1
        sig = F.lit(0).cast("long")
        for p in range(n_planes):
            proj = F.aggregate(
                F.transform(
                    F.sequence(F.lit(0), end),
                    lambda i: vec[i].cast("double") * _plane_weight(p, i),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(0)
        return F.when(F.size(vec) > 0, sig).otherwise(F.lit(None).cast("long"))

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    short = spark.createDataFrame(
        [(100001, [0.25, -0.5]), (100002, [1.0] * 100)], ["vec_id", "embedding"]
    )
    both = emb.select("vec_id", "embedding").unionByName(
        short.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("float")).alias("embedding")
        )
    )
    out = both.select(
        "vec_id",
        hyperplane_signature(F.col("embedding"), 12, 64).alias("new"),
        reference_sig(F.col("embedding"), 12, 64).alias("ref"),
    )
    mismatches = out.filter(
        ~(F.col("new").eqNullSafe(F.col("ref")))
    ).count()
    assert mismatches == 0


def test_banded_near_dup_arrow_signature_matches_expr(spark, jittered_vecs):
    """The BLAS signature path must find exactly the pair set (and
    cosines — the verify tier is shared) the expression path finds on
    the planted-near-dup corpus, for both default and n_hint-tuned
    banding."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        banded_embedding_near_dup,
    )

    expr_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in banded_embedding_near_dup(jittered_vecs, threshold=0.95).collect()
    }
    arrow_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in banded_embedding_near_dup(
            jittered_vecs, threshold=0.95, signature="arrow"
        ).collect()
    }
    hinted_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in banded_embedding_near_dup(
            jittered_vecs, threshold=0.95, signature="arrow", n_hint=80
        ).collect()
    }
    assert len(expr_pairs) >= 40
    assert arrow_pairs == expr_pairs
    assert hinted_pairs == expr_pairs


def test_banded_near_dup_arrow_preserves_string_ids(spark):
    """The arrow signature path must keep the id column's original
    type — casting string ids to long nulls them all and silently
    returns zero pairs."""
    import random

    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        banded_embedding_near_dup,
    )

    rng = random.Random(3)
    rows = []
    for i in range(20):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((f"doc-{i:03d}a", [float(x) for x in base]))
        rows.append(
            (f"doc-{i:03d}b", [float(x + rng.gauss(0, 0.01)) for x in base])
        )
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    expr_pairs = {
        (r["id_a"], r["id_b"])
        for r in banded_embedding_near_dup(vecs, threshold=0.95).collect()
    }
    arrow_pairs = {
        (r["id_a"], r["id_b"])
        for r in banded_embedding_near_dup(
            vecs, threshold=0.95, signature="arrow"
        ).collect()
    }
    assert len(expr_pairs) >= 20
    assert arrow_pairs == expr_pairs


def test_banded_near_dup_adapts_dim_to_wide_vectors(spark):
    """A 96-d corpus must not be silently truncated to 64 components:
    planted near-dups that agree everywhere (but whose first 64
    components alone would still collide) and ones differing only past
    component 64 must both be handled by the full-width projection."""
    import random

    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        banded_embedding_near_dup,
        embedding_near_dup_pairs,
    )

    rng = random.Random(5)
    rows = []
    for i in range(30):
        base = [rng.gauss(0, 1) for _ in range(96)]
        rows.append((i * 2, [float(x) for x in base]))
        rows.append((i * 2 + 1, [float(x + rng.gauss(0, 0.01)) for x in base]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(vecs, threshold=0.95).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in banded_embedding_near_dup(vecs, threshold=0.95).collect()
    }
    assert len(exact) >= 30
    assert banded == exact


def test_sq_topk_recall_vs_full_precision(spark):
    """Int8 scalar quantization must preserve the cosine ranking almost
    exactly: recall@10 vs the full-precision brute-force ranking on the
    real embeddings, plus a planted-nearest-neighbor check (the
    jittered copy must stay rank 1 after quantization)."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import cosine_topk, sq_topk
    from cdc_historical_warehouse_platform_spark.schemas import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=10).collect()
    quant = sq_topk(emb, queries, k=10).collect()
    by_q_exact: dict = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    by_q_quant: dict = {}
    for r in quant:
        by_q_quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(by_q_quant) == set(by_q_exact)
    overlap = sum(
        len(by_q_exact[q] & by_q_quant[q]) for q in by_q_exact
    ) / sum(len(by_q_exact[q]) for q in by_q_exact)
    assert overlap >= 0.85, f"sq recall@10 {overlap:.3f} vs full precision"

    # planted: jittered duplicates must survive quantization as rank 1
    import random

    rng = random.Random(11)
    rows = []
    for i in range(30):
        base = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i * 2, [float(x) for x in base]))
        rows.append((i * 2 + 1, [float(x + rng.gauss(0, 0.02)) for x in base]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pq = vecs.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top1 = sq_topk(vecs, pq, k=1).collect()
    hits = sum(1 for r in top1 if r["neighbor_id"] == r["query_id"] + 1)
    assert hits / 30 >= 0.95, f"planted recall {hits}/30 after int8 quantization"


def test_quantize_int8_bounds_and_zero_vector(spark):
    """Quantized values stay in [-127, 127]; max-|v| element hits ±127;
    the zero vector quantizes to all zeros (and is dropped by sq_topk's
    zero-norm filter rather than scored as NaN)."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import quantize_int8, sq_topk

    vecs = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [3.0, 2.9, -3.0, 1.5]),
        ],
        ["vec_id", "embedding"],
    )
    got = {
        r["vec_id"]: r["q"]
        for r in vecs.select(
            "vec_id", quantize_int8(F.col("embedding")).alias("q")
        ).collect()
    }
    assert got[1] == [64, -127, 32, 0]          # floor(x*127/1.0 + .5)
    assert got[2] == [0, 0, 0, 0]
    assert got[3] == [127, 123, -127, 64]       # floor(2.9*127/3 + .5) = 123
    assert all(-127 <= v <= 127 for q in got.values() for v in q)

    queries = vecs.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert sq_topk(vecs, queries, k=5).count() == 0  # zero-norm query dropped


def test_sq_topk_prequantized_equals_inline(spark):
    """The probe-many path (quantize_corpus once, probe via quantized=)
    must return exactly the inline one-shot result."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import quantize_corpus, sq_topk
    from cdc_historical_warehouse_platform_spark.schemas import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    inline = {tuple(r) for r in sq_topk(emb, queries, k=10).collect()}
    pre = quantize_corpus(emb)
    probed = {tuple(r) for r in sq_topk(emb, queries, k=10, quantized=pre).collect()}
    assert probed == inline and len(inline) == 100


def test_corpus_per_source_quota_build_and_append(spark, tmp_path):
    """Per-domain quota through the composed pipeline: the build caps
    every source, the persisted _source_counts state makes appends
    drain only the REMAINING quota, bucket state stays consistent with
    the shipped corpus, and a re-delivered batch is a no-op."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )

    out = str(tmp_path / "c")
    r = corpus_build(spark, "/root/testdata/sf0.001", out, max_per_source=3)
    assert r["decisions"].get("over_source_cap", 0) >= 0
    corpus = spark.read.parquet(out)
    per_src = {
        row["source"]: row["n"]
        for row in corpus.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_src and all(n <= 3 for n in per_src.values()), per_src

    # fresh batch: new ids, token-reversed text (kills exact + near dup
    # against the built corpus), same sources → quota must bind
    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    a1 = corpus_append(spark, new, out)
    corpus2 = spark.read.parquet(out)
    per_src2 = {
        row["source"]: row["n"]
        for row in corpus2.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n <= 3 for n in per_src2.values()), per_src2
    assert a1["over_source_cap"] + a1["appended"] + a1["near_dup"] + a1[
        "low_quality"
    ] == a1["new_docs"]

    # LSH state must only carry docs that actually shipped
    lsh_ids = {
        row["doc_id"]
        for row in spark.read.parquet(str(tmp_path / "c" / "_lsh_index"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    corpus_ids = {row["doc_id"] for row in corpus2.select("doc_id").collect()}
    assert lsh_ids <= corpus_ids

    # re-delivery: every doc is either already kept (fp tier) or its
    # source's quota is exhausted — nothing appends
    a2 = corpus_append(spark, new, out)
    assert a2["appended"] == 0


def test_corpus_quota_adopted_on_append(spark, tmp_path):
    """A corpus built WITHOUT a quota can adopt one on append:
    _source_counts backfills once from the kept corpus, existing docs
    count against the quota (never evicted), and the new batch only
    fills the remaining headroom."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out)  # no quota
    before = spark.read.parquet(out)
    n_before = before.count()
    max_src_before = max(
        r["n"] for r in before.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    )

    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    a = corpus_append(spark, new, out, max_per_source=max_src_before)
    after = spark.read.parquet(out)
    # existing docs never evicted...
    assert after.count() >= n_before
    # ...and already-full sources admit nothing new (counts were
    # backfilled), so any source still never exceeds its pre-quota max
    # plus the headroom the quota allows
    per_src = {
        r["source"]: r["n"]
        for r in after.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n <= max_src_before for n in per_src.values()), per_src
    assert a["over_source_cap"] >= 0


def test_corpus_token_budget_hits_budget_and_handles_null_source(spark):
    """Kept tokens land near the budget (md5 gate realizes the rate in
    expectation), over-budget sources are down-sampled while
    under-allocated ones keep everything, and a NULL source is one
    ordinary mix group (null-safe rates join)."""
    from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import (
        TOKEN_BUDGET_FRACTION,
        q_corpus_token_budget,
    )
    from tests.conftest import SF_DIR

    rows = q_corpus_token_budget(spark, SF_DIR).collect()
    total = sum(r["n_tokens"] for r in rows)
    kept = sum(r["n_tokens"] for r in rows if r["kept"])
    budget = int(total * TOKEN_BUDGET_FRACTION)
    assert 0.7 * budget <= kept <= 1.3 * budget, (kept, budget)
    full_rate_sources = {r["source"] for r in rows if r["keep_rate"] >= 1.0}
    for r in rows:
        if r["source"] in full_rate_sources:
            assert r["kept"]  # under-allocated sources keep everything

    # NULL source: gated like any other group, never dropped
    docs = spark.createDataFrame(
        [(i, "some reasonably long test document text here", None
          if i % 2 else "s0", 40) for i in range(40)],
        "doc_id long, text string, source string, n_chars int",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = q_corpus_token_budget(spark, d).collect()
    assert sum(1 for r in out if r["source"] is None) == 20  # present, gated


def test_corpus_quota_adoption_rides_the_marker(spark, tmp_path):
    """r5: the adopted quota lives IN the commit marker (one atomic
    rename — adoption cannot survive an epoch rollback because it IS
    epoch state), no side file is written, and later appends without
    the argument keep enforcing it. Compaction's marker rewrite must
    carry it forward."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
        corpus_compact,
    )
    from pathlib import Path

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out)  # no quota
    assert "max_per_source" not in (read_marker(Path(out)) or {})

    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select(
            (F.col("doc_id") + 20_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    corpus_append(spark, new, out, max_per_source=5)
    m = read_marker(Path(out))
    assert m["max_per_source"] == 5
    assert not (Path(out) / "_source_caps.json").exists()

    # a quota-less append keeps enforcing the marker's quota
    new2 = new.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zweite welle"))
    )
    corpus_append(spark, new2, out)
    per_src_appended = (
        spark.read.parquet(out)
        .filter(F.col("doc_id") >= 20_000)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r["n"] <= 5 for r in per_src_appended), per_src_appended

    # compaction rewrites the marker; the quota must survive
    corpus_compact(spark, out, max_files_per_shard=1)
    assert read_marker(Path(out))["max_per_source"] == 5


def test_rebuild_in_place_clears_stale_quota(spark, tmp_path):
    """r5 fix: a quota-less corpus_build over a directory previously
    built WITH a quota must not resurrect the old quota from the
    carried-forward marker (its _source_counts describe the deleted
    corpus)."""
    from pathlib import Path

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_build
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out, max_per_source=3)
    assert read_marker(Path(out))["max_per_source"] == 3
    corpus_build(spark, "/root/testdata/sf0.001", out)  # rebuild, no quota
    assert "max_per_source" not in (read_marker(Path(out)) or {})


def test_rebuild_clears_legacy_caps_file_and_stale_counts(spark, tmp_path):
    """r5 fix: a quota-less rebuild over a LEGACY (pre-r5) quota corpus
    removes both the side caps file (whose fallback read would
    resurrect the cleared quota) and the previous corpus's
    _source_counts (which describe deleted documents and would poison
    a later adoption's one-time backfill)."""
    import json
    from pathlib import Path

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out, max_per_source=3)
    # simulate a pre-r5 corpus: quota in the side file, not the marker
    (Path(out) / "_source_caps.json").write_text(json.dumps({"max_per_source": 3}))

    corpus_build(spark, "/root/testdata/sf0.001", out)  # quota-less rebuild
    assert not (Path(out) / "_source_caps.json").exists()
    assert not list((Path(out) / "_source_counts").glob("*.parquet"))
    assert "max_per_source" not in (read_marker(Path(out)) or {})

    # a later adoption backfills counts from the REBUILT corpus, not
    # the deleted one: kept sources never exceed the adopted quota
    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select(
            (F.col("doc_id") + 30_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    corpus_append(spark, new, out, max_per_source=1_000_000)
    counts = spark.read.parquet(str(Path(out) / "_source_counts"))
    stored = spark.read.parquet(str(Path(out) / "_kept_docs"))
    # backfilled+epoch counts sum to exactly the kept corpus size
    assert (
        counts.agg(F.sum("n_kept")).collect()[0][0] == stored.count()
    )


def test_corpus_top_tokens_tracking(spark, tmp_path):
    """r6: heavy-hitter state through the corpus pipeline — the build
    writes _hh_state, appends extend it (LSM rows under the commit
    marker), and corpus_top_tokens reports the EXACT top-k of the kept
    corpus with a provable guarantee; torn state files roll back; an
    untracked corpus refuses the report."""
    from pathlib import Path

    from cdc_historical_warehouse_platform_spark.operators import text as TX
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
        corpus_top_tokens,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import repair

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out, track_top_tokens=1024)
    # genuinely-new docs: reversed token order, new id space
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = F.split(F.col("text"), " ")
    fresh = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "text", F.array_join(F.reverse(toks), " ")
    ).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    r = corpus_append(spark, fresh, out)
    assert r["appended"] > 0
    rep = corpus_top_tokens(spark, out, k=10)
    assert rep["provably_exact"]
    # independent exact recompute over the final kept corpus
    kept = spark.read.parquet(str(Path(out) / "_kept_docs"))
    want = (
        kept.select(
            F.explode_outer(TX.tokens(TX.normalize_text(F.col("text")))).alias("t")
        )
        .filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("t").asc())
        .limit(10)
        .collect()
    )
    assert [(e["token"], e["cnt"]) for e in rep["top"]] == [
        (w["t"], w["cnt"]) for w in want
    ]
    # torn epoch: an unlisted _hh_state file is rolled back
    orphan = Path(out) / "_hh_state" / "part-orphan.parquet"
    orphan.write_bytes(b"torn")
    removed = repair(Path(out))["removed"]
    assert any("_hh_state" in f for f in removed) and not orphan.exists()
    # untracked corpus refuses
    out2 = str(tmp_path / "c2")
    corpus_build(spark, "/root/testdata/sf0.001", out2)
    with pytest.raises(FileNotFoundError):
        corpus_top_tokens(spark, out2, k=5)


# --- DSIR importance weights ----------------------------------------------


def test_dsir_separates_target_like_from_noise(spark):
    """Semantic pin for when the oracle row rotates out of the driver
    window: docs sharing the target domain's vocabulary must outscore
    docs with disjoint vocabulary (their buckets are absent from the
    target model, so smoothing drives the log-ratio negative)."""
    tgt = [(i, "alpha beta gamma delta epsilon zeta " * 4, "tgt") for i in range(5)]
    noise = [(10 + i, "zig zag zoom quux corge grault " * 4, "web") for i in range(5)]
    raw = spark.createDataFrame(tgt + noise, "doc_id long, text string, source string")
    target = raw.filter(F.col("source") == "tgt")
    w = TX.dsir_importance_weights(raw, target, n_buckets=64)
    scores = {r["doc_id"]: r["logratio_per_bigram"] for r in w.collect()}
    assert len(scores) == 10
    assert min(scores[i] for i in range(5)) > max(scores[10 + i] for i in range(5))
    # target-like docs are strictly target-tilted, noise strictly away
    assert all(scores[i] > 0 for i in range(5))
    assert all(scores[10 + i] < 0 for i in range(5))


def test_dsir_weights_invariant_to_partitioning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
    target = docs.filter(F.col("source") == "src0")
    a = TX.dsir_importance_weights(docs.repartition(9), target, n_buckets=256)
    b = TX.dsir_importance_weights(docs.coalesce(1), target, n_buckets=256)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_corpus_quality_model_gate_build_and_append(spark, tmp_path):
    """The model-based quality gate through the composed pipeline: the
    build filters by the classifier score, model-dropped docs never
    enter the dedup state, the model rides the commit marker so a
    model-less append scores with the SAME model, and re-delivery
    stays a no-op."""
    from cdc_historical_warehouse_platform_spark.operators.classifier import (
        fit_logreg,
        quality_features,
        score_logreg,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker
    from pathlib import Path

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = fit_logreg(
        docs, quality_features(F.col("text")), (F.col("lang") == "en").cast("double"),
        iters=6,
    )
    # pick a threshold that actually splits this corpus
    scored = docs.withColumn(
        "p", score_logreg(quality_features(F.col("text")), model)
    )
    thr = scored.agg(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY p)")).collect()[0][0]

    out = str(tmp_path / "c")
    r = corpus_build(
        spark, "/root/testdata/sf0.001", out,
        quality_model=model, quality_model_threshold=thr,
    )
    assert r["decisions"].get("model_filtered", 0) > 0, r["decisions"]
    # every shipped doc clears the gate; dedup state matches the corpus
    corpus = spark.read.parquet(out)
    below = (
        corpus.withColumn(
            "p", score_logreg(quality_features(F.col("text")), model)
        )
        .where(F.col("p") < thr)
        .count()
    )
    assert below == 0
    lsh_ids = {
        row["doc_id"]
        for row in spark.read.parquet(str(tmp_path / "c" / "_lsh_index"))
        .select("doc_id").distinct().collect()
    }
    assert lsh_ids <= {row["doc_id"] for row in corpus.select("doc_id").collect()}
    marker = read_marker(Path(out))
    assert marker["quality_model"]["weights"] == model["weights"]

    # model-less append: fresh ids/text, gate must still apply (adopted
    # from the marker)
    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 150)
        .select(
            (F.col("doc_id") + 50_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang", "source", "n_chars",
        )
    )
    a1 = corpus_append(spark, new, out)
    assert a1["model_filtered"] > 0, a1
    assert (
        a1["low_quality"] + a1["model_filtered"] + a1["near_dup"]
        + a1["over_source_cap"] + a1["appended"]
        == a1["new_docs"]
    )
    corpus2 = spark.read.parquet(out)
    below2 = (
        corpus2.withColumn(
            "p", score_logreg(quality_features(F.col("text")), model)
        )
        .where(F.col("p") < thr)
        .count()
    )
    assert below2 == 0
    a2 = corpus_append(spark, new, out)
    assert a2["appended"] == 0


def test_image_decode_pipeline_with_pillow(spark):
    """The REAL-codec seam (r3 task #6): runs only where Pillow exists
    (pytest.importorskip — skipped in codec-less environments, live the
    moment an env gains the codec). Encodes genuine PNGs, decodes them
    through the default pil_decoder, and pins the features against the
    same numpy ground truth the raw-decoder twin uses — proving the
    only difference between the tested stand-in path and the Pillow
    path is the codec call itself."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import hashlib
    import io

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_image_features,
    )

    h, w = 16, 12
    arrays = {
        i: ((np.arange(h * w * 3, dtype=np.uint32) * (i + 3)) % 251).astype(
            np.uint8
        ).reshape(h, w, 3)
        for i in range(3)
    }
    payloads = {}
    for i, arr in arrays.items():
        buf = io.BytesIO()
        PIL_Image.fromarray(arr, mode="RGB").save(buf, format="PNG")
        payloads[i] = buf.getvalue()
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()], ["doc_id", "payload"]
    )
    rows = {
        r["doc_id"]: r
        for r in extract_image_features(df, out_w=4, out_h=4).collect()
    }
    assert set(rows) == {0, 1, 2}
    for i, arr in arrays.items():
        ys = (np.arange(4) * h) // 4
        xs = (np.arange(4) * w) // 4
        r = rows[i]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["mean_intensity"] == round(float(arr.mean()), 6)
        assert r["resized_md5"] == hashlib.md5(
            np.ascontiguousarray(arr[ys][:, xs]).tobytes()
        ).hexdigest()


def test_audio_decode_pipeline_with_librosa(spark):
    """The librosa twin of the Pillow seam test: skipped until the env
    gains the codec, then pins the default decode path end-to-end."""
    pytest.importorskip("librosa")
    import io
    import wave

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        extract_audio_features,
    )

    sr = 8000
    wave_i16 = (np.sin(np.arange(sr) / 8.0) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(sr)
        f.writeframes(wave_i16.tobytes())
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))], ["doc_id", "payload"])
    (r,) = extract_audio_features(df).collect()
    assert r["doc_id"] == 1 and r["n_samples"] > 0 and r["duration_sec"] > 0


def test_corpus_append_tolerates_missing_legacy_manifest(spark, tmp_path):
    """ADVICE r7: a pre-manifest legacy corpus must not crash
    corpus_append with FileNotFoundError — the same backfill posture
    as _fp_index/_source_counts. The shards thread rebuilds the full
    manifest; the appended count must still be the batch's kept rows,
    not the corpus-sized manifest total."""
    import json as _json
    import os

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out)
    n_before = spark.read.parquet(out).count()
    os.remove(tmp_path / "c" / "_manifest.json")  # legacy corpus

    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select(
            (F.col("doc_id") + 50_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    a = corpus_append(spark, new, out)
    n_after = spark.read.parquet(out).count()
    assert a["appended"] == n_after - n_before  # batch-sized, not corpus-sized
    assert a["appended"] > 0
    # the manifest was fully rebuilt and is consistent again
    m = _json.loads((tmp_path / "c" / "_manifest.json").read_text())
    assert m["total_rows"] == n_after


def _encode_bmp24(arr):
    """Genuine uncompressed 24-bit BMP bytes from an (H, W, 3) RGB
    array — hand-built headers, bottom-up rows, BGR pixels, 4-byte row
    padding (the real on-disk format, not a fixture shortcut)."""
    import struct

    import numpy as np

    h, w, _ = arr.shape
    row_bytes = ((24 * w + 31) // 32) * 4
    pad = row_bytes - w * 3
    body = b"".join(
        arr[y, :, ::-1].astype(np.uint8).tobytes() + b"\x00" * pad
        for y in range(h - 1, -1, -1)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def _encode_ppm(arr):
    import numpy as np

    h, w, c = arr.shape
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n# test\n{w} {h}\n255\n".encode() + arr.astype(np.uint8).tobytes()


def test_stdlib_image_decoders_real_formats(spark):
    """r8: the DEFAULT image path decodes genuine BMP and PPM/PGM
    payloads with zero external codecs — the array round-trips
    bit-exactly, and the full Arrow decode→resize→feature pipeline
    pins against the same numpy ground truth the raw-decoder twin
    uses. This runs REAL decodes in this container (no importorskip)."""
    import hashlib

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        bmp_decoder,
        decode_image,
        extract_image_features,
        ppm_decoder,
    )

    h, w = 11, 7  # odd width: exercises BMP row padding
    rgb = ((np.arange(h * w * 3, dtype=np.uint32) * 7) % 251).astype(
        np.uint8
    ).reshape(h, w, 3)
    gray = rgb[:, :, :1]

    assert np.array_equal(bmp_decoder(_encode_bmp24(rgb)), rgb)
    assert np.array_equal(ppm_decoder(_encode_ppm(rgb)), rgb)
    assert np.array_equal(ppm_decoder(_encode_ppm(gray)), gray)
    # magic dispatch through the public seam
    assert np.array_equal(decode_image(_encode_bmp24(rgb)), rgb)
    assert np.array_equal(decode_image(_encode_ppm(rgb)), rgb)

    df = spark.createDataFrame(
        [
            (0, bytearray(_encode_bmp24(rgb))),
            (1, bytearray(_encode_ppm(rgb))),
            (2, bytearray(_encode_ppm(gray))),
        ],
        ["doc_id", "payload"],
    )
    rows = {
        r["doc_id"]: r
        for r in extract_image_features(df, out_w=4, out_h=4).collect()
    }
    ys = (np.arange(4) * h) // 4
    xs = (np.arange(4) * w) // 4
    for i, arr in ((0, rgb), (1, rgb), (2, gray)):
        r = rows[i]
        assert (r["width"], r["height"], r["channels"]) == (w, h, arr.shape[2])
        assert r["mean_intensity"] == round(float(arr.mean()), 6)
        assert r["resized_md5"] == hashlib.md5(
            np.ascontiguousarray(arr[ys][:, xs]).tobytes()
        ).hexdigest()


def test_stdlib_wav_decoder_real_format(spark):
    """r8: the DEFAULT audio path decodes genuine PCM WAV (16-bit mono
    AND stereo-averaged, plus 8-bit) with the stdlib wave module — no
    librosa — and the Arrow feature pipeline matches numpy ground
    truth computed from the source arrays."""
    import io
    import wave as _w

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_audio,
        extract_audio_features,
        wav_decoder,
    )

    def pcm16(arr, sr, nch=1):
        buf = io.BytesIO()
        with _w.open(buf, "wb") as f:
            f.setnchannels(nch)
            f.setsampwidth(2)
            f.setframerate(sr)
            f.writeframes(arr.astype("<i2").tobytes())
        return buf.getvalue()

    sr = 8000
    mono = (np.sin(np.arange(sr) / 8.0) * 20000).astype("<i2")
    stereo = np.stack(
        [mono, (mono.astype(np.int32) // 2).astype("<i2")], axis=1
    ).reshape(-1)

    wv, got_sr = wav_decoder(pcm16(mono, sr))
    assert got_sr == sr
    assert np.allclose(wv, mono.astype(np.float64) / 32768.0)
    wv2, _ = decode_audio(pcm16(stereo, sr, nch=2))  # magic dispatch
    expect2 = (
        mono.astype(np.float64) / 32768.0
        + (mono.astype(np.int32) // 2).astype(np.float64) / 32768.0
    ) / 2.0
    assert np.allclose(wv2, expect2)

    df = spark.createDataFrame(
        [(1, bytearray(pcm16(mono, sr))), (2, bytearray(pcm16(stereo, sr, 2)))],
        ["doc_id", "payload"],
    )
    rows = {r["doc_id"]: r for r in extract_audio_features(df).collect()}
    for i, w_arr in ((1, mono.astype(np.float64) / 32768.0), (2, expect2)):
        r = rows[i]
        assert r["n_samples"] == sr and r["sample_rate"] == sr
        assert r["duration_sec"] == 1.0
        assert r["rms"] == round(float(np.sqrt(np.mean(w_arr**2))), 9)
        assert r["zero_crossings"] == int(
            np.count_nonzero(np.diff(np.signbit(w_arr)))
        )


def test_incremental_minhash_segment_probe_matches_broadcast(spark, tmp_path):
    """r8 bulk-append probes: the co-partitioned segment path
    (fp_segments clustered on fp, bucket_segments clustered on bucket)
    must keep/drop EXACTLY the docs the broadcast path does, and each
    store probe plan must be store-Exchange-free (bucketed scan feeds
    the join; only batch-derived Exchanges appear)."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_buckets,
    )
    from cdc_historical_warehouse_platform_spark.operators.text import fingerprint
    from cdc_historical_warehouse_platform_spark.sources.tables import (
        BucketedSegmentTable,
    )

    base_words = [f"w{i}" for i in range(30)]
    a = " ".join(base_words)
    a_near = " ".join(base_words[:-1] + ["zz"])
    fresh = " ".join(f"x{i}" for i in range(30))
    fresh_near = " ".join([f"x{i}" for i in range(29)] + ["yy"])
    exact_dup = "short exact doc"
    batch1 = spark.createDataFrame(
        [(1, a), (2, "totally different words here " * 3), (3, exact_dup)],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        [(10, a_near), (11, fresh), (12, fresh_near), (13, exact_dup)],
        ["doc_id", "text"],
    )
    store_df = minhash_band_buckets(batch1).localCheckpoint(eager=True)
    fps_df = batch1.select("doc_id", fingerprint(F.col("text")).alias("fp"))

    # broadcast reference
    kept_b, kb_b = incremental_minhash_dedup(
        batch2, stored_buckets=store_df, stored_docs=batch1,
        threshold=0.5, stored_fps=fps_df,
    )
    # bucketed stores, two segments each (append twice)
    B = 4
    bt = BucketedSegmentTable(tmp_path / "lsh", "bucket", B)
    ft = BucketedSegmentTable(tmp_path / "fp", "fp", B)
    half = F.col("doc_id") % 2
    for i in (0, 1):
        bt.append(store_df.filter(half == i), txn_id=f"b{i}")
        ft.append(fps_df.select("fp").filter(half == i), txn_id=f"f{i}")
    kept_s, kb_s = incremental_minhash_dedup(
        batch2, stored_buckets=None, stored_docs=batch1, threshold=0.5,
        fp_segments=ft.segments(spark), bucket_segments=bt.segments(spark),
        probe_partitions=B,
    )
    assert sorted(r["doc_id"] for r in kept_s.collect()) == sorted(
        r["doc_id"] for r in kept_b.collect()
    ) == [11]
    assert {r["doc_id"] for r in kb_s.collect()} == {
        r["doc_id"] for r in kb_b.collect()
    } == {11}

    # plan pin: a co-partitioned probe of each bucketed store keeps
    # the store side Exchange-free under a forced non-broadcast join
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probes = [
            (bt, minhash_band_buckets(batch2).select("bucket"), "bucket"),
            (ft, batch2.select(fingerprint(F.col("text")).alias("fp")), "fp"),
        ]
        def _walk(node):
            yield node
            ch = node.children()
            for i in range(ch.size()):
                yield from _walk(ch.apply(i))

        for table, probe, key in probes:
            probe = probe.repartition(B, key).distinct()
            for seg in table.segments(spark):
                j = seg.join(probe, key, "semi")
                plan = j._jdf.queryExecution().executedPlan()
                assert "Bucketed: true" in plan.toString(), plan.toString()
                # STRUCTURAL pin: the join child that holds the bucketed
                # store scan contains NO shuffle Exchange (every
                # Exchange in the plan is on the batch-derived side)
                smjs = [
                    n
                    for n in _walk(plan)
                    if n.getClass().getSimpleName() == "SortMergeJoinExec"
                ]
                assert smjs, plan.toString()
                for smj in smjs:
                    for side in range(2):
                        sub = list(_walk(smj.children().apply(side)))
                        names = [n.getClass().getSimpleName() for n in sub]
                        has_store_scan = any(
                            "FileSourceScan" in nm for nm in names
                        ) and "Bucketed: true" in smj.children().apply(
                            side
                        ).toString()
                        if has_store_scan:
                            assert "ShuffleExchangeExec" not in names, names
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_bucketed_state_corpus_end_to_end(spark, tmp_path):
    """r8 bucketed-state corpus: build(state_buckets=N) + appends
    through BOTH probe paths must ship exactly the docs the plain-state
    corpus ships; the layout rides the marker (forget keeps it, a
    probe after forget still works); repair stays compatible."""
    import json as _json

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
        corpus_forget,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import (
        read_marker,
        repair,
    )

    plain, buck = str(tmp_path / "p"), str(tmp_path / "b")
    corpus_build(spark, "/root/testdata/sf0.001", plain)
    corpus_build(spark, "/root/testdata/sf0.001", buck, state_buckets=4)
    assert read_marker(tmp_path / "b")["state_buckets"] == 4

    def ids(path):
        return {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}

    assert ids(buck) == ids(plain)
    # the bucketed state dirs carry bucket-suffixed files only
    lsh_files = list((tmp_path / "b" / "_lsh_index").glob("*.parquet"))
    assert lsh_files and all("_0000" in f.name for f in lsh_files)

    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 80)
        .select(
            (F.col("doc_id") + 90_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .localCheckpoint(eager=True)
    )
    # append 1: broadcast gate (default limit); append must match plain
    a_p = corpus_append(spark, new, plain)
    a_b = corpus_append(spark, new, buck)
    assert a_b["appended"] == a_p["appended"] > 0
    assert ids(buck) == ids(plain)

    new2 = new.select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.array_join(
            F.flatten(
                F.array(
                    F.filter(F.split("text", " "), lambda _x, i: i % 2 == 0),
                    F.filter(F.split("text", " "), lambda _x, i: i % 2 == 1),
                )
            ),
            " ",
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    ).localCheckpoint(eager=True)
    # append 2: FORCE the bulk co-partitioned path on the bucketed corpus
    a_p2 = corpus_append(spark, new2, plain)
    a_b2 = corpus_append(spark, new2, buck, bulk_probe_doc_limit=0)
    assert a_b2["appended"] == a_p2["appended"] > 0
    assert ids(buck) == ids(plain)
    # re-delivery through the bulk path: the state must catch everything
    assert corpus_append(spark, new2, buck, bulk_probe_doc_limit=0)["appended"] == 0

    # forget keeps the bucketed layout live (no unbucketed files in the
    # probe-keyed dirs) and a later bulk append still dedups correctly
    victims = sorted(ids(buck))[:2]
    corpus_forget(spark, victims, buck)
    corpus_forget(spark, victims, plain)
    assert ids(buck) == ids(plain)
    lsh_files = list((tmp_path / "b" / "_lsh_index").glob("*.parquet"))
    assert all("_0000" in f.name for f in lsh_files)
    # forgotten text re-admits through the bulk path too
    re_add = (
        spark.read.parquet(plain)
        .filter(F.col("doc_id").isin([int(v) for v in victims]))
    )
    assert re_add.count() == 0  # sanity: gone from plain as well
    a_b3 = corpus_append(spark, new2, buck, bulk_probe_doc_limit=0)
    assert a_b3["appended"] == 0  # still dedup-exact after the forget rewrite
    assert repair(tmp_path / "b")["removed"] == []
    # manifest and corpus agree
    m = _json.loads((tmp_path / "b" / "_manifest.json").read_text())
    assert m["total_rows"] == spark.read.parquet(buck).count()


def test_bulk_probe_append_dedups_exactly(spark, tmp_path):
    """A bucketed-state corpus takes a mixed batch (exact duplicates of
    stored docs under new ids, plus fresh docs) through the forced
    co-partitioned bulk probes: every duplicate is dropped, every fresh
    doc kept, a re-delivery appends 0, and the corpus leaves no file a
    repair would remove."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import repair

    def docs(lo, hi):
        # md5 tokens are unique per (doc, position): the only duplicate
        # structure is the one planted below
        def token(i):
            return F.substring(F.md5(F.concat_ws("_", F.col("id").cast("string"), i)), 1, 10)

        body = F.array_join(F.transform(F.sequence(F.lit(1), F.lit(40)), token), " ")
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("The document begins. "), body, F.lit(". It ends here.")).alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("src"), F.col("id") % 7).alias("source"),
            F.length(body).cast("int").alias("n_chars"),
        )

    docs(0, 40).write.parquet(str(tmp_path / "in" / "documents.parquet"))
    out = str(tmp_path / "c")
    corpus_build(spark, str(tmp_path / "in"), out, state_buckets=4)
    batch = (
        docs(0, 20)
        .unionByName(docs(40, 60))
        .withColumn("doc_id", F.col("doc_id") + 1000)
        .localCheckpoint(eager=True)
    )
    assert corpus_append(spark, batch, out, bulk_probe_doc_limit=0)["appended"] == 20
    kept = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == set(range(40)) | set(range(1040, 1060))
    assert corpus_append(spark, batch, out, bulk_probe_doc_limit=0)["appended"] == 0
    assert repair(tmp_path / "c")["removed"] == []


def test_corpus_compact_state_dirs(spark, tmp_path):
    """r8: corpus_compact also compacts over-fragmented dedup-state
    dirs — row-preserving, bucketed-layout-honoring, crash-repairable
    (the marker excludes the superseded files). Appends after the
    compaction still dedup exactly."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
        corpus_compact,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import repair

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out, state_buckets=4)

    def batch(offset, stride):
        toks = F.split(F.col("text"), " ")
        halves = F.flatten(
            F.array(
                F.filter(toks, lambda _x, i: i % stride == 0),
                F.filter(toks, lambda _x, i: i % stride != 0),
            )
        )
        return (
            spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .filter(F.col("doc_id") < 60)
            .select(
                (F.col("doc_id") + offset).alias("doc_id"),
                F.array_join(halves, " ").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )

    for i, stride in enumerate((2, 3, 5), 1):
        corpus_append(spark, batch(200_000 * i, stride), out)

    lsh_dir = tmp_path / "c" / "_lsh_index"
    before_files = len(list(lsh_dir.glob("*.parquet")))
    state_before = sorted(
        map(tuple, spark.read.parquet(str(lsh_dir)).collect())
    )
    corpus_ids = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }

    r = corpus_compact(spark, out, max_state_files=4)
    assert r["state_dirs_compacted"] >= 2  # lsh + fp at least
    after_files = len(list(lsh_dir.glob("*.parquet")))
    assert after_files < before_files
    # row-preserving and still bucketed
    assert sorted(map(tuple, spark.read.parquet(str(lsh_dir)).collect())) == state_before
    assert all("_0000" in f.name for f in lsh_dir.glob("*.parquet"))
    assert repair(tmp_path / "c")["removed"] == []

    # the compacted state still dedups a re-delivered batch exactly
    assert corpus_append(spark, batch(200_000, 2), out)["appended"] == 0
    # and through the bulk co-partitioned path too
    assert (
        corpus_append(spark, batch(400_000, 3), out, bulk_probe_doc_limit=0)[
            "appended"
        ]
        == 0
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    } == corpus_ids


def test_stdlib_codec_unsupported_subformats_fall_through(spark):
    """Review fix (r8): stdlib-magic payloads whose SUB-format the
    stdlib tier can't parse (palette BMP, float WAV) must fall through
    to the Pillow/librosa tier — raising the codec env stub here (no
    libs in this container), NOT the stdlib ValueError. Installing the
    libs therefore never decodes LESS than before the stdlib tier."""
    import importlib.util
    import io
    import struct
    import wave as _w

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_audio,
        decode_image,
    )

    # 8-bit (palette) BMP header: stdlib tier refuses bpp != 24
    hdr = struct.pack("<2sIHHI", b"BM", 200, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 64, 2835, 2835, 0, 0
    )
    # float32 WAV (format tag 3): stdlib wave module refuses it
    buf = io.BytesIO()
    with _w.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(np.zeros(16, "<i2").tobytes())
    float_wav = bytearray(buf.getvalue())
    float_wav[20:22] = struct.pack("<H", 3)  # IEEE float format tag

    if importlib.util.find_spec("PIL") is None:
        with _pytest.raises(NotImplementedError, match="Pillow"):
            decode_image(bytes(hdr) + b"\x00" * 146)
    if importlib.util.find_spec("librosa") is None:
        with _pytest.raises(NotImplementedError, match="librosa"):
            decode_audio(bytes(float_wav))
    # and the supported sub-formats still decode via the stdlib tier
    assert decode_audio(buf.getvalue())[1] == 8000


def test_ppm_decoder_exact_raster_guard():
    """ADVICE r8: a PPM header terminated by '\\r\\n' (some Windows
    netpbm writers) shifts the raster offset by one byte — the stdlib
    tier must refuse (raster-size mismatch) rather than silently decode
    shifted pixels, letting the Pillow fall-through own the payload."""
    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        ppm_decoder,
    )

    h, w = 5, 4
    rgb = (np.arange(h * w * 3) % 251).astype(np.uint8).reshape(h, w, 3)
    good = b"P6" + f"\n{w} {h}\n255\n".encode() + rgb.tobytes()
    assert np.array_equal(ppm_decoder(good), rgb)
    crlf = b"P6" + f"\n{w} {h}\n255\r\n".encode() + rgb.tobytes()
    with _pytest.raises(ValueError, match="raster size mismatch"):
        ppm_decoder(crlf)
    with _pytest.raises(ValueError, match="raster size mismatch"):
        ppm_decoder(good[:-7])  # truncated raster


def test_decode_image_stub_chains_stdlib_parse_error():
    """ADVICE r8: with Pillow absent, a corrupt BMP must surface the
    REAL stdlib parse error chained into the env stub — not just the
    misleading 'compressed formats need Pillow' text."""
    import importlib.util

    import pytest as _pytest

    if importlib.util.find_spec("PIL") is not None:
        _pytest.skip("Pillow present: the fall-through decodes instead")

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
    )

    with _pytest.raises(NotImplementedError) as ei:
        decode_image(b"BM" + b"\x01" * 16)  # truncated/corrupt header
    assert ei.value.__cause__ is not None
    assert "stdlib tier first failed" in str(ei.value)


def _encode_png(arr, filters=None):
    """Minimal test-side PNG writer (struct + zlib, stdlib only) with a
    CHOSEN filter type per scanline — forward-filters the ground-truth
    array so the decoder must invert every filter the schedule names."""
    import struct
    import zlib

    import numpy as np

    h, w, c = arr.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        f = filters[y]
        raw.append(f)
        if f == 0:
            out = cur
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            out = cur - left
        elif f == 2:  # Up
            out = cur - prev
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            out = cur - ((left + prev) >> 1)
        elif f == 4:  # Paeth
            a = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            b = prev
            cc = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            p = a + b - cc
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - cc)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc))
            out = cur - pred
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_stdlib_png_decoder_all_filters_all_color_types(spark):
    """r9 (verdict task #3): genuine PNG payloads decode in THIS
    container via stdlib zlib + filter inversion — bit-exact against
    the numpy ground truth for every filter type (None/Sub/Up/Average/
    Paeth) and every 8-bit color type (gray, gray+alpha, RGB, RGBA),
    through the raw decoder, the magic dispatch, AND the full Arrow
    decode→resize→feature pipeline."""
    import hashlib

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        extract_image_features,
        png_decoder,
    )

    h, w = 7, 5
    rng = (np.arange(h * w * 4, dtype=np.uint32) * 31 % 253).astype(np.uint8)
    rgba = rng.reshape(h, w, 4)
    sched = [0, 1, 2, 3, 4, 2, 1]  # every filter type appears
    for c in (1, 2, 3, 4):
        arr = rgba[:, :, :c]
        payload = _encode_png(arr, filters=sched)
        assert np.array_equal(png_decoder(payload), arr), f"channels={c}"
        assert np.array_equal(decode_image(payload), arr), f"dispatch c={c}"

    rgb = rgba[:, :, :3]
    df = spark.createDataFrame(
        [(7, bytearray(_encode_png(rgb, filters=sched)))], ["doc_id", "payload"]
    )
    (r,) = extract_image_features(df, out_w=4, out_h=4).collect()
    ys, xs = (np.arange(4) * h) // 4, (np.arange(4) * w) // 4
    assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
    assert r["mean_intensity"] == round(float(rgb.mean()), 6)
    assert r["resized_md5"] == hashlib.md5(
        np.ascontiguousarray(rgb[ys][:, xs]).tobytes()
    ).hexdigest()


def test_stdlib_png_unsupported_subformats_fall_through():
    """Palette / 16-bit / interlaced PNG refuse in the stdlib tier
    (ValueError) and route to the Pillow env stub via decode_image —
    same fall-through contract as the BMP/PPM sub-formats."""
    import importlib.util
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        png_decoder,
    )

    def png_with_ihdr(w, h, depth, ct, interlace):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, interlace)
        body = b"IHDR" + ihdr
        c1 = struct.pack(">I", len(ihdr)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )
        data = zlib.compress(b"\x00" * ((w + 1) * h))
        body2 = b"IDAT" + data
        c2 = struct.pack(">I", len(data)) + body2 + struct.pack(
            ">I", zlib.crc32(body2) & 0xFFFFFFFF
        )
        return b"\x89PNG\r\n\x1a\n" + c1 + c2

    for kwargs, msg in (
        (dict(depth=8, ct=5, interlace=0), "color type"),   # reserved type
        (dict(depth=3, ct=0, interlace=0), "bit depth"),    # invalid depth
        (dict(depth=4, ct=2, interlace=0), "depth/color"),  # invalid combo
        (dict(depth=16, ct=3, interlace=0), "palette depth"),
        (dict(depth=8, ct=0, interlace=2), "interlace method"),
    ):
        payload = png_with_ihdr(4, 4, **kwargs)
        with _pytest.raises(ValueError, match=msg):
            png_decoder(payload)
        if importlib.util.find_spec("PIL") is None:
            with _pytest.raises(NotImplementedError, match="Pillow"):
                decode_image(payload)

    # truncated IDAT (inflate ok, wrong raster size) also refuses
    good = _encode_png(np.zeros((3, 3, 1), np.uint8))
    with _pytest.raises(ValueError, match="not a PNG"):
        png_decoder(good[1:])


def test_resolve_state_buckets_auto_thresholds():
    """r9 (verdict task #4): 'auto' keeps small corpora flat, buckets
    large ones ~1 bucket/1M kept docs clamped to [32, 4096]; explicit
    values pass through untouched."""
    from cdc_historical_warehouse_platform_spark.pipeline import corpus_build as cb

    assert cb.resolve_state_buckets("auto", 0) is None
    assert cb.resolve_state_buckets("auto", cb._AUTO_STATE_MIN_DOCS - 1) is None
    assert cb.resolve_state_buckets("auto", cb._AUTO_STATE_MIN_DOCS) == 32
    assert cb.resolve_state_buckets("auto", 100_000_000) == 100
    assert cb.resolve_state_buckets("auto", 10**10) == cb._AUTO_STATE_MAX_BUCKETS
    assert cb.resolve_state_buckets(None, 10**10) is None
    assert cb.resolve_state_buckets(7, 5) == 7


def test_corpus_build_auto_adopts_bucketed_state(spark, tmp_path, monkeypatch):
    """With the auto thresholds lowered to test scale, a default
    (flag-less) corpus_build adopts the bucketed layout, the resolved
    int rides the marker, and the forced co-partitioned bulk append
    dedups exactly (re-delivery no-op)."""
    from cdc_historical_warehouse_platform_spark.pipeline import corpus_build as cb
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker

    monkeypatch.setattr(cb, "_AUTO_STATE_MIN_DOCS", 10)
    monkeypatch.setattr(cb, "_AUTO_STATE_DOCS_PER_BUCKET", 100)

    out = str(tmp_path / "c")
    cb.corpus_build(spark, "/root/testdata/sf0.001", out)  # no flag
    marker = read_marker(tmp_path / "c")
    n_kept = spark.read.parquet(out).count()
    assert marker["state_buckets"] == max(32, min(4096, -(-n_kept // 100)))
    import re as _re

    lsh_files = list((tmp_path / "c" / "_lsh_index").glob("*.parquet"))
    assert lsh_files and all(
        _re.search(r"_\d{5}\.c\d+", f.name) for f in lsh_files
    )  # bucket-suffixed files
    # the marker-riding layout serves the forced bulk probe path
    same = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert cb.corpus_append(spark, same, out, bulk_probe_doc_limit=0)["appended"] == 0


def test_corpus_compact_migrates_flat_state_to_bucketed(spark, tmp_path):
    """r9 (verdict task #4): corpus_compact(state_buckets=N) migrates
    a legacy FLAT corpus to the bucketed layout in place — state rows
    preserved exactly, layout riding the compaction marker, dedup
    identical through both probe paths afterwards — and 0 migrates
    back to flat."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
        corpus_compact,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import (
        read_marker,
        repair,
    )

    out = str(tmp_path / "c")
    corpus_build(spark, "/root/testdata/sf0.001", out, state_buckets=None)
    assert read_marker(tmp_path / "c").get("state_buckets") is None

    def state_rows(d):
        return {
            tuple(r) for r in spark.read.parquet(str(tmp_path / "c" / d)).collect()
        }

    lsh_before, fp_before = state_rows("_lsh_index"), state_rows("_fp_index")

    res = corpus_compact(spark, out, state_buckets=4)
    assert res["migrated_layout"] and res["state_buckets"] == 4
    assert read_marker(tmp_path / "c")["state_buckets"] == 4
    assert state_rows("_lsh_index") == lsh_before
    assert state_rows("_fp_index") == fp_before
    lsh_files = list((tmp_path / "c" / "_lsh_index").glob("*.parquet"))
    assert lsh_files and all("_0000" in f.name for f in lsh_files)
    assert repair(tmp_path / "c")["removed"] == []  # marker is consistent

    # both probe paths dedup identically on the migrated corpus:
    # a half-dup/half-fresh batch appends the same kept set bulk vs
    # broadcast (bulk on the migrated corpus, broadcast on a twin)
    twin = str(tmp_path / "t")
    corpus_build(spark, "/root/testdata/sf0.001", twin, state_buckets=None)
    new = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select(
            (F.col("doc_id") + 70_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .localCheckpoint(eager=True)
    )
    a_bulk = corpus_append(spark, new, out, bulk_probe_doc_limit=0)
    a_bc = corpus_append(spark, new, twin)
    assert a_bulk["appended"] == a_bc["appended"] > 0

    def ids(path):
        return {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}

    assert ids(out) == ids(twin)
    # re-delivery is a no-op through the migrated bulk path
    assert corpus_append(spark, new, out, bulk_probe_doc_limit=0)["appended"] == 0

    # and back to flat: rows still exact, marker key removed
    res2 = corpus_compact(spark, out, state_buckets=0)
    assert res2["migrated_layout"] and res2["state_buckets"] is None
    assert read_marker(tmp_path / "c").get("state_buckets") is None
    assert corpus_append(spark, new, out)["appended"] == 0


def test_g711_wav_decoder_mu_and_a_law():
    """r9: G.711 mu-law/A-law WAV (telephony codecs the stdlib wave
    module refuses) decode natively — pinned bit-exact against the
    reference scalar expansion routines (CCITT G.711 ulaw2linear /
    alaw2linear transliterated below), through the raw decoder AND
    the decode_audio dispatch; stereo averages to mono."""
    import struct

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_audio,
        g711_wav_decoder,
    )

    def ulaw2linear(u):
        u = ~u & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    def alaw2linear(a):
        a ^= 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        return t if (a & 0x80) else -t

    def wav(tag, sr, frames, nch=1):
        fmt = struct.pack("<HHIIHH", tag, nch, sr, sr * nch, nch, 8)
        data = bytes(frames)
        riff = (
            b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    codes = list(range(256))
    for tag, ref in ((7, ulaw2linear), (6, alaw2linear)):
        wv, sr = g711_wav_decoder(wav(tag, 8000, codes))
        assert sr == 8000 and len(wv) == 256
        expect = np.array([ref(c) for c in codes], dtype=np.float64) / 32768.0
        assert np.array_equal(wv, expect), f"tag {tag}"
        # dispatch: the stdlib wave module refuses tag 6/7, the G.711
        # tier owns it
        wv2, _ = decode_audio(wav(tag, 8000, codes))
        assert np.array_equal(wv2, expect)
    # stereo -> mono average
    stereo = [c for pair in zip(codes, codes[::-1]) for c in pair]
    wv, _ = g711_wav_decoder(wav(7, 16000, stereo, nch=2))
    mono = np.array([ulaw2linear(c) for c in codes], dtype=np.float64) / 32768.0
    assert np.allclose(wv, (mono + mono[::-1]) / 2.0)


def test_state_migration_crash_windows(spark, tmp_path, monkeypatch):
    """r9 crash protocol for the layout migration: a crash BEFORE the
    compaction marker rolls the bucketed rewrite back (repair deletes
    the unlisted files; the corpus stays FLAT and fully usable), and a
    crash AFTER the marker but before the unlink is finished by the
    next repair (old flat files removed; the corpus is BUCKETED and
    fully usable) — state rows exact through both windows."""
    from cdc_historical_warehouse_platform_spark.pipeline import corpus_build as cb
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import (
        read_marker,
        repair,
    )

    out = str(tmp_path / "c")
    cb.corpus_build(spark, "/root/testdata/sf0.001", out, state_buckets=None)

    def state_rows(d):
        return {
            tuple(r) for r in spark.read.parquet(str(tmp_path / "c" / d)).collect()
        }

    lsh_before, fp_before = state_rows("_lsh_index"), state_rows("_fp_index")

    # --- crash BEFORE the marker: write_marker raises mid-migration ---
    real_write_marker = cb.write_marker

    def exploding_marker(*a, **k):
        raise RuntimeError("injected crash before marker")

    monkeypatch.setattr(cb, "write_marker", exploding_marker)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        cb.corpus_compact(spark, out, state_buckets=4)
    monkeypatch.setattr(cb, "write_marker", real_write_marker)

    # the bucketed copies are unlisted -> repair rolls them back; the
    # committed marker still says FLAT and the state reads exactly
    removed = repair(tmp_path / "c")["removed"]
    assert removed, "torn migration left no unlisted files to roll back?"
    assert read_marker(tmp_path / "c").get("state_buckets") is None
    assert state_rows("_lsh_index") == lsh_before
    assert state_rows("_fp_index") == fp_before
    # flat corpus still fully usable (re-append of same content no-ops)
    same = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert cb.corpus_append(spark, same, out)["appended"] == 0

    # --- crash AFTER the marker, BEFORE the unlink: kill the unlink ---
    import pathlib

    real_unlink = pathlib.Path.unlink
    flat_files = {f.name for f in (tmp_path / "c" / "_lsh_index").glob("*.parquet")}

    def no_unlink(self, *a, **k):
        if self.suffix == ".parquet" and "_index" in str(self.parent):
            raise RuntimeError("injected crash during unlink")
        return real_unlink(self, *a, **k)

    monkeypatch.setattr(pathlib.Path, "unlink", no_unlink)
    with _pytest.raises(RuntimeError, match="injected crash during unlink"):
        cb.corpus_compact(spark, out, state_buckets=4)
    monkeypatch.setattr(pathlib.Path, "unlink", real_unlink)

    # the marker committed the BUCKETED layout; old flat files are
    # unlisted leftovers the next repair removes
    assert read_marker(tmp_path / "c")["state_buckets"] == 4
    on_disk = {f.name for f in (tmp_path / "c" / "_lsh_index").glob("*.parquet")}
    assert flat_files & on_disk, "old files should still be on disk pre-repair"
    repair(tmp_path / "c")
    on_disk = {f.name for f in (tmp_path / "c" / "_lsh_index").glob("*.parquet")}
    assert not (flat_files & on_disk), "repair must finish the unlink"
    assert state_rows("_lsh_index") == lsh_before
    assert state_rows("_fp_index") == fp_before
    # bucketed corpus fully usable through the forced bulk probe
    assert cb.corpus_append(spark, same, out, bulk_probe_doc_limit=0)["appended"] == 0


def test_stdlib_png_palette_decode():
    """r9: palette PNG (color type 3) decodes via the PLTE lookup —
    bit-exact RGB vs the source palette image — while out-of-range
    indexes and a missing PLTE refuse to the Pillow seam."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        png_decoder,
    )

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    h, w = 6, 5
    rng = np.random.RandomState(5)
    palette = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (h, w)).astype(np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))

    def png(with_plte=True, indexes=idx):
        raw_ = b"".join(b"\x00" + indexes[y].tobytes() for y in range(h))
        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        )
        if with_plte:
            out += chunk(b"PLTE", palette.tobytes())
        return out + chunk(b"IDAT", zlib.compress(raw_)) + chunk(b"IEND", b"")

    got = png_decoder(png())
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, palette[idx])
    assert np.array_equal(decode_image(png()), palette[idx])

    with _pytest.raises(ValueError, match="missing PLTE"):
        png_decoder(png(with_plte=False))
    bad_idx = idx.copy()
    bad_idx[0, 0] = 200  # past the 16-entry palette
    with _pytest.raises(ValueError, match="out of PLTE range"):
        png_decoder(png(indexes=bad_idx))


def _png_forward_filter(arr_bytes, bpp, filters):
    """Byte-level forward filtering for the test encoders: arr_bytes
    (H, stride) uint8 -> raw scanline stream with the CHOSEN filter
    per row (the decoder must invert them)."""
    import numpy as np

    h, stride = arr_bytes.shape
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = arr_bytes[y].astype(np.int32)
        f = filters[y % len(filters)]
        raw.append(f)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]]) if stride >= bpp else cur * 0
        pl = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]]) if stride >= bpp else prev * 0
        if f == 0:
            out = cur
        elif f == 1:
            out = cur - left
        elif f == 2:
            out = cur - prev
        elif f == 3:
            out = cur - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - pl
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - pl)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, pl))
            out = cur - pred
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = cur
    return bytes(raw)


def _png_chunks(w, h, depth, ct, interlace, raw, plte=None):
    import struct
    import zlib

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, interlace)
    )
    if plte is not None:
        out += chunk(b"PLTE", plte.tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_stdlib_png_16bit_decode():
    """r9: 16-bit PNG decodes in the stdlib tier — filters operate on
    BYTES with bpp = 2*channels per the spec, samples downscale to the
    high byte (Pillow's convert-to-8-bit contract) — for gray and RGB,
    across None/Sub/Up/Average/Paeth rows."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        png_decoder,
    )

    h, w = 7, 5
    rng = np.random.RandomState(9)
    for c in (1, 3):
        samples = rng.randint(0, 65536, (h, w, c)).astype(">u2")
        arr_bytes = samples.view(np.uint8).reshape(h, w * c * 2)
        raw = _png_forward_filter(arr_bytes, 2 * c, [0, 1, 2, 3, 4])
        payload = _png_chunks(w, h, 16, {1: 0, 3: 2}[c], 0, raw)
        want = (samples >> 8).astype(np.uint8)
        got = png_decoder(payload)
        assert got.shape == (h, w, c)
        assert np.array_equal(got, want), f"channels={c}"
        assert np.array_equal(decode_image(payload), want)


def test_stdlib_png_adam7_interlaced_decode():
    """r9: Adam7-interlaced PNG assembles from the seven
    independently-filtered passes — bit-exact vs the source array for
    RGB and palette variants, including a tiny image with EMPTY
    passes."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        png_decoder,
    )

    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    def interlaced_raw(arr, bpp, filters):
        h, w, _ = arr.shape
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ph, pw = sub.shape[:2]
            raw += _png_forward_filter(
                sub.reshape(ph, pw * bpp), bpp, filters
            )
        return bytes(raw)

    rng = np.random.RandomState(13)
    # 10x9 RGB: every pass non-empty; mixed filters per pass
    h, w = 9, 10
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    payload = _png_chunks(w, h, 8, 2, 1, interlaced_raw(rgb, 3, [0, 2, 1, 4, 3]))
    assert np.array_equal(png_decoder(payload), rgb)

    # 3x2 palette: passes 2/4 (x0 >= width) and more are EMPTY
    palette = rng.randint(0, 256, (8, 3)).astype(np.uint8)
    idx = rng.randint(0, 8, (2, 3, 1)).astype(np.uint8)
    payload = _png_chunks(
        3, 2, 8, 3, 1, interlaced_raw(idx, 1, [0]), plte=palette
    )
    got = png_decoder(payload)
    assert np.array_equal(got, palette[idx[:, :, 0]])


def test_stdlib_png_subbyte_depths():
    """r9: 1/2/4-bit PNG decodes in the stdlib tier — packed rows
    unpack MSB-first with row padding dropped; grayscale scales to the
    full 8-bit range (Pillow's convert contract) and palette indexes
    look up PLTE directly. This closes the PNG format: every legal
    depth/color combination now decodes natively."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        png_decoder,
    )

    rng = np.random.RandomState(21)
    h, w = 5, 7  # 7 pixels -> packed rows carry padding bits at 1/2/4-bit
    for depth in (1, 2, 4):
        maxv = (1 << depth) - 1
        gray = rng.randint(0, maxv + 1, (h, w, 1)).astype(np.uint8)
        # pack rows MSB-first
        raw = bytearray()
        for y in range(h):
            bits = np.unpackbits(
                gray[y, :, 0][:, None] << (8 - depth), axis=1, count=depth
            ).reshape(-1)
            pad = (-len(bits)) % 8
            bits = np.concatenate([bits, np.zeros(pad, np.uint8)])
            raw.append(0)  # filter None
            raw.extend(np.packbits(bits).tobytes())
        payload = _png_chunks(w, h, depth, 0, 0, bytes(raw))
        want = (gray.astype(np.uint16) * 255 // maxv).astype(np.uint8)
        got = png_decoder(payload)
        assert got.shape == (h, w, 1), depth
        assert np.array_equal(got, want), f"depth={depth}"
        assert np.array_equal(decode_image(payload), want)

    # 4-bit palette
    palette = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (h, w)).astype(np.uint8)
    raw = bytearray()
    for y in range(h):
        row = idx[y]
        raw.append(0)
        packed = bytearray()
        for i in range(0, w, 2):
            hi = row[i] << 4
            lo = row[i + 1] if i + 1 < w else 0
            packed.append(hi | lo)
        raw.extend(packed)
    payload = _png_chunks(w, h, 4, 3, 0, bytes(raw), plte=palette)
    assert np.array_equal(png_decoder(payload), palette[idx])


def test_ima_adpcm_wav_decoder():
    """r9: IMA/DVI ADPCM WAV (tag 0x11) — a genuinely COMPRESSED audio
    codec — decodes natively, pinned bit-exact against the reference
    scalar expansion (the IMA step/index algorithm transliterated
    below) for mono multi-block and stereo interleaved-chunk layouts,
    through the raw decoder AND the decode_audio dispatch."""
    import struct

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        _IMA_INDEX_ADJUST,
        _IMA_STEPS,
        decode_audio,
        ima_adpcm_wav_decoder,
    )

    def ref_decode_nibbles(nibbles, pred, idx):
        out = []
        for nib in nibbles:
            step = _IMA_STEPS[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX_ADJUST[nib & 7]))
            out.append(pred)
        return out

    def wav(nch, sr, blocks):
        """blocks: list of per-block [(pred, idx, nibbles_per_channel)]"""
        body_len = len(blocks[0][0][2]) // 2  # bytes per channel payload
        balign = 4 * nch + body_len * nch
        fmt = struct.pack("<HHIIHH", 0x11, nch, sr, sr, balign, 4)
        data = bytearray()
        for chans in blocks:
            for pred, idx, _ in chans:
                data += struct.pack("<hBx", pred, idx)
            # interleave 4-byte chunks per channel
            per_ch = []
            for _, _, nibs in chans:
                b = bytearray()
                for i in range(0, len(nibs), 2):
                    b.append((nibs[i + 1] << 4) | nibs[i])
                per_ch.append(bytes(b))
            for w_i in range(body_len // 4):
                for c in range(nch):
                    data += per_ch[c][w_i * 4 : w_i * 4 + 4]
        riff = (
            b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + bytes(data)
        )
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    rng = np.random.RandomState(17)
    nibs1 = rng.randint(0, 16, 64).tolist()
    nibs2 = rng.randint(0, 16, 64).tolist()

    # mono, two blocks with different (pred, idx) headers
    payload = wav(1, 8000, [
        [(100, 5, nibs1)],
        [(-2000, 30, nibs2)],
    ])
    wv, sr = ima_adpcm_wav_decoder(payload)
    expect = (
        [100] + ref_decode_nibbles(nibs1, 100, 5)
        + [-2000] + ref_decode_nibbles(nibs2, -2000, 30)
    )
    assert sr == 8000
    assert np.array_equal(wv, np.array(expect, dtype=np.float64) / 32768.0)

    # stereo interleaved chunks, averaged to mono; dispatch too
    payload = wav(2, 16000, [[(0, 10, nibs1), (500, 40, nibs2)]])
    wv, sr = ima_adpcm_wav_decoder(payload)
    l = [0] + ref_decode_nibbles(nibs1, 0, 10)
    r = [500] + ref_decode_nibbles(nibs2, 500, 40)
    expect = (np.array(l, dtype=np.float64) + np.array(r)) / 2.0 / 32768.0
    assert sr == 16000 and np.array_equal(wv, expect)
    wv2, _ = decode_audio(payload)
    assert np.array_equal(wv2, expect)


def _ext80(rate):
    """Independent 80-bit IEEE extended encoder (AIFF sample rate)."""
    import math

    if rate == 0:
        return b"\x00" * 10
    m, e = math.frexp(float(rate))
    return (e - 1 + 16383).to_bytes(2, "big") + int(m * (1 << 64)).to_bytes(8, "big")


def _encode_aiff(frames_bytes, nch, bits, rate, form=b"AIFF", ctype=None):
    import struct as s

    comm = s.pack(">hIh", nch, len(frames_bytes) // (nch * bits // 8), bits)
    comm += _ext80(rate)
    if ctype is not None:
        comm += ctype + b"\x04name"  # compression fourcc + pstring
    ssnd = s.pack(">II", 0, 0) + frames_bytes
    body = b""
    for cid, c in ((b"COMM", comm), (b"SSND", ssnd)):
        body += cid + s.pack(">I", len(c)) + c + (b"\x00" if len(c) & 1 else b"")
    return b"FORM" + s.pack(">I", 4 + len(body)) + form + body


def _encode_au(data, enc, rate, nch):
    import struct as s

    return b".snd" + s.pack(">IIIII", 24, len(data), enc, rate, nch) + data


def test_float_audio_decoders():
    """r10 seam shrink: IEEE-float audio decodes natively — WAV format
    tag 3 (32/64-bit, stereo averaging), AIFC fl32/fl64, AU encodings
    6/7 — all through decode_audio's magic dispatch with the native
    sample rate."""
    import struct as s

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        aiff_decoder,
        au_decoder,
        decode_audio,
        float_wav_decoder,
    )

    rng = np.random.RandomState(6)
    mono = (rng.rand(64) * 2 - 1).astype(np.float64)

    def wav(data, nch, sr, bits):
        fmt = s.pack("<HHIIHH", 3, nch, sr, sr * nch * bits // 8, nch * bits // 8, bits)
        body = b"WAVE" + b"fmt " + s.pack("<I", len(fmt)) + fmt
        body += b"data" + s.pack("<I", len(data)) + data
        return b"RIFF" + s.pack("<I", len(body)) + body

    w, sr = float_wav_decoder(wav(mono.astype("<f4").tobytes(), 1, 48000, 32))
    assert sr == 48000 and np.allclose(w, mono, atol=1e-6)
    w, sr = decode_audio(wav(mono.astype("<f8").tobytes(), 1, 8000, 64))
    assert sr == 8000 and np.array_equal(w, mono)
    # stereo averages
    stereo = np.repeat(mono, 2).astype("<f4").tobytes()
    w, _ = float_wav_decoder(wav(stereo, 2, 48000, 32))
    assert np.allclose(w, mono, atol=1e-6)

    # AIFC float variants (big-endian IEEE; numSampleFrames bounds pads)
    pay32 = _encode_aiff(mono.astype(">f4").tobytes(), 1, 32, 44100,
                         form=b"AIFC", ctype=b"fl32")
    w, sr = aiff_decoder(pay32)
    assert sr == 44100 and np.allclose(w, mono, atol=1e-6)
    pay64 = _encode_aiff(mono.astype(">f8").tobytes(), 1, 64, 22050,
                         form=b"AIFC", ctype=b"fl64")
    w, sr = decode_audio(pay64)
    assert sr == 22050 and np.array_equal(w, mono)

    # AU float encodings
    w, sr = au_decoder(_encode_au(mono.astype(">f4").tobytes(), 6, 16000, 1))
    assert sr == 16000 and np.allclose(w, mono, atol=1e-6)
    w, sr = decode_audio(_encode_au(mono.astype(">f8").tobytes(), 7, 11025, 1))
    assert sr == 11025 and np.array_equal(w, mono)

    # AIFC G.711 (ulaw/alaw fourccs): same expansion as the WAV/AU
    # telephony tiers — pin against the AU decoder on identical codes
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        _g711_table,
    )

    codes = bytes(range(256))
    # the in-test COMM helper derives numSampleFrames from bits — pass
    # 8 so it counts one frame per G.711 code byte (real files carry
    # the true frame count with sampleSize=16; the decoder reads only
    # numSampleFrames in this branch)
    for cc, enc in ((b"ulaw", 1), (b"ALAW", 27)):
        pay = _encode_aiff(codes, 1, 8, 8000, form=b"AIFC", ctype=cc)
        w, sr = aiff_decoder(pay)
        want, _ = au_decoder(_encode_au(codes, enc, 8000, 1))
        assert sr == 8000 and np.array_equal(w, want), cc
    # via the public dispatch too
    w2, _ = decode_audio(_encode_aiff(codes, 1, 8, 8000, form=b"AIFC", ctype=b"ulaw"))
    assert np.array_equal(w2, _g711_table("mu")[np.frombuffer(codes, np.uint8)])


def test_wav_extensible_and_24bit():
    """r10 seam shrink: WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE — the
    standard >2ch/24-bit container; effective codec from the SubFormat
    GUID) and 24-bit PCM decode natively; AIFC 'twos' (== NONE) and
    'raw ' (offset-binary 8-bit) variants too."""
    import struct as s

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        aiff_decoder,
        decode_audio,
        manual_wav_decoder,
    )

    rng = np.random.RandomState(8)
    mono = (rng.rand(64) * 2 - 1).astype(np.float64)

    def wav(data, tag, nch, sr, bits, sub=None):
        fmt = s.pack("<HHIIHH", tag, nch, sr, sr * nch * bits // 8,
                     nch * bits // 8, bits)
        if sub is not None:  # extensible: cbSize + validBits + mask + GUID
            guid = s.pack("<H", sub) + bytes.fromhex(
                "0000000010800080" + "00AA00389B71"
            )
            fmt += s.pack("<HHI", 22, bits, 0) + guid
        body = b"WAVE" + b"fmt " + s.pack("<I", len(fmt)) + fmt
        body += b"data" + s.pack("<I", len(data)) + data
        return b"RIFF" + s.pack("<I", len(body)) + body

    # 24-bit PCM through BOTH the stdlib wave path and the manual walk
    s24 = (mono * 8388607).astype(np.int64)
    raw24 = b"".join(s.pack("<i", v << 8)[1:] for v in s24)
    w, sr = decode_audio(wav(raw24, 1, 1, 48000, 24))
    assert sr == 48000 and np.allclose(w, s24 / 8388608.0, atol=2e-7)
    w2, _ = manual_wav_decoder(wav(raw24, 1, 1, 48000, 24))
    assert np.allclose(w, w2)

    # extensible PCM-16 and float-32 (stdlib wave refuses 0xFFFE)
    s16 = (mono * 32767).astype("<i2")
    w, sr = decode_audio(wav(s16.tobytes(), 0xFFFE, 1, 44100, 16, sub=1))
    assert sr == 44100 and np.allclose(w, s16 / 32768.0)
    w, sr = decode_audio(
        wav(mono.astype("<f4").tobytes(), 0xFFFE, 1, 96000, 32, sub=3)
    )
    assert sr == 96000 and np.allclose(w, mono, atol=1e-6)
    # extensible stereo averages
    st = np.repeat(s16, 2).astype("<i2").tobytes()
    w, _ = manual_wav_decoder(wav(st, 0xFFFE, 2, 44100, 16, sub=1))
    assert np.allclose(w, s16 / 32768.0)

    # AIFC twos == NONE; raw = offset-binary 8-bit
    sb = (mono * 127).astype(np.int8)
    w_t, _ = aiff_decoder(_encode_aiff(sb.astype(">i1").tobytes(), 1, 8, 8000,
                                       form=b"AIFC", ctype=b"twos"))
    w_n, _ = aiff_decoder(_encode_aiff(sb.astype(">i1").tobytes(), 1, 8, 8000,
                                       form=b"AIFC", ctype=b"NONE"))
    assert np.array_equal(w_t, w_n)
    u8 = (sb.astype(np.int16) + 128).astype(np.uint8)
    w_r, _ = aiff_decoder(_encode_aiff(u8.tobytes(), 1, 8, 8000,
                                       form=b"AIFC", ctype=b"raw "))
    assert np.allclose(w_r, sb / 128.0)


def test_stdlib_aiff_decoder():
    """AIFF / AIFF-C PCM decodes natively: 8 (signed!) / 16 / 24 /
    32-bit, stereo averaging, the 80-bit-extended sample rate, and the
    AIFC 'sowt' little-endian variant; compressed AIFC raises."""
    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        aiff_decoder,
        decode_audio,
    )

    rng = np.random.RandomState(3)

    s16 = rng.randint(-32768, 32768, 64).astype(np.int16)
    pay = _encode_aiff(s16.astype(">i2").tobytes(), 1, 16, 44100)
    w, sr = aiff_decoder(pay)
    assert sr == 44100
    assert np.allclose(w, s16 / 32768.0)
    # magic dispatch through the public seam
    w2, sr2 = decode_audio(pay)
    assert sr2 == 44100 and np.array_equal(w, w2)

    # stereo averaging
    st = rng.randint(-32768, 32768, 64).astype(np.int16)
    inter = np.empty(128, np.int16)
    inter[0::2], inter[1::2] = s16, st
    w, sr = aiff_decoder(_encode_aiff(inter.astype(">i2").tobytes(), 2, 16, 8000))
    assert sr == 8000
    assert np.allclose(w, (s16 / 32768.0 + st / 32768.0) / 2)

    # signed 8-bit (WAV's is unsigned — conventions differ)
    s8 = rng.randint(-128, 128, 33).astype(np.int8)
    w, sr = aiff_decoder(_encode_aiff(s8.tobytes(), 1, 8, 22050))
    assert np.allclose(w, s8 / 128.0)

    # 24-bit: value == int24 / 2^23
    v24 = rng.randint(-(1 << 23), 1 << 23, 21)
    raw24 = b"".join(int(v).to_bytes(3, "big", signed=True) for v in v24)
    w, sr = aiff_decoder(_encode_aiff(raw24, 1, 24, 48000))
    assert np.allclose(w, v24 / 8388608.0)

    # 32-bit
    v32 = rng.randint(-(1 << 31), 1 << 31, 17, dtype=np.int64).astype(np.int32)
    w, _ = aiff_decoder(_encode_aiff(v32.astype(">i4").tobytes(), 1, 32, 16000))
    assert np.allclose(w, v32 / 2147483648.0)

    # AIFC sowt = little-endian frames
    w, sr = aiff_decoder(
        _encode_aiff(s16.astype("<i2").tobytes(), 1, 16, 11025, b"AIFC", b"sowt")
    )
    assert sr == 11025 and np.allclose(w, s16 / 32768.0)
    # AIFC NONE = big-endian, same as plain AIFF
    w, _ = aiff_decoder(
        _encode_aiff(s16.astype(">i2").tobytes(), 1, 16, 11025, b"AIFC", b"NONE")
    )
    assert np.allclose(w, s16 / 32768.0)

    # ima4 DECODES as of r11 (its own test); MACE 3:1 still refuses
    with _pytest.raises(ValueError, match="PCM/float only"):
        aiff_decoder(
            _encode_aiff(s16.astype(">i2").tobytes(), 1, 16, 8000, b"AIFC", b"MAC3")
        )
    with _pytest.raises(ValueError, match="magic"):
        aiff_decoder(b"FORM\x00\x00\x00\x04WAVE")


def test_stdlib_au_decoder(spark):
    """Sun AU decodes natively: big-endian PCM 8/16/24/32, G.711
    mu-law/A-law (cross-container equal to the WAV G.711 tier, whose
    tables are pinned independently), stereo averaging, and the Arrow
    feature pipeline on the default decoder."""
    import struct as s

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        au_decoder,
        decode_audio,
        extract_audio_features,
        g711_wav_decoder,
    )

    rng = np.random.RandomState(5)

    s16 = rng.randint(-32768, 32768, 50).astype(np.int16)
    w, sr = au_decoder(_encode_au(s16.astype(">i2").tobytes(), 3, 16000, 1))
    assert sr == 16000 and np.allclose(w, s16 / 32768.0)

    s8 = rng.randint(-128, 128, 40).astype(np.int8)
    w, _ = au_decoder(_encode_au(s8.tobytes(), 2, 8000, 1))
    assert np.allclose(w, s8 / 128.0)

    v24 = rng.randint(-(1 << 23), 1 << 23, 15)
    raw24 = b"".join(int(v).to_bytes(3, "big", signed=True) for v in v24)
    w, _ = au_decoder(_encode_au(raw24, 4, 8000, 1))
    assert np.allclose(w, v24 / 8388608.0)

    v32 = rng.randint(-(1 << 31), 1 << 31, 11, dtype=np.int64).astype(np.int32)
    w, _ = au_decoder(_encode_au(v32.astype(">i4").tobytes(), 5, 8000, 1))
    assert np.allclose(w, v32 / 2147483648.0)

    # G.711: all 256 codes, equal to the WAV G.711 tier (tables pinned
    # independently by test_g711_wav_decoder_mu_and_a_law)
    codes = bytes(range(256))
    for au_enc, wav_tag in ((1, 7), (27, 6)):
        wav = (
            b"RIFF"
            + s.pack("<I", 36 + len(codes))
            + b"WAVEfmt "
            + s.pack("<IHHIIHH", 16, wav_tag, 1, 8000, 8000, 1, 8)
            + b"data"
            + s.pack("<I", len(codes))
            + codes
        )
        w_au, sr_au = au_decoder(_encode_au(codes, au_enc, 8000, 1))
        w_wav, _ = g711_wav_decoder(wav)
        assert sr_au == 8000 and np.array_equal(w_au, w_wav)

    # stereo averaging
    inter = np.empty(100, np.int16)
    inter[0::2], inter[1::2] = s16, s16[::-1]
    w, _ = au_decoder(_encode_au(inter.astype(">i2").tobytes(), 3, 8000, 2))
    assert np.allclose(w, (s16.astype(np.int64) + s16[::-1]) / 2 / 32768.0)

    with _pytest.raises(ValueError, match="unsupported encoding"):
        au_decoder(_encode_au(b"\x00" * 8, 23, 8000, 1))  # G.721 ADPCM
    with _pytest.raises(ValueError, match="magic"):
        au_decoder(b"!snd" + b"\x00" * 20)

    # Arrow feature pipeline on the DEFAULT decoder: one AIFF + one AU
    aiff = _encode_aiff(s16.astype(">i2").tobytes(), 1, 16, 44100)
    au = _encode_au(s16.astype(">i2").tobytes(), 3, 16000, 1)
    wave = s16 / 32768.0
    df = spark.createDataFrame(
        [(0, bytearray(aiff)), (1, bytearray(au))], ["doc_id", "payload"]
    )
    rows = {r["doc_id"]: r for r in extract_audio_features(df).collect()}
    for i, sr_want in ((0, 44100), (1, 16000)):
        r = rows[i]
        assert r["n_samples"] == 50
        assert r["sample_rate"] == sr_want
        assert r["rms"] == round(float(np.sqrt(np.mean(wave**2))), 9)
        assert r["zero_crossings"] == int(
            np.count_nonzero(np.diff(np.signbit(wave)))
        )
    # decode_audio magic dispatch consistency
    assert np.array_equal(decode_audio(au)[0], decode_audio(aiff)[0])


# --- MP4 / ISO BMFF (r9 continuation): independent writer for the pins ------


def test_ico_la_png_entry_returns_real_rgba():
    """r10 ADVICE fix: a gray+alpha (color type 4) PNG wrapped in an
    ICO must honor the RGBA contract — luma repeated to RGB, the REAL
    alpha kept — not the [luma, alpha, 255] garbage the opaque-fill
    path produced."""
    import struct as s

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import ico_decoder

    rng = np.random.RandomState(7)
    la = rng.randint(0, 256, (6, 5, 2)).astype(np.uint8)
    png = _encode_png(la, filters=[0, 1, 2, 3, 4, 0])
    entry = s.pack("<BBBBHHII", 5, 6, 0, 0, 1, 32, len(png), 6 + 16)
    pay = s.pack("<HHH", 0, 1, 1) + entry + png
    out = ico_decoder(pay)
    assert out.shape == (6, 5, 4)
    for ch in range(3):
        assert np.array_equal(out[:, :, ch], la[:, :, 0]), "luma plane"
    assert np.array_equal(out[:, :, 3], la[:, :, 1]), "real alpha kept"


def test_aiff_ssnd_padding_not_decoded_as_audio():
    """Review fix: SSND block-alignment pad bytes past COMM's
    numSampleFrames must not become spurious samples."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import aiff_decoder

    s16 = np.arange(-20, 20, dtype=np.int16)
    raw = s16.astype(">i2").tobytes()
    padded = raw + b"\x7f" * 6  # alignment junk after the real frames
    pay = _encode_aiff(raw, 1, 16, 8000)
    pay_padded = _encode_aiff(padded, 1, 16, 8000)
    # the padded SSND must decode to the SAME waveform: nframes in the
    # in-test COMM writer is derived from the REAL byte count
    import struct as _s

    # patch COMM numSampleFrames back to the true frame count (the
    # helper computed it from the padded length)
    comm_pos = pay_padded.find(b"COMM") + 8
    pay_padded = (
        pay_padded[: comm_pos + 2]
        + _s.pack(">I", len(s16))
        + pay_padded[comm_pos + 6 :]
    )
    w1, _ = aiff_decoder(pay)
    w2, _ = aiff_decoder(pay_padded)
    assert np.array_equal(w1, w2)
    assert len(w2) == len(s16)


# --- ICO / TGA (r9 continuation): independent writers for the pins ----------


def _encode_ico(images):
    """Independent ICO writer. images: list of dicts — either
    {"png": bytes, "w", "h"} or {"rgb": HxWx3, "alpha": HxW bool
    opaque-mask or None, "bpp": 24|32|8|4|1, "pal": palette or None,
    "idx": index array for paletted}."""
    import struct as s

    import numpy as np

    blobs = []
    for im in images:
        if "png" in im:
            blobs.append((im["w"], im["h"], im["png"]))
            continue
        bpp = im["bpp"]
        h, w = (
            im["idx"].shape if im.get("idx") is not None else im["rgb"].shape[:2]
        )
        opaque = (
            im["alpha"]
            if im.get("alpha") is not None
            else np.ones((h, w), dtype=bool)
        )
        hdr = s.pack(
            "<IiiHHIIiiII", 40, w, h * 2, 1, bpp, 0, 0, 0, 0,
            (len(im["pal"]) if im.get("pal") is not None else 0), 0,
        )
        body = bytearray(hdr)
        if im.get("pal") is not None:
            for r, g, b in im["pal"]:
                body += bytes([b, g, r, 0])
        xor_rb = ((bpp * w + 31) // 32) * 4
        for y in range(h - 1, -1, -1):
            row = bytearray()
            if bpp == 32:
                for x in range(w):
                    r, g, b = im["rgb"][y, x]
                    row += bytes([b, g, r, 255 if opaque[y, x] else 0])
            elif bpp == 24:
                for x in range(w):
                    r, g, b = im["rgb"][y, x]
                    row += bytes([b, g, r])
            elif bpp == 8:
                row += bytes(int(v) for v in im["idx"][y])
            else:  # 4 or 1: MSB-first packing
                bits = "".join(
                    format(int(v), f"0{bpp}b") for v in im["idx"][y]
                )
                bits += "0" * (-len(bits) % 8)
                row += bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
            row += b"\x00" * (xor_rb - len(row))
            body += row
        and_rb = ((w + 31) // 32) * 4
        for y in range(h - 1, -1, -1):
            bits = "".join("0" if opaque[y, x] else "1" for x in range(w))
            bits += "0" * (-len(bits) % 8)
            row = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
            body += row + b"\x00" * (and_rb - len(row))
        blobs.append((w, h, bytes(body)))

    out = bytearray(s.pack("<HHH", 0, 1, len(blobs)))
    off = 6 + 16 * len(blobs)
    for w, h, blob in blobs:
        out += s.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 0, len(blob), off
        )
        off += len(blob)
    for _w, _h, blob in blobs:
        out += blob
    return bytes(out)


def _tga_rle(pix_bytes, depth):
    """Independent TGA RLE compressor: runs >= 2 as run packets."""
    out = bytearray()
    px = [pix_bytes[i : i + depth] for i in range(0, len(pix_bytes), depth)]
    i = 0
    while i < len(px):
        run = 1
        while i + run < len(px) and run < 128 and px[i + run] == px[i]:
            run += 1
        if run >= 2:
            out += bytes([0x80 | (run - 1)]) + px[i]
            i += run
            continue
        start = i
        i += 1
        while (
            i < len(px)
            and i - start < 128
            and not (i + 1 < len(px) and px[i + 1] == px[i])
        ):
            i += 1
        out += bytes([i - start - 1]) + b"".join(px[start:i])
    return bytes(out)


def _encode_tga(
    arr=None, idx=None, pal=None, rle=False, top_down=False, footer=True
):
    """Independent TGA writer: truecolor/gray/paletted, raw or RLE."""
    import numpy as np

    if idx is not None:
        h, w = idx.shape
        base, depth = 1, 1
        pix = bytes(int(v) for v in idx.ravel())
        cmtype, cm_len, cm_bits = 1, len(pal), 8 * pal.shape[1]
    else:
        h, w = arr.shape[:2]
        c = arr.shape[2]
        if c == 1:
            base, depth = 3, 1
            pix = arr.tobytes()
        else:
            base, depth = 2, c
            pix = arr[:, :, [2, 1, 0] + ([3] if c == 4 else [])].tobytes()
        cmtype, cm_len, cm_bits = 0, 0, 0
    rows = [pix[y * w * depth : (y + 1) * w * depth] for y in range(h)]
    if not top_down:
        rows = rows[::-1]
    pix = b"".join(rows)
    body = _tga_rle(pix, depth) if rle else pix
    import struct as s

    hdr = s.pack(
        "<BBBHHBHHHHBB", 0, cmtype, base | (8 if rle else 0),
        0, cm_len, cm_bits, 0, 0, w, h, depth * 8,
        0x20 if top_down else 0,
    )
    palette = b""
    if pal is not None:
        es = pal.shape[1]
        for row in pal:
            palette += bytes(
                [row[2], row[1], row[0]] + ([row[3]] if es == 4 else [])
            )
    out = hdr + palette + body
    if footer:
        out += b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"
    return out


def test_ico_decoder_all_depths():
    """ICO: PNG entries, 32/24-bpp DIBs with AND masks, 8/4/1-bpp
    paletted DIBs, largest-entry selection, through decode_image."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        ico_decoder,
    )

    rng = np.random.RandomState(11)
    h, w = 10, 9
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    alpha = rng.rand(h, w) > 0.3

    for bpp in (32, 24):
        pay = _encode_ico([{"rgb": rgb, "alpha": alpha, "bpp": bpp}])
        out = ico_decoder(pay)
        assert out.shape == (h, w, 4)
        assert np.array_equal(out[:, :, :3], rgb)
        assert np.array_equal(out[:, :, 3] == 255, alpha)

    for bpp in (8, 4, 1):
        n = 1 << min(bpp, 4)
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.randint(0, n, (h, w)).astype(np.uint8)
        pay = _encode_ico(
            [{"idx": idx, "pal": pal, "alpha": alpha, "bpp": bpp}]
        )
        out = ico_decoder(pay)
        assert np.array_equal(out[:, :, :3], pal[idx]), f"bpp {bpp}"
        assert np.array_equal(out[:, :, 3] == 255, alpha)

    # largest entry wins; PNG entries route through the PNG tier
    small = rng.randint(0, 256, (4, 4, 3)).astype(np.uint8)
    pay = _encode_ico(
        [{"rgb": small, "bpp": 24}, {"rgb": rgb, "alpha": alpha, "bpp": 32}]
    )
    assert np.array_equal(ico_decoder(pay)[:, :, :3], rgb)
    # decode_image magic dispatch
    out = decode_image(_encode_ico([{"rgb": rgb, "alpha": alpha, "bpp": 32}]))
    assert np.array_equal(out[:, :, :3], rgb)


def test_tga_decoder_all_variants():
    """TGA: truecolor 24/32 raw+RLE, grayscale, paletted (24/32-bit
    palettes), both origins; footer-bearing files dispatch through
    decode_image; 16-bpp refuses."""
    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        tga_decoder,
    )

    rng = np.random.RandomState(13)
    h, w = 11, 7
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    rgba = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
    gray = rng.randint(0, 256, (h, w, 1)).astype(np.uint8)

    for arr in (rgb, rgba, gray):
        for rle in (False, True):
            for td in (False, True):
                got = tga_decoder(_encode_tga(arr, rle=rle, top_down=td))
                assert np.array_equal(got, arr), f"{arr.shape} rle={rle} td={td}"

    # RLE with genuine runs (stripes)
    stripes = np.repeat(rng.randint(0, 256, (h, 3, 3)).astype(np.uint8), 3, axis=1)[:, :w]
    assert np.array_equal(tga_decoder(_encode_tga(stripes, rle=True)), stripes)

    # paletted, 24- and 32-bit palette entries
    for es in (3, 4):
        pal = rng.randint(0, 256, (32, es)).astype(np.uint8)
        idx = rng.randint(0, 32, (h, w)).astype(np.uint8)
        got = tga_decoder(_encode_tga(idx=idx, pal=pal, rle=True))
        assert np.array_equal(got, pal[idx])

    # footer dispatch through decode_image; footerless needs explicit call
    assert np.array_equal(decode_image(_encode_tga(rgb)), rgb)
    bare = _encode_tga(rgb, footer=False)
    assert np.array_equal(tga_decoder(bare), rgb)

    with _pytest.raises(ValueError, match="pixel depth"):
        bad = bytearray(_encode_tga(rgb))
        bad[16] = 16
        tga_decoder(bytes(bad))


def test_containment_pairs_catches_subdocument_duplication(spark):
    """r11: containment = |A∩B|/min(|A|,|B|) flags a short doc embedded
    in a long one (Jaccard misses it as the host grows), reports the
    contained (smaller-set) doc as the keep-list drop candidate, and
    stays quiet on unrelated docs."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    host = (
        "intro words before the borrowed passage now " + quote
        + " and then a very long unrelated tail "
        + " ".join(f"tail{i:02d} filler token" for i in range(40))
    )
    df = spark.createDataFrame(
        [(1, quote), (2, host), (3, "completely different content here entirely")],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(df, n=3, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["containment"] == 1.0  # every quote shingle is in the host
    assert r["contained_id"] == 1  # the smaller-set doc is the drop candidate
    # Jaccard at the same strictness misses this pair entirely
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(df, n=3, threshold=0.8).collect()
    }
    assert (1, 2) not in jac

    # equal-size tie: contained_id falls to the lower doc_id
    a = "one two three four five six seven eight"
    df2 = spark.createDataFrame([(7, a), (9, a)], ["doc_id", "text"])
    rows = containment_pairs(df2, n=3, threshold=0.8).collect()
    assert len(rows) == 1 and rows[0]["contained_id"] == 7

    # the stop-shingle cap drops boilerplate-only overlap
    boiler = "shared boilerplate navigation footer text block here"
    many = [(100 + i, boiler + f" unique{i:03d} suffix{i:03d} extra{i:03d}") for i in range(8)]
    df3 = spark.createDataFrame(many + [(1, boiler), (2, boiler)], ["doc_id", "text"])
    capped = containment_pairs(df3, n=3, threshold=0.8, max_doc_freq=3).collect()
    assert capped == []


def test_bm25_topk_relevance_length_norm_and_idf(spark):
    """r11: BM25 ranks a term-dense doc first; at equal tf the longer
    doc scores LOWER (length normalization); a rarer term outscores a
    common one at the same tf (idf); ranks are contiguous and the
    output deterministic across runs."""
    from cdc_historical_warehouse_platform_spark.operators.text import bm25_topk

    filler = " ".join(f"pad{i:02d}" for i in range(30))
    rows = [
        (1, "vector vector vector merge short doc"),
        (2, "vector " + filler),                  # tf=1, long
        (3, "vector unrelated words here"),       # tf=1, short
        (4, "merge " + filler),                   # 'merge' df lower than 'vector'
        (5, filler + " nothing relevant"),
        (6, "vector " + filler),                  # duplicate shape of 2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, ["vector", "merge"], k=10).collect()
    by_rank = {r["rank"]: r for r in got}
    assert sorted(by_rank) == list(range(1, len(got) + 1))
    assert by_rank[1]["doc_id"] == 1  # dense short doc wins
    assert by_rank[1]["n_terms_hit"] == 2
    score = {r["doc_id"]: r["score_micronats"] for r in got}
    assert 5 not in score  # no query term, never scored
    assert score[3] > score[2]  # same tf, shorter doc scores higher
    # ties (identical tf and dl) score identically, rank by doc_id
    assert score[2] == score[6]
    r2 = next(r for r in got if r["doc_id"] == 2)
    r6 = next(r for r in got if r["doc_id"] == 6)
    assert r2["rank"] < r6["rank"]
    # rarer 'merge' (df=2) beats 'vector' (df=4) at equal tf and dl
    assert score[4] > score[2]
    # deterministic across runs
    again = bm25_topk(df, ["vector", "merge"], k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_bm25_topk_empty_corpus_returns_empty_with_schema(spark):
    """r12 ADVICE fix: an empty documents table used to die computing
    avgdl (sum_dl=None, n=0 → TypeError/ZeroDivisionError); the correct
    answer is an empty top-k carrying the output schema, with doc_id
    keeping the caller's id type."""
    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.operators.text import bm25_topk

    empty = spark.createDataFrame(
        [], T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
    )
    got = bm25_topk(empty, ["vector"], k=5)
    assert got.columns == ["rank", "doc_id", "score_micronats", "n_terms_hit"]
    assert got.schema["doc_id"].dataType == T.LongType()
    assert got.count() == 0


def test_aifc_ima4_decodes():
    """r11 seam shrink: Apple IMA4 AIFC ('ima4' — QuickTime's ADPCM)
    decodes natively: 34-byte packets (2-byte BE state header: top 9
    predictor bits + 7-bit step index; 32 nibble bytes = 64 samples),
    channel packets interleaved per 64-frame group, header predictor
    as STATE ONLY (not emitted, unlike WAV IMA blocks). Pinned exact
    against the reference IMA step walk; numSampleFrames truncates
    the final packet's padding; decode_audio dispatches."""
    import struct

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        _IMA_INDEX_ADJUST,
        _IMA_STEPS,
        aiff_decoder,
        decode_audio,
    )

    def ref_decode(nibbles, pred, idx):
        out = []
        for nib in nibbles:
            step = _IMA_STEPS[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX_ADJUST[nib & 7]))
            out.append(pred)
        return out

    def packet(pred, idx, nibs):
        assert len(nibs) == 64 and pred % 128 == 0
        h = (pred & 0xFFFF) & 0xFF80 | idx
        body = bytearray(struct.pack(">H", h))
        for i in range(0, 64, 2):
            body.append((nibs[i + 1] << 4) | nibs[i])
        return bytes(body)

    def aifc_ima4(nch, rate, nframes, packets):
        comm = struct.pack(">hIh", nch, nframes, 16) + _ext80(rate)
        comm += b"ima4" + b"\x04name"
        ssnd = struct.pack(">II", 0, 0) + b"".join(packets)
        body = b""
        for cid, c in ((b"COMM", comm), (b"SSND", ssnd)):
            body += cid + struct.pack(">I", len(c)) + c + (
                b"\x00" if len(c) & 1 else b""
            )
        return b"FORM" + struct.pack(">I", 4 + len(body)) + b"AIFC" + body

    rng = np.random.RandomState(23)
    nibs1 = rng.randint(0, 16, 64).tolist()
    nibs2 = rng.randint(0, 16, 64).tolist()

    # mono, two packets with distinct state headers (seek property)
    pay = aifc_ima4(1, 22050, 128, [packet(256, 5, nibs1), packet(-2048, 30, nibs2)])
    wv, sr = aiff_decoder(pay)
    expect = ref_decode(nibs1, 256, 5) + ref_decode(nibs2, -2048, 30)
    assert sr == 22050
    assert np.array_equal(wv, np.array(expect, dtype=np.float64) / 32768.0)

    # numSampleFrames truncates the final packet's alignment padding
    pay = aifc_ima4(1, 22050, 100, [packet(256, 5, nibs1), packet(-2048, 30, nibs2)])
    wv, _ = aiff_decoder(pay)
    assert np.array_equal(wv, np.array(expect[:100], dtype=np.float64) / 32768.0)

    # stereo: per-channel packets interleave per 64-frame group
    pay = aifc_ima4(
        2, 8000, 64, [packet(0, 10, nibs1), packet(-128, 40, nibs2)]
    )
    wv, sr = aiff_decoder(pay)
    l = np.array(ref_decode(nibs1, 0, 10), dtype=np.float64)
    r = np.array(ref_decode(nibs2, -128, 40), dtype=np.float64)
    assert sr == 8000
    assert np.array_equal(wv, (l + r) / 2.0 / 32768.0)
    wv2, _ = decode_audio(pay)
    assert np.array_equal(wv2, wv)

    # out-of-range step index refuses cleanly
    bad = bytearray(packet(0, 10, nibs1))
    bad[1] = 0x7F  # index 127 > 88
    import pytest as _pytest

    with _pytest.raises(ValueError, match="step index"):
        aiff_decoder(aifc_ima4(1, 8000, 64, [bytes(bad)]))


def test_ms_adpcm_wav_decoder():
    """r11 seam shrink: Microsoft ADPCM WAV (tag 0x02) decodes
    natively — per-block per-channel (predictor idx, idelta, two seed
    samples emitted older-first), HIGH-nibble-first 4-bit codes,
    channels alternating per nibble in stereo — pinned bit-exact
    against the reference scalar walk, through the raw decoder AND
    decode_audio dispatch; bad predictor indexes refuse."""
    import struct

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        _MS_ADPCM_ADAPT,
        _MS_ADPCM_COEF1,
        _MS_ADPCM_COEF2,
        decode_audio,
        ms_adpcm_wav_decoder,
    )

    def ref_walk(codes, pidx, idelta, s1, s2):
        out = [s2, s1]
        for code in codes:
            signed = code - 16 if code >= 8 else code
            pred = (
                (s1 * _MS_ADPCM_COEF1[pidx] + s2 * _MS_ADPCM_COEF2[pidx]) >> 8
            ) + signed * idelta
            pred = max(-32768, min(32767, pred))
            s2, s1 = s1, pred
            idelta = max(16, (_MS_ADPCM_ADAPT[code] * idelta) >> 8)
            out.append(pred)
        return out

    def wav(nch, sr, blocks):
        """blocks: per block, per channel (pidx, idelta, s1, s2, codes)."""
        n_codes = len(blocks[0][0][4])
        balign = 7 * nch + (n_codes * nch) // 2
        fmt = struct.pack("<HHIIHH", 0x02, nch, sr, sr, balign, 4)
        data = bytearray()
        for chans in blocks:
            for p, _, _, _, _ in chans:
                data.append(p)
            for _, idelta, _, _, _ in chans:
                data += struct.pack("<h", idelta)
            for _, _, s1, _, _ in chans:
                data += struct.pack("<h", s1)
            for _, _, _, s2, _ in chans:
                data += struct.pack("<h", s2)
            # codes: channels alternate per nibble, HIGH nibble first
            inter = []
            for i in range(n_codes):
                for c in range(nch):
                    inter.append(chans[c][4][i])
            for i in range(0, len(inter), 2):
                data.append((inter[i] << 4) | inter[i + 1])
        riff = (
            b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + bytes(data)
        )
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    rng = np.random.RandomState(31)
    codes1 = rng.randint(0, 16, 40).tolist()
    codes2 = rng.randint(0, 16, 40).tolist()

    # mono, two blocks with different predictors/states
    pay = wav(1, 8000, [
        [(0, 200, 300, 100, codes1)],
        [(3, 5000, -8000, -7000, codes2)],
    ])
    wv, sr = ms_adpcm_wav_decoder(pay)
    expect = ref_walk(codes1, 0, 200, 300, 100) + ref_walk(codes2, 3, 5000, -8000, -7000)
    assert sr == 8000
    assert np.array_equal(wv, np.array(expect, dtype=np.float64) / 32768.0)

    # stereo: nibbles alternate channels; averaged to mono; dispatch
    pay = wav(2, 16000, [[(1, 64, 1000, 900, codes1), (6, 300, -50, -40, codes2)]])
    wv, sr = ms_adpcm_wav_decoder(pay)
    l = np.array(ref_walk(codes1, 1, 64, 1000, 900), dtype=np.float64)
    r = np.array(ref_walk(codes2, 6, 300, -50, -40), dtype=np.float64)
    assert sr == 16000 and np.array_equal(wv, (l + r) / 2.0 / 32768.0)
    wv2, _ = decode_audio(pay)
    assert np.array_equal(wv2, wv)

    # predictor index out of range refuses
    import pytest as _pytest

    bad = wav(1, 8000, [[(7, 200, 300, 100, codes1)]])
    with _pytest.raises(ValueError, match="predictor index"):
        ms_adpcm_wav_decoder(bad)


def test_ms_adpcm_wsamples_per_block_and_partial_tail():
    """r12 ADVICE fix: wSamplesPerBlock (fmt extension) truncates each
    block's output so pad nibbles in a not-fully-populated final block
    never emit spurious samples; a trailing PARTIAL block (full header,
    short code body) decodes instead of being dropped; a fact chunk
    caps the total frame count; an out-of-range wSamplesPerBlock
    refuses."""
    import struct

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        _MS_ADPCM_ADAPT,
        _MS_ADPCM_COEF1,
        _MS_ADPCM_COEF2,
        ms_adpcm_wav_decoder,
    )

    def ref_walk(codes, pidx, idelta, s1, s2):
        out = [s2, s1]
        for code in codes:
            signed = code - 16 if code >= 8 else code
            pred = (
                (s1 * _MS_ADPCM_COEF1[pidx] + s2 * _MS_ADPCM_COEF2[pidx]) >> 8
            ) + signed * idelta
            pred = max(-32768, min(32767, pred))
            s2, s1 = s1, pred
            idelta = max(16, (_MS_ADPCM_ADAPT[code] * idelta) >> 8)
            out.append(pred)
        return out

    def wav(balign, spb, data, fact=None):
        """Mono, explicit nBlockAlign + wSamplesPerBlock ext, raw data."""
        fmt = struct.pack("<HHIIHH", 0x02, 1, 8000, 8000, balign, 4)
        fmt += struct.pack("<HH", 2, spb)  # cbSize=2, wSamplesPerBlock
        chunks = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        if fact is not None:
            chunks += b"fact" + struct.pack("<I", 4) + struct.pack("<I", fact)
        chunks += b"data" + struct.pack("<I", len(data)) + bytes(data)
        return b"RIFF" + struct.pack("<I", len(chunks)) + chunks

    def block(pidx, idelta, s1, s2, codes, pad_bytes=0):
        b = bytearray([pidx])
        b += struct.pack("<hhh", idelta, s1, s2)
        for i in range(0, len(codes), 2):
            lo = codes[i + 1] if i + 1 < len(codes) else 0
            b.append((codes[i] << 4) | lo)
        b += b"\x0f" * pad_bytes  # pad nibbles that must NOT decode
        return bytes(b)

    rng = np.random.RandomState(7)
    codes = rng.randint(0, 16, 10).tolist()

    # balign 7+8=15 holds up to 2+16 samples; spb=12 says only 10
    # code nibbles are real — the last 3 pad bytes must not emit
    balign = 7 + 8
    pay = wav(balign, 12, block(0, 256, 500, 400, codes, pad_bytes=3))
    wv, sr = ms_adpcm_wav_decoder(pay)
    want = np.array(ref_walk(codes, 0, 256, 500, 400), dtype=np.float64) / 32768.0
    assert sr == 8000 and np.array_equal(wv, want)

    # trailing partial block: full 15-byte first block (12 samples by
    # spb) + a 10-byte tail (header + 3 code bytes = 6 nibbles)
    tail_codes = rng.randint(0, 16, 6).tolist()
    data = block(0, 256, 500, 400, codes, pad_bytes=3) + block(
        1, 300, -100, -200, tail_codes
    )
    pay = wav(balign, 12, data)
    wv, _ = ms_adpcm_wav_decoder(pay)
    want2 = np.concatenate(
        [want, np.array(ref_walk(tail_codes, 1, 300, -100, -200)) / 32768.0]
    )
    assert np.array_equal(wv, want2)

    # fact chunk caps the total (12 + 8 decoded, fact says 15)
    pay = wav(balign, 12, data, fact=15)
    wv, _ = ms_adpcm_wav_decoder(pay)
    assert np.array_equal(wv, want2[:15])

    # wSamplesPerBlock beyond the block geometry refuses
    with _pytest.raises(ValueError, match="wSamplesPerBlock"):
        ms_adpcm_wav_decoder(wav(balign, 99, block(0, 256, 500, 400, codes)))


def test_bmp_palette_and_rle8_decode():
    """r11 seam shrink: 8-bit paletted BMP (BI_RGB) and RLE8 BMP
    decode natively — encoded runs, absolute runs (word-aligned),
    end-of-line, delta skips, end-of-bitmap — pinned against an
    independent writer; 4-bit BMP keeps refusing."""
    import struct

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        bmp_decoder,
    )

    def bmp8(idx_rows, pal, rle_stream=None, n_colors=None):
        h, w = idx_rows.shape
        pal_bytes = b"".join(
            bytes([b, g, r, 0]) for r, g, b in pal
        )
        if rle_stream is None:
            row_bytes = ((8 * w + 31) // 32) * 4
            raster = b"".join(
                idx_rows[y].tobytes().ljust(row_bytes, b"\0")
                for y in range(h - 1, -1, -1)
            )
            comp = 0
        else:
            raster = rle_stream
            comp = 1
        off = 14 + 40 + len(pal_bytes)
        hdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, comp, len(raster), 0, 0,
            n_colors if n_colors is not None else len(pal), 0,
        )
        return hdr + info + pal_bytes + raster

    rng = np.random.RandomState(43)
    pal = [(rng.randint(256), rng.randint(256), rng.randint(256)) for _ in range(16)]
    idx = rng.randint(0, 16, (5, 7)).astype(np.uint8)
    want = np.array(pal, dtype=np.uint8)[idx]

    # uncompressed paletted (explicit and zero biClrUsed=256 default)
    assert np.array_equal(bmp_decoder(bmp8(idx, pal)), want)
    pal256 = pal + [(0, 0, 0)] * 240
    assert np.array_equal(bmp_decoder(bmp8(idx, pal256, n_colors=0)), want)

    # RLE8: encoded run + absolute run + delta + EOL + EOB
    # target 4x6 image, rows encoded bottom-up
    pal2 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    want2 = np.zeros((4, 6), dtype=np.uint8)
    stream = bytearray()
    # bottom row (y buffer 0): run of 4 x color1, then 2 x color2
    stream += bytes([4, 1, 2, 2, 0, 0])
    want2[0, :4] = 1
    want2[0, 4:6] = 2
    # next row: absolute run of 3 literals (padded to word), rest 0
    stream += bytes([0, 3, 3, 1, 2, 0]) + bytes([0, 0])
    want2[1, :3] = [3, 1, 2]
    # delta: skip 2 right, 1 row up (buffer y 2 -> 3), then 2 x color3
    stream += bytes([0, 2, 2, 1, 2, 3])
    want2[3, 2:4] = 3
    stream += bytes([0, 1])  # end of bitmap
    got = bmp_decoder(bmp8(np.zeros((4, 6), np.uint8), pal2, bytes(stream)))
    assert np.array_equal(got, np.array(pal2, dtype=np.uint8)[want2[::-1]])

    # an unsupported pairing (8-bit + RLE4 tag) still refuses to the
    # Pillow seam (every standard BMP shape DECODES as of r11)
    bad = bytearray(bmp8(idx, pal))
    struct.pack_into("<I", bad, 30, 2)  # RLE4 tag on an 8-bit image
    with _pytest.raises(ValueError, match="stdlib BMP tier"):
        bmp_decoder(bytes(bad))


def test_ppm_16bit_decodes():
    """r11 seam shrink: maxval-65535 netpbm (16-bit P5/P6) decodes
    big-endian wide samples with the high-byte fold (the PNG16/TIFF16
    contract); other >255 maxvals keep refusing."""
    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_image,
        ppm_decoder,
    )

    rng = np.random.RandomState(47)
    wide = rng.randint(0, 65536, (3, 4, 3)).astype(">u2")
    pay = b"P6\n4 3\n65535\n" + wide.tobytes()
    want = (wide >> 8).astype(np.uint8)
    assert np.array_equal(ppm_decoder(pay), want)
    assert np.array_equal(decode_image(pay), want)

    gray = rng.randint(0, 65536, (2, 5, 1)).astype(">u2")
    pay = b"P5\n5 2\n65535\n" + gray.tobytes()
    assert np.array_equal(ppm_decoder(pay), (gray >> 8).astype(np.uint8))

    with _pytest.raises(ValueError, match="65535"):
        ppm_decoder(b"P6\n1 1\n1023\n\x00\x00\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="raster size mismatch"):
        ppm_decoder(b"P6\n4 3\n65535\n" + wide.tobytes()[:-3])


def test_bmp_1_and_4_bit_palette_decode():
    """r11: sub-byte paletted BMP — 1-bit (MSB-first bits) and 4-bit
    (high nibble first) indexes, 4-byte-padded bottom-up rows —
    decode against an independent writer; 16-bit bitfield refuses."""
    import struct

    import numpy as np
    import pytest as _pytest

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        bmp_decoder,
    )

    def bmp_sub(idx_rows, pal, bpp):
        h, w = idx_rows.shape
        pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
        row_bytes = ((bpp * w + 31) // 32) * 4
        raster = bytearray()
        for y in range(h - 1, -1, -1):
            row = bytearray()
            if bpp == 1:
                for i in range(0, w, 8):
                    byte = 0
                    for j, v in enumerate(idx_rows[y, i : i + 8]):
                        byte |= int(v) << (7 - j)
                    row.append(byte)
            else:
                for i in range(0, w, 2):
                    hi = int(idx_rows[y, i]) << 4
                    lo = int(idx_rows[y, i + 1]) if i + 1 < w else 0
                    row.append(hi | lo)
            raster += bytes(row).ljust(row_bytes, b"\0")
        off = 14 + 40 + len(pal_bytes)
        hdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(raster), 0, 0, len(pal), 0
        )
        return hdr + info + pal_bytes + bytes(raster)

    rng = np.random.RandomState(53)
    mono = rng.randint(0, 2, (6, 11)).astype(np.uint8)
    pal1 = [(255, 255, 255), (10, 20, 30)]
    assert np.array_equal(
        bmp_decoder(bmp_sub(mono, pal1, 1)), np.array(pal1, np.uint8)[mono]
    )

    idx4 = rng.randint(0, 16, (5, 7)).astype(np.uint8)
    pal4 = [(rng.randint(256), rng.randint(256), rng.randint(256)) for _ in range(16)]
    assert np.array_equal(
        bmp_decoder(bmp_sub(idx4, pal4, 4)), np.array(pal4, np.uint8)[idx4]
    )

    bad = bytearray(bmp_sub(idx4, pal4, 4))
    struct.pack_into("<H", bad, 28, 2)  # 2-bit: not a BMP bit depth
    with _pytest.raises(ValueError, match="stdlib BMP tier"):
        bmp_decoder(bytes(bad))


def test_bmp_16_and_32_bit_direct_color_decode():
    """r11: 16-bit XRGB555 / RGB565-bitfields and 32-bit BGRX BMPs
    decode with round-trip-exact channel expansion (x*255/maxval,
    rounded) — pinned against an independent writer."""
    import struct

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        bmp_decoder,
    )

    def bmp_direct(words, bpp, masks=None):
        h, w = words.shape
        extra = struct.pack("<III", *masks) if masks else b""
        row_raw = words.astype("<u2" if bpp == 16 else "<u4").tobytes()
        row_bytes = ((bpp * w + 31) // 32) * 4
        stride = w * (bpp // 8)
        raster = b"".join(
            row_raw[y * stride : (y + 1) * stride].ljust(row_bytes, b"\0")
            for y in range(h - 1, -1, -1)
        )
        off = 14 + 40 + len(extra)
        hdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, 3 if masks else 0,
            len(raster), 0, 0, 0, 0,
        )
        return hdr + info + extra + raster

    def expand(v, mask):
        shift = (mask & -mask).bit_length() - 1
        mx = mask >> shift
        return ((((v >> shift) & mx) * 255 + mx // 2) // mx).astype(np.uint8)

    rng = np.random.RandomState(59)
    # 16-bit default XRGB555
    w555 = rng.randint(0, 1 << 15, (4, 5)).astype(np.uint32)
    want = np.stack(
        [expand(w555, m) for m in (0x7C00, 0x03E0, 0x001F)], axis=2
    )
    assert np.array_equal(bmp_decoder(bmp_direct(w555, 16)), want)

    # 16-bit RGB565 via BI_BITFIELDS
    w565 = rng.randint(0, 1 << 16, (3, 6)).astype(np.uint32)
    masks = (0xF800, 0x07E0, 0x001F)
    want = np.stack([expand(w565, m) for m in masks], axis=2)
    assert np.array_equal(bmp_decoder(bmp_direct(w565, 16, masks)), want)

    # 32-bit BGRX (default masks are byte-aligned: exact passthrough)
    w32 = rng.randint(0, 1 << 31, (2, 3)).astype(np.uint32)
    want = np.stack(
        [expand(w32, m) for m in (0x00FF0000, 0x0000FF00, 0x000000FF)], axis=2
    )
    assert np.array_equal(bmp_decoder(bmp_direct(w32, 32)), want)


def test_stdlib_decoders_match_jdk_imageio_encoders(spark):
    """r11 cross-validation: the lossless stdlib decoders (PNG, BMP)
    decode files produced by a fully INDEPENDENT implementation — the
    JDK's javax.imageio writers — bit-exact, on random RGB content."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        bmp_decoder,
        png_decoder,
    )
    jvm = spark._jvm

    def jdk_encode(rgb, fmt, compression=None):
        src = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(bytearray(_encode_bmp24(rgb)))
        )
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
        wr.setOutput(ios)
        p = wr.getDefaultWriteParam()
        if compression is not None:
            p.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            p.setCompressionType(compression)
        wr.write(None, jvm.javax.imageio.IIOImage(src, None, None), p)
        ios.flush()
        wr.dispose()
        return bytes(baos.toByteArray())

    rng = np.random.RandomState(71)
    for rgb in (
        rng.randint(0, 256, (23, 31, 3)).astype(np.uint8),
        np.repeat(rng.randint(0, 256, (9, 40, 1)), 3, axis=2).astype(np.uint8),
    ):
        for fmt, comp, dec in (
            ("png", None, png_decoder),
            ("bmp", None, bmp_decoder),
        ):
            got = dec(jdk_encode(rgb, fmt, comp))[:, :, :3]
            assert np.array_equal(got, rgb), (fmt, comp)


def test_stdlib_audio_decoders_match_jdk_sound_api(spark):
    """r11 cross-validation: the audio tier decodes files produced by
    the fully independent javax.sound.sampled writers bit-exact — WAV
    PCM16, AIFF PCM16 (big-endian), AU PCM16, and G.711 (mu-law AU,
    A-law WAV; ours compared against the JDK's own expansion of the
    same bytes, both normalized s16/32768)."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        decode_audio,
    )

    jvm = spark._jvm
    AS = jvm.javax.sound.sampled.AudioSystem
    Enc = jvm.javax.sound.sampled.AudioFormat.Encoding
    Types = jvm.javax.sound.sampled.AudioFileFormat.Type

    def ais_from(pcm_bytes, rate, big):
        fmt = jvm.javax.sound.sampled.AudioFormat(
            Enc.PCM_SIGNED, float(rate), 16, 1, 2, float(rate), big
        )
        bais = jvm.java.io.ByteArrayInputStream(bytearray(pcm_bytes))
        return jvm.javax.sound.sampled.AudioInputStream(
            bais, fmt, len(pcm_bytes) // 2
        )

    def write(ais, ftype):
        baos = jvm.java.io.ByteArrayOutputStream()
        AS.write(ais, ftype, baos)
        return bytes(baos.toByteArray())

    def jdk_decode(payload):
        src = AS.getAudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(payload))
        )
        f = src.getFormat()
        tgt = jvm.javax.sound.sampled.AudioFormat(
            Enc.PCM_SIGNED, f.getSampleRate(), 16, f.getChannels(),
            2 * f.getChannels(), f.getSampleRate(), False,
        )
        raw = bytes(AS.getAudioInputStream(tgt, src).readAllBytes())
        return np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0

    rng = np.random.RandomState(73)
    s16 = rng.randint(-32768, 32768, 256).astype(np.int16)

    for pcm, big, ftype in (
        (s16.astype("<i2").tobytes(), False, Types.WAVE),
        (s16.astype(">i2").tobytes(), True, Types.AIFF),
        (s16.astype(">i2").tobytes(), True, Types.AU),
    ):
        wv, sr = decode_audio(write(ais_from(pcm, 8000, big), ftype))
        assert sr == 8000 and np.array_equal(wv, s16 / 32768.0)

    for enc, ftype in ((Enc.ULAW, Types.AU), (Enc.ALAW, Types.WAVE)):
        g711_fmt = jvm.javax.sound.sampled.AudioFormat(
            enc, 8000.0, 8, 1, 1, 8000.0, False
        )
        conv = AS.getAudioInputStream(
            g711_fmt, ais_from(s16.astype("<i2").tobytes(), 8000, False)
        )
        pay = write(conv, ftype)
        wv, sr = decode_audio(pay)
        assert sr == 8000 and np.array_equal(wv, jdk_decode(pay))


def test_events_ewma_matches_recursive_definition(spark):
    """r11: the closed-form integer-shift EWMA (plans/
    relational_queries.q_events_ewma_smoothing) equals the recursive
    definition s_n = 0.5*x_n + 0.5*s_(n-1), s_1 = x_1, on a small
    hand-checkable stream; the 32-event cap uses only the first 32."""
    import datetime as dt

    import numpy as np

    from cdc_historical_warehouse_platform_spark.plans.relational_queries import (
        q_events_ewma_smoothing,
    )

    rng = np.random.RandomState(79)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    series = {1: rng.randint(1, 50000, 5) / 100.0,
              2: rng.randint(1, 50000, 40) / 100.0}
    eid = 0
    for uid, xs in series.items():
        for i, x in enumerate(xs):
            rows.append((eid, t0 + dt.timedelta(seconds=i), uid, "view", float(x), "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile, shutil
    d = tempfile.mkdtemp(prefix="ewma_t_")
    try:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {r["user_id"]: r for r in q_events_ewma_smoothing(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)

    for uid, xs in series.items():
        s = xs[0]
        for x in xs[1:32]:
            s = 0.5 * x + 0.5 * s
        r = got[uid]
        assert r["n_events_used"] == min(len(xs), 32)
        assert abs(r["ewma_value"] - s) < 1e-9, (uid, r["ewma_value"], s)


def test_bmp_rle4_decodes():
    """r11: RLE4 BMP — encoded runs alternating val's two nibbles,
    hi-first word-aligned absolute runs, EOL/delta/EOB — against an
    independent stream."""
    import struct

    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        bmp_decoder,
    )

    pal = [(200, 0, 0), (0, 200, 0), (0, 0, 200), (7, 7, 7)]
    h, w = 3, 7
    want = np.zeros((h, w), dtype=np.uint8)
    stream = bytearray()
    # bottom row: 5-px encoded run of val 0x12 -> 1,2,1,2,1; then 2 px of 3
    stream += bytes([5, 0x12, 2, 0x33, 0, 0])
    want[0, :5] = [1, 2, 1, 2, 1]
    want[0, 5:7] = 3
    # middle row: absolute 3 px [2,0,1] (2 bytes, padded to word)
    stream += bytes([0, 3, 0x20, 0x10, 0, 0])
    want[1, :3] = [2, 0, 1]
    # top row (y already 2 after the second EOL): delta dx=1, then 2 px of 2
    stream += bytes([0, 2, 1, 0, 2, 0x22, 0, 1])
    want[2, 1:3] = 2

    pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
    off = 14 + 40 + len(pal_bytes)
    hdr = b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 4, 2, len(stream), 0, 0, len(pal), 0
    )
    got = bmp_decoder(hdr + info + pal_bytes + bytes(stream))
    assert np.array_equal(got, np.array(pal, np.uint8)[want[::-1]])


def test_bloom_prefilter_no_false_negatives_and_exact_flags(spark):
    """Bloom contract: blocked ⇒ maybe_blocked (ZERO false negatives
    by construction), blocked matches the exact semi-join truth, and
    false_positive = maybe ∧ ¬blocked — over the real docs table."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import bloom_prefilter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keyed = docs.select("doc_id", F.md5("text").alias("fp"))
    block = docs.filter(F.col("lang") == "zh").select(F.md5("text").alias("fp"))
    out = bloom_prefilter(
        keyed, block, key_col="fp", id_col="doc_id", m=8192, k=3
    ).collect()
    truth = {
        r.fp for r in block.collect()
    }
    assert len(out) == keyed.count()
    for r in out:
        exact = r.fp in truth
        assert r.blocked == exact
        if exact:
            assert r.maybe_blocked  # no false negatives, ever
        assert r.false_positive == (r.maybe_blocked and not exact)


def test_bloom_prefilter_saturates_to_all_maybe_not_wrong(spark):
    """An undersized filter (m=4) degrades honestly: everything goes
    maybe_blocked (useless, not incorrect) — blocked stays exact."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import bloom_prefilter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    keyed = docs.select("doc_id", F.md5("text").alias("fp"))
    block = keyed.limit(20).select("fp")
    out = bloom_prefilter(keyed, block, key_col="fp", id_col="doc_id", m=4, k=3)
    rows = out.collect()
    assert all(r.maybe_blocked for r in rows)
    truth = {r.fp for r in block.collect()}
    assert all(r.blocked == (r.fp in truth) for r in rows)


def test_bloom_prefilter_probe_join_is_broadcast(spark):
    """The hot-position probe join must be a broadcast hash join (the
    hot set is ≤ min(k·|blocklist|, m) rows at ANY corpus size) — a
    shuffled probe would forfeit the operator's whole purpose."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import bloom_prefilter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keyed = docs.select("doc_id", F.md5("text").alias("fp"))
    block = docs.filter(F.col("lang") == "zh").select(F.md5("text").alias("fp"))
    out = bloom_prefilter(keyed, block, key_col="fp", id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dpcm8_audio_features(spark):
    """The Arrow audio path over the dpcm8 decoder matches numpy
    computed directly from the bytes — including the float columns
    (rms, duration) the oracle row excludes, and the sign-convention
    edge cases (flat runs decode to +0.0 → signbit False)."""
    import numpy as np

    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        dpcm8_decoder,
        extract_audio_features,
    )

    texts = ["abca", "zzzz", "ba", "AzAzAz", "m" * 7 + "n"]
    df = spark.createDataFrame(
        [(i, t.encode()) for i, t in enumerate(texts)], "doc_id long, payload binary"
    )
    got = {
        r.doc_id: r
        for r in extract_audio_features(df, decoder=dpcm8_decoder(16000)).collect()
    }
    for i, t in enumerate(texts):
        levels = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.float64)
        wave = np.diff(levels) / 128.0
        n = wave.size
        r = got[i]
        assert r.n_samples == n
        assert r.sample_rate == 16000
        assert r.zero_crossings == (
            int(np.count_nonzero(np.diff(np.signbit(wave)))) if n > 1 else 0
        )
        assert r.rms == pytest.approx(float(np.sqrt(np.mean(wave**2))), abs=1e-9)
        # the extractor quantizes duration to µs (round(n/sr, 6))
        assert r.duration_sec == round(n / 16000.0, 6)


def test_dpcm8_single_byte_payload_yields_empty_wave(spark):
    from cdc_historical_warehouse_platform_spark.operators.multimodal import (
        dpcm8_decoder,
        extract_audio_features,
    )

    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    [r] = extract_audio_features(df, decoder=dpcm8_decoder(8000)).collect()
    assert (r.n_samples, r.zero_crossings, r.rms) == (0, 0, 0.0)

"""Property-based checks for the corpus operators: chunking must
reconstruct the token stream for ANY document, and the deterministic
sampling gate must be monotone in the rate (a higher rate keeps a
strict superset — the property that makes staged down-sampling
composable). Example counts are small because each example runs real
Spark jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.sampling import weighted_keep_expr
from cdc_historical_warehouse_platform_spark.operators.text import (
    chunk_token_spans,
    normalize_text,
    tokens,
)

# Documents: random words over a small alphabet, possibly with junk
# punctuation/whitespace that normalization strips.
word = st.text(alphabet="abc019", min_size=1, max_size=5)
doc = st.lists(word, min_size=0, max_size=90).map(" ".join)
docs_strategy = st.lists(doc, min_size=1, max_size=5)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, chunk=st.integers(4, 40), overlap=st.integers(0, 3))
def test_chunks_reconstruct_tokens_for_any_doc(spark, texts, chunk, overlap):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    stride = chunk - overlap
    out = chunk_token_spans(df, chunk_tokens=chunk, overlap=overlap).collect()
    toks = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", tokens(normalize_text(F.col("text"))).alias("t")
        ).collect()
    }
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, expect in toks.items():
        rows = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_id"])
        if not expect:
            assert rows == []  # empty doc -> zero chunks
            continue
        # stride-prefix concatenation reconstructs the token stream
        rebuilt: list[str] = []
        for r in rows[:-1]:
            assert r["n_chunk_tokens"] == chunk  # only the tail may be short
            rebuilt.extend(r["chunk_text"].split(" ")[:stride])
        rebuilt.extend(rows[-1]["chunk_text"].split(" "))
        assert rebuilt == expect
        # spans: contiguous starts, bounded sizes
        assert [r["start_token"] for r in rows] == [
            i * stride for i in range(len(rows))
        ]
        assert all(0 < r["n_chunk_tokens"] <= chunk for r in rows)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    r1=st.floats(0.0, 1.0, allow_nan=False),
    r2=st.floats(0.0, 1.0, allow_nan=False),
)
def test_weighted_gate_monotone_in_rate(spark, r1, r2):
    lo, hi = sorted([r1, r2])
    df = spark.range(0, 300)
    kept_lo = {
        r["id"] for r in df.filter(weighted_keep_expr(F.col("id"), F.lit(lo))).collect()
    }
    kept_hi = {
        r["id"] for r in df.filter(weighted_keep_expr(F.col("id"), F.lit(hi))).collect()
    }
    assert kept_lo <= kept_hi


# Random docs drawn from a small word pool so near-dup collisions occur
# naturally across batches. min_size=1 deliberately includes docs with
# fewer than n=3 tokens: their shingle sets are empty, so only the
# exact-fingerprint tier can dedup them (the r4 ADVICE fix).
pool = [f"t{i}" for i in range(12)]
rand_doc = st.lists(st.sampled_from(pool), min_size=1, max_size=14).map(" ".join)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    b1=st.lists(rand_doc, min_size=1, max_size=4),
    b2=st.lists(rand_doc, min_size=1, max_size=4),
)
def test_incremental_dedup_invariants_for_random_batches(spark, b1, b2):
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        incremental_minhash_dedup,
        jaccard_pairs,
        minhash_band_buckets,
    )

    batch1 = spark.createDataFrame(list(enumerate(b1)), ["doc_id", "text"])
    batch2 = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(b2)], ["doc_id", "text"]
    )
    store = minhash_band_buckets(batch1).localCheckpoint(eager=True)
    kept, _ = incremental_minhash_dedup(
        batch2, stored_buckets=store, stored_docs=batch1, threshold=0.5
    )
    kept_ids = {r["doc_id"] for r in kept.collect()}
    dropped_ids = {100 + i for i in range(len(b2))} - kept_ids

    union_df = batch1.unionByName(batch2)
    pairs = jaccard_pairs(union_df, threshold=0.5).collect()
    # exact-fingerprint pairs are witnesses too (the tier that catches
    # empty-shingle docs, which jaccard_pairs null-drops at union=0)
    from cdc_historical_warehouse_platform_spark.operators.text import fingerprint

    by_fp: dict = {}
    for r in union_df.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    ).collect():
        by_fp.setdefault(r["fp"], []).append(r["doc_id"])
    fp_pairs = [
        (a, b)
        for ids in by_fp.values()
        for a in ids
        for b in ids
        if a < b
    ]

    # (1) soundness: every dropped doc has a smaller-id witness —
    # jaccard>=t or an identical fingerprint
    witnesses = {}
    for r in pairs:
        witnesses.setdefault(r["doc_b"], set()).add(r["doc_a"])
    for a, b in fp_pairs:
        witnesses.setdefault(b, set()).add(a)
    for d in dropped_ids:
        assert witnesses.get(d), f"{d} dropped without witness"
    # (2) completeness: no kept NEW doc still matches the stored corpus
    # or a smaller-id kept new doc (the greedy-canonical set is dup-free)
    canonical = {r["doc_id"] for r in batch1.collect()} | kept_ids
    for a, b in [(r["doc_a"], r["doc_b"]) for r in pairs] + fp_pairs:
        assert not (
            a in canonical and b in kept_ids and b > a
        ), f"kept {b} still matches canonical {a}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(1, 60), min_size=1, max_size=5),
    cap=st.integers(1, 8),
    safety=st.integers(2, 6),
)
def test_cap_per_source_two_phase_equals_naive_for_any_distribution(
    spark, sizes, cap, safety
):
    """The gate→rank cap must equal the naive full-window rank for ANY
    source-size distribution, cap, and safety factor (the gate keeps a
    provable prefix of each source's rank order; this drives the
    boundary cases — single-doc sources, cap ≥ n, gate barely engaged)."""
    from pyspark.sql import Window

    from cdc_historical_warehouse_platform_spark.operators.sampling import cap_per_source

    rows = [
        (f"s{si}", si * 1000 + i) for si, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    got = {
        tuple(r)
        for r in cap_per_source(df, cap, safety=safety)
        .select("source", "doc_id", "cap_rank")
        .collect()
    }
    draw = F.md5(F.concat(F.lit("domain-cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(draw.asc(), F.col("doc_id").asc())
    want = {
        tuple(r)
        for r in df.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= cap)
        .select("source", "doc_id", "cap_rank")
        .collect()
    }
    assert got == want


# --- quarantine split (r6) -------------------------------------------------

_q_id = st.one_of(st.none(), st.integers(1, 99).map(str), st.just("nope"))
_q_qty = st.one_of(st.none(), st.integers(1, 9).map(str), st.just("junk"))
_q_op = st.one_of(st.none(), st.sampled_from(["INSERT", "UPDATE", "DELETE", "UPSERT"]))
_q_ts = st.one_of(
    st.just("2024-01-02T03:04:05"), st.just("not-a-ts"), st.none()
)
_q_row = st.fixed_dictionaries(
    {"id": _q_id, "quantity": _q_qty, "operation_type": _q_op, "cdc_timestamp": _q_ts}
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_q_row, min_size=1, max_size=8))
def test_quarantine_split_partitions_every_batch(spark, rows, tmp_path_factory):
    """Property: for ANY mix of valid/invalid wire rows, good ∪ bad is a
    partition of the batch; every good row casts cleanly on its
    critical fields; every bad row carries at least one reason that is
    actually true of its wire values."""
    import json as _json

    from cdc_historical_warehouse_platform_spark.sources.change_batches import (
        read_change_batch_with_quarantine,
    )

    base = {
        "customer_id": 1,
        "product_id": 2,
        "unit_price": "10.00",
        "total_amount": "10.00",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "extracted_at": "2024-01-02T03:05:00",
    }
    payload = [dict(base, **r) for r in rows]
    d = tmp_path_factory.mktemp("q")
    p = d / "changes_20240102_030500_000.json"
    p.write_text(_json.dumps({"batch_metadata": {}, "changes": payload}, indent=2))
    good, bad = read_change_batch_with_quarantine(spark, p)
    n_good, n_bad = good.count(), bad.count()
    assert n_good + n_bad == len(payload)

    def valid(r):
        ok_id = r["id"] is not None and r["id"].isdigit()
        ok_qty = r["quantity"] is None or r["quantity"].isdigit()
        ok_op = r["operation_type"] in ("INSERT", "UPDATE", "DELETE")
        # a null cdc_timestamp routes as missing, a malformed one as
        # uncastable: the merge cannot order a change without one
        ok_ts = r["cdc_timestamp"] not in (None, "not-a-ts")
        return ok_id and ok_qty and ok_op and ok_ts

    assert n_good == sum(1 for r in rows if valid(r))
    for r in bad.collect():
        assert r["quarantine_reason"] != ""
        for reason in r["quarantine_reason"].split(","):
            kind, _, field = reason.partition(":")
            if kind == "missing":
                assert r[field] is None
            elif kind == "uncastable":
                assert r[field] is not None
            elif kind == "bad":
                assert r["operation_type"] not in ("INSERT", "UPDATE", "DELETE")


# words long enough that k=3 grams exist for most docs, short docs too
_xs_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
_xs_doc = st.lists(_xs_word, min_size=0, max_size=14).map(" ".join)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_xs_doc, min_size=2, max_size=10),
    cuts=st.lists(st.integers(0, 2), min_size=2, max_size=10),
    modes=st.lists(st.sampled_from(["broadcast", "shuffle"]), min_size=3, max_size=3),
    data=st.data(),
)
def test_incremental_substr_any_split_any_probe_schedule(
    spark, texts, cuts, modes, data, tmp_path_factory
):
    """Rebuild equivalence must hold for ANY corpus, ANY batch split,
    and ANY broadcast/shuffle probe schedule: the persisted index's
    spans == from-scratch exact_substring_spans over the union. Small
    vocab maximizes cross-doc and cross-batch gram collisions — the
    hard 1->2 frontier cases a planted fixture might miss."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        exact_substring_spans,
    )
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    rows = list(enumerate(texts))
    # ANY 3-way split (cuts pad/truncate to len(rows))
    batches: list[list] = [[], [], []]
    for (i, t), c in zip(rows, (cuts * 5)[: len(rows)]):
        batches[c].append((i, t))
    idx = ExactSubstrIndex(
        tmp_path_factory.mktemp("xs") / "xs", k=3, num_buckets=2
    )
    for n, (b, mode) in enumerate(zip(batches, modes)):
        if not b:
            continue
        idx.append(
            spark.createDataFrame(b, "doc_id long, text string"),
            txn_id=f"t{n}",
            probe_mode=mode,
        )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in idx.spans(spark).collect()
    }
    expect = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in exact_substring_spans(
            spark.createDataFrame(rows, "doc_id long, text string"), k=3
        ).collect()
    }
    assert got == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(st.integers(0, 500), min_size=1, max_size=60),
    weights=st.lists(st.integers(1, 9), min_size=60, max_size=60),
)
def test_order_statistics_rows_match_direct_computation(spark, cents, weights):
    """r12 property pin for the domain-bounded order-statistics shape
    (agg_winsorized_stats / agg_weighted_median): for ANY multiset of
    integer values, the cumulative-count-over-distinct-values ranks
    must reproduce the direct sorted-list definition — p10/p90 are the
    ceil(n/10)-th smallest / its mirror, the winsorized sum clamps to
    them, and the weighted median is the smallest value whose
    cumulative weight reaches half the total."""
    from pyspark.sql import Window

    rows = [(int(c), int(w)) for c, w in zip(cents, weights)]
    df = spark.createDataFrame(rows, ["c", "q"])

    counts = df.groupBy("c").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("q").alias("wt")
    )
    w = Window.orderBy("c").partitionBy(F.lit(1))
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "wcum", F.sum("wt").over(w)
    )
    n = len(rows)
    k_lo = (n + 9) // 10
    tw = sum(q for _, q in rows)
    got = (
        cum.agg(
            F.min(F.when(F.col("cum") >= k_lo, F.col("c"))).alias("lo"),
            F.min(F.when(F.col("cum") >= n - k_lo + 1, F.col("c"))).alias("hi"),
            F.min(F.when(F.col("wcum") * 2 >= tw, F.col("c"))).alias("wmed"),
        )
        .collect()[0]
    )

    vals = sorted(c for c, _ in rows)
    lo, hi = vals[k_lo - 1], vals[n - k_lo]
    assert (got["lo"], got["hi"]) == (lo, hi)
    # direct weighted median: walk distinct values in order
    seen = 0
    wmed = None
    for v in sorted(set(vals)):
        seen += sum(q for c, q in rows if c == v)
        if 2 * seen >= tw:
            wmed = v
            break
    assert got["wmed"] == wmed

"""Persisted IVF index (sources/ann_index.py): build-once ≡ rebuild,
append with the stored quantizer, probe-time list pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.sources.ann_index import IVFIndex
from tests.conftest import SF_DIR


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cosine"], 9))
        for r in df.collect()
    )


def test_build_once_probe_equals_inline_rebuild(spark, tmp_path):
    """The persisted path must return exactly what the inline
    (rebuild-per-call) ivf_topk returns for the same quantizer params —
    the centroid fit is deterministic, so this is equality, not
    approximate recall."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import ivf_topk

    emb = _emb(spark)
    q = _queries(emb)
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    got = index.probe(spark, q, k=10, n_probes=2)
    want = ivf_topk(emb, q, k=10, n_lists=8, n_probes=2)
    assert _rows(got) == _rows(want)
    # and the stored centroids reproduce it through the centroids= seam
    want2 = ivf_topk(emb, q, k=10, n_probes=2, centroids=index.centroids())
    assert _rows(got) == _rows(want2)


def test_append_uses_stored_quantizer(spark, tmp_path):
    """build(half1) + append(half2) ≡ assigning the full corpus with the
    SAME stored centroids — the quantizer must not re-fit on append
    (standard IVF: the index grows, centroids stay until rebuild)."""
    from cdc_historical_warehouse_platform_spark.operators.similarity import ivf_topk

    emb = _emb(spark)
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    q = _queries(emb)

    index = IVFIndex.build(half1, tmp_path / "ivf", n_lists=8)
    v0 = index.assignments.version()
    _, n1 = index.append(half2)
    assert n1 == half2.count()
    assert index.assignments.version() == v0 + 1

    # CDC idempotence: re-appending an already-indexed batch is a
    # no-op — no new segment, no duplicate ids in probe results
    v_same, n_dup = index.append(half2)
    assert (v_same, n_dup) == (v0 + 1, 0)
    assert index.assignments.version() == v0 + 1

    got = index.probe(spark, q, k=10, n_probes=2)
    want = ivf_topk(emb, q, k=10, n_probes=2, centroids=index.centroids())
    assert _rows(got) == _rows(want)
    # the full row universe is indexed
    assert index.assignments.read(spark).count() == emb.count()


def test_probe_pushes_list_filter_into_scan(spark, tmp_path):
    """Probe must scan only probed lists: the assignments read carries
    a pushed list_id IN filter (clustered segments → row-group skip),
    never a full post-scan filter of the index."""
    emb = _emb(spark)
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    plan = (
        index.probe(spark, _queries(emb, 2), k=5, n_probes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    # the index scan is the one reading list_id (Location paths get
    # truncated in toString, so match on the ReadSchema instead)
    index_scans = [ln for ln in scan_lines if "list_id" in ln]
    assert index_scans, f"no index scan found:\n{scan_lines}"
    assert all(
        "PushedFilters: [" in ln and "In(list_id" in ln for ln in index_scans
    ), index_scans


def test_two_stage_probe_matryoshka_layout(spark, tmp_path):
    """r10 (verdict task #4): an index built with prefix_dims stores
    the truncated prefix as its own column; probe_two_stage's stage-1
    scan reads ONLY (vec_id, prefix, list_id) — the full embedding
    column is column-pruned out of the cheap pass — and the exact
    full-dim rerank of the k1 candidates equals a directly-computed
    reference. Appends keep the layout; bulk (shuffled) mode agrees."""
    import pytest
    from pyspark.sql import Window

    from cdc_historical_warehouse_platform_spark.operators.similarity import (
        cosine,
        ivf_search,
        probed_queries,
    )

    emb = _emb(spark)
    q = _queries(emb)
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8, prefix_dims=16)

    # stored layout carries the prefix column
    stored = index.assignments.read(spark)
    assert "prefix" in stored.columns
    row = stored.limit(1).collect()[0]
    assert list(row["prefix"]) == list(row["embedding"][:16])

    got = index.probe_two_stage(spark, q, k=10, k1=40, n_probes=2)

    # plan pin: stage 1 is the NARROW scan — a FileScan whose
    # ReadSchema has prefix but NOT embedding
    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    narrow_scans = [ln for ln in scans if "prefix" in ln]
    assert narrow_scans, f"no narrow stage-1 scan:\n{scans}"
    assert any("embedding" not in ln for ln in narrow_scans), narrow_scans

    # reference: same candidates from a prefix ivf_search over the
    # stored rows, then an exact full-dim rerank
    cents = index.centroids()
    probed = probed_queries(q, cents, 2).withColumn(
        "__qv", F.slice(F.col("__qv"), 1, 16)
    )
    assigned = stored.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("prefix").alias("__cv"),
        "list_id",
    )
    cand = ivf_search(assigned, q, cents, 40, 2, probed=probed).select(
        "query_id", "neighbor_id"
    )
    rerank = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("fv"))
        .join(cand.join(q, "query_id"), "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("query_vec"), F.col("fv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    want = (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    assert _rows(got) == _rows(want)

    # bulk (shuffled) mode returns the identical top-k
    bulk = index.probe_two_stage(
        spark, q, k=10, k1=40, n_probes=2, broadcast_probe=False
    )
    assert _rows(bulk) == _rows(got)

    # appends keep the Matryoshka layout and surface in later probes
    extra = emb.limit(1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    index.append(extra)
    stored2 = index.assignments.read(spark)
    assert stored2.filter(F.col("prefix").isNull()).count() == 0
    assert stored2.count() == emb.count() + 1

    # contract errors: prefix needs the float tier; two-stage needs a
    # prefix-built index
    with pytest.raises(ValueError, match="float tier"):
        IVFIndex.build(emb, tmp_path / "bad", n_lists=8, quantize="int8",
                       prefix_dims=16)
    plain = IVFIndex.build(emb.limit(50), tmp_path / "plain", n_lists=4)
    with pytest.raises(ValueError, match="prefix_dims"):
        plain.probe_two_stage(spark, q)


def test_two_stage_probe_finds_planted_copies(spark, tmp_path):
    """Each query's near-copy (every dim scaled by 1.001, so cosine ~1
    in prefix and full space alike) survives the narrow prefix stage,
    which scans only the prefix column: it is rank 1 of the two-stage
    probe, the one-stage full-dim probe agrees on every top-1, and the
    shuffled candidate join returns the broadcast path's top-k."""
    emb = _emb(spark)
    q = _queries(emb)
    copies = q.select(
        (F.col("query_id") + 10_000_000).alias("vec_id"),
        F.transform("query_vec", lambda x: (x * F.lit(1.001)).cast("float")).alias("embedding"),
    )
    index = IVFIndex.build(
        emb.select("vec_id", "embedding").unionByName(copies),
        tmp_path / "ivf", n_lists=4, prefix_dims=16,
    )
    two = index.probe_two_stage(spark, q, k=5, k1=20, n_probes=2)
    # stage 1 scans the prefix column without the full embedding
    plan = two._jdf.queryExecution().executedPlan().toString().splitlines()
    assert any("FileScan" in ln and "prefix" in ln and "embedding" not in ln for ln in plan)
    top1 = {r["query_id"]: r["neighbor_id"] for r in two.collect() if r["rank"] == 1}
    assert top1 == {i: i + 10_000_000 for i in range(5)}
    one = index.probe(spark, q, k=5, n_probes=2)
    assert {r["query_id"]: r["neighbor_id"] for r in one.collect() if r["rank"] == 1} == top1
    shuffled = index.probe_two_stage(spark, q, k=5, k1=20, n_probes=2, broadcast_probe=False)
    assert _rows(shuffled) == _rows(two)


def test_semdedup_accepts_prebuilt_centroids(spark, tmp_path):
    """semdedup(centroids=...) must skip the inline re-fit and give the
    same verdicts as the rebuild path (same deterministic quantizer)."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import semdedup

    emb = _emb(spark).limit(200)
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    with_index = semdedup(emb, n_lists=8, centroids=index.centroids())
    rebuilt = semdedup(emb, n_lists=8)
    a = sorted((r["id"], r["list_id"], r["keep"]) for r in with_index.collect())
    b = sorted((r["id"], r["list_id"], r["keep"]) for r in rebuilt.collect())
    assert a == b


def test_rebuild_crash_leaves_consistent_pair(spark, tmp_path):
    """A rebuild that dies before the pointer swap must leave probe on
    the OLD (centroids, assignments) pair — never new centroids over
    old assignments (silent wrong neighbors)."""
    emb = _emb(spark)
    q = _queries(emb)
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    before = _rows(index.probe(spark, q, k=10, n_probes=2))
    ptr_before = (tmp_path / "ivf" / "_LATEST").read_text()

    # simulate the crash window: a new epoch's centroid sidecar lands
    # (different quantizer params) but neither assignments nor pointer
    import json

    (tmp_path / "ivf" / "_centroids_e1.json").write_text(
        json.dumps({"centroids": [[0.0] * 64] * 4, "n_lists": 4, "refine": 0})
    )
    assert (tmp_path / "ivf" / "_LATEST").read_text() == ptr_before
    after = _rows(index.probe(spark, q, k=10, n_probes=2))
    assert after == before

    # a completed rebuild swaps the pointer to the new epoch atomically
    index2 = IVFIndex.build(emb, tmp_path / "ivf", n_lists=4)
    meta = json.loads((tmp_path / "ivf" / "_LATEST").read_text())
    assert meta["epoch"] == 1 and meta["centroids_file"] == "_centroids_e1.json"
    assert len(index2.centroids()) == 4


def test_vacuum_reclaims_old_epochs_keeps_live_pair(spark, tmp_path):
    import json

    emb = _emb(spark)
    q = _queries(emb)
    IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    # a crashed build's orphan sidecar + a completed rebuild
    (tmp_path / "ivf" / "_centroids_e7.json").write_text(
        json.dumps({"centroids": [[0.0] * 64] * 2, "n_lists": 2, "refine": 0})
    )
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    before = _rows(index.probe(spark, q, k=5, n_probes=2))

    result = index.vacuum(keep_last=1)
    assert "_centroids_e0.json" in result["removed_centroids"]
    assert "_centroids_e7.json" in result["removed_centroids"]
    # the pointed-to pair survives and probes identically
    assert index.exists()
    assert _rows(index.probe(spark, q, k=5, n_probes=2)) == before


def test_vacuum_never_deletes_pointer_pinned_version(spark, tmp_path):
    """A crashed rebuild can leave the pointer pinning an OLDER
    assignments version than the table's latest; vacuum must widen its
    keep window to cover the pinned version instead of deleting the
    data the pointer references."""
    emb = _emb(spark)
    q = _queries(emb)
    index = IVFIndex.build(emb, tmp_path / "ivf", n_lists=8)
    before = _rows(index.probe(spark, q, k=5, n_probes=2))
    ptr = (tmp_path / "ivf" / "_LATEST").read_text()

    # simulate the crash: two rebuild attempts commit assignments v1,
    # v2 but die before the pointer swap
    for _ in range(2):
        index.assignments.commit(index.assignments.read(spark))
    (tmp_path / "ivf" / "_LATEST").write_text(ptr)  # pointer still at v0

    index.vacuum(keep_last=1)
    # the pinned pair must still probe identically
    assert _rows(index.probe(spark, q, k=5, n_probes=2)) == before


def test_int8_index_probe_matches_manual_sq_scoring(spark, tmp_path):
    """IVF-SQ composition: an int8 index stores NO full-precision
    vectors (schema check — the memory tier must be real), and its
    probe equals manually SQ-scoring the probed lists of a
    full-precision index built from the same corpus (same deterministic
    centroids → same list partition → exact equality, not recall)."""
    from pyspark.sql import Window

    from cdc_historical_warehouse_platform_spark.operators.similarity import (
        int_dot,
        quantize_int8,
    )

    emb = _emb(spark)
    q = _queries(emb)
    full = IVFIndex.build(emb, tmp_path / "full", n_lists=8)
    int8 = IVFIndex.build(emb, tmp_path / "int8", n_lists=8, quantize="int8")
    assert full.centroids() == int8.centroids()

    stored = int8.assignments.read(spark)
    assert "embedding" not in stored.columns
    assert dict(stored.dtypes)["__cq"] == "array<tinyint>"

    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["qcosine"], 9))
        for r in int8.probe(spark, q, k=10, n_probes=2).collect()
    )

    # manual expectation: quantize the full index's stored assignments
    # and score with the same integer arithmetic over the same probed
    # lists
    from cdc_historical_warehouse_platform_spark.operators.similarity import probed_queries

    probed = probed_queries(q, full.centroids(), n_probes=2)
    pq = probed.select(
        "query_id", "list_id", quantize_int8(F.col("__qv")).alias("__qq")
    )
    pq = pq.select(
        "query_id", "list_id", "__qq",
        int_dot(F.col("__qq"), F.col("__qq")).alias("__nb"),
    ).filter(F.col("__nb") > 0)
    cand = (
        full.assignments.read(spark)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            quantize_int8(F.col("embedding")).alias("__cq"),
            "list_id",
        )
        .select(
            "neighbor_id", "__cq",
            int_dot(F.col("__cq"), F.col("__cq")).alias("__na"), "list_id",
        )
        .filter(F.col("__na") > 0)
        .join(F.broadcast(pq), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (
                int_dot(F.col("__cq"), F.col("__qq")).cast("double")
                / F.sqrt((F.col("__na") * F.col("__nb")).cast("double"))
            ).alias("qcosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["qcosine"], 9))
        for r in cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    )
    assert got == want and len(got) == 50


def test_int8_index_append_keeps_layout_and_dedups(spark, tmp_path):
    """Appends into an int8 index keep the quantized layout (stored
    quantize mode, not a per-call flag) and id-dedup still works."""
    emb = _emb(spark)
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    index = IVFIndex.build(half1, tmp_path / "ivf8", n_lists=8, quantize="int8")
    _, n1 = index.append(half2)
    assert n1 == half2.count()
    stored = index.assignments.read(spark)
    assert "embedding" not in stored.columns
    assert stored.count() == emb.count()
    # re-delivery is a no-op
    _, n2 = index.append(half2)
    assert n2 == 0
    # probe still answers over the grown index
    assert index.probe(spark, _queries(emb), k=5, n_probes=2).count() == 25


def test_int8_index_zero_vector_append_idempotent(spark, tmp_path):
    """A zero embedding must be INDEXED (not silently dropped) so
    append's id-dedup stays idempotent; probes just never score it
    (zero-norm filter at search time, not at storage time)."""
    base = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.5, -0.25]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    index = IVFIndex.build(base, tmp_path / "ivf0", n_lists=2, quantize="int8")
    zero_batch = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0]), (101, [1.0, 2.0, 3.0, 4.0])],
        ["vec_id", "embedding"],
    )
    _, n1 = index.append(zero_batch)
    assert n1 == 2  # the zero vector IS stored
    _, n2 = index.append(zero_batch)
    assert n2 == 0  # re-delivery is a no-op, zero vector included
    # an OVERLAPPING delivery appends only its unseen id
    overlap = spark.createDataFrame(
        [(101, [1.0, 2.0, 3.0, 4.0]), (102, [4.0, 3.0, 2.0, 1.0])],
        ["vec_id", "embedding"],
    )
    _, n3 = index.append(overlap)
    assert n3 == 1
    ids = [r["vec_id"] for r in index.assignments.read(spark).select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == 11
    assert 100 in ids
    q = base.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = index.probe(spark, q, k=20, n_probes=2).collect()
    assert all(r["neighbor_id"] != 100 for r in hits)  # never scored
    assert all(r["qcosine"] == r["qcosine"] for r in hits)  # no NaN


def test_bulk_probe_matches_broadcast_and_avoids_query_broadcast(spark, tmp_path):
    """r8 bulk-query mode: probe(broadcast_probe=False) must return
    exactly the broadcast path's top-k on the float AND int8 tiers,
    with NO BroadcastExchange in the scoring plan (the probe set joins
    shuffled — no query-batch broadcast ceiling; the scan stays
    list-pruned so the shuffle moves candidates, not the index)."""
    emb = _emb(spark)
    queries = _queries(emb, n=8)

    for int8 in (False, True):
        idx = IVFIndex.build(
            emb,
            tmp_path / ("i8" if int8 else "f32"),
            n_lists=4,
            quantize="int8" if int8 else None,
        )
        bc = idx.probe(spark, queries, k=5, n_probes=2)
        bulk = idx.probe(spark, queries, k=5, n_probes=2, broadcast_probe=False)
        col = "qcosine" if int8 else "cosine"
        a = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], round(r[col], 9))
            for r in bc.collect()
        )
        b = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], round(r[col], 9))
            for r in bulk.collect()
        )
        assert a == b and len(a) > 0

        # no FORCED broadcast anywhere in the bulk plan: with
        # auto-broadcast off, a remaining BroadcastExchange could only
        # come from an explicit F.broadcast hint (Catalyst may still
        # auto-pick BHJ at real sizes when a side is genuinely small —
        # that is its call, not a ceiling we baked in)
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                idx.probe(spark, queries, k=5, n_probes=2, broadcast_probe=False)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastExchange" not in plan, plan
            # the broadcast path, for contrast, DOES carry the hint
            plan_bc = (
                idx.probe(spark, queries, k=5, n_probes=2)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastExchange" in plan_bc
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_pq_bulk_probe_matches_broadcast_and_avoids_query_broadcast(
    spark, tmp_path
):
    """r9 (verdict task #5): the PQ tier gains the same bulk-query
    mode the float/int8 tiers got in r8 — probe(quantize='pq',
    broadcast_probe=False) returns the broadcast path's top-k (ranks
    and neighbor ids exact; qcosine to 1e-9 — the LUT entries are the
    same einsum, only the m-term candidate sum order can differ) with
    NO forced BroadcastExchange and NO driver-side query collect: the
    per-query ADC lookup tables ride the probed rows as a column
    through a shuffled join on list_id."""
    emb = _emb(spark)
    queries = _queries(emb, n=8)
    idx = IVFIndex.build(emb, tmp_path / "pq", n_lists=4, quantize="pq", pq_m=8)

    bc = idx.probe(spark, queries, k=5, n_probes=2)
    bulk = idx.probe(spark, queries, k=5, n_probes=2, broadcast_probe=False)
    a = sorted(
        (str(r["query_id"]), r["rank"], str(r["neighbor_id"]), round(r["qcosine"], 9))
        for r in bc.collect()
    )
    b = sorted(
        (str(r["query_id"]), r["rank"], str(r["neighbor_id"]), round(r["qcosine"], 9))
        for r in bulk.collect()
    )
    assert a == b and len(a) > 0

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            idx.probe(spark, queries, k=5, n_probes=2, broadcast_probe=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)

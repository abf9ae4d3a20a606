"""operators/dedup.exact_substring_spans + remove_duplicate_spans —
ExactSubstr dedup (Lee et al. 2021, arXiv:2107.06499).

Pins planted-span detection, island merging across overlapping grams,
the k-boundary (no merge across a gap > k), short-doc safety, the cut
step's token-exact removal, and partitioning invariance.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.dedup import (
    exact_substring_spans,
    remove_duplicate_spans,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _w(prefix, n, start=0):
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


def test_planted_cross_doc_span_found_and_merged(spark):
    """A 6-token sequence shared by two docs, k=4: flagged starts are
    positions 1..3 of the shared run in each doc — ONE merged island
    per doc covering exactly the shared tokens."""
    shared = _w("s", 6)
    rows = [
        (1, f"{_w('a', 5)} {shared} {_w('b', 5)}"),
        (2, f"{_w('c', 3)} {shared} {_w('d', 7)}"),
    ]
    spans = exact_substring_spans(_docs(spark, rows), k=4).collect()
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_positions"]) for r in spans}
    # doc 1: shared run occupies tokens 6..11 -> flagged starts 6,7,8
    # doc 2: tokens 4..9 -> flagged starts 4,5,6
    assert got == {(1, 6, 11, 3), (2, 4, 9, 3)}


def test_within_doc_repeat_flags(spark):
    """A doc repeating its own 4-token phrase is self-duplicated —
    both occurrences flag (the paper's any-repeat semantics)."""
    phrase = _w("p", 4)
    rows = [(1, f"{phrase} {_w('x', 5)} {phrase}")]
    spans = exact_substring_spans(_docs(spark, rows), k=4).collect()
    got = {(r["span_start"], r["span_end"]) for r in spans}
    assert got == {(1, 4), (10, 13)}


def test_gap_wider_than_k_stays_two_islands(spark):
    """Two shared runs separated by > k unique tokens must NOT merge."""
    s1, s2 = _w("s", 4), _w("t", 4)
    rows = [
        (1, f"{s1} {_w('u', 6)} {s2}"),
        (2, f"{s1} {_w('v', 9)} {s2}"),
    ]
    spans = exact_substring_spans(_docs(spark, rows), k=4).filter(
        F.col("doc_id") == 1
    ).collect()
    assert [(r["span_start"], r["span_end"]) for r in spans] == [(1, 4), (11, 14)]


def test_short_docs_are_safe(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, _w("z", 25))]
    assert exact_substring_spans(_docs(spark, rows), k=20).count() == 0


def test_remove_spans_cuts_exactly_the_flagged_tokens(spark):
    shared = _w("s", 6)
    rows = [
        (1, f"{_w('a', 5)} {shared} {_w('b', 5)}"),
        (2, f"{_w('c', 3)} {shared} {_w('d', 7)}"),
        (3, _w("q", 8)),  # untouched doc passes through byte-identical
    ]
    docs = _docs(spark, rows)
    spans = exact_substring_spans(docs, k=4)
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(docs, spans).collect()
    }
    assert out[1] == f"{_w('a', 5)} {_w('b', 5)}"
    assert out[2] == f"{_w('c', 3)} {_w('d', 7)}"
    assert out[3] == _w("q", 8)


def test_partitioning_invariance(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = exact_substring_spans(docs.coalesce(1), k=20).collect()
    b = exact_substring_spans(docs.repartition(16), k=20).collect()
    key = lambda r: (r["doc_id"], r["span_start"])  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[1])
    )
    assert len(a) > 0  # the testdata's planted near-dups produce spans


# --- incremental index (r7): persisted k-gram state, append-only ---


def _spans_set(df):
    return {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in df.collect()
    }


def test_incremental_rebuild_equivalence_multi_append(spark, tmp_path):
    """Three appends through the persisted index must yield spans
    identical to a from-scratch exact_substring_spans over the union —
    including OLD docs whose grams only became duplicated by a LATER
    batch (the 1->2 frontier transition)."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import ExactSubstrIndex

    shared = _w("s", 6)     # duplicated across batches 1 and 2
    late = _w("L", 5)       # appears once in batch 1, again in batch 3
    b1 = [(1, f"{_w('a', 5)} {shared} {_w('b', 5)}"),
          (2, f"{late} {_w('c', 8)}")]
    b2 = [(3, f"{_w('d', 3)} {shared} {_w('e', 7)}"),
          (4, _w("f", 12))]
    b3 = [(5, f"{_w('g', 4)} {late} {_w('h', 6)}"),
          (6, f"{_w('i', 7)} {_w('i', 7)}")]  # self-repeat inside one batch
    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    for i, b in enumerate((b1, b2, b3), 1):
        idx.append(_docs(spark, b), txn_id=f"t{i}")
    expect = _spans_set(
        exact_substring_spans(_docs(spark, b1 + b2 + b3), k=4)
    )
    assert _spans_set(idx.spans(spark)) == expect
    assert len(expect) > 3  # the fixture actually planted spans
    # doc 2 (batch 1) must carry a span created only by batch 3
    assert any(d == 2 for d, *_ in expect)


def test_incremental_boilerplate_across_three_batches(spark, tmp_path):
    """A gram seen in EVERY batch: flagged once per occurrence, the
    dup-hash set gains it once, and dead frontier rows never re-flag
    (no duplicate flagged rows => n_positions stays exact)."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import ExactSubstrIndex

    boiler = _w("B", 4)
    batches = [
        [(10, f"{boiler} {_w('x', 5)}")],
        [(11, f"{boiler} {_w('y', 5)}")],
        [(12, f"{boiler} {_w('z', 5)}")],
    ]
    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    for i, b in enumerate(batches, 1):
        idx.append(_docs(spark, b), txn_id=f"t{i}")
    all_docs = _docs(spark, [r for b in batches for r in b])
    assert _spans_set(idx.spans(spark)) == _spans_set(
        exact_substring_spans(all_docs, k=4)
    )
    # exactly one dup-hash row for the boilerplate gram
    assert idx.duphash.read(spark).count() == 1
    # flagged rows are unique per (doc, pos)
    fl = idx.flagged.read(spark)
    assert fl.count() == fl.distinct().count() == 3


def test_incremental_append_replay_is_idempotent(spark, tmp_path):
    """Replaying an append with the SAME txn id (the crash-recovery
    path) must not duplicate state in any of the three tables."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import ExactSubstrIndex

    shared = _w("s", 5)
    b1 = [(1, f"{shared} {_w('a', 6)}"), (2, f"{shared} {_w('b', 6)}")]
    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    idx.append(_docs(spark, b1), txn_id="t1")
    before = (
        _spans_set(idx.spans(spark)),
        idx.flagged.read(spark).count(),
        idx.duphash.read(spark).count(),
        idx.unique.read(spark).count(),
    )
    idx.append(_docs(spark, b1), txn_id="t1")  # replay
    after = (
        _spans_set(idx.spans(spark)),
        idx.flagged.read(spark).count(),
        idx.duphash.read(spark).count(),
        idx.unique.read(spark).count(),
    )
    assert before == after
    # re-delivery under a NEW txn: the admitted-ids anti-join that
    # substr-append runs first leaves nothing to append
    redelivered = _docs(spark, b1 + [(3, _w("c", 6))])
    fresh = redelivered.join(idx.admitted_ids(spark), "doc_id", "anti")
    assert [r["doc_id"] for r in fresh.collect()] == [3]


def test_incremental_compact_preserves_spans_and_drops_dead_rows(spark, tmp_path):
    """Compaction removes LSM-dead frontier rows (hash already
    duplicated) and must not change spans or future appends'
    behavior."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import ExactSubstrIndex

    shared = _w("s", 5)
    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    idx.append(_docs(spark, [(1, f"{shared} {_w('a', 6)}")]), txn_id="t1")
    idx.append(_docs(spark, [(2, f"{shared} {_w('b', 6)}")]), txn_id="t2")
    spans_before = _spans_set(idx.spans(spark))
    stats = idx.compact(spark)
    assert stats["rows_after"] < stats["rows_before"]  # dead rows existed
    assert _spans_set(idx.spans(spark)) == spans_before
    # a post-compact append still dedups against the compacted frontier
    idx.append(_docs(spark, [(3, f"{_w('a', 6)} {_w('q', 4)}")]), txn_id="t3")
    all_docs = _docs(
        spark,
        [(1, f"{shared} {_w('a', 6)}"), (2, f"{shared} {_w('b', 6)}"),
         (3, f"{_w('a', 6)} {_w('q', 4)}")],
    )
    assert _spans_set(idx.spans(spark)) == _spans_set(
        exact_substring_spans(all_docs, k=4)
    )


def test_incremental_clean_matches_full_cut(spark, tmp_path):
    """index.clean == remove_duplicate_spans over the full corpus."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import ExactSubstrIndex

    shared = _w("s", 5)
    b1 = [(1, f"{shared} {_w('a', 6)}")]
    b2 = [(2, f"{_w('c', 3)} {shared}")]
    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    idx.append(_docs(spark, b1), txn_id="t1")
    idx.append(_docs(spark, b2), txn_id="t2")
    docs = _docs(spark, b1 + b2)
    got = {
        (r["doc_id"], r["clean_text"]) for r in idx.clean(docs).collect()
    }
    full = remove_duplicate_spans(
        docs, exact_substring_spans(docs, k=4)
    )
    assert got == {(r["doc_id"], r["clean_text"]) for r in full.collect()}


def test_auto_txn_id_content_derived_survives_torn_append(spark, tmp_path):
    """A crash between table appends must never make a DIFFERENT
    batch's auto txn id collide with the torn one (ADVICE r7: a
    version-derived default id collided, and the committed-txn guard
    then silently skipped the new batch's flagged delta). Pins:
    same batch -> same auto id (replay completes the torn append);
    different batch -> different id (its delta is admitted)."""
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        incremental_exact_substring,
    )
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    sh1, sh2 = _w("s", 5), _w("t", 5)
    b1 = [(1, f"{sh1} {_w('a', 6)}"), (2, f"{sh1} {_w('b', 6)}")]
    b2 = [(3, f"{sh2} {_w('c', 6)}"), (4, f"{sh2} {_w('d', 6)}")]
    d1, d2 = _docs(spark, b1), _docs(spark, b2)
    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    tid1 = idx._auto_txn_id(d1)
    assert tid1 == idx._auto_txn_id(d1)          # deterministic
    assert tid1 != idx._auto_txn_id(d2)          # content-distinct
    # simulate the torn state: ONLY b1's flagged delta committed under
    # b1's auto id, then the process died
    import pyspark.sql.functions as F

    fl, _, _ = incremental_exact_substring(
        d1,
        spark.createDataFrame([], "doc_id long, pos int, g string"),
        spark.createDataFrame([], "g string"),
        k=4,
    )
    (tmp_path / "xs" / "_xs_meta.json").write_text('{"k": 4}')
    idx.flagged.append(
        fl.select(F.col("doc_id").cast("long"), F.col("pos").cast("int")),
        txn_id=tid1,
    )
    # a DIFFERENT batch auto-appends next: its flags must land (the
    # old version-derived id would have been == tid1 and been skipped)
    res2 = idx.append(d2)
    assert res2["txn_id"] != tid1
    assert any(d in (3, 4) for d, *_ in _spans_set(idx.spans(spark)))
    # replaying b1 (auto id) completes the torn append idempotently
    idx.append(d1)
    expect = _spans_set(exact_substring_spans(_docs(spark, b1 + b2), k=4))
    assert _spans_set(idx.spans(spark)) == expect


def test_shuffle_probe_rebuild_equivalence_and_no_store_exchange(spark, tmp_path):
    """The bulk-append path (probe_mode='shuffle', co-partitioned
    probes against the BUCKETED g-stores) must produce state identical
    to the broadcast path / a from-scratch rebuild, and its probe plan
    must contain ZERO Exchanges above the store scans — the store is
    never re-shuffled (r7 verdict: the broadcast probe was the one
    documented scale ceiling)."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    shared = _w("s", 6)
    late = _w("L", 5)
    b1 = [(1, f"{_w('a', 5)} {shared} {_w('b', 5)}"), (2, f"{late} {_w('c', 8)}")]
    b2 = [(3, f"{_w('d', 3)} {shared} {_w('e', 7)}"), (4, _w("f", 12))]
    b3 = [(5, f"{_w('g', 4)} {late} {_w('h', 6)}"), (6, f"{_w('i', 7)} {_w('i', 7)}")]
    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    idx.append(_docs(spark, b1), txn_id="t1")  # bootstrap: broadcast
    r2 = idx.append(_docs(spark, b2), txn_id="t2", probe_mode="shuffle")
    r3 = idx.append(_docs(spark, b3), txn_id="t3", probe_mode="shuffle")
    assert r2["probe_mode"] == r3["probe_mode"] == "shuffle"
    expect = _spans_set(exact_substring_spans(_docs(spark, b1 + b2 + b3), k=4))
    assert _spans_set(idx.spans(spark)) == expect
    # the 1->2 frontier transition (doc 2 flagged by batch 3) crossed
    # the shuffle path
    assert any(d == 2 for d, *_ in expect)

    # plan pin: a co-partitioned probe of a bucketed segment keeps the
    # STORE side Exchange-free (bucketed scan feeds the join directly);
    # the probe side carries the plan's only Exchange
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        probe = (
            _docs(spark, b3)
            .selectExpr("md5(text) as g")
            .repartition(idx.num_buckets, "g")
            .distinct()
        )
        for seg in idx.unique.segments(spark):
            j = seg.join(probe, "g", "semi")
            smj = j._jdf.queryExecution().executedPlan()
            plan = smj.toString()
            assert "Bucketed: true" in plan
            # exactly one Exchange in the whole plan...
            assert plan.count("Exchange hashpartitioning") == 1, plan
            # ...and the store-side scan subtree is not under it: the
            # FileScan line reports the bucketed layout was USED
            assert "SelectedBucketsCount" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_auto_probe_mode_gates_on_gram_count(spark, tmp_path):
    """auto picks broadcast under the limit and shuffle above it (the
    token-count proxy), and both paths interleave correctly on one
    index."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    shared = _w("s", 6)
    b1 = [(1, f"{_w('a', 5)} {shared}")]
    b2 = [(2, f"{_w('c', 3)} {shared}")]
    b3 = [(3, f"{shared} {_w('e', 9)}")]
    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    r1 = idx.append(_docs(spark, b1))            # empty store: broadcast
    r2 = idx.append(_docs(spark, b2), broadcast_gram_limit=2)   # above: shuffle
    r3 = idx.append(_docs(spark, b3), broadcast_gram_limit=10**9)  # under
    assert (r1["probe_mode"], r2["probe_mode"], r3["probe_mode"]) == (
        "broadcast",
        "shuffle",
        "broadcast",
    )
    expect = _spans_set(exact_substring_spans(_docs(spark, b1 + b2 + b3), k=4))
    assert _spans_set(idx.spans(spark)) == expect


def test_compact_anti_probe_is_exchange_free_on_bucketed_layout(spark, tmp_path):
    """r8: unique and duphash share the (g, num_buckets) bucketed
    layout, so compact's dead-row anti join plans with ZERO Exchanges
    on either side — pinned structurally under forced non-broadcast."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    shared = _w("s", 5)
    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    idx.append(_docs(spark, [(1, f"{shared} {_w('a', 6)}")]), txn_id="t1")
    idx.append(_docs(spark, [(2, f"{shared} {_w('b', 6)}")]), txn_id="t2")

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        useg = idx.unique.segments(spark)[0]
        dseg = idx.duphash.segments(spark)[0]
        plan = (
            useg.join(dseg, "g", "anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)

    spans_before = _spans_set(idx.spans(spark))
    stats = idx.compact(spark)
    assert stats["rows_after"] < stats["rows_before"]
    assert _spans_set(idx.spans(spark)) == spans_before


def test_compact_merges_duphash_segments(spark, tmp_path):
    """r8: compact also merges duphash's per-append segments back to
    one (probe cost scales with segment count), preserving rows and
    all future append behavior."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    s1, s2 = _w("s", 5), _w("t", 5)
    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    idx.append(_docs(spark, [(1, f"{s1} {_w('a', 6)}"), (2, f"{s1} {_w('b', 6)}")]), txn_id="t1")
    idx.append(_docs(spark, [(3, f"{s2} {_w('c', 6)}"), (4, f"{s2} {_w('d', 6)}")]), txn_id="t2")
    assert len(idx.duphash.segments(spark)) == 2
    dup_rows = sorted(r["g"] for r in idx.duphash.read(spark).collect())
    spans_before = _spans_set(idx.spans(spark))

    stats = idx.compact(spark)
    assert stats["dup_segments_merged"] == 2
    assert len(idx.duphash.segments(spark)) == 1
    assert sorted(r["g"] for r in idx.duphash.read(spark).collect()) == dup_rows
    assert _spans_set(idx.spans(spark)) == spans_before
    # appends after the merge still dedup against the merged store,
    # through the shuffle path too
    idx.append(
        _docs(spark, [(5, f"{s1} {_w('e', 6)}")]), txn_id="t3", probe_mode="shuffle"
    )
    all_docs = _docs(
        spark,
        [(1, f"{s1} {_w('a', 6)}"), (2, f"{s1} {_w('b', 6)}"),
         (3, f"{s2} {_w('c', 6)}"), (4, f"{s2} {_w('d', 6)}"),
         (5, f"{s1} {_w('e', 6)}")],
    )
    assert _spans_set(idx.spans(spark)) == _spans_set(
        exact_substring_spans(all_docs, k=4)
    )


def test_order_free_replay_any_commit_subset(spark, tmp_path, monkeypatch):
    """r8 concurrent appends: a crash that lets UNIQUE commit while
    FLAGGED and DUP do not is the adversarial subset (a replay reading
    latest state would see the batch's own singles in stored_unique
    and flag every unique gram). The pre-txn snapshot reads must
    recompute byte-identical deltas and complete the txn — final state
    equal to a never-crashed twin. (docs commits LAST by design — the
    completion marker the admitted-ids anti-join relies on — so it
    must NOT be committed in the torn state.)"""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    shared = _w("s", 5)
    b1 = [(1, f"{shared} {_w('a', 6)}"), (2, f"{_w('q', 9)}")]
    b2 = [(3, f"{shared} {_w('b', 6)}"), (4, f"{_w('r', 9)}")]

    clean = ExactSubstrIndex(tmp_path / "clean", k=4, num_buckets=4)
    clean.append(_docs(spark, b1), txn_id="t1")
    clean.append(_docs(spark, b2), txn_id="t2")

    idx = ExactSubstrIndex(tmp_path / "torn", k=4, num_buckets=4)
    idx.append(_docs(spark, b1), txn_id="t1")

    # crash injection: flagged and duphash appends die; unique and
    # docs (concurrent siblings) land
    real_flagged, real_dup = idx.flagged.append, idx.duphash.append

    def boom(*a, **k):
        raise RuntimeError("injected: writer thread died")

    monkeypatch.setattr(idx.flagged, "append", boom)
    monkeypatch.setattr(idx.duphash, "append", boom)
    try:
        idx.append(_docs(spark, b2), txn_id="t2")
        raise AssertionError("append must propagate the injected crash")
    except RuntimeError as e:
        assert "injected" in str(e)
    # the adversarial torn state actually happened — and docs, the
    # completion marker, must NOT have committed
    assert "t2" in idx.unique.committed_txns()
    assert "t2" not in idx.flagged.committed_txns()
    assert "t2" not in idx.duphash.committed_txns()
    assert "t2" not in idx.docs.committed_txns()

    monkeypatch.setattr(idx.flagged, "append", real_flagged)
    monkeypatch.setattr(idx.duphash, "append", real_dup)
    idx.append(_docs(spark, b2), txn_id="t2")  # replay completes the txn

    assert _spans_set(idx.spans(spark)) == _spans_set(clean.spans(spark))
    for tbl in ("flagged", "duphash", "unique", "docs"):
        a = sorted(map(tuple, getattr(idx, tbl).read(spark).collect()))
        b = sorted(map(tuple, getattr(clean, tbl).read(spark).collect()))
        assert a == b, tbl
    # and the torn-then-replayed index keeps working
    idx.append(_docs(spark, [(5, f"{shared} {_w('c', 6)}")]), txn_id="t3")
    clean.append(_docs(spark, [(5, f"{shared} {_w('c', 6)}")]), txn_id="t3")
    assert _spans_set(idx.spans(spark)) == _spans_set(clean.spans(spark))


def test_vacuum_reclaims_superseded_versions_keeps_spans(spark, tmp_path):
    """vacuum(keep_last=1) after compaction drops the pre-compaction
    unique segments; spans and future appends are unaffected (they
    read the compacted version)."""
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )

    shared = _w("s", 5)
    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    idx.append(_docs(spark, [(1, f"{shared} {_w('a', 6)}")]), txn_id="t1")
    idx.append(_docs(spark, [(2, f"{shared} {_w('b', 6)}")]), txn_id="t2")
    spans_before = _spans_set(idx.spans(spark))
    idx.compact(spark)
    removed = idx.vacuum(keep_last=1)
    assert removed["unique"], "pre-compaction segments must be reclaimed"
    assert _spans_set(idx.spans(spark)) == spans_before
    idx.append(_docs(spark, [(3, f"{shared} {_w('c', 6)}")]), txn_id="t3")
    all_docs = _docs(
        spark,
        [(1, f"{shared} {_w('a', 6)}"), (2, f"{shared} {_w('b', 6)}"),
         (3, f"{shared} {_w('c', 6)}")],
    )
    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        exact_substring_spans,
    )

    assert _spans_set(idx.spans(spark)) == _spans_set(
        exact_substring_spans(all_docs, k=4)
    )


def test_pre_txn_read_raises_on_pruned_txn_version(spark, tmp_path):
    """ADVICE r8: a txn that IS in a table's committed ledger but whose
    txn_versions entry was pruned (retention exceeded before a torn
    append was replayed) must raise loudly from the pre-txn read —
    silently reading the LATEST snapshot would recompute the replay
    delta from the wrong state. Simulated by dropping the entry from
    the pointer directly (equivalent to 128+ later appends)."""
    import json as _json

    import pytest
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        _UNIQUE_SCHEMA,
        ExactSubstrIndex,
    )

    idx = ExactSubstrIndex(tmp_path / "xs", k=4)
    idx.append(_docs(spark, [(1, _w("a", 8))]), txn_id="t1")
    idx.append(_docs(spark, [(2, _w("b", 8))]), txn_id="t2")

    ptr = idx.unique._pointer_file()
    meta = _json.loads(ptr.read_text())
    assert "t1" in meta["txns"] and "t1" in meta["txn_versions"]
    del meta["txn_versions"]["t1"]  # simulate retention pruning
    ptr.write_text(_json.dumps(meta))

    with pytest.raises(RuntimeError, match="pruned from txn_versions"):
        idx._read_pre_txn(spark, idx.unique, _UNIQUE_SCHEMA, "t1")
    # a txn never committed here (the common case) still reads latest
    assert idx._read_pre_txn(spark, idx.unique, _UNIQUE_SCHEMA, "never").count() > 0

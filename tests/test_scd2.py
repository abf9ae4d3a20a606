"""SCD2 merge semantics — mirrors the reference's validation suite
(verify_scd2.py:291-342, technical_audit.py tests 1-4 and its
rapid-update test) as fast local-Spark unit tests."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.scd2 import (
    empty_dim,
    scd2_build_from_change_log,
    scd2_merge,
)
from tests.conftest import make_change

T0 = dt.datetime(2026, 3, 1, 10, 0, 0)


def ts(seconds: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=seconds)


def assert_invariants(dim_rows):
    """V1-V3 from verify_scd2.py:291-342."""
    by_key = {}
    for r in dim_rows:
        by_key.setdefault(r["order_key"], []).append(r)
    for key, rows in by_key.items():
        current = [r for r in rows if r["is_current"]]
        assert len(current) <= 1, f"key {key}: {len(current)} current rows (V1)"
        for r in rows:
            if r["is_current"]:
                assert r["valid_to"] is None, f"key {key}: current row has valid_to (V2)"
            else:
                assert r["valid_to"] is not None, f"key {key}: historical row open (V2)"
                assert r["valid_to"] > r["valid_from"], f"key {key}: interval inverted"
        ordered = sorted(rows, key=lambda r: r["valid_from"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["valid_to"] is not None and a["valid_to"] <= b["valid_from"], (
                f"key {key}: overlapping intervals (V3)"
            )


def test_insert_creates_current_row(spark, change_df):
    batch = change_df([make_change(1, "INSERT", ts(0))])
    out = scd2_merge(empty_dim(spark), batch, "b1").collect()
    assert len(out) == 1
    row = out[0]
    assert row["is_current"] and row["valid_to"] is None
    assert row["valid_from"] == ts(0)
    assert row["batch_id"] == "b1"
    assert row["surrogate_key"] is not None
    assert_invariants(out)


def test_update_expires_and_inserts(spark, change_df):
    dim = scd2_merge(empty_dim(spark), change_df([make_change(1, "INSERT", ts(0))]))
    batch2 = change_df([make_change(1, "UPDATE", ts(60), quantity=5, status="shipped")])
    out = scd2_merge(dim, batch2, "b2").collect()
    assert len(out) == 2
    cur = [r for r in out if r["is_current"]][0]
    old = [r for r in out if not r["is_current"]][0]
    assert cur["quantity"] == 5 and cur["order_status"] == "shipped"
    # V7: microsecond continuity (technical_audit.py:512-643)
    assert old["valid_to"] == cur["valid_from"] == ts(60)
    assert_invariants(out)


def test_noop_update_suppressed(spark, change_df):
    """P8: identical row image -> no new version (scd2_loader.py:343-354)."""
    dim = scd2_merge(empty_dim(spark), change_df([make_change(1, "INSERT", ts(0))]))
    same = change_df([make_change(1, "UPDATE", ts(60))])  # identical payload
    out = scd2_merge(dim, same).collect()
    assert len(out) == 1 and out[0]["is_current"]


def test_insert_on_existing_key_reroutes_to_update(spark, change_df):
    """scd2_loader.py:308-311: INSERT with changed values acts as UPDATE."""
    dim = scd2_merge(empty_dim(spark), change_df([make_change(1, "INSERT", ts(0))]))
    dup = change_df([make_change(1, "INSERT", ts(30), quantity=9)])
    out = scd2_merge(dim, dup).collect()
    assert len(out) == 2
    assert [r for r in out if r["is_current"]][0]["quantity"] == 9
    assert_invariants(out)


def test_update_on_missing_key_reroutes_to_insert(spark, change_df):
    """scd2_loader.py:336-340."""
    out = scd2_merge(empty_dim(spark), change_df([make_change(7, "UPDATE", ts(0))])).collect()
    assert len(out) == 1 and out[0]["is_current"]


def test_delete_expires_only(spark, change_df):
    dim = scd2_merge(empty_dim(spark), change_df([make_change(1, "INSERT", ts(0))]))
    out = scd2_merge(dim, change_df([make_change(1, "DELETE", ts(90))])).collect()
    assert len(out) == 1
    assert not out[0]["is_current"] and out[0]["valid_to"] == ts(90)


def test_delete_missing_key_is_noop(spark, change_df):
    out = scd2_merge(empty_dim(spark), change_df([make_change(42, "DELETE", ts(0))])).collect()
    assert out == []


def test_rapid_updates_collapse_to_latest(spark, change_df):
    """W1 + audit test 3: same-key changes in one batch -> exactly one
    current row carrying the latest values (technical_audit.py:321-510)."""
    batch = change_df(
        [
            make_change(999, "INSERT", ts(0), quantity=1, unit_price="10.00"),
            make_change(999, "UPDATE", ts(1), quantity=2, unit_price="10.00", status="confirmed"),
            make_change(999, "UPDATE", ts(2), quantity=3, unit_price="15.00", status="shipped"),
        ]
    )
    out = scd2_merge(empty_dim(spark), batch).collect()
    cur = [r for r in out if r["is_current"]]
    assert len(cur) == 1
    assert cur[0]["quantity"] == 3
    assert cur[0]["unit_price"] == Decimal("15.00")
    assert cur[0]["order_status"] == "shipped"
    assert_invariants(out)


def test_same_timestamp_delete_outranks_update(spark, change_df):
    """A DELETE and an UPDATE of one key with the same cdc_timestamp:
    the op-priority tiebreak makes DELETE win in either arrival order,
    both inside one batch (keys 1, 2 never become current) and onto an
    existing key (keys 3, 4 lose their current version, no successor)."""
    existing = scd2_merge(
        empty_dim(spark), change_df([make_change(k, "INSERT", ts(0)) for k in (3, 4)])
    )

    def delete(k):
        return make_change(k, "DELETE", ts(5))

    def update(k):
        return make_change(k, "UPDATE", ts(5), quantity=7, status="confirmed")

    batch = change_df(
        [
            make_change(1, "INSERT", ts(0)), delete(1), update(1),
            make_change(2, "INSERT", ts(0)), update(2), delete(2),
            delete(3), update(3),
            update(4), delete(4),
        ]
    )
    out = scd2_merge(existing, batch).collect()
    got = sorted((r["order_key"], r["is_current"], r["valid_to"]) for r in out)
    assert got == [(3, False, ts(5)), (4, False, ts(5))]
    assert_invariants(out)


def test_rapid_updates_onto_existing_key(spark, change_df):
    dim = scd2_merge(empty_dim(spark), change_df([make_change(5, "INSERT", ts(0))]))
    batch = change_df(
        [
            make_change(5, "UPDATE", ts(10), quantity=2),
            make_change(5, "UPDATE", ts(20), quantity=3),
        ]
    )
    out = scd2_merge(dim, batch).collect()
    assert len(out) == 2  # expired v1 + current v2 (latest only applied)
    cur = [r for r in out if r["is_current"]][0]
    assert cur["quantity"] == 3 and cur["valid_from"] == ts(20)
    old = [r for r in out if not r["is_current"]][0]
    assert old["valid_to"] == ts(20)
    assert_invariants(out)


def test_idempotent_reapply(spark, change_df):
    """Re-applying the same batch is a no-op (README.md:394-411 —
    here by change suppression; the ledger layer also skips the file)."""
    batch = change_df([make_change(1, "INSERT", ts(0)), make_change(2, "INSERT", ts(1))])
    dim1 = scd2_merge(empty_dim(spark), batch, "b1")
    dim2 = scd2_merge(dim1, batch, "b1")
    rows1 = sorted(dim1.collect(), key=lambda r: r["order_key"])
    rows2 = sorted(dim2.collect(), key=lambda r: r["order_key"])
    assert rows1 == rows2


def test_multi_key_batch(spark, change_df):
    batch1 = change_df([make_change(i, "INSERT", ts(i)) for i in range(1, 6)])
    dim = scd2_merge(empty_dim(spark), batch1, "b1")
    batch2 = change_df(
        [
            make_change(1, "UPDATE", ts(100), quantity=2),
            make_change(2, "DELETE", ts(101)),
            make_change(6, "INSERT", ts(102)),
        ]
    )
    out = scd2_merge(dim, batch2, "b2").collect()
    assert_invariants(out)
    by_key = {}
    for r in out:
        by_key.setdefault(r["order_key"], []).append(r)
    assert len(by_key[1]) == 2  # expired + current
    assert len(by_key[2]) == 1 and not by_key[2][0]["is_current"]  # deleted
    assert len(by_key[6]) == 1 and by_key[6][0]["is_current"]  # new
    assert all(by_key[k][0]["is_current"] for k in (3, 4, 5))  # untouched


def test_build_from_change_log_matches_iterated_merges(spark, change_df):
    """The one-pass backfill must agree with batch-at-a-time merging
    when batches each carry one change per key."""
    log_rows = [
        make_change(1, "INSERT", ts(0)),
        make_change(1, "UPDATE", ts(10), quantity=2),
        make_change(1, "UPDATE", ts(20), quantity=2),  # no-op duplicate
        make_change(1, "UPDATE", ts(30), quantity=4, status="shipped"),
        make_change(2, "INSERT", ts(5)),
        make_change(2, "DELETE", ts(15)),
        make_change(3, "INSERT", ts(7)),
    ]
    log = change_df(log_rows)
    bulk = scd2_build_from_change_log(log)

    dim = empty_dim(spark)
    for row in log_rows:
        # Materialize between batches like the table layer does in
        # production — scd2_merge references dim in three plan branches,
        # so an unmaterialized chain grows the plan 3^n.
        dim = scd2_merge(dim, change_df([row])).localCheckpoint(eager=True)

    cols = ["order_key", "quantity", "valid_from", "valid_to", "is_current"]
    a = sorted([tuple(r[c] for c in cols) for r in bulk.collect()])
    b = sorted([tuple(r[c] for c in cols) for r in dim.collect()])
    assert a == b
    assert_invariants(bulk.collect())


def test_late_out_of_order_change_is_skipped(spark, change_df):
    """A change older than the current version's valid_from must be a
    no-op (mirrors the streaming path's older-than-state skip): it
    would otherwise expire the newer row with valid_to < valid_from
    and install a stale image as current."""
    dim = scd2_merge(
        empty_dim(spark),
        change_df([make_change(1, "INSERT", ts(10), quantity=5)]),
        "b1",
    )
    late = change_df([make_change(1, "UPDATE", ts(3), quantity=9)])
    dim2 = scd2_merge(dim, late, "b2")
    rows = sorted(dim2.collect(), key=lambda r: (r["order_key"], r["valid_from"]))
    assert len(rows) == 1  # stale update ignored entirely
    assert rows[0]["quantity"] == 5 and rows[0]["is_current"]
    assert rows[0]["valid_from"] == ts(10)


def test_merge_tagged_single_probe_plan(spark, change_df, tmp_path):
    """The 100 TB contract of scd2_merge_tagged: the current slice is
    scanned ONCE wide; the only other dimension read is the
    column-pruned key-membership scan. A regression here means a
    second full pass over the dominant input re-appeared."""
    from cdc_historical_warehouse_platform_spark.operators.scd2 import (
        scd2_merge,
        scd2_merge_tagged,
    )

    seed = change_df([make_change(i, "INSERT", ts(0)) for i in range(1, 50)])
    scd2_merge(empty_dim(spark), seed, "b1").write.mode("overwrite").parquet(
        str(tmp_path / "dim")
    )
    cur = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("is_current"))
    batch = change_df(
        [make_change(1, "UPDATE", ts(60), quantity=9)]
        + [make_change(1000, "INSERT", ts(60))]
    )
    plan = (
        scd2_merge_tagged(cur, batch, "b2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 2, f"expected 1 wide + 1 skinny scan, got:\n{scans}"
    wide = [s for s in scans if "valid_from" in s]
    skinny = [s for s in scans if s not in wide]
    assert len(wide) == 1 and len(skinny) == 1
    # the membership scan must be column-pruned to the key (+ the
    # pushed is_current partition filter), never the full payload
    assert "order_key" in skinny[0] and "customer_id" not in skinny[0]
    assert "SortMergeJoin" not in plan  # dimension is never shuffled


def test_dim_store_first_batch_bulk_path_equals_merge(
    spark, tmp_path, change_df, monkeypatch
):
    """r8: the store's first-ever batch takes the one-pass bulk-build
    path when it carries <=1 change per key — output must equal the
    merge path exactly; a rapid-update seed must fall back to the
    merge (its collapse semantics differ from version-per-change).
    A route spy asserts each seed actually took ITS path (output
    equality alone would stay green if the gate silently regressed to
    always-merge)."""
    from cdc_historical_warehouse_platform_spark.sources import dim_store as ds
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    routes: list[str] = []
    real_build = ds.scd2_build_from_change_log
    real_merge = ds.scd2_merge_tagged
    monkeypatch.setattr(
        ds,
        "scd2_build_from_change_log",
        lambda *a, **k: (routes.append("bulk"), real_build(*a, **k))[1],
    )
    monkeypatch.setattr(
        ds,
        "scd2_merge_tagged",
        lambda *a, **k: (routes.append("merge"), real_merge(*a, **k))[1],
    )

    cols = [
        "order_key", "quantity", "valid_from", "valid_to",
        "is_current", "cdc_operation", "batch_id", "surrogate_key",
    ]

    def store_rows(store):
        return sorted(
            tuple(r[c] for c in cols) for r in store.read(spark).collect()
        )

    def merge_rows(batch):
        return sorted(
            tuple(r[c] for c in cols)
            for r in scd2_merge(empty_dim(spark), batch, batch_id="b1").collect()
        )

    seed = change_df(
        [
            make_change(1, "INSERT", ts(0)),
            make_change(2, "INSERT", ts(1), quantity=3),
            make_change(3, "DELETE", ts(2)),
        ]
    )
    s1 = SCD2DimStore(tmp_path / "bulk")
    s1.apply_batch(spark, seed, txn_id="t1", batch_id="b1")
    assert routes == ["bulk"], routes  # the fast path actually ran
    assert store_rows(s1) == merge_rows(seed)
    assert len(store_rows(s1)) == 2

    rapid = change_df(
        [
            make_change(7, "INSERT", ts(0)),
            make_change(7, "UPDATE", ts(5), quantity=9),
            make_change(8, "INSERT", ts(1)),
        ]
    )
    routes.clear()
    s2 = SCD2DimStore(tmp_path / "rapid")
    s2.apply_batch(spark, rapid, txn_id="t1", batch_id="b1")
    assert routes == ["merge"], routes  # rapid-update seed fell back
    assert store_rows(s2) == merge_rows(rapid)

    # later batches through both stores still merge identically
    b2 = change_df([make_change(1, "UPDATE", ts(10), quantity=5)])
    s1.apply_batch(spark, b2, txn_id="t2", batch_id="b2")
    assert_invariants(s1.read(spark).collect())

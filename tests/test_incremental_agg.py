"""Incremental aggregate maintenance (operators/incremental_agg.py).

The single invariant under test: after ANY sequence of CDC batches, the
maintained summary is row-identical to a from-scratch GROUP BY over the
dimension's current slice — across inserts, updates, no-ops, deletes,
group moves, re-inserts, and late (out-of-order) events, i.e. exactly
the cases scd2_merge itself handles (lockstep semantics)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
    empty_summary,
    group_summary,
    maintain_group_summary,
)
from cdc_historical_warehouse_platform_spark.operators.scd2 import empty_dim, scd2_merge
from tests.conftest import make_change

T0 = dt.datetime(2026, 3, 1, 10, 0, 0)


def ts(seconds: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=seconds)


def _rows(df):
    return sorted(
        ((r["customer_id"], r["n_orders"], r["measure_sum"]) for r in df.collect())
    )


def _run_batches(spark, change_df, batches):
    """Apply batches through merge + maintenance in lockstep; after each
    batch assert maintained == recompute."""
    dim = empty_dim(spark)
    summary = empty_summary(spark)
    for i, batch_rows in enumerate(batches):
        batch = change_df(batch_rows)
        current = dim.filter(F.col("is_current"))
        summary = maintain_group_summary(summary, current, batch)
        dim = scd2_merge(dim, batch, f"b{i}")
        # materialize both to keep chained plans small and stable
        summary = summary.localCheckpoint(eager=True)
        dim = dim.localCheckpoint(eager=True)
        got = _rows(summary)
        want = _rows(group_summary(dim.filter(F.col("is_current"))))
        assert got == want, f"batch {i}: maintained {got} != recompute {want}"
    return dim, summary


def test_insert_update_delete_matches_recompute(spark, change_df):
    _run_batches(
        spark,
        change_df,
        [
            # batch 0: three inserts across two customers
            [
                make_change(1, "INSERT", ts(0), quantity=2, customer_id=100),
                make_change(2, "INSERT", ts(1), quantity=3, customer_id=100),
                make_change(3, "INSERT", ts(2), quantity=1, customer_id=200),
            ],
            # batch 1: price update (same group), delete, brand-new key
            [
                make_change(1, "UPDATE", ts(60), quantity=2, unit_price="12.50", customer_id=100),
                make_change(3, "DELETE", ts(61), customer_id=200),
                make_change(4, "INSERT", ts(62), quantity=5, customer_id=200),
            ],
            # batch 2: delete of a missing key (silent) + no-op update
            [
                make_change(99, "DELETE", ts(120)),
                make_change(4, "UPDATE", ts(121), quantity=5, customer_id=200),
            ],
        ],
    )


def test_group_move_transfers_between_groups(spark, change_df):
    dim, summary = _run_batches(
        spark,
        change_df,
        [
            [make_change(1, "INSERT", ts(0), quantity=4, customer_id=100)],
            # the order moves wholesale from customer 100 to customer 300
            [make_change(1, "UPDATE", ts(60), quantity=4, customer_id=300)],
        ],
    )
    rows = _rows(summary)
    assert [r[0] for r in rows] == [300], f"group 100 should be emptied: {rows}"


def test_delete_then_reinsert(spark, change_df):
    _run_batches(
        spark,
        change_df,
        [
            [make_change(1, "INSERT", ts(0), quantity=2, customer_id=100)],
            [make_change(1, "DELETE", ts(60), customer_id=100)],
            [make_change(1, "INSERT", ts(120), quantity=7, customer_id=100)],
        ],
    )


def test_late_event_skipped_like_merge(spark, change_df):
    """An out-of-order change (older than the current version) is a
    no-op in the merge; the maintained summary must skip it too or the
    two would drift apart."""
    _run_batches(
        spark,
        change_df,
        [
            [make_change(1, "INSERT", ts(100), quantity=2, customer_id=100)],
            # stale image: cdc_timestamp BEFORE the current valid_from
            [make_change(1, "UPDATE", ts(50), quantity=9, customer_id=100)],
        ],
    )


def test_intra_batch_dedup_applies_latest_only(spark, change_df):
    _run_batches(
        spark,
        change_df,
        [
            [make_change(1, "INSERT", ts(0), quantity=1, customer_id=100)],
            # two updates to the same key in one batch: only the ts(61)
            # image may count
            [
                make_change(1, "UPDATE", ts(60), quantity=5, customer_id=100),
                make_change(1, "UPDATE", ts(61), quantity=8, customer_id=100),
            ],
        ],
    )


def test_bootstrap_from_existing_dimension(spark, change_df):
    """Adopting a pre-existing dimension: bootstrap the summary with
    group_summary(current), then maintain incrementally."""
    b0 = change_df(
        [
            make_change(1, "INSERT", ts(0), quantity=2, customer_id=100),
            make_change(2, "INSERT", ts(1), quantity=3, customer_id=200),
        ]
    )
    dim = scd2_merge(empty_dim(spark), b0, "seed")
    summary = group_summary(dim.filter(F.col("is_current")))
    b1 = change_df([make_change(2, "UPDATE", ts(60), quantity=6, customer_id=200)])
    summary = maintain_group_summary(summary, dim.filter(F.col("is_current")), b1)
    dim = scd2_merge(dim, b1, "b1")
    assert _rows(summary) == _rows(group_summary(dim.filter(F.col("is_current"))))


def test_null_group_keys_merge_not_duplicate(spark, change_df):
    """GROUP BY treats NULL as one ordinary group; the upsert join must
    merge the summary's NULL row with the delta's NULL row (null-safe
    equality) instead of appending a fresh NULL row every batch."""
    import decimal

    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        apply_summary_delta,
    )

    field = T.StructField("g", T.StringType(), True)
    summary = spark.createDataFrame(
        [(None, 2, decimal.Decimal("20.00")), ("a", 1, decimal.Decimal("5.00"))],
        T.StructType(
            [
                field,
                T.StructField("n_orders", T.LongType(), False),
                T.StructField("measure_sum", T.DecimalType(38, 2), True),
            ]
        ),
    )
    delta = spark.createDataFrame(
        [(None, 1, decimal.Decimal("7.00")), ("b", 1, decimal.Decimal("3.00"))],
        T.StructType(
            [
                field,
                T.StructField("__dn", T.LongType(), False),
                T.StructField("__dm", T.DecimalType(38, 2), True),
            ]
        ),
    )
    out = {r["g"]: (r["n_orders"], r["measure_sum"]) for r in
           apply_summary_delta(summary, delta, group_col="g").collect()}
    assert out == {
        None: (3, decimal.Decimal("27.00")),
        "a": (1, decimal.Decimal("5.00")),
        "b": (1, decimal.Decimal("3.00")),
    }


def test_pipeline_load_maintains_summary_e2e(tmp_path, spark):
    """Summary maintenance wired into the real loader: seed → extract →
    load with a summary store; after every load the maintained rollup
    equals a recompute over the dimension's current slice, replays are
    txn-no-ops, and further mutation cycles stay in sync."""
    from cdc_historical_warehouse_platform_spark.pipeline.extractor import CDCExtractor
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.pipeline.simulator import OrderSimulator
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

    source = VersionedTable(tmp_path / "source_orders")
    deleted = VersionedTable(tmp_path / "deleted_orders")
    dim = SCD2DimStore(tmp_path / "dim_orders_history")
    summary_store = VersionedTable(tmp_path / "summary_customer_revenue")
    sim = OrderSimulator(spark, source, deleted, seed=7)
    ext = CDCExtractor(spark, source, tmp_path / "cdc_logs", deleted_table=deleted)
    loader = SCD2Loader(
        spark, dim, tmp_path / "cdc_logs", summary_store=summary_store
    )

    def check():
        maintained = {
            (r["customer_id"], r["n_orders"], r["measure_sum"])
            for r in summary_store.read(spark).collect()
        }
        recomputed = {
            (r["customer_id"], r["n_orders"], r["measure_sum"])
            for r in group_summary(dim.read_current(spark)).collect()
        }
        assert maintained == recomputed and maintained

    sim.seed_orders(12, now=ts(0))
    ext.run_once(now=ts(1))
    loader.load_pending()
    check()
    v_after = summary_store.version()

    # replay: no new batches, summary version must not advance
    loader.load_pending()
    assert summary_store.version() == v_after
    check()

    # mutation cycles (updates + possible deletes) stay in sync
    for i in range(3):
        sim.mutate_once(now=ts(10 + i))
        ext.run_once(now=ts(10 + i))
    loader.load_pending()
    check()


# --- MIN/MAX maintenance (dirty-group hybrid) ------------------------------


def _ext_rows(df):
    return sorted(
        (r["customer_id"], r["n_rows"], r["measure_min"], r["measure_max"])
        for r in df.collect()
    )


def _run_extrema_batches(spark, change_df, batches):
    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        group_extrema,
        maintain_group_extrema,
    )

    dim = empty_dim(spark)
    ext = group_extrema(empty_dim(spark).filter(F.col("is_current")))
    for i, batch_rows in enumerate(batches):
        batch = change_df(batch_rows)
        current = dim.filter(F.col("is_current"))
        ext = maintain_group_extrema(ext, current, batch)
        dim = scd2_merge(dim, batch, f"b{i}")
        ext = ext.localCheckpoint(eager=True)
        dim = dim.localCheckpoint(eager=True)
        got = _ext_rows(ext)
        want = _ext_rows(group_extrema(dim.filter(F.col("is_current"))))
        assert got == want, f"batch {i}: maintained {got} != recompute {want}"
    return dim, ext


def test_extrema_insert_update_delete_matches_recompute(spark, change_df):
    """The hybrid stays equal to recompute through the full op mix —
    including the hard case: deleting/updating away the row that HELD a
    group's min or max (dirty-group recompute), and the cheap cases
    (insert improving an extremum; removing a non-extreme row)."""
    _run_extrema_batches(
        spark,
        change_df,
        [
            # c100: 5, 10, 20 — extremes at 5 and 20
            [
                make_change(1, "INSERT", ts(0), quantity=1, unit_price="5.00"),
                make_change(2, "INSERT", ts(1), quantity=1, unit_price="10.00"),
                make_change(3, "INSERT", ts(2), quantity=1, unit_price="20.00"),
            ],
            # delete the MAX holder (dirty) + insert a non-extreme (clean)
            [
                make_change(3, "DELETE", ts(10)),
                make_change(4, "INSERT", ts(11), quantity=1, unit_price="7.00"),
            ],
            # update the MIN holder upward (dirty on removal side)
            [make_change(1, "UPDATE", ts(20), quantity=1, unit_price="8.00")],
            # remove a non-extreme row (clean path), then empty the group
            [make_change(2, "DELETE", ts(30))],
            [
                make_change(1, "DELETE", ts(40)),
                make_change(4, "DELETE", ts(41)),
            ],
        ],
    )


def test_extrema_group_move_and_late_events(spark, change_df):
    """A group move must dirty the source group when the mover held its
    extremum and improve the target cheaply; late events are no-ops."""
    _run_extrema_batches(
        spark,
        change_df,
        [
            [
                make_change(1, "INSERT", ts(0), quantity=1, unit_price="50.00", customer_id=100),
                make_change(2, "INSERT", ts(1), quantity=1, unit_price="10.00", customer_id=100),
                make_change(3, "INSERT", ts(2), quantity=1, unit_price="30.00", customer_id=200),
            ],
            # id 1 (holder of c100's max) moves to c200, beating its max
            [make_change(1, "UPDATE", ts(10), quantity=1, unit_price="50.00", customer_id=200)],
            # late: older than id 2's valid_from — must change nothing
            [make_change(2, "UPDATE", ts(0), quantity=9, unit_price="99.00", customer_id=100)],
        ],
    )


def test_extrema_duplicate_extremum_values(spark, change_df):
    """Two rows sharing the min: deleting one must keep the min (the
    dirty recompute sees the surviving duplicate)."""
    _run_extrema_batches(
        spark,
        change_df,
        [
            [
                make_change(1, "INSERT", ts(0), quantity=1, unit_price="5.00"),
                make_change(2, "INSERT", ts(1), quantity=1, unit_price="5.00"),
                make_change(3, "INSERT", ts(2), quantity=1, unit_price="9.00"),
            ],
            [make_change(1, "DELETE", ts(10))],
        ],
    )


def test_extrema_null_group_dirty_path(spark):
    """The NULL group must take the dirty path like any other group:
    deleting the NULL group's max holder has to surface the runner-up
    (a join-key null test would silently route NULL down the clean
    path and keep the stale max). CHANGE_SCHEMA's customer_id is
    non-nullable, so this drives the operator directly with a nullable
    twin schema."""
    import decimal

    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        group_extrema,
        maintain_group_extrema,
    )

    cur_schema = T.StructType(
        [
            T.StructField("order_key", T.LongType()),
            T.StructField("customer_id", T.IntegerType(), True),
            T.StructField("total_amount", T.DecimalType(10, 2), True),
            T.StructField("valid_from", T.TimestampType()),
        ]
    )
    d = decimal.Decimal
    current = spark.createDataFrame(
        [
            (1, None, d("5.00"), ts(0)),
            (2, None, d("20.00"), ts(1)),
            (3, 100, d("7.00"), ts(2)),
        ],
        cur_schema,
    )
    prev = group_extrema(current)
    ch_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("customer_id", T.IntegerType(), True),
            T.StructField("total_amount", T.DecimalType(10, 2), True),
            T.StructField("operation_type", T.StringType()),
            T.StructField("cdc_timestamp", T.TimestampType()),
        ]
    )
    batch = spark.createDataFrame(
        [(2, None, d("20.00"), "DELETE", ts(10))], ch_schema
    )
    out = {
        (r["customer_id"], r["n_rows"], r["measure_min"], r["measure_max"])
        for r in maintain_group_extrema(prev, current, batch).collect()
    }
    assert out == {
        (None, 1, d("5.00"), d("5.00")),  # runner-up surfaced, not stale 20.00
        (100, 1, d("7.00"), d("7.00")),
    }


# --- histogram maintenance (distribution-shaped IVM) -----------------------

from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (  # noqa: E402
    empty_histogram,
    group_histogram,
    histogram_quantile,
    maintain_group_histogram,
    unpack_histogram,
)

# tight edges so single-order value moves cross bucket boundaries
_HLO, _HHI, _HNB = 0.0, 100.0, 10


def _hist_rows(df):
    return sorted(
        (
            (r["customer_id"], r["bucket"], r["n_orders"], r["measure_sum"])
            for r in df.collect()
        )
    )


def _run_hist_batches(spark, change_df, batches):
    """Apply batches through merge + histogram maintenance in lockstep;
    after each batch assert maintained == recompute."""
    dim = empty_dim(spark)
    hist = empty_histogram(spark)
    for i, batch_rows in enumerate(batches):
        batch = change_df(batch_rows)
        current = dim.filter(F.col("is_current"))
        hist = maintain_group_histogram(
            hist, current, batch, lo=_HLO, hi=_HHI, nb=_HNB
        )
        dim = scd2_merge(dim, batch, f"b{i}")
        hist = hist.localCheckpoint(eager=True)
        dim = dim.localCheckpoint(eager=True)
        got = _hist_rows(unpack_histogram(hist))
        want = _hist_rows(
            unpack_histogram(
                group_histogram(
                    dim.filter(F.col("is_current")), lo=_HLO, hi=_HHI, nb=_HNB
                )
            )
        )
        assert got == want, f"batch {i}: maintained {got} != recompute {want}"
    return dim, hist


def test_histogram_matches_recompute_across_ops(spark, change_df):
    _run_hist_batches(
        spark,
        change_df,
        [
            [
                make_change(1, "INSERT", ts(0), quantity=2, customer_id=100),   # 20 → b2
                make_change(2, "INSERT", ts(1), quantity=5, customer_id=100),   # 50 → b5
                make_change(3, "INSERT", ts(2), quantity=1, customer_id=200),   # 10 → b1
            ],
            # bucket move within a group + delete + clamped overflow value
            [
                make_change(1, "UPDATE", ts(60), quantity=8, customer_id=100),  # 20→80: b2→b8
                make_change(3, "DELETE", ts(61), customer_id=200),
                make_change(4, "INSERT", ts(62), quantity=50, unit_price="99.00", customer_id=200),  # 4950 → clamped b9
            ],
            # no-op (cancels exactly) + late event (skipped) + group move
            [
                make_change(4, "UPDATE", ts(120), quantity=50, unit_price="99.00", customer_id=200),
                make_change(1, "UPDATE", ts(30), quantity=9, customer_id=100),  # late: older than ts(60)
                make_change(2, "UPDATE", ts(121), quantity=5, customer_id=300),
            ],
        ],
    )


def test_histogram_quantile_within_bucket_width(spark, change_df):
    """The read-time quantile estimate must land within one bucket
    width of the exact per-group percentile."""
    rows = [
        make_change(i, "INSERT", ts(i), quantity=q, customer_id=100)
        for i, q in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9], start=1)  # 10..90
    ]
    dim, hist = _run_hist_batches(spark, change_df, [rows])
    est = histogram_quantile(hist, 0.5, lo=_HLO, hi=_HHI, nb=_HNB).collect()
    assert len(est) == 1
    # exact median of 10..90 is 50; bucket width is 10
    assert abs(est[0]["q50_estimate"] - 50.0) <= 10.0
    assert est[0]["n_rows"] == 9


def test_histogram_store_maintenance_batch_and_stream(tmp_path, spark):
    """The shared maintain_histogram_store seam: the streaming
    foreachBatch path keeps the maintained histogram row-identical to
    a from-scratch recompute over the dim's current slice, replays are
    txn no-ops, and the batch loader produces the identical state."""
    import datetime as dt

    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA
    from cdc_historical_warehouse_platform_spark.sources.change_batches import write_change_batch
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import start_scd2_stream

    def sts(m):
        return dt.datetime(2026, 5, 1, 8, 0, 0) + dt.timedelta(minutes=m)

    def recompute_rows(dim_store):
        cur = dim_store.read_current(spark)
        return _hist_rows(unpack_histogram(group_histogram(cur)))

    b1 = [
        make_change(i, "INSERT", sts(i), quantity=i, customer_id=100 + (i % 2))
        for i in range(1, 9)
    ]
    b2 = [
        make_change(1, "UPDATE", sts(10), quantity=9, customer_id=101),
        make_change(2, "DELETE", sts(11), customer_id=100),
        make_change(9, "INSERT", sts(12), quantity=3, customer_id=100),
    ]

    # streaming path
    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    dim = SCD2DimStore(tmp_path / "dim")
    hist = VersionedTable(tmp_path / "hist")
    write_change_batch(
        spark.createDataFrame(b1, CHANGE_SCHEMA), cdc_dir, extracted_at=sts(9), fmt="jsonl"
    )
    q = start_scd2_stream(
        spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True, histogram_store=hist
    )
    q.awaitTermination(120)
    write_change_batch(
        spark.createDataFrame(b2, CHANGE_SCHEMA), cdc_dir, extracted_at=sts(13), fmt="jsonl"
    )
    q2 = start_scd2_stream(
        spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True, histogram_store=hist
    )
    q2.awaitTermination(120)
    stream_rows = _hist_rows(unpack_histogram(hist.read(spark)))
    assert stream_rows == recompute_rows(dim)

    # no-new-data restart: store version does not advance
    hv = hist.version()
    q3 = start_scd2_stream(
        spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True, histogram_store=hist
    )
    q3.awaitTermination(120)
    assert hist.version() == hv

    # batch-loader path over the same batches → identical state
    cdc2 = tmp_path / "cdc2"
    cdc2.mkdir()
    dim2 = SCD2DimStore(tmp_path / "dim2")
    hist2 = VersionedTable(tmp_path / "hist2")
    write_change_batch(
        spark.createDataFrame(b1, CHANGE_SCHEMA), cdc2, extracted_at=sts(9)
    )
    write_change_batch(
        spark.createDataFrame(b2, CHANGE_SCHEMA), cdc2, extracted_at=sts(13)
    )
    loader = SCD2Loader(spark, dim2, cdc2, histogram_store=hist2)
    r = loader.load_pending()
    assert r["processed"] == 2 and r["failed"] == 0
    assert _hist_rows(unpack_histogram(hist2.read(spark))) == stream_rows


def test_concurrent_rollups_crash_before_dim_replays_exactly_once(tmp_path, spark, monkeypatch):
    """The concurrent section of a batch under a crash, in two cases:
    the histogram store's commit fails while the summary and sketch
    maintainers and the dimension's stage write run beside it, or the
    stage write fails while all three rollups land. The run fails only
    after every task has finished (the others' txns landed, no pool
    thread outlives the run) and the dimension has not moved. A fresh
    loader's replay is a txn no-op on the landed rollups, applies the
    rest and the dimension once, and converges to a clean run."""
    import datetime as dt
    import shutil
    import threading

    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA
    from cdc_historical_warehouse_platform_spark.sources import dim_store as dim_store_module
    from cdc_historical_warehouse_platform_spark.sources.change_batches import write_change_batch
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

    def sts(m):
        return dt.datetime(2026, 6, 1, 8, 0, 0) + dt.timedelta(minutes=m)

    b1 = [
        make_change(i, "INSERT", sts(i), quantity=i, customer_id=100 + (i % 2), product_id=200 + i)
        for i in range(1, 7)
    ]
    b2 = [
        make_change(1, "UPDATE", sts(10), quantity=9, customer_id=101),
        make_change(2, "DELETE", sts(11), customer_id=100),
        make_change(8, "INSERT", sts(12), quantity=4, customer_id=102, product_id=208),
    ]

    def stores(root):
        return (
            SCD2DimStore(root / "dim"),
            VersionedTable(root / "summary"),
            VersionedTable(root / "sketch"),
            VersionedTable(root / "hist"),
        )

    def loader(root):
        dim, summary, sketch, hist = stores(root)
        return SCD2Loader(
            spark, dim, root / "cdc", summary_store=summary,
            sketch_store=sketch, histogram_store=hist,
        )

    def boom(*_a, **_k):
        raise RuntimeError("injected crash")

    clean = tmp_path / "clean"
    write_change_batch(spark.createDataFrame(b1, CHANGE_SCHEMA), clean / "cdc", extracted_at=sts(9))
    assert loader(clean).load_pending()["processed"] == 1
    write_change_batch(spark.createDataFrame(b2, CHANGE_SCHEMA), clean / "cdc", extracted_at=sts(13))
    for case in ("histogram", "stage"):
        shutil.copytree(clean, tmp_path / case)
    assert loader(clean).load_pending()["processed"] == 1
    clean_dim, _, clean_sketch, _ = stores(clean)

    for case in ("histogram", "stage"):
        crash = tmp_path / case
        dim, summary, sketch, hist = stores(crash)
        rollups = {"summary": summary, "sketch": sketch, "hist": hist}
        landing = {"histogram": ("summary", "sketch"), "stage": ("summary", "sketch", "hist")}[case]
        txns = {name: t.committed_txns() for name, t in rollups.items()}
        dim_version, dim_txns = dim.version(), dim.committed_txns()

        crashing = loader(crash)
        with monkeypatch.context() as m:
            if case == "histogram":
                m.setattr(crashing.histograms, "commit", boom)
            else:  # the stage task fails before its write
                m.setattr(dim_store_module, "_seed_or_merge_tagged", boom)
            res = crashing.load_pending()
        assert res["status"] == "failed" and "injected crash" in res["error"], case
        assert not [t for t in threading.enumerate() if t.name.startswith("rollup")]
        (txn,) = summary.committed_txns() - txns["summary"]
        for name, table in rollups.items():
            landed = {txn} if name in landing else set()
            assert table.committed_txns() - txns[name] == landed, (case, name)
        assert dim.version() == dim_version and dim.committed_txns() == dim_txns, case

        versions = {name: t.version() for name, t in rollups.items()}
        res = loader(crash).load_pending()
        assert res["status"] == "completed" and res["processed"] == 1, case
        for name, table in rollups.items():
            bump = 0 if name in landing else 1
            assert table.version() == versions[name] + bump, (case, name)
            assert txn in table.committed_txns(), (case, name)
        assert dim.version() == dim_version + 1 and dim.committed_txns() == dim_txns | {txn}

        current = dim.read_current(spark)
        assert _rows(summary.read(spark)) == _rows(group_summary(current))
        assert _hist_rows(unpack_histogram(hist.read(spark))) == _hist_rows(
            unpack_histogram(group_histogram(current))
        )
        assert sorted(map(str, dim.read(spark).collect())) == sorted(
            map(str, clean_dim.read(spark).collect())
        )
        assert sorted(map(str, sketch.read(spark).collect())) == sorted(
            map(str, clean_sketch.read(spark).collect())
        )


def test_hint_broadcast_off_is_plan_only_not_semantics(spark, change_df):
    """hint_broadcast=False (the bulk-wave mode the r12 sf10 rehearsal
    forced — a forced broadcast of a dimension-sized batch OOMs the
    driver) must change ONLY the join strategy, never the maintained
    values: summary and extrema runs with the hint off are row-equal
    to runs with it on, through inserts, group moves, and deletes."""
    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        group_extrema,
        maintain_group_extrema,
    )

    batch1 = change_df(
        [
            make_change(1, "INSERT", ts(1), quantity=2, unit_price="10.00"),
            make_change(2, "INSERT", ts(1), quantity=1, unit_price="50.00"),
            make_change(3, "INSERT", ts(1), quantity=1, unit_price="7.00", customer_id=101),
        ]
    )
    batch2 = change_df(
        [
            make_change(1, "UPDATE", ts(5), quantity=3, unit_price="10.00", customer_id=101),
            make_change(2, "DELETE", ts(5)),
        ]
    )
    dim0 = empty_dim(spark)
    dim1 = scd2_merge(dim0, batch1, "b1").localCheckpoint(eager=True)

    for hint in (True, False):
        s = maintain_group_summary(
            empty_summary(spark), dim0.filter(F.col("is_current")), batch1,
            hint_broadcast=hint,
        ).localCheckpoint(eager=True)
        s = maintain_group_summary(
            s, dim1.filter(F.col("is_current")), batch2, hint_broadcast=hint
        )
        e = maintain_group_extrema(
            group_extrema(dim0.filter(F.col("is_current"))),
            dim0.filter(F.col("is_current")),
            batch1,
            hint_broadcast=hint,
        ).localCheckpoint(eager=True)
        e = maintain_group_extrema(
            e, dim1.filter(F.col("is_current")), batch2, hint_broadcast=hint
        )
        if hint:
            want_s, want_e = _rows(s), sorted(map(tuple, e.collect()))
        else:
            assert _rows(s) == want_s
            assert sorted(map(tuple, e.collect())) == want_e


def _nullable_changes(spark, rows):
    """Change rows at CHANGE_SCHEMA's types with every field nullable, so
    a test can feed the NULLs a batch file can carry."""
    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA

    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields])
    return spark.createDataFrame(rows, schema)


def test_null_timestamp_change_is_not_late_in_every_maintainer(spark):
    """A matched change with a NULL cdc_timestamp is applied by the merge
    (its late test is NULL, not true), so every maintainer must remove
    the old row too: summary, histogram and extrema each equal their
    recompute over scd2_merge's current slice."""
    from decimal import Decimal

    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        group_extrema,
        maintain_group_extrema,
    )

    b1 = _nullable_changes(
        spark,
        [
            make_change(1, "INSERT", ts(1), quantity=5),
            make_change(2, "INSERT", ts(1), quantity=4),
            make_change(3, "INSERT", ts(1), quantity=7, customer_id=101),
        ],
    )
    b2 = _nullable_changes(
        spark,
        [
            {**make_change(1, "UPDATE", ts(5), quantity=1), "cdc_timestamp": None},
            {**make_change(3, "DELETE", ts(5), customer_id=101), "cdc_timestamp": None},
        ],
    )
    dim1 = scd2_merge(empty_dim(spark), b1, "b1").localCheckpoint(eager=True)
    cur1 = dim1.filter(F.col("is_current"))
    cur2 = scd2_merge(dim1, b2, "b2").filter(F.col("is_current")).localCheckpoint(eager=True)

    summary = maintain_group_summary(group_summary(cur1), cur1, b2)
    assert _rows(summary) == _rows(group_summary(cur2)) == [(100, 2, Decimal("50.00"))]
    hist = maintain_group_histogram(
        group_histogram(cur1, lo=_HLO, hi=_HHI, nb=_HNB), cur1, b2, lo=_HLO, hi=_HHI, nb=_HNB
    )
    assert _hist_rows(unpack_histogram(hist)) == _hist_rows(
        unpack_histogram(group_histogram(cur2, lo=_HLO, hi=_HHI, nb=_HNB))
    )
    ext = maintain_group_extrema(group_extrema(cur1), cur1, b2)
    assert _ext_rows(ext) == _ext_rows(group_extrema(cur2))


def test_loader_delta_stores_probe_once_and_fold_exactly(tmp_path, spark, monkeypatch):
    """One loader batch with summary and histogram stores reads the
    pre-batch current slice once for both. Rows with a NULL amount, a
    NULL customer, a negative amount and one above the histogram's
    ``hi`` all land in a clamped bucket, so after every batch the
    summary equals the histogram summed by customer and a recompute."""
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.change_batches import write_change_batch
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

    batches = [
        [
            make_change(1, "INSERT", ts(1), quantity=2),
            make_change(2, "INSERT", ts(1), customer_id=None),
            make_change(3, "INSERT", ts(1), unit_price="-5.00", customer_id=101),
            make_change(4, "INSERT", ts(1), unit_price="7000000.00", customer_id=101),
            {**make_change(5, "INSERT", ts(1), customer_id=102), "total_amount": None},
        ],
        [
            make_change(1, "UPDATE", ts(5), quantity=3, customer_id=None),
            make_change(5, "UPDATE", ts(5), quantity=3, customer_id=102),
            make_change(3, "DELETE", ts(5), customer_id=101),
            make_change(6, "INSERT", ts(5), unit_price="9999999.99"),
            {**make_change(2, "UPDATE", ts(5), customer_id=None), "total_amount": None},
        ],
        [
            make_change(4, "UPDATE", ts(9), unit_price="-1.00", customer_id=101),
            make_change(7, "INSERT", ts(9), unit_price="0.01", customer_id=None),
        ],
    ]
    dim = SCD2DimStore(tmp_path / "dim")
    summary = VersionedTable(tmp_path / "summary")
    hist = VersionedTable(tmp_path / "hist")
    loader = SCD2Loader(spark, dim, tmp_path / "cdc", summary_store=summary, histogram_store=hist)

    reads = []
    read_current = SCD2DimStore.read_current
    monkeypatch.setattr(
        SCD2DimStore, "read_current", lambda self, s: reads.append(1) or read_current(self, s)
    )

    def rows(df):
        return {(r["customer_id"], r["n_orders"], r["measure_sum"]) for r in df.collect()}

    for i, batch in enumerate(batches):
        write_change_batch(_nullable_changes(spark, batch), tmp_path / "cdc", extracted_at=ts(10 * i + 10))
        reads.clear()
        assert loader.load_pending()["processed"] == 1
        assert len(reads) == 1, i
        maintained = rows(summary.read(spark))
        folded = rows(
            unpack_histogram(hist.read(spark))
            .groupBy("customer_id")
            .agg(F.sum("n_orders").alias("n_orders"), F.sum("measure_sum").alias("measure_sum"))
        )
        assert maintained == folded == rows(group_summary(read_current(dim, spark))), i
    assert {r["customer_id"] for r in summary.read(spark).collect()} == {None, 100, 101, 102}

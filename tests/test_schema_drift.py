"""Schema-drift alignment (operators/schema_drift.py) and the
drift-aware batch reader (sources/change_batches.py).

The reference breaks on any operational-schema change; the engine's
contract is: keep loading, report the drift. Pinned here: the
widening/narrowing policy matrix, the report contents, and that a
drifted reference-format batch still flows through the SCD2 merge.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_historical_warehouse_platform_spark.operators.schema_drift import (
    SchemaDriftError,
    align_to_schema,
)
from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA
from cdc_historical_warehouse_platform_spark.sources.change_batches import (
    read_change_batch_with_drift,
)


def test_missing_and_extra_columns(spark):
    df = spark.createDataFrame([(1, "x", "surprise")], ["id", "name", "new_col"])
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("gone_col", T.DoubleType()),
        ]
    )
    aligned, report = align_to_schema(df, target)
    assert aligned.columns == ["id", "name", "gone_col"]
    assert "Exchange" not in aligned._jdf.queryExecution().executedPlan().toString()
    assert report["missing"] == ["gone_col"]
    assert report["extra"] == ["new_col"]
    assert report["widened"] == []  # src == dst is handled before widening
    row = aligned.collect()[0]
    assert row["gone_col"] is None and row["name"] == "x"


def test_widening_matrix(spark):
    df = spark.createDataFrame(
        [(1, 2.0, 3)],
        T.StructType(
            [
                T.StructField("a", T.IntegerType()),
                T.StructField("b", T.FloatType()),
                T.StructField("c", T.IntegerType()),
            ]
        ),
    )
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.DecimalType(12, 2)),
        ]
    )
    aligned, report = align_to_schema(df, target)
    assert {w[0] for w in report["widened"]} == {"a", "b", "c"}
    assert not report["narrowed"]
    assert [f.dataType for f in aligned.schema.fields] == [
        T.LongType(),
        T.DoubleType(),
        T.DecimalType(12, 2),
    ]


def test_narrowing_rejected_then_try_cast(spark):
    df = spark.createDataFrame(
        [(2**40,), (7,)],
        T.StructType([T.StructField("v", T.LongType())]),
    )
    target = T.StructType([T.StructField("v", T.IntegerType())])
    with pytest.raises(SchemaDriftError):
        align_to_schema(df, target)
    aligned, report = align_to_schema(df, target, allow_narrowing=True)
    assert report["narrowed"] == [("v", "bigint", "int")]
    vals = {r["v"] for r in aligned.collect()}
    assert vals == {None, 7}  # 2**40 unrepresentable -> NULL, not a crash
    # the try_cast is one projection: aligning costs no pass of its own
    assert "Exchange" not in aligned._jdf.queryExecution().executedPlan().toString()


def test_decimal_policy(spark):
    df = spark.createDataFrame(
        [(None,)], T.StructType([T.StructField("d", T.DecimalType(10, 2))])
    )
    ok, rep = align_to_schema(
        df, T.StructType([T.StructField("d", T.DecimalType(12, 4))])
    )
    assert rep["widened"] == [("d", "decimal(10,2)", "decimal(12,4)")]
    with pytest.raises(SchemaDriftError):
        align_to_schema(df, T.StructType([T.StructField("d", T.DecimalType(10, 1))]))


def test_drifted_reference_batch_loads_and_reports(spark, tmp_path):
    # a producer upgraded: added `channel`, stopped sending `product_id`
    row = {
        "id": 1,
        "customer_id": 77,
        "quantity": 2,
        "unit_price": "39.99",
        "total_amount": "79.98",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
        "channel": "mobile",  # drift: new upstream column
        # drift: product_id missing
    }
    p = tmp_path / "changes_20240102_030500_000.json"
    p.write_text(json.dumps({"batch_metadata": {}, "changes": [row]}, indent=2))
    changes, report = read_change_batch_with_drift(spark, p)
    assert "channel" in report["extra"]
    assert "product_id" in report["missing"]
    assert not report["narrowed"]  # stringified payload is not drift
    # casts are nullable, so compare names+types (read_change_batch
    # yields the same nullability relaxation)
    assert [(f.name, f.dataType) for f in changes.schema.fields] == [
        (f.name, f.dataType) for f in CHANGE_SCHEMA.fields
    ]
    # the aligned batch flows through the flagship merge
    from cdc_historical_warehouse_platform_spark.operators.scd2 import empty_dim, scd2_merge

    dim = scd2_merge(empty_dim(spark), changes, "b1")
    out = dim.filter(F.col("is_current")).collect()
    assert len(out) == 1 and out[0]["product_id"] is None
    assert float(out[0]["unit_price"]) == 39.99


def test_empty_envelope_reports_no_drift(spark, tmp_path):
    p = tmp_path / "changes_20240102_030500_001.json"
    p.write_text(json.dumps({"batch_metadata": {}, "changes": []}, indent=2))
    changes, report = read_change_batch_with_drift(spark, p)
    assert changes.count() == 0
    assert report == {"missing": [], "extra": [], "widened": [], "narrowed": []}


def test_loader_drift_report_mode(spark, tmp_path):
    """SCD2Loader(drift_policy="report") loads a drifted batch AND
    surfaces the drift in the run result; the silent default stays
    report-free."""
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    row = {
        "id": 5,
        "customer_id": 1,
        "product_id": 2,
        "quantity": 1,
        "unit_price": "10.00",
        "total_amount": "10.00",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
        "loyalty_tier": "gold",  # drift
    }
    (cdc_dir / "changes_20240102_030500_000.json").write_text(
        json.dumps({"batch_metadata": {}, "changes": [row]}, indent=2)
    )
    dim = SCD2DimStore(tmp_path / "dim")
    loader = SCD2Loader(spark, dim, cdc_dir, drift_policy="report")
    result = loader.load_pending()
    assert result["processed"] == 1
    assert len(result["drift"]) == 1
    assert result["drift"][0]["batch"] == "changes_20240102_030500_000.json"
    assert "loyalty_tier" in result["drift"][0]["extra"]
    assert dim.read_current(spark).count() == 1
    # silent default: same load, no drift key
    with pytest.raises(ValueError):
        SCD2Loader(spark, dim, cdc_dir, drift_policy="bogus")


def test_empty_jsonl_batch_reports_no_drift(spark, tmp_path):
    """An empty jsonl batch carries no schema evidence — it must not
    misreport every contract column as producer-dropped."""
    import datetime as dt

    from cdc_historical_warehouse_platform_spark.sources.change_batches import (
        write_change_batch,
    )

    p = write_change_batch(
        spark.createDataFrame([], CHANGE_SCHEMA),
        tmp_path,
        extracted_at=dt.datetime(2024, 1, 2, 3, 5),
        fmt="jsonl",
    )
    changes, report = read_change_batch_with_drift(spark, p)
    assert changes.count() == 0
    assert report == {"missing": [], "extra": [], "widened": [], "narrowed": []}


def test_string_retype_is_reported_not_swallowed(spark, tmp_path):
    """A producer retyping an integral column to string (or shipping
    corrupt values) must surface in the drift report — the silent path
    turns this into a FAILFAST error, so report mode's tolerate-and-
    load must at least carry the signal."""
    row = {
        "id": 1,
        "customer_id": 77,
        "product_id": 2,
        "quantity": "two",  # retype/corruption
        "unit_price": "39.99",
        "total_amount": "79.98",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
    }
    p = tmp_path / "changes_20240102_030500_002.json"
    p.write_text(json.dumps({"batch_metadata": {}, "changes": [row]}, indent=2))
    changes, report = read_change_batch_with_drift(spark, p)
    assert ("quantity", "string", "int") in report["narrowed"]
    # stringified decimal/timestamp payload stays unreported
    assert not any(c in ("unit_price", "cdc_timestamp") for c, _, _ in report["narrowed"])
    assert changes.collect()[0]["quantity"] is None  # try_cast, not a crash


def test_alignment_properties(spark):
    """Property sweep over the widening lattice: for every (src, dst)
    type pair, align_to_schema either (a) passes src==dst through,
    (b) widens losslessly and reports it, or (c) raises under strict
    and try_casts under allow_narrowing — and the aligned schema
    always equals the target's names+types."""
    from hypothesis import given, settings, strategies as st

    types = [
        T.ByteType(),
        T.ShortType(),
        T.IntegerType(),
        T.LongType(),
        T.FloatType(),
        T.DoubleType(),
        T.DecimalType(10, 2),
        T.DecimalType(18, 4),
        T.StringType(),
        T.DateType(),
        T.TimestampType(),
        T.BooleanType(),
    ]

    @settings(max_examples=60, deadline=None)
    @given(src=st.sampled_from(types), dst=st.sampled_from(types))
    def check(src, dst):
        df = spark.createDataFrame([], T.StructType([T.StructField("c", src)]))
        target = T.StructType([T.StructField("c", dst)])
        try:
            aligned, report = align_to_schema(df, target)
        except SchemaDriftError:
            # strict rejection must be the lossy class; the tolerant
            # mode either try_casts (reporting it) or raises again for
            # pairs Spark cannot cast at all (e.g. byte -> date)
            try:
                aligned, report = align_to_schema(df, target, allow_narrowing=True)
            except SchemaDriftError:
                return
            assert report["narrowed"] == [
                ("c", src.simpleString(), dst.simpleString())
            ]
        else:
            if src == dst:
                assert report == {
                    "missing": [], "extra": [], "widened": [], "narrowed": []
                }
            else:
                assert report["widened"] == [
                    ("c", src.simpleString(), dst.simpleString())
                ]
        assert [(f.name, f.dataType) for f in aligned.schema.fields] == [
            ("c", dst)
        ]

    check()


def test_empty_batch_marked_processed_once(spark, tmp_path):
    """r5 fix: an empty batch is ledger-marked so later runs skip it by
    name instead of re-reading (and, in report mode, re-inferring) it
    forever."""
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    (cdc_dir / "changes_20240102_030500_009.json").write_text(
        json.dumps({"batch_metadata": {}, "changes": []}, indent=2)
    )
    loader = SCD2Loader(
        spark, SCD2DimStore(tmp_path / "dim"), cdc_dir, drift_policy="report"
    )
    r1 = loader.load_pending()
    assert r1["processed"] == 1 and r1["drift"] == []
    r2 = loader.load_pending()
    assert r2["processed"] == 0 and r2["skipped"] == 1


def test_direct_replay_does_not_rereport_drift(spark, tmp_path):
    """r6 fix (ADVICE): process_batch_file called directly on an
    already-processed batch must not append a duplicate drift event —
    the drift record belongs to the apply, not the read."""
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    row = {
        "id": 9,
        "customer_id": 1,
        "product_id": 2,
        "quantity": 1,
        "unit_price": "10.00",
        "total_amount": "10.00",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
        "loyalty_tier": "gold",  # drift
    }
    p = cdc_dir / "changes_20240102_030500_000.json"
    p.write_text(json.dumps({"batch_metadata": {}, "changes": [row]}, indent=2))
    loader = SCD2Loader(
        spark, SCD2DimStore(tmp_path / "dim"), cdc_dir, drift_policy="report"
    )
    assert loader.process_batch_file(p) is True
    assert len(loader.drift_events) == 1
    assert loader.process_batch_file(p) is False  # ledger replay skip
    assert len(loader.drift_events) == 1  # not re-reported


def test_rewritten_empty_batch_is_picked_up(spark, tmp_path):
    """r6 fix (ADVICE): the empty-batch ledger mark is keyed to file
    size, so a producer that rewrites a once-empty file under the same
    name gets its rows loaded on the next run instead of silently
    skipped forever."""
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    p = cdc_dir / "changes_20240102_030500_000.json"
    p.write_text(json.dumps({"batch_metadata": {}, "changes": []}, indent=2))
    dim = SCD2DimStore(tmp_path / "dim")
    loader = SCD2Loader(spark, dim, cdc_dir)
    r1 = loader.load_pending()
    assert r1["processed"] == 1
    r2 = loader.load_pending()
    assert r2["processed"] == 0 and r2["skipped"] == 1  # empty mark holds
    row = {
        "id": 11,
        "customer_id": 1,
        "product_id": 2,
        "quantity": 1,
        "unit_price": "10.00",
        "total_amount": "10.00",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
    }
    p.write_text(json.dumps({"batch_metadata": {}, "changes": [row]}, indent=2))
    r3 = loader.load_pending()
    assert r3["processed"] == 1
    assert dim.read_current(spark).count() == 1


def test_quarantine_routes_bad_rows(spark, tmp_path):
    """r6: row-level bad-record routing — uncastable or invalid rows
    land in the quarantine sink with their ORIGINAL wire strings and a
    reason list; good rows still load; replays do not duplicate the
    quarantine; counts surface in the run result."""
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    good = {
        "id": 1,
        "customer_id": 1,
        "product_id": 2,
        "quantity": 1,
        "unit_price": "10.00",
        "total_amount": "10.00",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
    }
    bad_qty = dict(good, id=2, quantity="plenty")        # uncastable:quantity
    bad_op = dict(good, id=3, operation_type="UPSERT")   # bad:operation_type
    bad_ts = dict(good, id=4, cdc_timestamp="not-a-ts")  # uncastable:cdc_timestamp
    no_id = {k: v for k, v in good.items() if k != "id"}  # missing:id
    p = cdc_dir / "changes_20240102_030500_000.json"
    p.write_text(
        json.dumps(
            {"batch_metadata": {}, "changes": [good, bad_qty, bad_op, bad_ts, no_id]},
            indent=2,
        )
    )
    qdir = tmp_path / "quarantine"
    dim = SCD2DimStore(tmp_path / "dim")
    loader = SCD2Loader(spark, dim, cdc_dir, quarantine_dir=qdir)
    r1 = loader.load_pending()
    assert r1["processed"] == 1 and r1["quarantined"] == 4
    assert dim.read_current(spark).count() == 1  # only the good row
    q = spark.read.parquet(str(qdir))
    rows = {r["id"]: r for r in q.collect()}
    assert rows["2"]["quarantine_reason"] == "uncastable:quantity"
    assert rows["2"]["quantity"] == "plenty"  # original wire value kept
    assert rows["3"]["quarantine_reason"] == "bad:operation_type"
    assert rows["4"]["quarantine_reason"] == "uncastable:cdc_timestamp"
    assert rows[None]["quarantine_reason"].startswith("missing:id")
    assert all(r["batch_file"] == p.name for r in rows.values())
    # replay: no new quarantine rows, no reprocessing
    r2 = loader.load_pending()
    assert r2["processed"] == 0 and r2["quarantined"] == 0
    assert spark.read.parquet(str(qdir)).count() == 4
    # drift-report mode is incompatible by contract
    with pytest.raises(ValueError):
        SCD2Loader(spark, dim, cdc_dir, quarantine_dir=qdir, drift_policy="report")


def test_fully_quarantined_batch_still_reaches_sink(spark, tmp_path):
    """r6 review fix: a batch whose EVERY row quarantines has no
    loadable rows, but its bad rows must still land in the sink exactly
    once, and a rewrite of the file (new mtime) must be re-examined."""
    import time as _time

    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    row = {
        "id": 1,
        "customer_id": 1,
        "product_id": 2,
        "quantity": "junk",  # uncastable → whole batch quarantines
        "unit_price": "10.00",
        "total_amount": "10.00",
        "order_status": "pending",
        "order_date": "2024-01-02T03:04:05",
        "operation_type": "INSERT",
        "cdc_timestamp": "2024-01-02T03:04:05.123456",
        "extracted_at": "2024-01-02T03:05:00",
    }
    p = cdc_dir / "changes_20240102_030500_000.json"
    p.write_text(json.dumps({"batch_metadata": {}, "changes": [row]}, indent=2))
    qdir = tmp_path / "quarantine"
    dim = SCD2DimStore(tmp_path / "dim")
    loader = SCD2Loader(spark, dim, cdc_dir, quarantine_dir=qdir)
    r1 = loader.load_pending()
    assert r1["processed"] == 1 and r1["quarantined"] == 1
    assert spark.read.parquet(str(qdir)).count() == 1
    # replay: no duplicate quarantine rows
    r2 = loader.load_pending()
    assert r2["quarantined"] == 0 and r2["skipped"] == 1
    assert spark.read.parquet(str(qdir)).count() == 1
    # rewrite with a FIXED row (new mtime invalidates the empty mark)
    _time.sleep(0.01)
    p.write_text(
        json.dumps({"batch_metadata": {}, "changes": [dict(row, quantity=2)]}, indent=2)
    )
    r3 = loader.load_pending()
    assert r3["processed"] == 1 and r3["quarantined"] == 0
    assert dim.read_current(spark).count() == 1

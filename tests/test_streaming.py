"""Streaming layer: file-stream CDC → foreachBatch SCD2, windowed aggs."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.sources.change_batches import write_change_batch
from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
from cdc_historical_warehouse_platform_spark.streaming.pipeline import (
    start_scd2_stream,
    windowed_event_counts,
)
from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA
from tests.conftest import SF_DIR, make_change
from tests.test_scd2 import assert_invariants

T0 = dt.datetime(2026, 5, 1, 8, 0, 0)


def ts(m):
    return T0 + dt.timedelta(minutes=m)


def test_scd2_stream_available_now(tmp_path, spark):
    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    dim = SCD2DimStore(tmp_path / "dim")

    # batch 1 arrives; drain the stream (availableNow = one-shot)
    b1 = [make_change(i, "INSERT", ts(i)) for i in range(1, 4)]
    write_change_batch(
        spark.createDataFrame(b1, CHANGE_SCHEMA), cdc_dir, extracted_at=ts(4), fmt="jsonl"
    )
    q = start_scd2_stream(spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True)
    q.awaitTermination(120)

    # batch 2 arrives later; same checkpoint -> only the new files are
    # processed in the next epoch (incremental exactly-once)
    b2 = [
        make_change(1, "UPDATE", ts(10), quantity=7),
        make_change(2, "DELETE", ts(11)),
    ]
    write_change_batch(
        spark.createDataFrame(b2, CHANGE_SCHEMA), cdc_dir, extracted_at=ts(12), fmt="jsonl"
    )
    q2 = start_scd2_stream(spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True)
    q2.awaitTermination(120)

    rows = dim.read(spark).collect()
    assert_invariants(rows)
    by_key = {}
    for r in rows:
        by_key.setdefault(r["order_key"], []).append(r)
    cur1 = [r for r in by_key[1] if r["is_current"]]
    assert len(cur1) == 1 and cur1[0]["quantity"] == 7
    assert len(by_key[1]) == 2  # expired v1 + current v2
    assert all(not r["is_current"] for r in by_key[2])  # deleted
    assert any(r["is_current"] for r in by_key[3])

    # restart with same checkpoint: nothing new -> dim unchanged
    v = dim.version()
    q3 = start_scd2_stream(spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True)
    q3.awaitTermination(120)
    assert dim.version() == v


def test_scd2_stream_maintains_summary(tmp_path, spark):
    """Streaming IVM: with a summary_store the foreachBatch path keeps
    the revenue-per-customer rollup bit-equal to a from-scratch
    recompute over the dimension's current slice after every drain, and
    a no-new-data restart advances neither store."""
    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import group_summary
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    dim = SCD2DimStore(tmp_path / "dim")
    summary = VersionedTable(tmp_path / "summary")

    def check():
        maintained = {
            (r["customer_id"], r["n_orders"], r["measure_sum"])
            for r in summary.read(spark).collect()
        }
        recomputed = {
            (r["customer_id"], r["n_orders"], r["measure_sum"])
            for r in group_summary(dim.read_current(spark)).collect()
        }
        assert maintained == recomputed and maintained

    b1 = [
        make_change(i, "INSERT", ts(i), quantity=i, customer_id=100 + (i % 2))
        for i in range(1, 5)
    ]
    write_change_batch(
        spark.createDataFrame(b1, CHANGE_SCHEMA), cdc_dir, extracted_at=ts(5), fmt="jsonl"
    )
    q = start_scd2_stream(
        spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True, summary_store=summary
    )
    q.awaitTermination(120)
    check()

    # update (group move), delete, and a fresh insert in the next epoch
    b2 = [
        make_change(1, "UPDATE", ts(10), quantity=9, customer_id=101),
        make_change(2, "DELETE", ts(11)),
        make_change(7, "INSERT", ts(12), quantity=3, customer_id=102),
    ]
    write_change_batch(
        spark.createDataFrame(b2, CHANGE_SCHEMA), cdc_dir, extracted_at=ts(13), fmt="jsonl"
    )
    q2 = start_scd2_stream(
        spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True, summary_store=summary
    )
    q2.awaitTermination(120)
    check()

    # no-new-data restart: neither store's version advances
    dv, sv = dim.version(), summary.version()
    q3 = start_scd2_stream(
        spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True, summary_store=summary
    )
    q3.awaitTermination(120)
    assert dim.version() == dv and summary.version() == sv
    check()


def test_stream_compacts_history_after_each_applied_epoch(tmp_path, spark, monkeypatch):
    """Like the loader after a run, the stream calls compact_history
    after every epoch that applied a batch, and not after an epoch whose
    input was empty."""
    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    dim = SCD2DimStore(tmp_path / "dim")
    calls = []
    compact = SCD2DimStore.compact_history
    monkeypatch.setattr(
        SCD2DimStore,
        "compact_history",
        lambda self, s, *a, **k: calls.append(self.version()) or compact(self, s, *a, **k),
    )

    def drain(rows, extracted_at):
        write_change_batch(
            spark.createDataFrame(rows, CHANGE_SCHEMA), cdc_dir, extracted_at=extracted_at, fmt="jsonl"
        )
        q = start_scd2_stream(spark, cdc_dir, dim, tmp_path / "ckpt", available_now=True)
        q.awaitTermination(120)
        return len([f for f in (tmp_path / "ckpt" / "commits").iterdir() if f.name.isdigit()])

    assert drain([make_change(i, "INSERT", ts(i)) for i in range(1, 4)], ts(4)) == 1
    assert calls == [0]
    assert drain([], ts(5)) == 2  # the empty epoch ran, applied nothing
    assert calls == [0]
    assert drain([make_change(1, "UPDATE", ts(10), quantity=7)], ts(11)) == 3
    assert calls == [0, 1]


def test_windowed_event_counts_streaming_matches_batch(tmp_path, spark):
    """Run the ST8 tumbling-window agg as a real stream over the events
    parquet and compare to the batch run of the same function."""
    from cdc_historical_warehouse_platform_spark.schemas import load_table

    events = load_table(spark, SF_DIR, "events")
    batch_out = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_event_counts(events).collect()
    }

    # materialize events as a file-stream source (µs timestamps)
    src_dir = tmp_path / "events_src"
    events.write.parquet(str(src_dir))
    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    out_rows = []

    def _sink(df, epoch):
        out_rows.extend(df.collect())

    q = (
        windowed_event_counts(stream)
        .writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in out_rows
    }
    assert stream_out == batch_out


def test_watermark_drops_late_events(tmp_path, spark):
    """ST3: an event arriving in a later trigger, older than the
    watermark, must NOT reopen its (already finalized) window in
    append mode."""
    import pandas as pd
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import windowed_event_counts

    src = tmp_path / "ev"
    src.mkdir()
    ckpt = tmp_path / "ckpt_late"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    rows1 = [(1, dt.datetime(2026, 5, 1, 8, 5), 1, "click", 1.0, "{}"),
             (2, dt.datetime(2026, 5, 1, 10, 30), 1, "click", 1.0, "{}")]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(str(src))

    finalized: list = []

    def _run():
        stream = spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        ).parquet(str(src))
        q = (
            windowed_event_counts(stream, window="1 hour", watermark="10 minutes")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, e: finalized.extend(df.collect()))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    # watermark advanced to 10:20 -> the 08:00 window finalized with n=1
    first = {(r["window_start"], r["n"]) for r in finalized}
    assert (dt.datetime(2026, 5, 1, 8, 0), 1) in first

    # a very late event for the finalized 08:00 window arrives
    rows2 = [(3, dt.datetime(2026, 5, 1, 8, 50), 1, "click", 1.0, "{}")]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(str(src))
    before = len(finalized)
    _run()
    emitted = finalized[before:]
    # the late event must not re-emit the 08:00 window
    assert all(r["window_start"] != dt.datetime(2026, 5, 1, 8, 0) for r in emitted)


def test_streaming_interval_join_matches_batch(tmp_path, spark):
    """Stream-stream interval join (ST family beyond the reference):
    errors x purchases within +/-5 minutes, run as two real file
    streams, must produce exactly the pairs the batch rangejoin
    operator produces over the same data."""
    from cdc_historical_warehouse_platform_spark.operators.rangejoin import interval_join
    from cdc_historical_warehouse_platform_spark.schemas import load_table
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import streaming_interval_join

    events = load_table(spark, SF_DIR, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    want = sorted(
        (r["err_id"], r["purchase_id"])
        for r in interval_join(
            errors, purchases, "err_ts", "purchase_ts", -300, 300
        ).collect()
    )
    assert want, "fixture should contain interval matches"

    lsrc, rsrc = tmp_path / "errs", tmp_path / "purch"
    errors.write.parquet(str(lsrc))
    purchases.write.parquet(str(rsrc))
    lstream = spark.readStream.schema(errors.schema).parquet(str(lsrc))
    rstream = spark.readStream.schema(purchases.schema).parquet(str(rsrc))
    joined = streaming_interval_join(
        lstream, rstream, "err_ts", "purchase_ts", -300, 300
    )
    out_rows = []

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, epoch: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream-stream join did not finish in 180s"
    got = sorted((r["err_id"], r["purchase_id"]) for r in out_rows)
    assert got == want


def test_sessionized_event_counts_streaming_matches_batch(tmp_path, spark):
    """Native session_window as a real stream over the events parquet
    equals the batch run of the same function (complete output after an
    availableNow drain)."""
    from cdc_historical_warehouse_platform_spark.schemas import load_table
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import sessionized_event_counts

    events = load_table(spark, SF_DIR, "events")
    batch_out = {
        (r["session_start"], r["user_id"]): (r["n_events"], r["total_value"])
        for r in sessionized_event_counts(events).collect()
    }
    assert batch_out

    src_dir = tmp_path / "events_src"
    events.write.parquet(str(src_dir))
    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    out_rows = []

    def _sink(df, epoch):
        out_rows.extend(df.collect())

    # session windows reject update mode (sessions merge as events
    # arrive); complete mode re-emits the full merged state each
    # trigger, so the LAST epoch's rows are the finalized sessions
    epochs: list[list] = []

    def _sink_epochs(df, epoch):
        epochs.append(df.collect())

    q = (
        sessionized_event_counts(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(_sink_epochs)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_out = {
        (r["session_start"], r["user_id"]): (r["n_events"], r["total_value"])
        for r in epochs[-1]
    }
    assert stream_out == batch_out

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


def test_streaming_exact_dedup_across_restarts(spark, tmp_path):
    """Content-identical re-deliveries are dropped, including across a
    stream restart (state recovered from the checkpoint)."""
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import streaming_exact_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        q = (
            streaming_exact_dedup(stream, text_col="text")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "hello world"), (2, "something else"), (3, "third doc")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    # second delivery: doc 4 is a normalized dup of doc 1, doc 5 is new
    spark.createDataFrame(
        [(4, "Hello,   WORLD!"), (5, "genuinely new")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 5]


def test_streaming_exact_dedup_watermarked_variant(spark, tmp_path):
    """The watermark-bounded variant drops a re-delivery arriving
    within the delay window."""
    import datetime as dt

    from cdc_historical_warehouse_platform_spark.streaming.pipeline import streaming_exact_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            (1, "hello world", t0),
            (2, "Hello,   WORLD!", t0 + dt.timedelta(minutes=1)),
            (3, "other", t0 + dt.timedelta(minutes=2)),
        ],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        str(src)
    )
    q = (
        streaming_exact_dedup(stream, text_col="text", event_time_col="ts", delay="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_wm").collect())
    assert got == [1, 3]


def test_streaming_corpus_keep_filters_then_dedups(spark, tmp_path):
    """Quality gate runs before the stateful dedup (low-quality docs
    never enter state); dups of KEPT docs are dropped; a dup of a
    FILTERED doc is judged on its own quality."""
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import streaming_corpus_keep
    from cdc_historical_warehouse_platform_spark.operators.text import quality_score
    from pyspark.sql import functions as F

    good = (
        "the quick brown fox jumps over the lazy dog and runs on "
        "with a long enough sentence for the quality gate to pass"
    )
    junk = "!!! ??? !!!"
    rows = [(1, good), (2, junk), (3, good)]  # 3 dups 1 post-normalization
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    qvals = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()
    }
    assert qvals[1] >= 0.68 and qvals[2] < 0.68  # fixture sanity

    src = tmp_path / "docs_in"
    src.mkdir()
    df.coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_corpus_keep(stream, text_col="text", quality_threshold=0.68)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == [1]  # junk filtered, duplicate dropped


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


def test_streaming_enrich_stream_static_join(tmp_path, spark):
    """Stream-static lookup join: a change stream enriched with current
    dim attributes per micro-batch; the static side is re-read fresh
    between triggers, so attribute updates between drains are visible
    to later batches. Batch twin compared for the first drain."""
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import streaming_enrich

    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    b1 = [make_change(i, "INSERT", ts(i), customer_id=100 + i) for i in range(1, 4)]
    write_change_batch(
        spark.createDataFrame(b1, CHANGE_SCHEMA), cdc_dir, extracted_at=ts(4), fmt="jsonl"
    )
    dim_path = tmp_path / "cust"
    spark.createDataFrame(
        [(101, "GOLD"), (102, "SILVER")], "customer_id int, tier string"
    ).write.parquet(str(dim_path))
    cust = spark.read.parquet(str(dim_path))

    from cdc_historical_warehouse_platform_spark.streaming.pipeline import read_change_stream

    stream = read_change_stream(spark, cdc_dir)
    enriched = streaming_enrich(
        stream.select("id", "customer_id", "operation_type"), cust, on="customer_id"
    )
    sink = tmp_path / "out"
    q = (
        enriched.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["id"], r["tier"]) for r in spark.read.parquet(str(sink)).collect()
    }
    # left join: unmatched customer (103) survives with NULL tier
    assert got == {(1, "GOLD"), (2, "SILVER"), (3, None)}

    # batch twin over the same inputs agrees
    from cdc_historical_warehouse_platform_spark.sources.change_batches import read_change_batch

    batches = sorted(cdc_dir.glob("changes_*"))
    batch = read_change_batch(spark, batches[0])
    want = {
        (r["id"], r["tier"])
        for r in batch.select("id", "customer_id").join(cust, "customer_id", "left").collect()
    }
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_enrich(stream, cust, on="customer_id", how="full_outer")


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


def test_substr_index_stream_matches_batch_and_survives_restart(spark, tmp_path):
    """r8 streaming-native incremental ExactSubstr: documents streamed
    as jsonl files through start_substr_index_stream must leave the
    persisted index in EXACTLY the state the batch path produces over
    the same docs; a second availableNow run over the same dir (plus a
    re-delivered file) is a no-op (admitted-ids anti + txn guards);
    new files in a later run extend the index incrementally."""
    import json as _json

    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        exact_substring_spans,
    )
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import (
        start_substr_index_stream,
    )

    def w(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    shared = w("s", 6)
    late = w("L", 5)
    rows1 = [(1, f"{w('a', 5)} {shared} {w('b', 5)}"), (2, f"{late} {w('c', 8)}")]
    rows2 = [(3, f"{w('d', 3)} {shared} {w('e', 7)}"), (4, w("f", 12))]
    rows3 = [(5, f"{w('g', 4)} {late} {w('h', 6)}")]

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()

    def drop(name, rows):
        (docs_dir / name).write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )

    drop("b1.json", rows1)
    drop("b2.json", rows2)
    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    q = start_substr_index_stream(spark, docs_dir, idx, tmp_path / "ckpt")
    q.awaitTermination(120)

    def spans_set(df):
        return {
            (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
            for r in df.collect()
        }

    all_docs = spark.createDataFrame(rows1 + rows2, "doc_id long, text string")
    assert spans_set(idx.spans(spark)) == spans_set(
        exact_substring_spans(all_docs, k=4)
    )
    state = (
        idx.flagged.read(spark).count(),
        idx.unique.read(spark).count(),
        idx.duphash.read(spark).count(),
    )

    # restart + re-delivery: same files plus a byte-identical copy of
    # b1 under a new name — nothing may double
    drop("b1_redelivered.json", rows1)
    q = start_substr_index_stream(spark, docs_dir, idx, tmp_path / "ckpt")
    q.awaitTermination(120)
    assert (
        idx.flagged.read(spark).count(),
        idx.unique.read(spark).count(),
        idx.duphash.read(spark).count(),
    ) == state

    # a genuinely new file extends the index (the 1->2 frontier via
    # 'late' appearing again), equal to a from-scratch rebuild
    drop("b3.json", rows3)
    q = start_substr_index_stream(spark, docs_dir, idx, tmp_path / "ckpt")
    q.awaitTermination(120)
    all3 = spark.createDataFrame(rows1 + rows2 + rows3, "doc_id long, text string")
    assert spans_set(idx.spans(spark)) == spans_set(
        exact_substring_spans(all3, k=4)
    )


def test_substr_stream_intra_batch_duplicate_files(spark, tmp_path):
    """Review fix (r8): two byte-identical re-delivered files landing
    in ONE micro-batch (fresh checkpoint) must not double-admit their
    docs — the per-batch dedup collapses them before the index sees
    the batch, so spans stay rebuild-exact."""
    import json as _json

    from cdc_historical_warehouse_platform_spark.operators.dedup import (
        exact_substring_spans,
    )
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        ExactSubstrIndex,
    )
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import (
        start_substr_index_stream,
    )

    def w(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    rows = [(1, f"{w('a', 5)} {w('s', 6)}"), (2, f"{w('s', 6)} {w('b', 5)}")]
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    body = "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
    (docs_dir / "b1.json").write_text(body)
    (docs_dir / "b1_redelivered.json").write_text(body)  # same trigger!

    idx = ExactSubstrIndex(tmp_path / "xs", k=4, num_buckets=4)
    q = start_substr_index_stream(spark, docs_dir, idx, tmp_path / "ckpt")
    q.awaitTermination(120)

    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in idx.spans(spark).collect()
    }
    expect = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in exact_substring_spans(all_docs, k=4).collect()
    }
    assert got == expect
    assert idx.docs.read(spark).count() == 2  # admitted once each


def test_corpus_append_stream_matches_batch_and_survives_restart(spark, tmp_path):
    """r9 (verdict task #6): documents streamed as jsonl files through
    start_corpus_append_stream must leave the corpus (shards, fp/LSH
    state, manifest, quota counts) in EXACTLY the state the batch
    corpus_append path produces over the same batches; a restart with
    a re-delivered byte-identical file is a no-op (stream-batch-id
    short-circuit + fp dedup); new files keep extending the corpus."""
    import json as _json
    from pathlib import Path

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import (
        corpus_append,
        corpus_build,
    )
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import (
        start_corpus_append_stream,
    )

    base_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stream_out, batch_out = str(tmp_path / "s"), str(tmp_path / "b")
    corpus_build(spark, "/root/testdata/sf0.001", stream_out)
    corpus_build(spark, "/root/testdata/sf0.001", batch_out)

    def batch_rows(n, shift, stride):
        rows = (
            spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .filter(F.col("doc_id") < n)
            .select(
                (F.col("doc_id") + shift).alias("doc_id"),
                F.array_join(
                    F.flatten(
                        F.array(
                            *[
                                F.filter(
                                    F.split("text", " "),
                                    (lambda r: (lambda _x, i: i % stride == r))(rr),
                                )
                                for rr in range(stride)
                            ]
                        )
                    ),
                    " ",
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        return rows.localCheckpoint(eager=True)

    b1 = batch_rows(50, 500_000, 2)
    b2 = batch_rows(50, 600_000, 3)

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()

    def drop(name, df):
        (docs_dir / name).write_text(
            "\n".join(_json.dumps(r.asDict()) for r in df.collect())
        )

    drop("b1.json", b1)
    drop("b2.json", b2)
    q = start_corpus_append_stream(spark, docs_dir, stream_out, tmp_path / "ckpt")
    q.awaitTermination(180)

    a1 = corpus_append(spark, b1, batch_out)
    a2 = corpus_append(spark, b2, batch_out)
    assert a1["appended"] + a2["appended"] > 0

    def corpus_state(out):
        ids = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
        fp = {
            tuple(r)
            for r in spark.read.parquet(str(Path(out) / "_fp_index")).collect()
        }
        lsh = {
            tuple(r)
            for r in spark.read.parquet(str(Path(out) / "_lsh_index")).collect()
        }
        manifest = _json.loads((Path(out) / "_manifest.json").read_text())
        return ids, fp, lsh, manifest["total_rows"]

    s_state = corpus_state(stream_out)
    b_state = corpus_state(batch_out)
    # streaming may interleave b1/b2 into one or two triggers; either
    # way the final corpus + dedup state must equal the batch twin's
    assert s_state == b_state

    # restart + re-delivery: a byte-identical copy of b1 under a new
    # name re-enters through a NEW trigger; the content-derived batch
    # id / fp state must no-op it
    epoch_before = read_marker(tmp_path / "s")["epoch"]
    drop("b1_redelivered.json", b1)
    q = start_corpus_append_stream(spark, docs_dir, stream_out, tmp_path / "ckpt")
    q.awaitTermination(180)
    assert corpus_state(stream_out) == b_state
    # the short-circuit path is visible in the marker ledger
    marker = read_marker(tmp_path / "s")
    assert marker.get("stream_batch_ids"), "stream ids must ride the marker"
    assert marker["epoch"] >= epoch_before

    # a genuinely new file keeps extending, equal to the batch twin
    b3 = batch_rows(30, 700_000, 2)
    drop("b3.json", b3)
    q = start_corpus_append_stream(spark, docs_dir, stream_out, tmp_path / "ckpt")
    q.awaitTermination(180)
    corpus_append(spark, b3, batch_out)
    assert corpus_state(stream_out) == corpus_state(batch_out)


def test_ann_index_stream_matches_batch_and_survives_restart(spark, tmp_path):
    """r9 continuation: vectors streamed as jsonl files through
    start_ann_index_stream must leave the IVF index in EXACTLY the
    state the batch append path produces over the same batches (same
    ids, same probe top-k); a restart with a re-delivered
    byte-identical file is a no-op (content-derived txn ledger +
    the id anti-join); overlapping deliveries never duplicate ids."""
    import json as _json

    from cdc_historical_warehouse_platform_spark.sources.ann_index import IVFIndex
    from cdc_historical_warehouse_platform_spark.streaming.pipeline import (
        start_ann_index_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    s_dir, b_dir = str(tmp_path / "s_idx"), str(tmp_path / "b_idx")
    IVFIndex.build(emb, s_dir, n_lists=4)
    IVFIndex.build(emb, b_dir, n_lists=4)

    def batch(shift, scale):
        return emb.filter(F.col("vec_id") < 40).select(
            (F.col("vec_id") + shift).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * scale).cast("float")
            ).alias("embedding"),
        )

    b1, b2 = batch(10_000, 0.9), batch(20_000, 1.1)

    vec_dir = tmp_path / "vecs"
    vec_dir.mkdir()

    def drop(name, df):
        (vec_dir / name).write_text(
            "\n".join(
                _json.dumps({"vec_id": r["vec_id"], "embedding": list(r["embedding"])})
                for r in df.collect()
            )
        )

    drop("b1.jsonl", b1)
    q = start_ann_index_stream(
        spark, vec_dir, s_dir, tmp_path / "ckpt", available_now=True
    )
    q.awaitTermination(120)

    s_idx, b_idx = IVFIndex(s_dir), IVFIndex(b_dir)
    _, n1 = b_idx.append(b1, txn_id="batch_b1")
    assert n1 == 40

    def ids(idx):
        meta = idx._read_pointer()
        return sorted(
            r["vec_id"]
            for r in idx.assignments.read(spark, version=meta["assignments_version"])
            .select("vec_id")
            .collect()
        )

    assert ids(s_idx) == ids(b_idx)

    # restart: b1 re-delivered byte-identical (no-op), b2 new, and an
    # OVERLAPPING file carrying half of b1's ids again (id anti-join)
    drop("b1_again.jsonl", b1)
    drop("b2.jsonl", b2)
    drop("overlap.jsonl", b1.filter(F.col("vec_id") < 10_020))
    q = start_ann_index_stream(
        spark, vec_dir, s_dir, tmp_path / "ckpt", available_now=True
    )
    q.awaitTermination(120)
    b_idx.append(b2, txn_id="batch_b2")

    assert ids(s_idx) == ids(b_idx)
    assert len(ids(s_idx)) == len(set(ids(s_idx)))  # no duplicate ids

    # probe equality: same stored state => same top-k for the same queries
    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got_s = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in s_idx.probe(spark, queries, k=5, n_probes=2).collect()
    )
    got_b = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in b_idx.probe(spark, queries, k=5, n_probes=2).collect()
    )
    assert got_s == got_b

"""Streaming CDC ingestion — the thin wrapper SURVEY.md §7 M4 calls for.

The batch merge function is reused verbatim inside ``foreachBatch``:
the file-source checkpoint replaces the watermark file (ST1), the
(epoch-id + content-hash) transaction id replaces the processed-files
ledger (ST4), and the trigger replaces the sleep loop (ST2). Exactly
the reference's semantics with Spark-native state.

Windowed event aggregations (ST8 — absent in the reference but required
by the events fixtures): tumbling and sliding windows with late-data
watermarks (ST3).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_historical_warehouse_platform_spark.pipeline.loader import rollup_calls
from cdc_historical_warehouse_platform_spark.pipeline.state import generate_batch_id
from cdc_historical_warehouse_platform_spark.schemas import CHANGE_JSON_SCHEMA
from cdc_historical_warehouse_platform_spark.sources.change_batches import cast_json_changes
from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

__all__ = [
    "read_change_stream",
    "start_scd2_stream",
    "windowed_event_counts",
    "sessionized_event_counts",
    "streaming_interval_join",
]


def read_change_stream(spark: SparkSession, cdc_dir: str | Path) -> DataFrame:
    """File-source stream over jsonl-format batch directories
    (``<cdc_dir>/changes_*/part-*.json``). Explicit schema — streams
    never infer (SURVEY.md §1.3)."""
    raw = (
        spark.readStream.schema(CHANGE_JSON_SCHEMA)
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "false")
        .json(str(Path(cdc_dir) / "changes_*"))
    )
    return cast_json_changes(raw)


def start_scd2_stream(
    spark: SparkSession,
    cdc_dir: str | Path,
    dim_store: SCD2DimStore,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    summary_store=None,
    sketch_store=None,
    histogram_store=None,
) -> StreamingQuery:
    """Continuous SCD2 maintenance: every micro-batch runs the same
    merge the batch loader uses against the split dim store, committed
    with an idempotent txn id — a replayed epoch after checkpoint
    recovery is a no-op and per-epoch cost is O(current + batch).

    ``available_now=True`` = one-shot drain (single_run_extractor
    semantics); otherwise a ``processingTime`` trigger (the reference's
    10 s extraction cadence, .env.example:19).

    With ``summary_store`` (a VersionedTable) the stream ALSO maintains
    the revenue-per-customer rollup incrementally inside the same
    micro-batch. ``sketch_store`` does the same for the mergeable-sketch
    COUNT(DISTINCT) rollup — doubly replay-safe: txn guard plus
    register-max idempotence of the sketch union itself — and
    ``histogram_store`` for the per-(customer, value-bucket)
    distribution. All three go through the loader's shared step
    (pipeline/loader.rollup_calls) into the one
    ``SCD2DimStore.apply_batch`` call as at most two rollup calls: the
    summary and histogram share one probe and commit in that order, and
    the sketch has its own. Both run concurrently beside the merge's
    stage write, and only the dimension's adopts and pointer swap wait
    for them, so the dimension commits last, all under the epoch's txn
    id. A crash anywhere in the epoch replays to txn no-ops on the
    stores that landed and a first apply on the rest — streaming gets
    the batch path's incremental-view-maintenance guarantee with zero
    new algebra. Each epoch that applied a batch then compacts the
    history as the loader does after a run (``compact_history``).
    """
    changes = read_change_stream(spark, cdc_dir)

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        batch_id = generate_batch_id(batch_df)
        if batch_id is None:
            return
        txn_id = f"epoch:{epoch_id}:{batch_id}"
        if dim_store.apply_batch(
            spark,
            batch_df,
            txn_id=txn_id,
            batch_id=batch_id,
            rollups=rollup_calls(
                spark,
                dim_store,
                batch_df,
                txn_id,
                summary_store=summary_store,
                sketch_store=sketch_store,
                histogram_store=histogram_store,
            ),
        ):  # applied; a stream never ends a run, so compact per epoch
            dim_store.compact_history(spark)

    writer = changes.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "5 minutes",
) -> DataFrame:
    """ST8 tumbling window + ST3 late-data watermark (the reference's
    5-minute lookback, log_extractor.py:94-97, as a real event-time
    watermark). Works on both batch and streaming DataFrames."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """ST8's third member as a native stream: per-user session windows
    via ``F.session_window`` (dynamic gap-close state Spark maintains
    in the state store; sessions finalize when the watermark passes
    their gap). Same FAMILY as the batch lag+cumsum sessionization
    (plans/relational_queries.q_session_windows) but NOT row-identical
    to it: ``session_window`` splits when the gap is >= the threshold
    (merges overlapping [ts, ts+gap) intervals) where the batch query
    splits only when strictly greater, and reports ``session_end`` as
    last_event_ts + gap where the batch query reports max(ts) — don't
    pin one against the other. This function IS batch/stream
    equivalent with itself, which is what the test pins (the same
    events through both execution modes)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_seconds: int,
    upper_seconds: int,
    watermark: str = "10 minutes",
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Stream-stream inner join on an event-time interval: every
    (left, right) pair with ``right.ts`` in
    ``[left.ts + lower, left.ts + upper]`` — the streaming twin of
    operators/rangejoin.interval_join.

    Structured Streaming REJECTS a stream-stream join whose condition
    is a pure range (streamJoinStreamWithoutEqualityPredicate...): the
    symmetric hash join needs a key to hash both state stores by. The
    batch operator's fixed-width time-bin trick provides exactly that
    equality — each right row keyed by its bin, each left row exploded
    across the ≤2 bins its window covers — and the exact interval
    predicate rides along as the residual, from which Spark derives
    the state eviction bound: buffered rows are dropped once the other
    stream's watermark passes their join window, so state on both
    sides stays bounded by watermark + interval, never unbounded.

    Inputs must be streaming DataFrames with disjoint column names;
    ``watermark`` bounds how late either side may arrive (ST3). The
    bin and residual expressions are the batch operator's own builders
    (operators/rangejoin.py) — one copy of the arithmetic the
    correctness argument rests on, shared by both engines' paths."""
    from cdc_historical_warehouse_platform_spark.operators.rangejoin import (
        _validate,
        interval_residual,
        left_bins,
        right_bin,
    )

    bucket_seconds = _validate(left, right, lower_seconds, upper_seconds, bucket_seconds)
    lw = left.withWatermark(left_ts, watermark).withColumn(
        "__lbin",
        F.explode(left_bins(left_ts, lower_seconds, upper_seconds, bucket_seconds)),
    )
    rw = right.withWatermark(right_ts, watermark).withColumn(
        "__rbin", right_bin(right_ts, bucket_seconds)
    )
    cond = (F.col("__lbin") == F.col("__rbin")) & interval_residual(
        left_ts, right_ts, lower_seconds, upper_seconds
    )
    return lw.join(rw, cond, "inner").drop("__lbin", "__rbin")

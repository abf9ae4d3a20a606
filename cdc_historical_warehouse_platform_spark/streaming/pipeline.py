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
from pyspark.sql import types as T
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
    "streaming_exact_dedup",
    "streaming_corpus_keep",
    "sessionized_event_counts",
    "streaming_enrich",
    "streaming_interval_join",
    "start_substr_index_stream",
    "start_corpus_append_stream",
    "start_ann_index_stream",
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


def _start_foreach_batch(
    stream: DataFrame,
    fn,
    checkpoint_dir: str | Path,
    available_now: bool,
    processing_time: str,
) -> StreamingQuery:
    """The tail every maintainer stream shares: run ``fn(batch_df,
    epoch_id)`` per micro-batch under ``checkpoint_dir``, either as a
    one-shot ``availableNow`` drain or on a ``processingTime``
    trigger."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


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
    ``SCD2DimStore.apply_batch`` call: the rollups run concurrently
    beside the merge's stage write, and only the dimension's adopts and
    pointer swap wait for them, so the dimension commits last, all
    under the epoch's txn id. A crash anywhere in the epoch replays to
    txn no-ops on the stores that landed and a first apply on the rest
    — streaming gets the batch path's incremental-view-maintenance
    guarantee with zero new algebra.
    """
    changes = read_change_stream(spark, cdc_dir)

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        batch_id = generate_batch_id(batch_df)
        if batch_id is None:
            return
        txn_id = f"epoch:{epoch_id}:{batch_id}"
        dim_store.apply_batch(
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
        )

    return _start_foreach_batch(
        changes, _merge, checkpoint_dir, available_now, processing_time
    )


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


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming tier of the exact-dedup family (operators/dedup.py):
    drop content-identical re-deliveries as documents arrive.

    The md5 fingerprint of the normalized text is computed map-side
    (codegen'd, no Python), so streaming state is ONE 16-byte key per
    distinct document — never the document body. With an event-time
    column the state is bounded by the watermark
    (``dropDuplicatesWithinWatermark``: re-deliveries arriving within
    `delay` are dropped, older state is evicted — the 100 TB posture);
    without one, ``dropDuplicates`` keeps global exact semantics with
    state growing in distinct-corpus size. State lives in the
    checkpoint, so dedup survives restarts (pinned by
    tests/test_streaming.py across two availableNow runs).
    """
    from cdc_historical_warehouse_platform_spark.operators.text import fingerprint

    fp = stream_df.withColumn("fingerprint", fingerprint(F.col(text_col)))
    if event_time_col is not None:
        return fp.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    return fp.dropDuplicates(["fingerprint"])


def streaming_corpus_keep(
    stream_df: DataFrame,
    text_col: str = "text",
    quality_threshold: float = 0.68,
    event_time_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the batch corpus keep pipeline
    (plans/datapipe_queries.py:q_corpus_keep_decisions, minus the
    near-dup tier, which needs corpus-wide signatures): documents
    flow through the quality gate as a stateless codegen'd filter,
    then the exact-dedup tier drops content-identical re-deliveries
    with 16-byte-per-doc state (watermark-bounded when an event-time
    column exists — see streaming_exact_dedup).

    Stateless filter BEFORE stateful dedup is the scale-relevant
    order: low-quality documents never enter the state store, so state
    size tracks the kept corpus, not the raw feed.
    """
    from cdc_historical_warehouse_platform_spark.operators.text import quality_score

    kept = stream_df.withColumn(
        "quality_score", quality_score(F.col(text_col))
    ).filter(F.col("quality_score") >= quality_threshold)
    return streaming_exact_dedup(
        kept, text_col=text_col, event_time_col=event_time_col, delay=delay
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


def streaming_enrich(
    stream_df: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: decorate a change/event stream
    with dimension attributes (the lookup-join every CDC consumer
    needs — e.g. changes ⟕ current customer attributes).

    Structured Streaming evaluates the STATIC side fresh per
    micro-batch (no state store involved — this is the stateless join
    class, unlike stream-stream), so a dim that is re-read from a
    versioned store between triggers naturally serves current
    attributes. ``broadcast_dim`` (default) hints the dim as the build
    side — the stream side never shuffles, which is the posture for a
    high-rate feed against a bounded dimension; disable it for a huge
    dim and let AQE pick (the stream side then shuffles per batch).
    Only inner/left joins are allowed: right/full would need to emit
    dim rows with no stream match, which the unbounded stream can
    never finalize (Spark rejects them at analysis for the same
    reason)."""
    if how not in ("inner", "left"):
        raise ValueError(f"stream-static join must be inner or left, got {how!r}")
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream_df.join(d, on, how)


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


def start_substr_index_stream(
    spark: SparkSession,
    docs_dir: str | Path,
    index,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """Continuous incremental-ExactSubstr maintenance (r8): documents
    stream in (json-lines ``{"doc_id": ..., "text": ...}`` files under
    ``docs_dir``, the raw-ingest wire shape) and every micro-batch is
    admitted into the persisted k-gram index through the SAME append
    the batch path uses — exactly-once via the index's content-derived
    txn ids (a checkpoint-recovery replay of an epoch re-derives the
    same txn and every table's guard no-ops it; a crash BETWEEN the
    four concurrent table writes replays order-free through the
    pre-txn snapshot reads). Already-admitted doc ids are anti-joined
    out first, so re-delivered files cost one ids-only probe, never a
    re-gram-stream.

    Per-epoch cost is O(batch + candidates) — the streaming twin of
    ``substr-append``; spans/clean read the same store either way.
    """
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .json(str(docs_dir))
    )

    def _admit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # two byte-identical re-delivered files can land in ONE trigger
        # (fresh checkpoint): collapse them before the admitted-ids
        # anti or the index would see the same doc twice in one batch
        # and flag every gram as a self-duplicate. The anti itself is
        # a SOUND re-delivery filter because the docs table commits
        # LAST inside index.append (presence implies the whole txn
        # landed — a torn txn's docs never mask its missing grams).
        fresh = (
            batch_df.dropDuplicates(["doc_id", "text"])
            .join(index.admitted_ids(batch_df.sparkSession), "doc_id", "anti")
            .localCheckpoint(eager=True)
        )
        if fresh.isEmpty():
            return
        index.append(fresh)

    return _start_foreach_batch(
        docs, _admit, checkpoint_dir, available_now, processing_time
    )


def start_corpus_append_stream(
    spark: SparkSession,
    docs_dir: str | Path,
    output: str | Path,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    num_shards: int = 8,
    max_per_source: int | None = None,
    bulk_probe_doc_limit: int = 500_000,
) -> StreamingQuery:
    """Continuous corpus maintenance (r9, the corpus twin of
    :func:`start_substr_index_stream`): documents stream in as
    json-lines files (``{"doc_id", "text", "lang", "source",
    "n_chars"}`` — the raw-ingest wire shape) and every micro-batch
    runs through the SAME ``corpus_append`` the batch path uses —
    quality gate, fingerprint + LSH dedup against the persisted state,
    quota enforcement, shard append, state extension, epoch marker.

    Exactly-once: each micro-batch gets a CONTENT-DERIVED id (order-
    independent hash of its (doc_id, text) pairs + count — the
    substr_index txn-id pattern) that commits atomically WITH the
    epoch marker inside corpus_append. A checkpoint-recovery replay of
    a crashed-after-commit trigger re-derives the same id and
    short-circuits on the marker's ledger; a crash BEFORE the marker
    is rolled back by repair() and the replay recomputes from clean
    state. Byte-identical files re-delivered across triggers dedup to
    zero through the fingerprint state; two identical files in ONE
    trigger collapse via the per-batch dropDuplicates.

    Per-trigger cost is O(batch + candidates), never O(corpus) — on a
    bucketed-state corpus, batches past ``bulk_probe_doc_limit`` probe
    co-partitioned exactly like the batch path."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_append

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .json(str(docs_dir))
    )

    def _admit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
        # content-derived batch id: decimal sum (a long sum overflows
        # under ANSI mode at real batch sizes), order-independent
        sig = batch.select(
            F.sum(
                F.xxhash64(F.col("doc_id").cast("long"), F.col("text"))
                .cast("decimal(38,0)")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        bid = f"corpus_stream_{sig['n']}_{int(sig['h'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
        corpus_append(
            batch.sparkSession,
            batch,
            str(output),
            num_shards=num_shards,
            max_per_source=max_per_source,
            bulk_probe_doc_limit=bulk_probe_doc_limit,
            stream_batch_id=bid,
        )

    return _start_foreach_batch(
        docs, _admit, checkpoint_dir, available_now, processing_time
    )


def start_ann_index_stream(
    spark: SparkSession,
    vectors_dir: str | Path,
    index_dir: str | Path,
    checkpoint_dir: str | Path,
    available_now: bool = True,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """Continuous ANN-index maintenance (r9 continuation — completes
    the persisted-store trio: substr index, corpus, and now the IVF
    index all have streaming maintainers). Vectors stream in as
    json-lines files (``{"vec_id", "embedding"}``) and every
    micro-batch runs through the SAME :meth:`IVFIndex.append` the
    batch path uses — stored-quantizer assignment (float/int8/PQ
    follow the committed build mode), id anti-dedup against the
    indexed set, segment append, pointer advance.

    Exactly-once, two independent layers:

    - each micro-batch gets a CONTENT-DERIVED txn id (order-
      independent xxhash64 sum over (vec_id, embedding) + count — the
      corpus/substr pattern); a checkpoint-recovery replay of a
      crashed-after-commit trigger re-derives the same id and the
      VersionedTable txn ledger skips the append, after which the
      pointer re-advance is a no-op write of the same version;
    - independently, IVFIndex.append's id anti-join drops vectors
      whose id is already indexed, so OVERLAPPING deliveries (not
      just byte-identical replays) never duplicate index entries.

    Per-trigger cost is O(batch) assignment + an id-only anti-join —
    the stored index is never re-read or re-shuffled."""
    from cdc_historical_warehouse_platform_spark.sources.ann_index import IVFIndex

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    vectors = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .json(str(vectors_dir))
    )
    idx = IVFIndex(index_dir)

    def _admit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.dropDuplicates(["vec_id"]).localCheckpoint(eager=True)
        sig = batch.select(
            F.sum(
                F.xxhash64(F.col("vec_id"), F.col("embedding")).cast("decimal(38,0)")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        txn = f"ann_stream_{sig['n']}_{int(sig['h'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
        idx.append(batch, txn_id=txn)

    return _start_foreach_batch(
        vectors, _admit, checkpoint_dir, available_now, processing_time
    )

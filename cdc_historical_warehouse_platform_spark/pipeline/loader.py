"""SCD2 loader — orchestrates batch discovery → idempotency check →
merge → atomic publish → ledger/metadata (scd2_loader.py:550-659).

Where the reference does a row-at-a-time N+1 loop per change
(scd2_loader.py:189-207 call sites), this loader runs ONE distributed
merge per batch against the split dim store (overwrite-current +
append-only-history, sources/dim_store.py) — per-batch cost is
O(current slice + batch), independent of history depth, and the whole
batch publishes atomically at the store's pointer swap (V6 for free).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import SparkSession

from cdc_historical_warehouse_platform_spark.pipeline.metadata import PipelineMetadataManager
from cdc_historical_warehouse_platform_spark.pipeline.state import ProcessedLedger, generate_batch_id
from cdc_historical_warehouse_platform_spark.session import codegen_compiles
from cdc_historical_warehouse_platform_spark.sources.change_batches import discover_batches, read_change_batch
from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

__all__ = [
    "SCD2Loader",
    "rollup_calls",
    "maintain_delta_stores",
    "maintain_distinct_sketch_store",
]


def _empty_mark(batch_path: Path) -> str:
    """Ledger id for a no-loadable-rows batch, keyed to the file's byte
    size AND mtime so any rewrite under the same name (even one that
    happens to keep the size) invalidates the mark. Legacy size-only
    marks simply stop matching and the (empty) file is re-read once."""
    st = batch_path.stat()
    return f"empty:{st.st_size}:{st.st_mtime_ns}"


def maintain_delta_stores(
    spark, dim_store, changes, txn_id: str, summary_store, histogram_store
) -> None:
    """Incremental-view maintenance of the per-customer summary and the
    per-(customer, order-value bucket) histogram
    (operators/incremental_agg.py) for one batch, BEFORE the dimension
    advances; either store may be None. Shared by the batch loader and
    the streaming foreachBatch path (both through :func:`rollup_calls`).
    One read and one probe of the pre-batch current slice serve both
    stores. A missing store is bootstrapped: a recompute over the
    current slice when adopting an existing dimension, else empty. The
    summary commits before the histogram, both under the dim's txn_id.

    Crash/replay safety without a cross-store transaction: this call,
    the sketch's and the dimension's stage write run concurrently, and
    only the dimension's adopts and pointer swap wait for all of them,
    so the dimension commits last, all under the same txn_id.
    - crash before the dim's pointer swap (a rollup commit failed, e.g.
      the histogram's after the summary's landed, or the stage write or
      an adopt did): the dim still holds the pre-batch current slice,
      so the replay's landed commits are txn no-ops, the others apply
      against the same pre-batch state, and the dim restages and
      applies — converged.
    - replay after all landed (ledger/checkpoint unmarked): the dim's
      txn guard returns before any rollup runs.
    The delta algebra itself is also idempotent against an
    already-advanced dimension (every term cancels), so even a lost
    rollup txn file degrades to a zero-delta commit."""
    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        empty_histogram,
        empty_summary,
        group_histogram,
        group_summary,
        maintain_summary_and_histogram,
    )

    has_dim = dim_store.exists()
    current = dim_store.read_current(spark)

    def prev(store, empty, recompute):
        if store is None:
            return None
        if store.exists():
            return store.read(spark)
        return recompute(current) if has_dim else empty(spark)

    summary, hist = maintain_summary_and_histogram(
        prev(summary_store, empty_summary, group_summary),
        prev(histogram_store, empty_histogram, group_histogram),
        current,
        changes,
    )
    if summary is not None:
        summary_store.commit(summary, txn_id=txn_id)
    if hist is not None:
        histogram_store.commit(hist, txn_id=txn_id)


# cdcbench's tracer patches both names in this module, so they stay;
# both are the one body, and rollup_calls calls it by the first.
maintain_summary_store = maintain_histogram_store = maintain_delta_stores


def maintain_distinct_sketch_store(spark, sketch_store, changes, txn_id: str) -> None:
    """Mergeable-sketch maintenance for one batch: distinct products
    EVER observed per customer (operators/sketches.py), the
    COUNT(DISTINCT) sibling of maintain_delta_stores. Shared by the
    batch loader and the streaming foreachBatch path.

    Sketches cannot retract, so the metric is ever-seen distinct (the
    standard sketch-rollup semantics) — DELETE changes carry no new
    observation and are excluded. Replay safety is double: the store's
    txn guard makes a replayed commit a no-op, and even a forced
    re-union of the same batch is a register-max no-op by sketch
    idempotence."""
    from pyspark.sql import functions as F

    from cdc_historical_warehouse_platform_spark.operators.sketches import (
        group_distinct_sketch,
        merge_sketch_state,
    )

    delta = group_distinct_sketch(
        changes.filter(F.col("operation_type") != "DELETE"),
        ["customer_id"],
        "product_id",
    )
    if sketch_store.exists():
        state = merge_sketch_state(sketch_store.read(spark), delta, ["customer_id"])
    else:
        state = delta
    sketch_store.commit(state, txn_id=txn_id)


def rollup_calls(
    spark,
    dim_store,
    changes,
    txn_id: str,
    summary_store=None,
    sketch_store=None,
    histogram_store=None,
) -> list:
    """The maintainer calls of the configured rollup stores for one
    batch, as zero-argument callables; nothing runs here. At most two:
    the summary and histogram share one call (:func:`maintain_delta_stores`)
    and the sketch has its own. The batch loader and the streaming
    foreachBatch path both hand them to :meth:`SCD2DimStore.apply_batch`,
    which runs them beside the dimension's stage write and commits the
    dimension after all of them (the crash/replay argument is in
    :func:`maintain_delta_stores`). Each reads only the pre-batch
    current slice and the batch and writes only its own tables. The
    maintainers are looked up in this module when a call runs, not
    when it is built."""
    calls = []
    if summary_store is not None or histogram_store is not None:
        calls.append(
            lambda: maintain_summary_store(
                spark, dim_store, changes, txn_id, summary_store, histogram_store
            )
        )
    if sketch_store is not None:
        calls.append(
            lambda: maintain_distinct_sketch_store(spark, sketch_store, changes, txn_id)
        )
    return calls


class SCD2Loader:
    def __init__(
        self,
        spark: SparkSession,
        dim_store: SCD2DimStore,
        cdc_dir: str | Path,
        metadata: PipelineMetadataManager | None = None,
        summary_store=None,
        drift_policy: str = "silent",
        sketch_store=None,
        histogram_store=None,
        quarantine_dir: str | Path | None = None,
    ):
        self.spark = spark
        self.dim = dim_store
        self.cdc_dir = Path(cdc_dir)
        self.ledger = ProcessedLedger(self.cdc_dir / ".scd2_processed_files")
        self.metadata = metadata
        # optional maintained rollup (operators/incremental_agg.py): a
        # VersionedTable holding revenue-per-customer, kept in sync from
        # batch DELTAS instead of per-run recomputes
        self.summary = summary_store
        # optional mergeable-sketch rollup (operators/sketches.py):
        # distinct products ever seen per customer, unioned from batch
        # observations — COUNT(DISTINCT) at fixed state per group
        self.sketches = sketch_store
        # optional maintained distribution (incremental_agg histogram
        # tier): per-(customer, value-bucket) counts kept from deltas,
        # serving read-time percentile estimates with zero scans
        self.histograms = histogram_store
        # "silent" (default): explicit-schema reads tolerate producer
        # drift quietly — the hot path. "report": infer each batch's
        # actual wire schema (read_change_batch_with_drift) and surface
        # per-batch drift in the run result + pipeline metadata.
        if drift_policy not in ("silent", "report"):
            raise ValueError(f"unknown drift_policy {drift_policy!r}")
        # row-level bad-record routing: uncastable/invalid rows land in
        # a parquet quarantine sink instead of silently nulling out
        # (the row-level upgrade of the reference's records_failed
        # counter). The quarantine reader owns the wire-level read, so
        # it composes with the silent policy only — drift REPORTING
        # already re-infers the wire schema and would race it.
        if quarantine_dir is not None and drift_policy == "report":
            raise ValueError("quarantine_dir is incompatible with drift_policy='report'")
        self.quarantine_dir = Path(quarantine_dir) if quarantine_dir else None
        self.quarantined = 0
        self.drift_policy = drift_policy
        self.drift_events: list[dict] = []
        # true RECORD accounting for the KPI report (the run table's
        # records_* fields historically carry BATCH counts)
        self.rows_loaded = 0

    def _write_quarantine(self, bad, batch_path: Path) -> None:
        from pyspark.sql import functions as F

        n_bad = bad.count()
        if n_bad:
            bad.withColumn("batch_file", F.lit(batch_path.name)).write.mode(
                "append"
            ).parquet(str(self.quarantine_dir))
        self.quarantined += n_bad

    def process_batch_file(self, batch_path: str | Path) -> bool:
        """One batch: id → ledger check → merge → commit → mark
        (scd2_loader.py:476-548). Returns False for a skipped replay."""
        batch_path = Path(batch_path)
        drift = None
        if self.drift_policy == "report":
            from cdc_historical_warehouse_platform_spark.sources.change_batches import (
                read_change_batch_with_drift,
            )

            changes, drift = read_change_batch_with_drift(self.spark, batch_path)
        elif self.quarantine_dir is not None:
            from cdc_historical_warehouse_platform_spark.sources.change_batches import (
                read_change_batch_with_quarantine,
            )

            changes, bad = read_change_batch_with_quarantine(self.spark, batch_path)
        else:
            changes = read_change_batch(self.spark, batch_path)
        batch_id = generate_batch_id(changes)
        if batch_id is None:
            # no LOADABLE rows = no schema evidence; never a drift
            # event. Mark the file so later runs skip it by name —
            # otherwise every run re-reads it forever (in report mode
            # paying a full schema-inference pass each time). The mark
            # is keyed to size+mtime so a rewritten file is picked up.
            # In quarantine mode a fully-corrupt batch lands here too —
            # its bad rows MUST still reach the sink (the very case the
            # feature exists to surface), once per distinct file state.
            mark = _empty_mark(batch_path)
            if self.ledger.is_processed(batch_path.name, mark):
                return False
            if self.quarantine_dir is not None:
                self._write_quarantine(bad, batch_path)
            self.ledger.mark(batch_path.name, mark)
            return True
        if self.ledger.is_processed(batch_path.name, batch_id):
            return False
        # quarantine sink: append AFTER the replay check so re-loads do
        # not duplicate rows; a crash between this write and the ledger
        # mark can re-append (at-least-once — a diagnostics sink, keyed
        # by batch name for reconciliation)
        if self.quarantine_dir is not None:
            self._write_quarantine(bad, batch_path)
        # record drift only for batches actually applied — a direct
        # replay of a processed batch must not re-report its drift
        if drift is not None and any(drift.values()):
            self.drift_events.append({"batch": batch_path.name, **drift})
        txn_id = f"{batch_path.name}|{batch_id}"
        # the store's txn guard backs the ledger: a crash between the
        # pointer swap and the mark leaves the replay a no-op
        applied = self.dim.apply_batch(
            self.spark,
            changes,
            txn_id=txn_id,
            batch_id=batch_id,
            rollups=rollup_calls(
                self.spark,
                self.dim,
                changes,
                txn_id,
                summary_store=self.summary,
                sketch_store=self.sketches,
                histogram_store=self.histograms,
            ),
        )
        self.ledger.mark(batch_path.name, batch_id)
        if applied:
            self.rows_loaded += batch_id.rows
        return applied

    def load_pending(self) -> dict:
        """Process every unprocessed batch in event-time (name) order;
        returns run summary (scd2_loader.py:550-659 semantics)."""
        run_id = None
        t0 = time.time()
        compiles0 = codegen_compiles(self.spark)
        self.drift_events = []
        self.quarantined = 0
        self.rows_loaded = 0
        if self.metadata is not None:
            run_id = self.metadata.start_run()
        processed = skipped = failed = 0
        error: str | None = None
        batch = None
        try:
            seen_ids: dict[str, set[str]] = {}
            for name, bid in self.ledger.entries():
                seen_ids.setdefault(name, set()).add(bid)
            for batch in discover_batches(self.cdc_dir):
                ids = seen_ids.get(batch.name)
                if ids is not None and (
                    # a real (or legacy-sentinel) mark: processed, skip by name
                    any(not i.startswith("empty:") for i in ids)
                    # size+mtime-keyed empty mark still matches the file state
                    or _empty_mark(batch) in ids
                ):
                    skipped += 1
                    continue
                if self.process_batch_file(batch):
                    processed += 1
                else:
                    skipped += 1
        except Exception as e:  # noqa: BLE001
            failed += 1
            # the run's error names the batch that raised
            where = f"{batch.name}: " if batch is not None else ""
            error = f"{where}{type(e).__name__}: {e}"
        status = "completed" if failed == 0 else "failed"
        if failed == 0 and self.dim.exists():
            # ST6-style maintenance: bound the history manifest length
            self.dim.compact_history(self.spark)
        if self.metadata is not None and run_id is not None:
            self.metadata.update_run(
                run_id,
                status,
                records_processed=processed + skipped,
                records_successful=processed,
                records_failed=failed,
                error_message=error,
                performance_metrics={
                    "elapsed_sec": round(time.time() - t0, 3),
                    "rows_loaded": self.rows_loaded,
                    # Janino compiles over the run (driver-side on a
                    # cluster); a steady-state batch stays in single
                    # digits, a codegen-cache regression shows here
                    "codegen_compiles": codegen_compiles(self.spark) - compiles0,
                    **(
                        {"batches_with_drift": len(self.drift_events)}
                        if self.drift_policy == "report"
                        else {}
                    ),
                },
            )
        result = {
            "run_id": run_id,
            "status": status,
            "processed": processed,
            "skipped": skipped,
            "failed": failed,
            "error": error,
        }
        if self.drift_policy == "report":
            result["drift"] = self.drift_events
        if self.quarantine_dir is not None:
            result["quarantined"] = self.quarantined
        return result

    def summary_statistics(self) -> dict:
        """A1: the loader's table-summary aggregate (scd2_loader.py:661-683)."""
        return self.dim.summary(self.spark)

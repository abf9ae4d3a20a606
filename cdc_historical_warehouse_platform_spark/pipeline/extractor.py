"""CDC extractor — the reference's log_extractor.py loop as a library.

One extraction cycle (log_extractor.py:229-276):
  watermark → detect_changes (S1+P6+P7) → write batch file (S2/S3) →
  advance watermark to max(last_updated) (A5) → optional retention.

The source is any DataFrame-producing callable (a VersionedTable, a
parquet dir, a JDBC source); deletes arrive via a tombstone table
(the Spark stand-in for the reference's BEFORE DELETE trigger +
``deleted_orders`` audit table, log_extractor.py:282-341).
"""

from __future__ import annotations

import datetime as _dt
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# next_watermark stays a name of this module: cdcbench/tracer.py patches it here
from cdc_historical_warehouse_platform_spark.operators.cdc import (
    detect_changes,
    next_watermark,
    watermark_column,
)
from cdc_historical_warehouse_platform_spark.pipeline.state import Watermark
from cdc_historical_warehouse_platform_spark.sources.change_batches import write_change_batch
from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

__all__ = ["CDCExtractor", "SourceLike"]


class SourceLike:
    """Structural source protocol: ``read(spark) -> DataFrame``.

    Satisfied by ``VersionedTable`` (warehouse tables), ``JdbcSource``
    (a live database — the reference's actual entry point,
    log_extractor.py:56-79), and ``DataFrameSource`` (any relation).
    """

    def read(self, spark: SparkSession) -> DataFrame:  # pragma: no cover
        raise NotImplementedError


class CDCExtractor:
    def __init__(
        self,
        spark: SparkSession,
        source: SourceLike | VersionedTable,
        cdc_dir: str | Path,
        deleted_table: VersionedTable | None = None,
        fmt: str = "reference",
        initial_watermark: _dt.datetime | None = None,
    ):
        """``initial_watermark`` overrides the reference's first-run
        default of now−5min (log_extractor.py:94-97) — set it to the
        epoch (or the table's min timestamp) for a full backfill;
        the default silently skips rows older than the lookback."""
        self.spark = spark
        self.source = source
        self.cdc_dir = Path(cdc_dir)
        self.cdc_dir.mkdir(parents=True, exist_ok=True)
        self.deleted_table = deleted_table
        self.fmt = fmt
        self.watermark = Watermark(self.cdc_dir / ".watermark")
        if initial_watermark is not None and not self.watermark.path.exists():
            self.watermark.set(initial_watermark)

    def _detect(self, wm: _dt.datetime, now: _dt.datetime) -> DataFrame:
        src = self.source.read(self.spark)  # read once: a JdbcSource
        # re-resolves schema (and partition bounds) per read() call
        changes = detect_changes(src, wm, extracted_at=now)
        if self.deleted_table is not None and self.deleted_table.exists():
            deleted = self.deleted_table.read(self.spark).filter(
                F.col("deleted_at") > F.lit(wm)
            )
            tomb = deleted.select(
                *[F.col(c) for c in src.columns],
                F.lit("DELETE").alias("operation_type"),
                F.col("deleted_at").cast("timestamp").alias("cdc_timestamp"),
                F.lit(now).cast("timestamp").alias("extracted_at"),
            )
            changes = changes.unionByName(tomb)
        return changes

    def run_once(self, now: _dt.datetime | None = None) -> Path | None:
        """single_run_extractor.py:21-53 — one cycle; returns the batch
        path (None when no changes)."""
        now = now or _dt.datetime.utcnow()
        wm = self.watermark.get(now)
        # Materialize the batch ONCE: the batch write and the count /
        # watermark aggregate would otherwise each re-run the source
        # query — against a live JDBC source, a row committed between
        # the write and the watermark scan would advance the watermark
        # past data never written (permanent loss).
        changes = self._detect(wm, now).localCheckpoint(eager=True)
        # one aggregate answers both "empty?" and "next watermark". The
        # count decides emptiness: a batch whose rows all have a null
        # last_updated (admitted by created_at > wm) has a null max but
        # must still be written.
        n, new_wm = changes.agg(
            F.count(F.lit(1)),
            F.max(watermark_column(changes, event_col="cdc_timestamp")),
        ).first()
        if n == 0:
            return None
        batch = write_change_batch(
            changes, self.cdc_dir, extracted_at=now, watermark=wm, fmt=self.fmt
        )
        if new_wm is not None:
            self.watermark.set(new_wm)
        return batch

    def cleanup_old_batches(self, max_age_hours: float = 24.0) -> int:
        """ST6 retention (log_extractor.py:212-227). Covers both batch
        shapes (reference .json files AND jsonl directories — the old
        file-only glob made retention a silent no-op under fmt="jsonl")
        plus crash-orphaned hidden .tmp artifacts."""
        import shutil

        cutoff = time.time() - max_age_hours * 3600
        removed = 0
        victims = list(self.cdc_dir.glob("changes_*")) + list(
            self.cdc_dir.glob(".changes_*.tmp*")
        )
        for p in victims:
            if p.stat().st_mtime < cutoff:
                if p.is_dir():
                    shutil.rmtree(p)
                else:
                    p.unlink()
                removed += 1
        return removed

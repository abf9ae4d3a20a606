"""SCD2 dimension store: overwrite-current + append-only-history.

The naive layout rewrites the whole dimension per batch — O(history)
forever. This store keeps two sub-tables under one atomic pointer:

- ``current/``  — the live slice, overwritten each batch (bounded by
  |keys|, not by time);
- ``history/``  — expired versions, append-only segments that are
  NEVER rewritten (``VersionedTable.append``).

Per-batch work is O(current + batch) regardless of history depth — the
property that matters at 100 TB, where history is ~all of the table.
Readers resolve one pointer and see a consistent (current_version,
history_version) pair; the two sub-table writes become visible only at
the pointer swap, so there is no torn state between them (V6 atomicity
without a distributed log).
"""

from __future__ import annotations

import json
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from cdc_historical_warehouse_platform_spark.operators.scd2 import (
    PART_COLUMN,
    empty_dim,
    scd2_build_from_change_log,
    scd2_merge_tagged,
)
from cdc_historical_warehouse_platform_spark.sources.tables import (
    VersionedTable,
    fresh_stage,
    read_pointer,
    write_pointer,
)

__all__ = ["SCD2DimStore"]


def _seed_or_merge_tagged(
    cur: DataFrame, changes: DataFrame, batch_id: str | None, first: bool
) -> DataFrame:
    """The tagged merge, with the bulk-seed fast path: a FIRST-EVER
    batch carrying at most one change per key (the normal seed shape)
    routes through the one-pass change-log build — one business-key
    shuffle plus windows, no merge join machinery (scd2.py: "Bulk
    HISTORY loads should use scd2_build_from_change_log"). Output
    equality with the merge is pinned by tests; rapid-update seeds fall
    back to the merge because its collapse semantics differ from the
    bulk build's version-per-change. The ≤1-per-key probe is one bounded
    aggregate, paid once per store lifetime. Later batches keep the
    broadcast micro-batch hint; a bulk first batch through the merge
    must not force a dimension-sized broadcast (OOM), so the hint
    follows ``first``."""
    if first:
        max_per_key = (
            changes.groupBy("id").count().agg(F.max("count")).first()[0] or 0
        )
        if max_per_key <= 1:
            return scd2_build_from_change_log(changes, batch_id=batch_id).withColumn(
                PART_COLUMN,
                F.when(F.col("is_current"), F.lit("current")).otherwise(
                    F.lit("expired")
                ),
            )
    return scd2_merge_tagged(
        cur, changes, batch_id=batch_id, hint_broadcast=not first
    )


def _run_concurrently(spark: SparkSession, calls) -> list:
    """Run every call in its own pool thread and return their results.

    Each call keeps the caller's Spark local properties (job group,
    description, scheduler pool): a pool thread otherwise starts with
    none, and its jobs would be cancelled, grouped and attributed apart
    from the batch that ran them. Every call finishes before this
    returns; the first error in submission order is then re-raised."""
    # one wrap per call: each thread gets its own copy of the properties
    targets = [inheritable_thread_target(spark)(call) for call in calls]
    with ThreadPoolExecutor(max_workers=len(targets), thread_name_prefix="rollup") as pool:
        futures = [pool.submit(target) for target in targets]
    # leaving the block waited for every call
    for error in [f.exception() for f in futures]:
        if error is not None:
            raise error
    return [f.result() for f in futures]


class SCD2DimStore:
    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self.current = VersionedTable(self.path / "current")
        self.history = VersionedTable(self.path / "history")

    # --- pointer ------------------------------------------------------------

    def _read_pointer(self) -> dict | None:
        return read_pointer(self.path)

    def _write_pointer(self, meta: dict) -> None:
        # time-travel log: remember the last few versions' sub-table
        # pair (the sub-tables retain those versions until their own
        # vacuum), so read(version=N) can resolve a historical
        # consistent (current, history) snapshot
        prev = self._read_pointer() or {}
        log = dict(prev.get("pointer_log", {}))
        log[str(meta["version"])] = {
            "current_version": meta["current_version"],
            "history_version": meta["history_version"],
        }
        for v in sorted(map(int, log)):
            if len(log) <= 8:
                break
            del log[str(v)]
        write_pointer(self.path, {**meta, "pointer_log": log})

    # --- table facade (VersionedTable-compatible where it matters) ---------

    def exists(self) -> bool:
        return self._read_pointer() is not None

    def version(self) -> int:
        meta = self._read_pointer()
        return -1 if meta is None else meta["version"]

    def committed_txns(self) -> set[str]:
        meta = self._read_pointer()
        return set(meta.get("txns", [])) if meta else set()

    def read_current(self, spark: SparkSession) -> DataFrame:
        meta = self._read_pointer()
        if meta is None:
            return empty_dim(spark)
        return self.current.read(spark, version=meta["current_version"])

    def read_history(self, spark: SparkSession) -> DataFrame:
        meta = self._read_pointer()
        if meta is None or meta["history_version"] < 0:
            return empty_dim(spark)
        return self.history.read(spark, version=meta["history_version"])

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The full dimension (current ∪ history) at the pointer state."""
        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"dim store {self.path} is empty")
        if version is not None and version != meta["version"]:
            entry = meta.get("pointer_log", {}).get(str(version))
            if entry is None:
                raise ValueError(
                    f"version {version} not in the pointer log (kept: "
                    f"{sorted(map(int, meta.get('pointer_log', {})))}); "
                    "older versions were trimmed or vacuumed"
                )
            cur = self.current.read(spark, version=entry["current_version"])
            if entry["history_version"] >= 0:
                hist = self.history.read(spark, version=entry["history_version"])
            else:
                hist = empty_dim(spark, cur.schema)
            return cur.unionByName(hist)
        return self.read_current(spark).unionByName(self.read_history(spark))

    # --- the one write path -------------------------------------------------

    def apply_batch(
        self,
        spark: SparkSession,
        changes: DataFrame,
        txn_id: str,
        batch_id: str | None = None,
        rollups=(),
    ) -> bool:
        """Merge one change batch; returns False for a replayed txn.

        Single-scan write: the tagged merge (scd2_merge_tagged) runs as
        ONE ``partitionBy(__part)`` job into a hidden staging directory
        — the current slice is scanned once per batch — and the two
        partition directories are then *adopted* (filesystem moves, no
        second job) as the next history segment and current version.

        ``rollups`` are zero-argument callables that maintain the
        batch's rollup stores (pipeline/loader.rollup_calls). They must
        read only the pre-batch dimension and the batch and write only
        their own tables under ``txn_id``.

        Write order: the stage (plan build + stage job) runs in one
        thread pool beside every rollup — their jobs are small and
        bound by driver round trips, so running them one after another
        leaves the cores idle. Only after all of them have finished do
        the history adopt, the current adopt and the pointer swap run,
        in that order, so the pointer swap stays the batch's last
        commit. The adopts wait because moving ``current``
        to a new version while a rollup still reads the pre-batch
        version would turn that read into an older-version read. A
        failure anywhere before the pointer swap leaves readers on the
        previous consistent pair; the replay (same ``txn_id``) finds
        the landed rollups' txns (no-ops), recomputes the stage,
        re-adopts (the sub-tables' txn guards make half-done adopts
        no-ops) and finally swaps the pointer. A txn already in the
        store's ledger returns before any rollup runs: the dimension
        commits last, so every rollup of that txn has landed. Stale
        stage dirs from crashed runs are reclaimed on entry
        (single-writer, like the extractor's .tmp reclaim).
        """
        meta = self._read_pointer()
        txns = list(meta.get("txns", [])) if meta else []
        if txn_id in txns:
            return False

        stage = fresh_stage(self.path)

        def _stage():
            if meta is None:
                cur = empty_dim(spark)
            else:
                cur = self.current.read(spark, version=meta["current_version"])
            tagged = _seed_or_merge_tagged(cur, changes, batch_id, first=meta is None)
            tagged.write.mode("overwrite").partitionBy(PART_COLUMN).parquet(str(stage))
            return tagged.drop(PART_COLUMN).schema

        dim_schema = _run_concurrently(spark, [_stage, *rollups])[0]
        dim_columns = dim_schema.fieldNames()

        expired_dir = stage / f"{PART_COLUMN}=expired"
        current_dir = stage / f"{PART_COLUMN}=current"
        if expired_dir.exists():
            hist_v = self.history.append_dir(
                expired_dir, dim_schema.json(), dim_columns, txn_id=txn_id
            )
        else:  # no expirations this batch — history version unchanged
            hist_v = meta["history_version"] if meta else -1
        if current_dir.exists():
            cur_v = self.current.commit_dir(
                current_dir, dim_schema.json(), dim_columns, txn_id=txn_id
            )
        else:  # dimension emptied (or first batch all-DELETE)
            cur_v = self.current.commit(
                empty_dim(spark, dim_schema), txn_id=txn_id
            )
        shutil.rmtree(stage, ignore_errors=True)

        new_version = (meta["version"] + 1) if meta else 0
        self._write_pointer(
            {
                "version": new_version,
                "current_version": cur_v,
                "history_version": hist_v,
                "committed_at": time.time(),
                "txns": txns + [txn_id],
            }
        )
        return True

    def compact_history(self, spark: SparkSession, max_segments: int = 32) -> bool:
        """OPTIMIZE-style maintenance: when history has accumulated more
        than ``max_segments`` append segments, rewrite them into one.

        Append keeps per-batch cost O(batch), but thousands of tiny
        segments degrade scan planning — periodic compaction bounds the
        manifest length. Readers are unaffected: the rewrite publishes
        as a new history version and the store pointer swaps atomically.
        """
        meta = self._read_pointer()
        if meta is None or meta["history_version"] < 0:
            return False
        if len(self.history.segment_dirs(meta["history_version"])) <= max_segments:
            return False
        hist = self.history.read(spark, version=meta["history_version"])
        # the consolidated rewrite is the moment layout is free: range-
        # cluster + sort by (business key, valid_from) so key-history
        # scans (P5/J3 as-of probes) prune row groups via footer stats
        # instead of reading every append-era segment
        hist = hist.repartitionByRange(
            max(hist.sparkSession.sparkContext.defaultParallelism // 2, 1),
            "order_key",
        ).sortWithinPartitions("order_key", "valid_from")
        new_hv = self.history.commit(hist)  # one consolidated segment
        self._write_pointer({**meta, "history_version": new_hv})
        return True

    def optimize_history(
        self, spark: SparkSession, n_files: int = 32
    ) -> dict:
        """OPTIMIZE ZORDER for the history: rewrite the current history
        version clustered by the Morton interleave of (order_key,
        valid_from-day) and record a per-file min/max stats manifest
        (operators/layout.py). Key-history probes (P5) and as-of scans
        (J3) then skip files on BOTH dimensions — a 1-D key sort makes
        time stats useless inside hot keys and vice versa; the Z-curve
        bounds each file in both.

        Runs at compaction cadence (layout maintenance, not per batch);
        readers are unaffected until the atomic pointer swap. Returns
        {files, history_version}."""
        from cdc_historical_warehouse_platform_spark.operators import layout

        meta = self._read_pointer()
        if meta is None or meta["history_version"] < 0:
            return {"files": 0, "history_version": -1}
        hist = self.history.read(spark, version=meta["history_version"])
        bounds = hist.agg(
            F.min("order_key").alias("klo"),
            F.max("order_key").alias("khi"),
            F.min(F.unix_timestamp("valid_from")).alias("tlo"),
            F.max(F.unix_timestamp("valid_from")).alias("thi"),
        ).collect()[0]
        if bounds["klo"] is None:
            return {"files": 0, "history_version": meta["history_version"]}
        day = (F.unix_timestamp("valid_from") / 86400).cast("long")
        key = layout.zorder_key2(
            layout.quantize(F.col("order_key"), bounds["klo"], max(bounds["khi"], bounds["klo"] + 1)),
            layout.quantize(day, bounds["tlo"] // 86400, max(bounds["thi"] // 86400, bounds["tlo"] // 86400 + 1)),
        )
        new_hv = layout.write_zordered(
            self.history, hist, key, ["order_key", "valid_from"], n_files=n_files
        )
        self._write_pointer({**meta, "history_version": new_hv})
        stats = json.loads(layout._stats_file(self.history, new_hv).read_text())
        return {"files": len(stats), "history_version": new_hv}

    def read_history_for_keys(
        self, spark: SparkSession, key_lo: int, key_hi: int
    ) -> tuple[DataFrame, dict]:
        """Key-range history probe through the skipping manifest: scans
        only files whose order_key box intersects [key_lo, key_hi]
        (falls back to a full filtered read when the history was never
        optimized). Returns (DataFrame, {files_read, files_total})."""
        from cdc_historical_warehouse_platform_spark.operators import layout

        meta = self._read_pointer()
        if meta is None or meta["history_version"] < 0:
            return empty_dim(spark).filter(F.lit(False)), {
                "files_read": 0,
                "files_total": 0,
            }
        return layout.read_pruned(
            self.history,
            spark,
            {"order_key": (key_lo, key_hi)},
            version=meta["history_version"],
        )

    def summary(self, spark: SparkSession) -> dict:
        dim = self.read(spark)
        row = dim.agg(
            F.count(F.lit(1)).alias("total_records"),
            F.count(F.when(F.col("is_current"), 1)).alias("current_records"),
            F.count(F.when(~F.col("is_current"), 1)).alias("historical_records"),
            F.countDistinct("order_key").alias("unique_orders"),
            F.min("valid_from").alias("earliest_record"),
            F.max("valid_from").alias("latest_record"),
        ).collect()[0]
        return row.asDict()

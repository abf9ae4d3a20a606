"""Pipeline-run metadata — re-expresses pipeline_metadata.py (332 LoC of
psycopg2) as a VersionedTable of run rows + pure DataFrame stats.

Statuses follow the reference's CHECK constraint plus the loader's
extra value: running / completed / failed / cancelled /
completed_with_errors (pipeline_metadata.py:74, scd2_loader.py:622).
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_historical_warehouse_platform_spark.schemas import PIPELINE_METADATA_SCHEMA
from cdc_historical_warehouse_platform_spark.session import empty_frame
from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

__all__ = ["PipelineMetadataManager"]

# the fields update_run replaces, keyed by run_id
_OUTCOME_SCHEMA = T.StructType(
    [f for f in PIPELINE_METADATA_SCHEMA.fields if f.name not in ("pipeline_name", "start_time")]
)


class PipelineMetadataManager:
    def __init__(self, spark: SparkSession, path: str | Path, pipeline_name: str = "scd2_loader"):
        self.spark = spark
        self.table = VersionedTable(path)
        self.pipeline_name = pipeline_name

    def _runs(self) -> DataFrame:
        if not self.table.exists():
            return empty_frame(self.spark, PIPELINE_METADATA_SCHEMA)
        return self.table.read(self.spark)

    # --- lifecycle (pipeline_metadata.py:112-253) ---------------------------

    def _row(self, schema, values) -> DataFrame:
        """One row as data: it travels as Arrow (a JVM-side
        LocalRelation, no Python worker), not as literals, which would
        make every run compile fresh classes. Arrow reads a naive
        timestamp in the session time zone, so callers hand it instants
        in UTC (pyarrow keeps the wall clock of any other offset)."""
        return self.spark.createDataFrame(
            pa.Table.from_pylist([dict(zip(schema.names, values))]), schema
        )

    def _commit(self, runs: DataFrame, txn_id: str) -> None:
        """Every commit rewrites the whole run table, so drop all but
        the newest two versions: disk use then grows with the number
        of runs, not with its square."""
        self.table.commit(runs, txn_id=txn_id)
        self.table.vacuum(keep_last=2)

    def start_run(self, run_id: str | None = None, now: _dt.datetime | None = None) -> str:
        run_id = run_id or f"{self.pipeline_name}_{uuid.uuid4().hex[:12]}"
        start = (now or _dt.datetime.utcnow()).astimezone(_dt.timezone.utc)
        values = (run_id, self.pipeline_name, start, None, "running", 0, 0, 0, None, None)
        row = self._row(PIPELINE_METADATA_SCHEMA, values)
        self._commit(self._runs().unionByName(row), f"start:{run_id}")
        return run_id

    def update_run(
        self,
        run_id: str,
        status: str,
        records_processed: int = 0,
        records_successful: int = 0,
        records_failed: int = 0,
        error_message: str | None = None,
        performance_metrics: dict | None = None,
        now: _dt.datetime | None = None,
    ) -> None:
        """Replace the run's outcome fields; its start_time and
        pipeline_name stay as the table has them."""
        now = now or _dt.datetime.utcnow()
        values = (
            run_id,
            now.astimezone(_dt.timezone.utc),
            status,
            records_processed,
            records_successful,
            records_failed,
            error_message,
            json.dumps(performance_metrics) if performance_metrics else None,
        )
        outcome = _OUTCOME_SCHEMA.names[1:]
        ended = self._row(_OUTCOME_SCHEMA, values).select(
            "run_id", F.lit(True).alias("__ended"), *[F.col(c).alias(f"__{c}") for c in outcome]
        )
        # a left join keeps the table's partitioning: one file per
        # partition, as before, and every other run's row as it was
        updated = self._runs().join(ended, "run_id", "left").select(
            "run_id",
            "pipeline_name",
            "start_time",
            *[
                F.when(F.col("__ended"), F.col(f"__{c}")).otherwise(F.col(c)).alias(c)
                for c in outcome
            ],
        )
        self._commit(updated, f"update:{run_id}:{status}:{now.isoformat()}")

    # --- queries (W2, A4) ---------------------------------------------------

    def last_run(self) -> dict | None:
        """W2: ORDER BY start_time DESC LIMIT 1 (pipeline_metadata.py:267-275)."""
        rows = self._runs().orderBy(F.desc("start_time")).limit(1).collect()
        return rows[0].asDict() if rows else None

    def stats(self, days: int = 7) -> dict:
        """A4: counts + conditional counts + avg duration over a
        trailing window (pipeline_metadata.py:288-326)."""
        runs = self._runs().filter(
            F.col("start_time") >= F.lit(_dt.datetime.utcnow() - _dt.timedelta(days=days))
        )
        row = runs.agg(
            F.count(F.lit(1)).alias("total_runs"),
            F.count(F.when(F.col("status") == "completed", 1)).alias("successful_runs"),
            F.count(F.when(F.col("status") == "failed", 1)).alias("failed_runs"),
            F.avg(
                F.unix_timestamp("end_time") - F.unix_timestamp("start_time")
            ).alias("avg_duration_sec"),
            F.sum("records_processed").alias("total_records_processed"),
            F.max("end_time").alias("last_completion"),
        ).collect()[0]
        return row.asDict()

    def kpis(
        self,
        watermark: _dt.datetime | None = None,
        now: _dt.datetime | None = None,
        days: int = 7,
    ) -> dict:
        """The reference's monitoring KPI set (README.md:752-762) with
        its alert thresholds (README.md:780-785), computed from the run
        table + the high watermark:

        - sustained throughput (records/s over completed-run wall time;
          true row counts from performance_metrics.rows_loaded — the
          run table's records_* columns carry BATCH counts historically,
          reported separately as batch_* figures)
        - batch processing p95 (alert > 120 s)
        - duplicate/replay rate (skipped re-deliveries / processed;
          target < 0.01%) — replays are records_processed −
          records_successful by the loader's accounting
        - failed-record rate (target < 0.001%)
        - watermark lag (target < 60 s, alert > 300 s)

        The percentile is exact — the run table is runs-sized, never
        data-sized, so this is a driver-cheap report at any scale."""
        now = now or _dt.datetime.utcnow()
        runs = self._runs().filter(
            (F.col("status") == "completed")
            & (F.col("start_time") >= F.lit(now - _dt.timedelta(days=days)))
        )
        row = runs.agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("records_successful").alias("ok"),
            F.sum("records_processed").alias("seen"),
            F.sum("records_failed").alias("failed"),
            F.sum(
                F.unix_timestamp("end_time") - F.unix_timestamp("start_time")
            ).alias("wall"),
            F.expr(
                "percentile(unix_timestamp(end_time) - unix_timestamp(start_time), 0.95)"
            ).alias("p95"),
            F.sum(
                F.get_json_object("performance_metrics", "$.rows_loaded").cast("long")
            ).alias("rows"),
        ).collect()[0]
        ok = int(row["ok"] or 0)
        seen = int(row["seen"] or 0)
        wall = int(row["wall"] or 0)
        rows_loaded = int(row["rows"] or 0)
        kpis = {
            "runs_7d": int(row["n_runs"] or 0),
            "rows_loaded_7d": rows_loaded,
            "sustained_throughput_rps": (
                round(rows_loaded / wall, 2) if wall and rows_loaded else None
            ),
            "batch_throughput_per_min": round(ok * 60 / wall, 2) if wall else None,
            "batch_processing_p95_sec": round(float(row["p95"]), 2) if row["p95"] is not None else None,
            "duplicate_batch_rate": round((seen - ok) / seen, 6) if seen else None,
            "failed_batch_rate": round(int(row["failed"] or 0) / seen, 6) if seen else None,
            "watermark_lag_sec": (
                round((now - watermark).total_seconds(), 1) if watermark else None
            ),
        }
        alerts = []
        if kpis["batch_processing_p95_sec"] is not None and kpis["batch_processing_p95_sec"] > 120:
            alerts.append("batch_processing_p95_sec > 120")
        if kpis["watermark_lag_sec"] is not None and kpis["watermark_lag_sec"] > 300:
            alerts.append("watermark_lag_sec > 300")
        if kpis["duplicate_batch_rate"] is not None and kpis["duplicate_batch_rate"] > 0.0001:
            alerts.append("duplicate_batch_rate > 0.01%")
        if kpis["failed_batch_rate"] is not None and kpis["failed_batch_rate"] > 0.00001:
            alerts.append("failed_batch_rate > 0.001%")
        kpis["alerts"] = alerts
        return kpis

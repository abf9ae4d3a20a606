"""Pipeline-run metadata — re-expresses pipeline_metadata.py (332 LoC of
psycopg2) as an append-only VersionedTable of run events + pure
DataFrame stats.

Statuses follow the reference's CHECK constraint plus the loader's
extra value: running / completed / failed / cancelled /
completed_with_errors (pipeline_metadata.py:74, scd2_loader.py:622).

The reference INSERTs a row when a run starts and UPDATEs it when the
run ends. Here each of those writes is one event row, written by
pyarrow on the driver into a hidden stage and adopted as a new append
segment (a filesystem move), so a load run launches no Spark job for
its metadata. Reads fold the events into one row per run, the way
Structured Streaming's file-sink log is replayed: ``pipeline_name``
and ``start_time`` from the run's start event, every outcome field from
its newest event. Events are ordered by ``seq``, the table version each
was appended as, never by wall clock, so a host clock that steps back
cannot fold a finished run back to ``running``. Once the latest version
holds more than ``_MAX_SEGMENTS`` segments, the next append first
commits the folded runs as one segment (the bound
``SCD2DimStore.compact_history`` keeps), and every append vacuums the
table to its newest two versions, so disk and pointer stay bounded.
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cdc_historical_warehouse_platform_spark.schemas import PIPELINE_METADATA_SCHEMA
from cdc_historical_warehouse_platform_spark.session import empty_frame
from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable, fresh_stage

__all__ = ["PipelineMetadataManager"]

# an event is a run row with every field nullable (an update event has
# no start fields) plus the sequence number that orders a run's events
_EVENT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in PIPELINE_METADATA_SCHEMA.fields]
    + [T.StructField("seq", T.LongType(), True)]
)
# timestamps as UTC instants, which Spark reads back as TimestampType
_ARROW_EVENT_SCHEMA = to_arrow_schema(_EVENT_SCHEMA, timestamp_utc=True)
_START_FIELDS = ("pipeline_name", "start_time")
_MAX_SEGMENTS = 32


class PipelineMetadataManager:
    def __init__(self, spark: SparkSession, path: str | Path, pipeline_name: str = "scd2_loader"):
        self.spark = spark
        self.table = VersionedTable(path)
        self.pipeline_name = pipeline_name

    # --- the event table ------------------------------------------------------

    def _folded(self) -> pa.Table | None:
        """One row per run at the event schema, ``seq`` its newest
        event's; None before the first event. A run with no start event
        is left out, as the reference's UPDATE of an unknown run
        changes nothing."""
        if not self.table.exists():
            return None
        files = [str(f) for d in self.table.segment_dirs() for f in d.glob("*.parquet")]
        events = pq.read_table(files, schema=_ARROW_EVENT_SCHEMA).sort_by("seq")
        # "last" in seq order: start fields skip the update events' nulls,
        # outcome fields take the newest event's value, null or not
        newest = pc.ScalarAggregateOptions(skip_nulls=False)
        started = pc.ScalarAggregateOptions(skip_nulls=True)
        fields = _ARROW_EVENT_SCHEMA.names[1:]
        runs = events.group_by("run_id", use_threads=False).aggregate(
            [(c, "last", started if c in _START_FIELDS else newest) for c in fields]
        )
        runs = pa.table(
            [runs["run_id"], *(runs[f"{c}_last"] for c in fields)], schema=_ARROW_EVENT_SCHEMA
        )
        return runs.filter(pc.is_valid(runs["start_time"]))

    def _adopt(self, rows: pa.Table, adopt) -> None:
        """Write ``rows`` into a fresh stage with pyarrow and hand it to
        ``adopt`` (the table's ``append_dir`` or ``commit_dir``): no
        Spark job, and readers never see a half-written file."""
        stage = fresh_stage(self.table.path)
        stage.mkdir()
        pq.write_table(rows, stage / "part-0.parquet")
        adopt(stage, _EVENT_SCHEMA.json(), _EVENT_SCHEMA.names)

    def _append(self, event: dict) -> None:
        if self.table.exists() and len(self.table.segment_dirs()) > _MAX_SEGMENTS:
            self._adopt(self._folded(), self.table.commit_dir)
        row = {**event, "seq": self.table.version() + 1}
        self._adopt(pa.Table.from_pylist([row], _ARROW_EVENT_SCHEMA), self.table.append_dir)
        self.table.vacuum(keep_last=2)

    def _runs(self) -> DataFrame:
        runs = self._folded()
        if runs is None:
            return empty_frame(self.spark, PIPELINE_METADATA_SCHEMA)
        # Arrow rows travel as a JVM-side LocalRelation: no Python worker
        return self.spark.createDataFrame(runs.drop_columns("seq"), PIPELINE_METADATA_SCHEMA)

    # --- lifecycle (pipeline_metadata.py:112-253) ---------------------------
    # A naive datetime is local time to pyspark, but Arrow would store
    # its wall clock as UTC, so both events hand Arrow UTC instants.

    def start_run(self, run_id: str | None = None, now: _dt.datetime | None = None) -> str:
        run_id = run_id or f"{self.pipeline_name}_{uuid.uuid4().hex[:12]}"
        self._append(
            {
                "run_id": run_id,
                "pipeline_name": self.pipeline_name,
                "start_time": (now or _dt.datetime.utcnow()).astimezone(_dt.timezone.utc),
                "status": "running",
                "records_processed": 0,
                "records_successful": 0,
                "records_failed": 0,
            }
        )
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
        """Record the run's outcome fields; its start_time and
        pipeline_name stay as its start event has them."""
        self._append(
            {
                "run_id": run_id,
                "end_time": (now or _dt.datetime.utcnow()).astimezone(_dt.timezone.utc),
                "status": status,
                "records_processed": records_processed,
                "records_successful": records_successful,
                "records_failed": records_failed,
                "error_message": error_message,
                "performance_metrics": (
                    json.dumps(performance_metrics) if performance_metrics else None
                ),
            }
        )

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

"""CDC change detection — timestamp/high-watermark extraction as a library.

Re-expresses the reference's extractor loop
(``/root/reference/src/cdc/log_extractor.py:108-174``) as pure
DataFrame transformations:

- **S1** timestamp-delta scan: rows with ``last_updated > wm OR
  created_at > wm`` (log_extractor.py:139) — a disjunctive range
  predicate Catalyst pushes into the parquet scan.
- **P6** op-type classification: ``INSERT`` if ``created_at > wm`` else
  ``UPDATE`` (log_extractor.py:156-160).
- **P7** metadata stamping: ``cdc_timestamp`` / ``extracted_at``
  (log_extractor.py:162-164). Stamped from a *driver-supplied* instant
  so a batch is reproducible (the reference stamps per-row
  ``datetime.now`` which is nondeterministic under retry).
- **A5** watermark advance: ``max(last_updated)`` over the batch
  (log_extractor.py:253-259).

In streaming deployments the watermark state is the Structured
Streaming checkpoint (ST1) and this module's batch functions run inside
``foreachBatch``; see streaming/pipeline.py.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "detect_changes",
    "classify_operation",
    "next_watermark",
    "watermark_column",
    "DEFAULT_LOOKBACK",
]

# First-run watermark = now - 5 minutes (log_extractor.py:94-97).
DEFAULT_LOOKBACK = _dt.timedelta(minutes=5)


def classify_operation(
    df: DataFrame, watermark: _dt.datetime, created_col: str = "created_at"
) -> DataFrame:
    """P6: rows created after the watermark are INSERTs, the rest UPDATEs."""
    return df.withColumn(
        "operation_type",
        F.when(F.col(created_col) > F.lit(watermark), F.lit("INSERT")).otherwise(
            F.lit("UPDATE")
        ),
    )


def detect_changes(
    source: DataFrame,
    watermark: _dt.datetime,
    extracted_at: _dt.datetime | None = None,
    updated_col: str = "last_updated",
    created_col: str = "created_at",
) -> DataFrame:
    """S1 + P6 + P7: snapshot of changed rows with CDC metadata columns.

    The filter is a plain column predicate → pushed down to the source
    scan (verify with ``.explain``: shows up under ``PushedFilters`` for
    parquet). Deterministic ordering (``ORDER BY last_updated, id``,
    log_extractor.py:140) is applied by the batch-file sink, not here —
    a global sort is a range shuffle and only the sink needs it.
    """
    changed = source.filter(
        (F.col(updated_col) > F.lit(watermark))
        | (F.col(created_col) > F.lit(watermark))
    )
    changed = classify_operation(changed, watermark, created_col)
    stamp = F.lit(extracted_at) if extracted_at is not None else F.current_timestamp()
    return changed.withColumn(
        "cdc_timestamp", F.col(updated_col).cast("timestamp")
    ).withColumn("extracted_at", stamp.cast("timestamp"))


def watermark_column(
    changes: DataFrame,
    updated_col: str = "last_updated",
    event_col: str | None = None,
) -> Column:
    """A5's per-row event time: ``updated_col``, or the ``greatest`` of
    it and ``event_col`` when that column is present in the batch. Its
    ``max`` over a batch is the next watermark (:func:`next_watermark`)."""
    ts = F.col(updated_col).cast("timestamp")
    if event_col is not None and event_col in changes.columns:
        ts = F.greatest(ts, F.col(event_col).cast("timestamp"))
    return ts


def next_watermark(
    changes: DataFrame,
    updated_col: str = "last_updated",
    event_col: str | None = None,
):
    """A5: max event time over the extracted batch, or None if empty.

    ``event_col`` (when present in the batch, e.g. ``cdc_timestamp``)
    participates via ``greatest``: tombstone rows carry their pre-delete
    ``last_updated`` but a ``cdc_timestamp`` = ``deleted_at``, and the
    watermark must clear BOTH or a delete newer than the latest update
    is re-extracted every cycle (reference advances over all extracted
    event times, log_extractor.py:253-261).
    """
    ts = watermark_column(changes, updated_col, event_col)
    row = changes.agg(F.max(ts).alias("wm")).collect()[0]
    return row["wm"]

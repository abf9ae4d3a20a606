"""SCD2 (type-2 slowly-changing-dimension) merge — the flagship operator.

Re-expresses the reference's row-at-a-time loader
(``/root/reference/src/warehouse/scd2_loader.py:286-548``) as ONE
declarative, fully-distributed DataFrame transformation:

    new_dim = scd2_merge(dim, changes, batch_id)

Reference semantics preserved (SURVEY.md §2.10):

- **Latest-per-key dedup (W1)** — within a batch only the change with the
  greatest ``cdc_timestamp`` per business key is applied
  (scd2_loader.py:525-531).
- **Change suppression (P8)** — an INSERT/UPDATE whose tracked columns
  all equal the current version is a no-op (scd2_loader.py:343-354),
  which also subsumes duplicate-redelivery of a single change
  (scd2_loader.py:300-307).
- **Advisory op-types with reroutes** — INSERT onto an existing key acts
  as UPDATE (scd2_loader.py:308-311); UPDATE onto a missing key acts as
  INSERT (scd2_loader.py:336-340); ``UPSERT`` (the extractor's native
  label, log_extractor.py:135) behaves like either. The op code is a
  *hint*, the current-row join decides the action.
- **DELETE expires only** — the current version gets
  ``valid_to = cdc_timestamp, is_current = false``; no tombstone row;
  deleting a missing key succeeds silently (scd2_loader.py:409-446).
- **Atomic expire+insert** — the expired predecessor's ``valid_to``
  equals the successor's ``valid_from`` to the microsecond
  (technical_audit.py:512-643); both rows come out of one
  transformation so there is no intermediate zero-current state
  (technical_audit.py:177-319).
- **Surrogate key** — no SERIAL in Spark: ``xxhash64(order_key,
  valid_from)``, deterministic and collision-safe per (key, version).

Scale notes (100 TB posture):

- The only shuffle is the equi-join of the deduped batch against the
  *current slice* of the dimension on the business key; historical rows
  are never joined, only unioned back untouched (no shuffle — union is
  a plan concatenation in Spark).
- A CDC micro-batch is small relative to the dimension, so the batch
  side is broadcast when under the threshold; the dimension is never
  collected or broadcast.
- With the dimension stored partitioned/bucketed by ``order_key``
  (see sources/tables.py) the join co-locates and AQE handles skew.
- Change comparison uses one ``xxhash64`` over tracked columns instead
  of N column comparisons — one codegen'd expression, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.session import empty_frame

__all__ = [
    "BUSINESS_KEY",
    "CHANGE_KEY",
    "TRACKED_COLUMNS",
    "PART_COLUMN",
    "dedupe_latest_per_key",
    "scd2_merge",
    "scd2_merge_tagged",
    "scd2_build_from_change_log",
    "empty_dim",
]

BUSINESS_KEY = "order_key"
# The change record's key column; the merge stores it as BUSINESS_KEY.
CHANGE_KEY = "id"

# Columns whose change forces a new version (scd2_loader.py:343-350
# compares every payload column of the row image).
TRACKED_COLUMNS = (
    "customer_id",
    "product_id",
    "quantity",
    "unit_price",
    "total_amount",
    "order_status",
    "order_date",
)

# Payload carried into each dim version (FIXTURES.md §1.3).
_PAYLOAD_COLUMNS = TRACKED_COLUMNS

_OP_PRIORITY = {"DELETE": 3, "UPDATE": 2, "UPSERT": 2, "INSERT": 1}


def _op_priority(col: Column) -> Column:
    """Deterministic tiebreak when two changes share a cdc_timestamp:
    later lifecycle op wins (the reference relies on file order, which a
    distributed engine must not)."""
    expr = F.lit(0)
    for op, pri in _OP_PRIORITY.items():
        expr = F.when(col == op, F.lit(pri)).otherwise(expr)
    return expr


def dedupe_latest_per_key(
    changes: DataFrame,
    key: str = CHANGE_KEY,
    ts: str = "cdc_timestamp",
) -> DataFrame:
    """W1: keep only the latest change per business key.

    The canonical Spark pattern for scd2_loader.py:512-531 —
    ``row_number`` over a per-key descending-timestamp window. Map-side
    partial work is not possible for row_number, but AQE coalesces the
    single shuffle on ``key``; at 100 TB this is one hash exchange of
    the (small) micro-batch, never of the dimension.
    """
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc(),
        _op_priority(F.col("operation_type")).desc(),
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _tracked_hash(prefix: str = "") -> Column:
    """Single-expression change detector: null-safe 64-bit hash of all
    tracked columns (P8; replaces scd2_loader.py:343-354's per-column
    Python compare with one codegen'd expression)."""
    cols = [
        F.coalesce(F.col(prefix + c).cast("string"), F.lit("\u0000NULL"))
        for c in _PAYLOAD_COLUMNS
    ]
    return F.xxhash64(*cols)


def _surrogate_key(key: Column, valid_from: Column) -> Column:
    """Deterministic per-version surrogate (SURVEY.md §4 gap (2))."""
    return F.xxhash64(key.cast("string"), valid_from.cast("string"))


def empty_dim(spark, schema=None) -> DataFrame:
    """An empty dimension with the canonical schema."""
    from cdc_historical_warehouse_platform_spark.schemas import DIM_HISTORY_SCHEMA

    return empty_frame(spark, schema or DIM_HISTORY_SCHEMA)


def scd2_merge(
    dim: DataFrame,
    changes: DataFrame,
    batch_id: str | None = None,
) -> DataFrame:
    """Apply one CDC batch to the dimension, returning the new dimension.

    Pure transformation: no writes, no collects; compose with the table
    layer for persistence. Equivalent to one Delta ``MERGE INTO`` with
    the expire-row/insert-row staging trick (SURVEY.md §2.10), built
    from primitives so it runs on vanilla Spark.

    The history partition passes through untouched — storage layers that
    keep history append-only (sources/dim_store.SCD2DimStore) should
    call :func:`scd2_merge_tagged` on the current slice instead and
    never materialize it.
    """
    current = dim.filter(F.col("is_current"))
    historical = dim.filter(~F.col("is_current"))
    tagged = scd2_merge_tagged(current, changes, batch_id)
    return historical.unionByName(tagged.drop(PART_COLUMN))


PART_COLUMN = "__part"


def scd2_merge_tagged(
    current: DataFrame,
    changes: DataFrame,
    batch_id: str | None = None,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Single-probe merge: the current slice is scanned ONCE.

    Returns one DataFrame in dim schema plus a ``__part`` tag
    (``'current'`` / ``'expired'``). Every current row enters exactly
    one left join against the broadcast micro-batch and emits 0–2
    output rows inline (untouched / expired / successor version) via an
    array+explode — no second expire join against the current slice
    (the r3 plan probed it twice: once for the hash compare, once to
    expire; on a 100 TB dimension the current slice is the dominant
    input, so halving its reads halves per-batch I/O).

    Brand-new keys (in the batch, absent from the dimension) cannot
    come out of a left join that preserves the current side, and a full
    outer join cannot broadcast (Spark falls back to shuffling the
    dimension — strictly worse). They enter through a key-membership
    subtree instead: a broadcast semi-join that reads ONLY the business
    key column of the current slice (parquet column pruning makes this
    a ~1% skinny scan, not a second full pass), then a broadcast
    anti-join of the micro-batch against the (tiny) matched-key set.

    A storage layer that writes this tagged output once — e.g. one
    ``partitionBy(__part)`` job (SCD2DimStore.apply_batch) — pays one
    wide scan + one key-column scan per batch, total.

    ``hint_broadcast`` (default True) is the MICRO-BATCH contract: the
    batch side is force-broadcast so the dimension is never shuffled —
    not even the shuffle-write AQE's runtime broadcast conversion
    would still pay. Pass False when the batch may be dimension-sized
    (a bulk seed of an empty store — SCD2DimStore does this
    automatically for its first-ever batch): forcing a broadcast of a
    20M-row batch OOMs the driver, while the unhinted plan lets
    Catalyst/AQE fall back to a shuffle join. Bulk HISTORY loads
    should use :func:`scd2_build_from_change_log` instead.
    """
    maybe_bcast = F.broadcast if hint_broadcast else (lambda df: df)
    latest = dedupe_latest_per_key(changes)

    # Stage the batch in __b_-prefixed vocabulary so join output is
    # unambiguous next to the dim columns.
    staged = latest.select(
        F.col(CHANGE_KEY).cast("long").alias("__b_key"),
        *[F.col(c).alias(f"__b_{c}") for c in _PAYLOAD_COLUMNS],
        F.col("operation_type").alias("__b_operation_type"),
        F.col("cdc_timestamp").alias("__b_cdc_timestamp"),
    ).withColumn("__b_hash", _tracked_hash("__b_"))

    dim_cols = list(current.columns)

    # J1: current slice ⟕ broadcast(batch) — the ONE wide probe.
    joined = current.join(
        maybe_bcast(staged),
        current[BUSINESS_KEY] == staged["__b_key"],
        "left_outer",
    )

    is_delete = F.col("__b_operation_type") == "DELETE"
    has_match = F.col("__b_key").isNotNull()
    is_changed = F.col("__b_hash") != _tracked_hash()
    # Late-event guard (mirrors the streaming path's older-than-state
    # skip): a change older than the current version's valid_from is an
    # out-of-order replay — applying it would expire the newer row with
    # valid_to < valid_from and install a stale image as current.
    # Ordered feeds (the extractor's watermark) never produce this.
    is_late = F.col("__b_cdc_timestamp") < F.col("valid_from")

    def _row(part: str, overrides: dict[str, Column]) -> Column:
        return F.struct(
            *[overrides.get(c, F.col(c)).alias(c) for c in dim_cols],
            F.lit(part).alias(PART_COLUMN),
        )

    untouched = _row("current", {})
    expired = _row(
        "expired",
        {
            "valid_to": F.col("__b_cdc_timestamp"),
            "is_current": F.lit(False),
        },
    )
    successor = _row(
        "current",
        {
            **{c: F.col(f"__b_{c}") for c in _PAYLOAD_COLUMNS},
            "valid_from": F.col("__b_cdc_timestamp"),
            "valid_to": F.lit(None).cast("timestamp"),
            "is_current": F.lit(True),
            "cdc_operation": F.col("__b_operation_type"),
            "cdc_timestamp": F.col("__b_cdc_timestamp"),
            "batch_id": F.lit(batch_id).cast("string"),
            "surrogate_key": _surrogate_key(
                F.col(BUSINESS_KEY), F.col("__b_cdc_timestamp")
            ),
        },
    )

    emit = (
        F.when(~has_match | is_late, F.array(untouched))
        .when(is_delete, F.array(expired))
        .when(is_changed, F.array(expired, successor))
        .otherwise(F.array(untouched))  # P8 no-op: identical tracked columns
    )
    from_current = joined.select(F.explode(emit).alias("__row")).select("__row.*")

    # Brand-new keys: batch rows whose key has no current version.
    # ``matched`` reads only the business-key column of the dimension
    # (skinny scan) and is at most |batch| rows — broadcastable.
    matched = current.select(F.col(BUSINESS_KEY).alias("__b_key")).join(
        maybe_bcast(staged.select("__b_key")), "__b_key", "left_semi"
    )
    inserts = (
        staged.join(maybe_bcast(matched), "__b_key", "left_anti")
        # DELETE of a missing key succeeds silently (scd2_loader.py:441-446)
        .filter(F.col("__b_operation_type") != "DELETE")
        .select(
            F.col("__b_key").alias(BUSINESS_KEY),
            *[F.col(f"__b_{c}").alias(c) for c in _PAYLOAD_COLUMNS],
            F.col("__b_cdc_timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
            F.col("__b_operation_type").alias("cdc_operation"),
            F.col("__b_cdc_timestamp").alias("cdc_timestamp"),
            F.lit(batch_id).cast("string").alias("batch_id"),
        )
        .withColumn(
            "surrogate_key", _surrogate_key(F.col(BUSINESS_KEY), F.col("valid_from"))
        )
        .withColumn(PART_COLUMN, F.lit("current"))
        .select(*dim_cols, PART_COLUMN)
    )

    # Union is plan concatenation — no shuffle.
    return from_current.unionByName(inserts)


def scd2_build_from_change_log(
    changes: DataFrame,
    business_key: str = "id",
    batch_id: str | None = None,
) -> DataFrame:
    """Build a full SCD2 history from an *entire* ordered change log in
    one pass (no per-batch loop) — the scalable path for backfills.

    Each key's changes are sequenced by ``cdc_timestamp``; every
    non-DELETE change opens a version whose ``valid_to`` is the next
    change's timestamp (``lead``), and DELETE closes the chain. This is
    the set-based equivalent of replaying every micro-batch through
    :func:`scd2_merge` when each batch contains one change per key, and
    is how a 100 TB initial load should be done: one shuffle on the
    business key, then pure window functions.

    Change suppression (P8) is applied sequence-wise: a change whose
    tracked columns equal its predecessor's is dropped before
    versioning (matches repeated-delivery semantics).
    """
    # Materialize the tiebreak priority once: window specs that share
    # identical (partition, order) expressions reuse ONE sort; inlining
    # _op_priority would make each window a distinct sort pass.
    changes = changes.withColumn("__prio", _op_priority(F.col("operation_type")))
    w = Window.partitionBy(business_key).orderBy(
        F.col("cdc_timestamp").asc(), F.col("__prio").asc()
    )

    seq = changes.withColumn("__h", _tracked_hash()).withColumn(
        "__prev_h", F.lag("__h").over(w)
    ).withColumn("__prev_op", F.lag("operation_type").over(w))

    # Keep: first change per key, any DELETE of a live chain, and any
    # change that differs from its predecessor (or follows a DELETE —
    # re-insert after delete opens a new version).
    keep = seq.filter(
        F.col("__prev_h").isNull()
        | (F.col("operation_type") == "DELETE")
        | (F.col("__h") != F.col("__prev_h"))
        | (F.col("__prev_op") == "DELETE")
    )

    versioned = (
        keep.withColumn("__next_ts", F.lead("cdc_timestamp").over(w))
        .filter(F.col("operation_type") != "DELETE")
        .select(
            F.col(business_key).cast("long").alias(BUSINESS_KEY),
            *[F.col(c) for c in _PAYLOAD_COLUMNS],
            F.col("cdc_timestamp").alias("valid_from"),
            F.col("__next_ts").alias("valid_to"),
            F.col("__next_ts").isNull().alias("is_current"),
            F.col("operation_type").alias("cdc_operation"),
            F.col("cdc_timestamp"),
            F.lit(batch_id).cast("string").alias("batch_id"),
        )
        .withColumn(
            "surrogate_key", _surrogate_key(F.col(BUSINESS_KEY), F.col("valid_from"))
        )
    )
    from cdc_historical_warehouse_platform_spark.schemas import DIM_HISTORY_SCHEMA

    return versioned.select(*[f.name for f in DIM_HISTORY_SCHEMA.fields])

"""Incremental aggregate maintenance from CDC batches (delta aggregation).

A warehouse keeps summary tables (revenue per customer, order counts)
next to the SCD2 dimension. Recomputing them scans the whole current
slice every batch; this operator maintains them from the batch DELTAS
instead — per-batch cost O(batch + affected groups), independent of
dimension size. The reference recomputes its reports from the full
dimension on every run (verify_scd2.py:283-343 report queries); this is
the incremental-view-maintenance upgrade of those same reports, and the
natural companion to the CDC pipeline: the change feed that maintains
the dimension maintains its rollups too.

Semantics are in lockstep with scd2_merge_tagged (operators/scd2.py):
latest-per-key dedup, advisory op reroutes (INSERT onto an existing key
updates; UPDATE onto a missing key inserts), DELETE removes the current
contribution, and the late-event guard skips changes older than the
current version's ``valid_from`` (a NULL on either side is not late, as
in the merge). No-op updates need no special case — their −old/+new
contributions cancel exactly, counts included. Every maintainer reads
the same columns: the change key ``id``, the group ``customer_id`` and
the measure ``total_amount`` (NULL counts as 0).

Measures aggregate in DECIMAL, so the maintained value is bit-equal to
a from-scratch recompute in ANY engine regardless of how the history
was batched or ordered. The maintenance invariant (pinned by pytest
property tests and the ``scd2_incremental_revenue`` driver oracle)::

    maintain(S_{k-1}, current_{k-1}, batch_k)
      == group_summary(current_k)            -- for every prefix k

Scale shape: ONE batch probe of a column-pruned current slice
(business key, group, measure, valid_from — a skinny parquet scan, the
same trick as scd2_merge_tagged's key-membership subtree), batch-local
work for everything else, and a summary upsert that joins
summary-sized inputs only — the wide dimension is never rescanned and
never shuffled. The sum and extrema maintainers build that probe and
its late guard in one helper (``_probe``). The per-customer summary is
the per-(customer, bucket) histogram summed over buckets, so
``maintain_summary_and_histogram`` advances both from one probe: the
histogram's delta, and that delta summed by customer.

``hint_broadcast`` (default True, mirroring scd2_merge_tagged's
micro-batch contract) force-broadcasts every batch-derived probe side
so the dimension side is never shuffled. Pass False when a "batch" may
be dimension-sized — a bulk seed/backfill wave: the forced hint
overrides AQE's sizing and a 50M-row broadcast OOMs the driver (found
by the r12 sf10 rehearsal at 100x data), while the unhinted plan lets
AQE broadcast small batches at runtime (64 MB threshold) and fall back
to a shuffle join for bulk ones — the graceful-degradation plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_historical_warehouse_platform_spark.operators.scd2 import (
    BUSINESS_KEY,
    CHANGE_KEY,
    dedupe_latest_per_key,
)
from cdc_historical_warehouse_platform_spark.session import empty_frame

__all__ = [
    "SUMMARY_MEASURE_TYPE",
    "empty_summary",
    "group_summary",
    "summary_delta",
    "apply_summary_delta",
    "maintain_group_summary",
    "group_extrema",
    "maintain_group_extrema",
    "histogram_bucket",
    "histogram_bucket_sql",
    "empty_histogram",
    "group_histogram",
    "maintain_group_histogram",
    "maintain_summary_and_histogram",
    "unpack_histogram",
    "histogram_quantile",
]

# Wide enough that no realistic corpus overflows a per-group sum of
# DECIMAL(10,2) measures; kept identical across the recompute twin, the
# delta path, and the DuckDB oracle so every engine agrees bit-for-bit.
SUMMARY_MEASURE_TYPE = "decimal(28,2)"
_SUM_TYPE = "decimal(38,2)"  # Spark's SUM(decimal(28,2)) result type

# The group and the order value every rollup reads.
_GROUP_COL = "customer_id"
_GROUP_FIELD = T.StructField(_GROUP_COL, T.IntegerType(), True)
_MEASURE_COL = "total_amount"
# The histogram's composite (group, bucket) key and its default buckets.
_HIST_KEY = "__hist_key"
_HIST_LO, _HIST_HI, _HIST_NB = 0.0, 6_000_000.0, 24


def _summary_schema(group_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            group_field,
            T.StructField("n_orders", T.LongType(), False),
            T.StructField("measure_sum", T.DecimalType(38, 2), True),
        ]
    )


def empty_summary(spark: SparkSession) -> DataFrame:
    """An empty maintained summary (customer_id, n_orders, measure_sum)."""
    return empty_frame(spark, _summary_schema(_GROUP_FIELD))


def _measure() -> Column:
    """The order value every rollup aggregates, NULL as 0."""
    return F.coalesce(F.col(_MEASURE_COL), F.lit(0)).cast(SUMMARY_MEASURE_TYPE)


def group_summary(current: DataFrame, group_col: str = _GROUP_COL) -> DataFrame:
    """From-scratch summary over the current slice — the recompute twin
    the incremental path must equal (and the bootstrap for adopting an
    existing dimension into maintenance)."""
    return current.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_measure()).alias("measure_sum"),
    )


def _probe(current: DataFrame, changes: DataFrame, group_col: str, hint_broadcast: bool):
    """``(staged, cur_slim, matched, maybe_bcast)``: the latest change
    per key as ``__b_*`` columns, the column-pruned current slice as
    ``__c_*`` columns, their one broadcast-batch inner probe, and the
    hint. ``matched.__late`` is the merge's late guard, never NULL: a
    NULL timestamp is not late, since scd2_merge_tagged applies it."""
    latest = dedupe_latest_per_key(changes)
    # Pinned: the staged batch feeds several delta branches, and without
    # the pin its latest-per-key window re-runs once per branch (sf1
    # rehearsal, revenue batch: 7.4 s pinned vs 11.7 s unpinned).
    # Batch-sized, so the checkpoint is bounded at any scale.
    staged = latest.select(
        F.col(CHANGE_KEY).cast("long").alias("__b_key"),
        F.col(group_col).alias("__b_group"),
        _measure().alias("__b_measure"),
        F.col("operation_type").alias("__b_op"),
        F.col("cdc_timestamp").alias("__b_ts"),
    ).localCheckpoint(eager=False)
    cur_slim = current.select(
        F.col(BUSINESS_KEY).alias("__c_key"),
        F.col(group_col).alias("__c_group"),
        _measure().alias("__c_measure"),
        F.col("valid_from").alias("__c_from"),
    )
    maybe_bcast = F.broadcast if hint_broadcast else (lambda df: df)
    # The one probe of the (column-pruned) current slice.
    matched = cur_slim.join(
        maybe_bcast(staged), F.col("__c_key") == F.col("__b_key"), "inner"
    ).withColumn(
        "__late", F.coalesce(F.col("__b_ts") < F.col("__c_from"), F.lit(False))
    )
    return staged, cur_slim, matched, maybe_bcast


def summary_delta(
    current: DataFrame,
    changes: DataFrame,
    group_col: str = _GROUP_COL,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Per-group (Δcount, Δsum) of ONE CDC batch against the PRE-batch
    current slice (the same input the merge itself sees).

    Three algebraic terms, arranged so the current slice is probed
    exactly ONCE (no anti-join — an anti against "matched keys" would
    re-evaluate the probe subtree and scan the slice a second time):

    - ``+new`` for EVERY non-DELETE batch row — batch-local, no scan;
      brand-new keys are covered here for free;
    - ``−old`` for every matched, non-late row — from the single
      broadcast-batch inner probe of the column-pruned slice;
    - ``−new`` correction for matched LATE non-DELETE rows (their
      ``+new`` above must be revoked: the merge treats them as no-ops)
      — from the same probe relation.

    Updates that move a row between groups transfer it, no-ops cancel
    exactly, deletes subtract, late events net to zero, and DELETEs of
    missing keys fall out silently — all matching the merge."""
    staged, _, matched, _ = _probe(current, changes, group_col, hint_broadcast)
    plus_all = staged.filter(F.col("__b_op") != "DELETE").select(
        F.col("__b_group").alias(group_col),
        F.lit(1).cast("long").alias("__dn"),
        F.col("__b_measure").alias("__dm"),
    )
    minus_old = matched.filter(~F.col("__late")).select(
        F.col("__c_group").alias(group_col),
        F.lit(-1).cast("long").alias("__dn"),
        (-F.col("__c_measure")).cast(SUMMARY_MEASURE_TYPE).alias("__dm"),
    )
    revoke_late = matched.filter(F.col("__late") & (F.col("__b_op") != "DELETE")).select(
        F.col("__b_group").alias(group_col),
        F.lit(-1).cast("long").alias("__dn"),
        (-F.col("__b_measure")).cast(SUMMARY_MEASURE_TYPE).alias("__dm"),
    )
    return (
        plus_all.unionByName(minus_old)
        .unionByName(revoke_late)
        .groupBy(group_col)
        .agg(
            F.sum("__dn").alias("__dn"),
            F.sum("__dm").cast(_SUM_TYPE).alias("__dm"),
        )
    )


def apply_summary_delta(
    summary: DataFrame, delta: DataFrame, group_col: str = _GROUP_COL
) -> DataFrame:
    """Upsert the per-group delta into the maintained summary: full
    outer on the group key (summary-sized inputs only), coalesce-add,
    and drop groups whose last order was deleted — so the maintained
    table stays row-identical to a GROUP BY recompute.

    The join is NULL-SAFE (``eqNullSafe``): GROUP BY treats NULL as
    one ordinary group, so the upsert must merge the summary's NULL
    row with the delta's NULL row — a plain-equality join would append
    a fresh NULL row every batch and silently break the recompute
    invariant for any nullable ``group_col``."""
    s = summary.select(
        F.col(group_col).alias("__s_g"),
        F.col("n_orders").alias("__s_n"),
        F.col("measure_sum").alias("__s_m"),
    )
    d = delta.select(
        F.col(group_col).alias("__d_g"), F.col("__dn"), F.col("__dm")
    )
    zero = F.lit(0).cast(_SUM_TYPE)
    return (
        s.join(d, F.col("__s_g").eqNullSafe(F.col("__d_g")), "full_outer")
        .select(
            F.coalesce(F.col("__s_g"), F.col("__d_g")).alias(group_col),
            (F.coalesce(F.col("__s_n"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce(F.col("__s_m"), zero) + F.coalesce(F.col("__dm"), zero))
            .cast(_SUM_TYPE)
            .alias("measure_sum"),
        )
        .filter(F.col("n_orders") > 0)
    )


def maintain_group_summary(
    summary: DataFrame,
    current: DataFrame,
    changes: DataFrame,
    hint_broadcast: bool = True,
) -> DataFrame:
    """One maintenance step: S_k = apply(S_{k-1}, Δ(current_{k-1}, batch_k)).

    ``current`` MUST be the pre-batch current slice — compute the delta
    before (or independently of) advancing the dimension.
    ``hint_broadcast=False`` for dimension-sized bulk waves (module
    docstring)."""
    return apply_summary_delta(summary, summary_delta(current, changes, hint_broadcast=hint_broadcast))


# --- MIN/MAX maintenance (the non-delta-maintainable class) ----------------
#
# COUNT and SUM are self-maintainable: every change contributes an
# algebraic delta. MIN/MAX are NOT under deletes/updates — removing the
# row that held a group's extremum says nothing about the runner-up
# without looking at the group again. The standard IVM answer (and ours)
# is the hybrid: inserts improve extrema cheaply (least/greatest), and
# only groups whose REMOVED value ties the stored extremum are marked
# dirty and recomputed from their post-batch contents. Per-batch cost:
# O(batch + dirty-group contents), with dirty groups <= batch keys.


def group_extrema(current: DataFrame) -> DataFrame:
    """From-scratch per-customer (count, min, max) over the current
    slice — the recompute twin maintain_group_extrema must equal. NULL
    measures count as 0, matching group_summary's SUM semantics."""
    m = _measure()
    return current.groupBy(_GROUP_COL).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(m).alias("measure_min"),
        F.max(m).alias("measure_max"),
    )


def maintain_group_extrema(
    prev: DataFrame,
    current: DataFrame,
    changes: DataFrame,
    hint_broadcast: bool = True,
) -> DataFrame:
    """One extrema-maintenance step against the PRE-batch current slice
    (same contract as maintain_group_summary; same latest-per-key /
    op-reroute / late-skip semantics as the merge).

    Plan shape: probe #1 is the same broadcast-batch key probe of the
    column-pruned current slice the sum path uses (classifies removals
    and additions); probe #2 touches the current slice ONLY for dirty
    groups (broadcast semi-join on the group key) — a group is dirty
    iff a removed value ties its stored min or max, so |dirty| is
    bounded by the batch, never the dimension. Clean groups update with
    pure column arithmetic (count delta + least/greatest against the
    additions' per-group extrema)."""
    # probe #1: the one by-key probe of the current slice
    staged, cur_slim, matched, maybe_bcast = _probe(current, changes, _GROUP_COL, hint_broadcast)
    # rows leaving their group: every matched non-late change removes
    # the old version (DELETE removes it for good, UPDATE/INSERT-reroute
    # replaces it — possibly in another group)
    removals = matched.filter(~F.col("__late")).select(
        F.col("__b_key").alias("__r_key"),
        F.col("__c_group").alias("__g"),
        F.col("__c_measure").alias("__old_m"),
    )
    # rows entering a group: every non-DELETE change except matched-late
    # no-ops (anti on the late key set keeps this batch-local)
    late_keys = matched.filter(F.col("__late")).select(F.col("__b_key").alias("__l_key"))
    additions = (
        staged.filter(F.col("__b_op") != "DELETE")
        .join(
            maybe_bcast(late_keys),
            F.col("__b_key") == F.col("__l_key"),
            "left_anti",
        )
        .select(
            F.col("__b_group").alias("__g"), F.col("__b_measure").alias("__new_m")
        )
    )
    removals = removals.localCheckpoint(eager=False)
    additions = additions.localCheckpoint(eager=False)

    p = prev.select(
        F.col(_GROUP_COL).alias("__g"),
        F.col("n_rows").alias("__p_n"),
        F.col("measure_min").alias("__p_min"),
        F.col("measure_max").alias("__p_max"),
    )
    # dirty: a removed value ties the stored extremum of its group (a
    # conservative superset — duplicate extremum values recompute to the
    # same answer). Removals are batch-sized → broadcast into prev.
    dirty = (
        p.join(maybe_bcast(removals), p["__g"].eqNullSafe(removals["__g"]), "inner")
        .filter(
            (F.col("__old_m") == F.col("__p_min"))
            | (F.col("__old_m") == F.col("__p_max"))
        )
        .select(p["__g"])
        .distinct()
        .localCheckpoint(eager=False)
    )
    removed_keys = removals.select("__r_key").distinct()
    # probe #2: dirty-group contents AFTER the batch = surviving current
    # rows (removed keys excluded) + this batch's additions, both
    # restricted to dirty groups
    survivors = (
        cur_slim.join(
            maybe_bcast(dirty),
            F.col("__c_group").eqNullSafe(dirty["__g"]),
            "left_semi",
        )
        .join(
            maybe_bcast(removed_keys),
            F.col("__c_key") == F.col("__r_key"),
            "left_anti",
        )
        .select(F.col("__c_group").alias("__g"), F.col("__c_measure").alias("__m"))
    )
    added_in_dirty = additions.join(
        maybe_bcast(dirty), additions["__g"].eqNullSafe(dirty["__g"]), "left_semi"
    ).select("__g", F.col("__new_m").alias("__m"))
    recomputed = (
        survivors.unionByName(added_in_dirty)
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("__r_n"),
            F.min("__m").alias("__r_min"),
            F.max("__m").alias("__r_max"),
        )
    )

    # clean-path per-group deltas: count change + the additions' extrema
    add_agg = additions.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__a_n"),
        F.min("__new_m").alias("__a_min"),
        F.max("__new_m").alias("__a_max"),
    )
    rem_agg = removals.groupBy("__g").agg(F.count(F.lit(1)).alias("__rm_n"))

    merged = (
        p.withColumnRenamed("__g", "__pg")
        .join(add_agg, F.col("__pg").eqNullSafe(add_agg["__g"]), "full_outer")
        .withColumn("__mg", F.coalesce(F.col("__pg"), add_agg["__g"]))
        .drop(add_agg["__g"])
        .drop("__pg")
        .join(rem_agg, F.col("__mg").eqNullSafe(rem_agg["__g"]), "left")
        .drop(rem_agg["__g"])
        .join(
            # explicit flag column, NOT a null test on the join key: the
            # NULL group's matched key is itself NULL, so __dg.isNotNull()
            # would silently route a dirty NULL group down the clean path
            # (stale extremum — exactly the invariant breach the dirty
            # path exists to prevent)
            dirty.select(
                F.col("__g").alias("__dg"), F.lit(True).alias("__dirty")
            ),
            F.col("__mg").eqNullSafe(F.col("__dg")),
            "left",
        )
        .join(
            recomputed.withColumnRenamed("__g", "__rg"),
            F.col("__mg").eqNullSafe(F.col("__rg")),
            "left",
        )
    )
    # prev-less groups (pure additions) are never dirty — there is no
    # stored extremum to falsify
    is_dirty = F.coalesce(F.col("__dirty"), F.lit(False))
    n_clean = (
        F.coalesce(F.col("__p_n"), F.lit(0))
        + F.coalesce(F.col("__a_n"), F.lit(0))
        - F.coalesce(F.col("__rm_n"), F.lit(0))
    ).cast("long")
    out = merged.select(
        F.col("__mg").alias(_GROUP_COL),
        F.when(is_dirty, F.coalesce(F.col("__r_n"), F.lit(0)).cast("long"))
        .otherwise(n_clean)
        .alias("n_rows"),
        F.when(is_dirty, F.col("__r_min"))
        .otherwise(
            F.least(
                F.coalesce(F.col("__p_min"), F.col("__a_min")),
                F.coalesce(F.col("__a_min"), F.col("__p_min")),
            )
        )
        .alias("measure_min"),
        F.when(is_dirty, F.col("__r_max"))
        .otherwise(
            F.greatest(
                F.coalesce(F.col("__p_max"), F.col("__a_max")),
                F.coalesce(F.col("__a_max"), F.col("__p_max")),
            )
        )
        .alias("measure_max"),
    )
    return out.filter(F.col("n_rows") > 0)


# --- Histogram maintenance (distribution-shaped IVM) -----------------------
#
# Per-group equi-width histograms are fully delta-maintainable (bucket
# counts are COUNTs), so they ride the exact summary_delta machinery
# with one twist: the maintained key is the COMPOSITE (group, bucket)
# pair, packed into a struct so every existing code path (null-safe
# upsert, drop-empty-groups, single current-slice probe) applies
# unchanged. Read-time percentile estimates come off the maintained
# state at zero scan cost with error bounded by the bucket width — the
# streaming answer to "p95 order value per customer" that the exact
# percentile query (agg_exact_percentiles) recomputes from scratch.


def histogram_bucket(measure_col: str, lo: float, hi: float, nb: int):
    """Equi-width bucket index (0..nb-1, clamped) as an INT column.

    The measure is cast to DOUBLE first: decimal→double conversion and
    double divide/floor are correctly-rounded IEEE in every engine, so
    the bucket assignment is bit-reproducible cross-engine (the SQL
    twin is histogram_bucket_sql)."""
    w = (hi - lo) / nb
    x = F.coalesce(F.col(measure_col), F.lit(0)).cast(SUMMARY_MEASURE_TYPE).cast("double")
    raw = F.floor((x - F.lit(float(lo))) / F.lit(w))
    return F.least(F.lit(nb - 1).cast("long"), F.greatest(F.lit(0).cast("long"), raw)).cast("int")


def histogram_bucket_sql(measure_sql: str, lo: float, hi: float, nb: int) -> str:
    """DuckDB twin of histogram_bucket over a SQL measure expression."""
    w = (hi - lo) / nb
    return (
        f"CAST(least({nb - 1}, greatest(0, "
        f"floor((CAST(CAST({measure_sql} AS DECIMAL(28,2)) AS DOUBLE) - {lo!r}) / {w!r}))) AS INT)"
    )


def _with_hist_key(df: DataFrame, group_col: str, lo, hi, nb) -> DataFrame:
    return df.withColumn(
        _HIST_KEY,
        F.struct(
            F.col(group_col).alias(group_col),
            histogram_bucket(_MEASURE_COL, lo, hi, nb).alias("bucket"),
        ),
    )


def empty_histogram(spark: SparkSession) -> DataFrame:
    """An empty maintained histogram (struct(customer_id, bucket), n, sum)."""
    key = T.StructType([_GROUP_FIELD, T.StructField("bucket", T.IntegerType(), False)])
    return empty_frame(spark, _summary_schema(T.StructField(_HIST_KEY, key, False)))


def group_histogram(
    current: DataFrame,
    group_col: str = _GROUP_COL,
    lo: float = _HIST_LO,
    hi: float = _HIST_HI,
    nb: int = _HIST_NB,
) -> DataFrame:
    """From-scratch per-(group, bucket) counts + sums over the current
    slice — the recompute twin the incremental path must equal."""
    return group_summary(_with_hist_key(current, group_col, lo, hi, nb), _HIST_KEY)


def _histogram_delta(current, changes, group_col, lo, hi, nb, hint_broadcast=True) -> DataFrame:
    """summary_delta on the composite (group, bucket) key."""
    keyed = [_with_hist_key(df, group_col, lo, hi, nb) for df in (current, changes)]
    return summary_delta(*keyed, _HIST_KEY, hint_broadcast)


def maintain_group_histogram(
    hist: DataFrame,
    current: DataFrame,
    changes: DataFrame,
    group_col: str = _GROUP_COL,
    lo: float = _HIST_LO,
    hi: float = _HIST_HI,
    nb: int = _HIST_NB,
    hint_broadcast: bool = True,
) -> DataFrame:
    """One histogram-maintenance step against the PRE-batch current
    slice (same contract and batch semantics as maintain_group_summary;
    a version moving between buckets transfers exactly like a row
    moving between groups)."""
    delta = _histogram_delta(current, changes, group_col, lo, hi, nb, hint_broadcast)
    return apply_summary_delta(hist, delta, _HIST_KEY)


def maintain_summary_and_histogram(
    summary: DataFrame | None,
    hist: DataFrame | None,
    current: DataFrame,
    changes: DataFrame,
) -> tuple[DataFrame | None, DataFrame | None]:
    """The next summary and histogram (default buckets; a None state
    stays None) from ONE probe of the PRE-batch current slice. Every row
    has exactly one clamped bucket, NULL and out-of-range amounts
    included, so the summary's delta is the histogram's summed by
    customer; the pinned delta feeds both."""
    delta = _histogram_delta(
        current, changes, _GROUP_COL, _HIST_LO, _HIST_HI, _HIST_NB
    ).localCheckpoint(eager=False)
    by_customer = delta.groupBy(F.col(f"{_HIST_KEY}.{_GROUP_COL}").alias(_GROUP_COL)).agg(
        F.sum("__dn").alias("__dn"),
        F.sum("__dm").cast(_SUM_TYPE).alias("__dm"),
    )
    return (
        None if summary is None else apply_summary_delta(summary, by_customer),
        None if hist is None else apply_summary_delta(hist, delta, _HIST_KEY),
    )


def unpack_histogram(hist: DataFrame, group_col: str = _GROUP_COL) -> DataFrame:
    """Flatten the maintained struct key back to report columns."""
    return hist.select(
        F.col(f"{_HIST_KEY}.{group_col}").alias(group_col),
        F.col(f"{_HIST_KEY}.bucket").alias("bucket"),
        F.col("n_orders"),
        F.col("measure_sum"),
    )


def histogram_quantile(
    hist: DataFrame,
    p: float,
    group_col: str = _GROUP_COL,
    lo: float = _HIST_LO,
    hi: float = _HIST_HI,
    nb: int = _HIST_NB,
) -> DataFrame:
    """Per-group interpolated p-quantile estimate read straight off the
    maintained bucket counts (no data scan). Error ≤ one bucket width.

    Rank target = ceil(p·n) (nearest-rank); the estimate interpolates
    linearly inside the bucket containing that rank. Windows partition
    by group — never an unpartitioned sort."""
    from pyspark.sql import Window

    w = (hi - lo) / nb
    flat = unpack_histogram(hist, group_col)
    win = Window.partitionBy(group_col).orderBy("bucket")
    cum = flat.withColumn("cum", F.sum("n_orders").over(win)).withColumn(
        "total", F.sum("n_orders").over(Window.partitionBy(group_col))
    )
    target = F.ceil(F.lit(p) * F.col("total")).cast("long")
    hit = cum.filter(F.col("cum") >= target).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(group_col).orderBy("bucket")),
    ).filter(F.col("rn") == 1)
    frac = (
        (target - (F.col("cum") - F.col("n_orders"))).cast("double")
        / F.col("n_orders").cast("double")
    )
    return hit.select(
        group_col,
        (F.lit(float(lo)) + (F.col("bucket").cast("double") + frac) * F.lit(w)).alias(
            f"q{int(p * 100)}_estimate"
        ),
        F.col("total").alias("n_rows"),
    )

"""Incremental view maintenance for JOIN views — signed multiplicities.

The first-order delta rule (DBToaster's core identity, Koch et al.,
"DBToaster: higher-order delta processing", VLDB 2014 — public
literature):

    Δ(A ⋈ B) = ΔA ⋈ B  ∪  (A + ΔA) ⋈ ΔB

with every relation a MULTISET carrying a signed multiplicity column:
an insert is +1, a retraction −1, and a join row's multiplicity is the
product of its inputs'. Updates are retract+insert pairs. The identity
is exact — (A+ΔA)⋈(B+ΔB) − A⋈B expands to exactly those two terms —
so the maintained view stays multiset-equal to a from-scratch join of
the maintained inputs after EVERY batch (pinned by
tests/test_ivm_join.py against a recompute twin under randomized
two-sided insert/retract/update sequences).

Scale shape: each delta term probes the OPPOSITE side's state with the
(micro-batch-sized) delta broadcast — the states are scanned, never
shuffled. Consolidation (summing multiplicities and dropping zeros) is
O(view), so it belongs at compaction cadence, not per batch: append
the per-batch view deltas LSM-style (log-structured merge: append
deltas, fold them later) and fold with :func:`consolidate` when the segment count grows —
read-time correctness never depends on consolidation because multiset
semantics are additive.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MULT",
    "as_inserts",
    "as_retractions",
    "join_view_delta",
    "consolidate",
    "recompute_join_view",
]

MULT = "__mult"


def as_inserts(df: DataFrame) -> DataFrame:
    """Tag rows as +1 insertions (idempotent on already-tagged input)."""
    if MULT in df.columns:
        return df
    return df.withColumn(MULT, F.lit(1).cast("long"))


def as_retractions(df: DataFrame) -> DataFrame:
    """Tag rows as −1 retractions. The payload must equal the row being
    retracted exactly — multiset semantics, not key-based deletes."""
    if MULT in df.columns:
        return df.withColumn(MULT, -F.col(MULT))
    return df.withColumn(MULT, F.lit(-1).cast("long"))


def _mult_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    lm = left.withColumnRenamed(MULT, "__lm")
    rm = right.withColumnRenamed(MULT, "__rm")
    return (
        lm.join(rm, on)
        .withColumn(MULT, (F.col("__lm") * F.col("__rm")).cast("long"))
        .drop("__lm", "__rm")
    )


def join_view_delta(
    a_state: DataFrame,
    b_state: DataFrame,
    d_a: DataFrame | None,
    d_b: DataFrame | None,
    on: list[str],
    hint_broadcast: bool = True,
) -> DataFrame | None:
    """The view's signed delta for one batch of input deltas.

    ``a_state``/``b_state`` are the PRE-batch multiset states (rows +
    ``__mult``); ``d_a``/``d_b`` are this batch's signed deltas (None
    when a side had no changes). Returns the signed delta of A ⋈ B, or
    None when both inputs are None. With ``hint_broadcast`` (default —
    the micro-batch contract, same as scd2_merge_tagged) the deltas
    are force-broadcast so the states are scanned once each and never
    shuffled; pass False when a delta may be state-sized (a bulk
    seed/backfill wave) so AQE sizes the join at runtime instead of
    the forced hint OOMing the driver at scale.
    """
    maybe_bcast = F.broadcast if hint_broadcast else (lambda df: df)
    terms = []
    if d_a is not None:
        terms.append(_mult_join(maybe_bcast(d_a), b_state, on))
    if d_b is not None:
        a_new = a_state.unionByName(d_a) if d_a is not None else a_state
        terms.append(_mult_join(a_new, maybe_bcast(d_b), on))
    if not terms:
        return None
    return reduce(lambda x, y: x.unionByName(y), terms)


def consolidate(state: DataFrame) -> DataFrame:
    """Fold multiplicities: one row per distinct payload, zeros dropped.
    O(state) — compaction cadence, never required for correctness."""
    payload = [c for c in state.columns if c != MULT]
    return (
        state.groupBy(*payload)
        .agg(F.sum(MULT).cast("long").alias(MULT))
        .filter(F.col(MULT) != 0)
    )


def recompute_join_view(
    a_state: DataFrame, b_state: DataFrame, on: list[str]
) -> DataFrame:
    """The from-scratch twin the maintained view must multiset-equal."""
    return consolidate(_mult_join(a_state, b_state, on))

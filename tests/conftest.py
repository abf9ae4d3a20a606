from __future__ import annotations

import sys
from pathlib import Path

# the driver may invoke pytest from any cwd; make the package importable
# regardless (same bootstrap as __spark_entry__)
_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import datetime as dt
from decimal import Decimal

import pytest

from cdc_historical_warehouse_platform_spark.session import get_spark
from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cdc-historical-warehouse-platform-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


def make_change(
    id: int,
    op: str,
    ts: dt.datetime,
    quantity: int = 1,
    unit_price: str = "10.00",
    status: str = "pending",
    customer_id: int = 100,
    product_id: int = 200,
    order_date: dt.datetime | None = None,
):
    """One CDC change record shaped like FIXTURES.md §1.2 (typed form)."""
    price = Decimal(unit_price)
    total = price * quantity
    od = order_date or dt.datetime(2026, 2, 1, 20, 0, 0)
    return {
        "id": id,
        "customer_id": customer_id,
        "product_id": product_id,
        "quantity": quantity,
        "unit_price": price,
        "total_amount": total,
        "order_status": status,
        "order_date": od,
        "last_updated": ts,
        "created_at": od,
        "operation_type": op,
        "cdc_timestamp": ts,
        "extracted_at": ts,
    }


@pytest.fixture
def change_df(spark):
    def _make(rows):
        return spark.createDataFrame(rows, CHANGE_SCHEMA)

    return _make


# --- test tiering -------------------------------------------------------------
# The heavy integration/property tier: tests that measured >= 8 s in
# the r13 full-suite duration profile. pytest.ini deselects it by
# default so `pytest tests/ -q` fits its time budget; the full suite is
# `pytest -m "slow or not slow"`. Every operator family keeps its faster
# tests in the default tier, and so does every paper-core test, whatever
# its duration: the SCD2 store and merge tests (first-batch bulk path,
# change-log bulk build, random-sequence property invariants), the
# end-to-end pipeline tests (deletes, lineage report), the availableNow
# SCD2 streams (the only foreachBatch maintainer), and the
# incremental-view-maintenance tests that check the rollups and the join
# view against a recompute.
_SLOW_TESTS = {
    "test_ann_index.py::test_append_uses_stored_quantizer",
    "test_ann_index.py::test_build_once_probe_equals_inline_rebuild",
    "test_ann_index.py::test_int8_index_probe_matches_manual_sq_scoring",
    "test_ann_index.py::test_vacuum_never_deletes_pointer_pinned_version",
    "test_ann_index.py::test_vacuum_reclaims_old_epochs_keeps_live_pair",
    "test_datapipe.py::test_ann_lsh_finds_planted_neighbors",
    "test_datapipe.py::test_banded_near_dup_adapts_dim_to_wide_vectors",
    "test_datapipe.py::test_banded_near_dup_arrow_preserves_string_ids",
    "test_datapipe.py::test_banded_near_dup_arrow_signature_matches_expr",
    "test_datapipe.py::test_banded_near_dup_equals_brute_force",
    "test_datapipe.py::test_bucketed_state_corpus_end_to_end",
    "test_datapipe.py::test_corpus_build_auto_adopts_bucketed_state",
    "test_datapipe.py::test_corpus_compact_migrates_flat_state_to_bucketed",
    "test_datapipe.py::test_corpus_compact_state_dirs",
    "test_datapipe.py::test_corpus_per_source_quota_build_and_append",
    "test_datapipe.py::test_corpus_quality_model_gate_build_and_append",
    "test_datapipe.py::test_corpus_quota_adoption_rides_the_marker",
    "test_datapipe.py::test_corpus_top_tokens_tracking",
    "test_datapipe.py::test_rebuild_clears_legacy_caps_file_and_stale_counts",
    "test_datapipe.py::test_simhash_portable_matches_xxhash_recall",
    "test_datapipe.py::test_state_migration_crash_windows",
    "test_exact_substring.py::test_order_free_replay_any_commit_subset",
    "test_export.py::test_export_chain_prefix_sum_contract",
    "test_export.py::test_forget_then_export_excludes_forgotten_docs",
    "test_forget.py::test_concurrent_epoch_writes_crash_before_marker_repairs_exactly",
    "test_forget.py::test_corpus_forget_end_to_end",
    "test_forget.py::test_corpus_forget_returns_quota_headroom",
    "test_property_datapipe.py::test_incremental_dedup_invariants_for_random_batches",
    "test_property_datapipe.py::test_incremental_substr_any_split_any_probe_schedule",
    "test_rangejoin.py::test_matches_naive_on_boundary_dense_data",
    "test_ann_index.py::test_bulk_probe_matches_broadcast_and_avoids_query_broadcast",
    "test_ann_index.py::test_pq_bulk_probe_matches_broadcast_and_avoids_query_broadcast",
    "test_ann_index.py::test_rebuild_crash_leaves_consistent_pair",
    "test_ann_index.py::test_semdedup_accepts_prebuilt_centroids",
    "test_ann_index.py::test_two_stage_probe_matryoshka_layout",
    "test_datapipe.py::test_incremental_minhash_segment_probe_matches_broadcast",
    "test_exact_substring.py::test_incremental_compact_preserves_spans_and_drops_dead_rows",
    "test_export.py::test_export_range_sharding_keeps_packs_contiguous",
    "test_sampling.py::test_write_training_shards_manifest_and_bounds",
}


def pytest_collection_modifyitems(config, items):
    import re as _re

    for item in items:
        base = _re.sub(r"\[.*\]$", "", item.nodeid)
        base = base.split("tests/")[-1]
        if base in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)

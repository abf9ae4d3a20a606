"""Registry-wide plan and contract guards.

Two regression classes the driver's value-hash gate can NOT catch:
- a query whose plan silently degrades to an all-pairs join
  (CartesianProduct / BroadcastNestedLoopJoin) — still correct, dead at
  100 TB (this happened once: embedding_near_dup at a degenerate LSH
  threshold);
- a registry reorder that pushes a not-yet-verified query past the
  driver's 50-row correctness window.

Both are pinned here for every registered query at once.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

# Brute-force-BY-DESIGN tier: the broadcast side is a deliberately
# small query set, the corpus stays un-shuffled — the documented exact
# baseline next to the ANN paths. ann_sq_topk is the same flat-scan
# shape over the int8-quantized corpus (4× fewer bytes per scan); the
# bucketed/clustered tiers (LSH/IVF) remain the probe-many scale path.
#
# Bounded-rank tier: rank/prefix-sum over an input that is bounded BY
# CONSTRUCTION, expressed as a non-equi self-join so no unpartitioned
# window (sort-to-one-partition) appears in the plan. Both join sides
# are provably tiny at ANY corpus size:
# - corpus_zipf_stats: rank+cumsum over a LIMIT-100 slice (100×100);
# - corpus_pack_sequences: cross-superbucket offsets over
#   corpus/bucket_size² rows (≈40 rows even at 10^10 documents — the
#   per-bucket level below it uses a properly partitioned window).
# Everything else must justify itself here or fix its plan.
ALL_PAIRS_BY_DESIGN = {
    "knn_cosine_brute",
    # ann_two_stage_rerank left this list in r10: stage 1 is now an
    # IVF-list-pruned prefix search (no all-pairs node in the plan)
    "ann_sq_topk",
    "corpus_zipf_stats",
    "corpus_pack_sequences",
    # customer_rfm_segments: three bucketed-rank offset joins
    # (operators/rank.py) — the same bounded non-equi prefix-sum shape
    # as corpus_pack_sequences, over bucket-COUNT tables whose size is
    # value-range/width at any customer count
    "customer_rfm_segments",
    # corpus_export_manifest: composes packed_sequence_ids, so it
    # inherits corpus_pack_sequences' bounded cross-superbucket
    # prefix-sum join (operators/packing.py:88) — same
    # corpus/bucket_size² row bound, same justification as its two
    # admitted siblings above
    "corpus_export_manifest",
    # text_bm25_topk (r11): rank over a LIMIT-20 slice via the zipf
    # pattern — TakeOrderedAndProject bounds the input BY CONSTRUCTION
    # before the 20×20 non-equi self-join (operators/text.bm25_topk);
    # the scoring pipeline itself is equi-join + groupBy only
    "text_bm25_topk",
}

# The documented not-SQL-expressible tier (HLL estimates have no DuckDB
# twin by nature). These rows are pytest-pinned instead and exempt from
# the "demoted rows carry an oracle" contract below; any OTHER
# oracle-less row outside the window still fails.
ROWS_ONLY_BY_DESIGN = {"agg_distinct_sketch_rollup"}


def _entry_module():
    path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))
    # subquery physical plans live OUTSIDE children() (plan.toString
    # prints them via innerChildren) — without this, an all-pairs join
    # inside a scalar/IN subquery would escape the lint entirely
    subqueries = node.subqueries()
    for i in range(subqueries.size()):
        yield from _walk(subqueries.apply(i))


# row-count-preserving (or narrowing) wrappers a build side may sit
# under in a fully-prepared physical plan
_UNWRAP = (
    "ProjectExec",
    "FilterExec",
    "CoalesceExec",
    "WholeStageCodegenExec",
    "InputAdapter",
    "BroadcastExchangeExec",
)


def _is_scalar_subtree(node):
    """True iff the subtree provably emits ≤1 row: a keyless (global)
    aggregate, possibly under wrappers."""
    while True:
        name = node.getClass().getSimpleName()
        if name in _UNWRAP:
            node = node.children().apply(0)
        elif name == "ReusedExchangeExec":
            node = node.child()
        else:
            break
    return name in (
        "HashAggregateExec",
        "SortAggregateExec",
        "ObjectHashAggregateExec",
    ) and node.groupingExpressions().isEmpty()


def _all_pairs_hits(df) -> list[str]:
    """CartesianProduct always offends; BroadcastNestedLoopJoin offends
    unless its build side is a scalar (≤1-row) subtree — broadcasting a
    global aggregate back over its input is a map-side pattern, not an
    all-pairs join (Catalyst folds any constant-key equi-join down to
    exactly this shape). Walks the PREPARED plan (executedPlan, AQE
    off) because subquery physical plans only exist after preparation —
    at sparkPlan stage a subquery still holds its logical plan and an
    all-pairs join inside it would be invisible."""
    return _plan_all_pairs_hits(df._jdf.queryExecution().executedPlan())


def _plan_all_pairs_hits(plan) -> list[str]:
    hits = []
    for node in _walk(plan):
        name = node.getClass().getSimpleName()
        if name == "CartesianProductExec":
            hits.append("CartesianProduct")
        elif name == "BroadcastNestedLoopJoinExec":
            idx = 1 if "Right" in node.buildSide().toString() else 0
            if not _is_scalar_subtree(node.children().apply(idx)):
                hits.append("BroadcastNestedLoopJoin")
    return hits


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Every registry query built ONCE with AQE off (so executedPlan is
    the fully-prepared static plan, PlanSubqueries included) — shared
    by the all-pairs and unpartitioned-window lints, which each used to
    re-build all 174 plans themselves (the two tests were ~290 s of the
    suite; one shared pass halves it — r13, verdict task #6). The
    DataFrames are kept alive alongside the plans so the py4j refs
    stay valid."""
    mod = _entry_module()
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    plans = {}
    try:
        for name, fn in mod.queries().items():
            df = fn(spark, SF_DIR)
            plans[name] = (df, df._jdf.queryExecution().executedPlan())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return plans


def test_no_query_plan_contains_all_pairs_join(registry_plans):
    offenders = {}
    for name, (_df, plan) in registry_plans.items():
        if name in ALL_PAIRS_BY_DESIGN:
            continue
        hits = _plan_all_pairs_hits(plan)
        if hits:
            offenders[name] = hits
    assert offenders == {}


def _unpartitioned_window_hits(df) -> list[str]:
    """Window-family nodes with an EMPTY partition spec — the
    sort-the-whole-input-to-one-partition shape (Spark itself warns
    'Moving all data to a single partition'). Fine on a 24-row spine,
    fatal on a table; every registry plan and exported operator
    default must partition its windows or bound the window's input BY
    CONSTRUCTION before it (LIMIT / TakeOrderedAndProject)."""
    return _plan_unpartitioned_window_hits(df._jdf.queryExecution().executedPlan())


def _plan_unpartitioned_window_hits(plan) -> list[str]:
    hits = []
    for node in _walk(plan):
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowGroupLimitExec", "WindowInPandasExec"):
            if node.partitionSpec().isEmpty():
                hits.append(name)
    return hits


def test_no_query_plan_contains_unpartitioned_window(registry_plans):
    """r12 (verdict task #5): the all-pairs lint's sibling — an
    unpartitioned window is the other silent scale-killer the value
    gate can't catch (still correct, dead at 100 TB). The r12
    calibration scan found ZERO offenders across all 160 registry
    rows, so there is no allowlist: a new row needing one must bound
    its window input by construction instead (the zipf/bm25 broadcast
    rank self-join pattern, or operators/rank.py's bucketed ranks)."""
    offenders = {}
    for name, (_df, plan) in registry_plans.items():
        hits = _plan_unpartitioned_window_hits(plan)
        if hits:
            offenders[name] = hits
    assert offenders == {}


def test_exported_operator_defaults_plan_no_unpartitioned_window(spark):
    """r12 (verdict task #5): the registry lint only sees plans the
    registry builds — an exported operator whose DEFAULT arguments
    degrade to a global sort (the r11 weighted_sample_wor(strata_col=
    None) finding) would escape it. Lint the library-surface defaults
    that take an optional partition/stratum key with the key OMITTED."""
    from pyspark.sql import functions as F

    from cdc_historical_warehouse_platform_spark.operators.sampling import (
        weighted_sample_wor,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "w", F.length("text").cast("double")
    )
    surfaces = {
        "weighted_sample_wor(no strata)": weighted_sample_wor(
            docs, k=5, weight_col="w"
        ),
    }
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        offenders = {
            name: hits
            for name, df in surfaces.items()
            if (hits := _unpartitioned_window_hits(df))
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert offenders == {}


# Order statistics come from a running count over the (group, distinct
# value) table, so each window reads an aggregate bounded by the value
# domain and never sorts the fact table.
DOMAIN_BOUNDED_WINDOWS = ("agg_winsorized_stats", "agg_weighted_median", "events_mann_whitney_u")


def test_order_statistic_windows_read_an_aggregate(registry_plans):
    passthrough = {"SortExec", "ShuffleExchangeExec", *_UNWRAP}
    for name in DOMAIN_BOUNDED_WINDOWS:
        windows = [
            n for n in _walk(registry_plans[name][1])
            if n.getClass().getSimpleName() == "WindowExec"
        ]
        assert windows, name
        for node in windows:
            node = node.children().apply(0)
            while node.getClass().getSimpleName() in passthrough:
                node = node.children().apply(0)
            assert node.getClass().getSimpleName() == "HashAggregateExec", (name, node.nodeName())


# Rows whose values no other default-tier test checks: integer-exact
# order statistics, z-score flags and gaps-and-islands, each against
# its DuckDB oracle through the oracle sweep's own comparison.
@pytest.mark.parametrize(
    "name",
    [*DOMAIN_BOUNDED_WINDOWS, "events_anomaly_zscore", "events_gap_islands"],
)
def test_row_matches_its_duckdb_oracle(spark, name):
    import duckdb

    from cdc_historical_warehouse_platform_spark.schemas import TESTDATA_TABLES
    from tests.test_scripts import load_script

    mod = _entry_module()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    got = mod.queries()[name](spark, SF_DIR).toPandas()
    want = con.execute(mod.oracle_sql()[name]).fetchdf()
    assert len(got) > 0
    assert load_script("check_oracle").compare(name, got, want) == []


def test_registry_contract():
    mod = _entry_module()
    q = mod.queries()
    o = mod.oracle_sql()
    names = list(q)
    # every oracle key has a query
    assert set(o) <= set(q)
    # every priority (not-yet-driver-verified) query sits inside the
    # driver's 50-row correctness window
    window = set(names[:50])
    for name in mod._PRIORITY:
        assert name in window, f"{name} fell out of the driver window"
    # everything demoted past the window was driver-green in a prior
    # round and still carries a local oracle (never rows-only)
    for name in names[50:]:
        assert name in o or name in ROWS_ONLY_BY_DESIGN, (
            f"{name} is outside the window without an oracle"
        )
    # rows-only queries are the documented not-SQL-expressible tier
    # only (every former approximate tier gained a portable-twin
    # oracle in r04; the HLL estimate has no DuckDB twin by nature)
    rows_only = {n for n in q if n not in o}
    assert rows_only <= ROWS_ONLY_BY_DESIGN


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """100-TB capability pin: Spark's runtime bloom-filter join pruning
    (on by default in the session config) injects a might_contain
    filter on the fact side of a selective fact-fact join, so at
    cluster scale the lineitem scan drops non-matching rows before the
    shuffle. It is gated by a 10 GB application-side scan threshold —
    invisible at sf0.01 — so this pin lowers the threshold to prove
    the plan rewrite actually fires for our join shapes."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: bloom filters target non-broadcast joins
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" in plan or "bloomfilter" in plan
        # and the default config keeps the feature on
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_duckdb_wide_decimal_cast_hazard_is_real_and_varchar_route_is_safe():
    """Documents the cross-engine hazard behind the VARCHAR-routed
    casts in SQL_LINEAR_REGRESSION / SQL_RESAMPLE_FFILL: DuckDB's
    direct wide-DECIMAL→DOUBLE cast is not correctly rounded once the
    stored integer exceeds ~2^53, while Spark/Java and strtod are.
    If a DuckDB upgrade ever fixes the direct cast, this test fails on
    its first assert — the cue that the VARCHAR routing can go."""
    import duckdb

    val = "253968519192240.4127"  # observed misrounding case (18 digits)
    direct, routed = duckdb.sql(
        f"""SELECT CAST(CAST('{val}' AS DECIMAL(38,4)) AS DOUBLE),
                   CAST(CAST(CAST('{val}' AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)"""
    ).fetchall()[0]
    strict = float(val)  # Python strtod: correctly rounded
    assert direct != strict, "DuckDB fixed the direct cast — drop the VARCHAR routing"
    assert routed == strict

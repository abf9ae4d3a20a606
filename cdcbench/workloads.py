"""The closed-loop workloads.

One client: the generator commits a change batch to the source, then
runs the pipeline until the batch is visible in the dimension, then
reads the changed keys back (the visibility probe) before it draws the
next batch.  Timing covers the program's calls only; the generator's
own work and every output check run outside the timed regions.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from collections import Counter
from pathlib import Path

from checks import (
    CheckFailed,
    check_equal,
    check_invariants,
    close,
    compare_rows,
    dim_tuples,
    expected_quantiles,
    expected_summary,
    money,
)
from generator import DIM_CHECK_COLUMNS, N_CUSTOMERS, T0, ChangeGenerator, ParquetSnapshot, normalize

from cdc_historical_warehouse_platform_spark.pipeline import lineage
from cdc_historical_warehouse_platform_spark.pipeline.extractor import CDCExtractor
from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
from cdc_historical_warehouse_platform_spark.pipeline.metadata import PipelineMetadataManager
from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable
from cdc_historical_warehouse_platform_spark.streaming.pipeline import start_scd2_stream

# Sizing for a 4-core host, set by the time budget of a run (README,
# "Sizing"): fixed per-job costs dominate a batch on both paths at any
# size that fits, and larger dimensions mostly lengthen the builds and
# the final checks.
MICRO_KEYS = 2000
MICRO_CHANGES = 200
BULK_KEYS = 10000
BULK_SHARE = 0.25
WARM_KEYS = 500  # the warm-up pipeline's seed size
SETUPS = 2  # setup_s is the median of this many builds on a warm JVM
PROBE_KEYS = 200
PROBE_READS = 5  # reads per measured batch; one short read alone is too noisy a sample
KEY_RANGE = 200
CUSTOMER_RANGE = 20


class Ops:
    """Counts attempted and failed operations; a failure is an exception
    or a wrong answer, recorded with its message."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, what: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # a failed operation is a measured outcome
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}"[:500])
            return None


class Pipeline:
    """One pipeline instance: source, change log, dimension, rollups and
    run metadata under ``root``."""

    def __init__(self, spark, root: Path, fmt: str):
        self.spark = spark
        self.root = root
        self.source_dir = root / "source_orders"
        self.deleted_dir = root / "deleted_orders"
        self.cdc_dir = root / "cdc_logs"
        self.checkpoint = root / "stream_checkpoint"
        self.dim = SCD2DimStore(root / "dim_orders_history")
        self.summary = VersionedTable(root / "revenue_summary")
        self.sketch = VersionedTable(root / "product_sketch")
        self.histogram = VersionedTable(root / "revenue_histogram")
        self.metadata = PipelineMetadataManager(spark, root / "pipeline_metadata")
        self.extractor = CDCExtractor(
            spark,
            ParquetSnapshot(self.source_dir),
            self.cdc_dir,
            deleted_table=ParquetSnapshot(self.deleted_dir),
            fmt=fmt,
            initial_watermark=T0 - dt.timedelta(days=1),
        )
        self.loader = SCD2Loader(
            spark,
            self.dim,
            self.cdc_dir,
            metadata=self.metadata,
            summary_store=self.summary,
            sketch_store=self.sketch,
            histogram_store=self.histogram,
        )
        self.loads = 0

    def store_dirs(self) -> list[Path]:
        return [
            self.dim.path,
            self.summary.path,
            self.sketch.path,
            self.histogram.path,
            self.metadata.table.path,
        ]

    def extract(self, batch: dict) -> None:
        if self.extractor.run_once(now=batch["now"]) is None:
            raise CheckFailed(f"batch {batch['no']}: extractor found no changes")

    def load(self) -> None:
        res = self.loader.load_pending()
        self.loads += 1
        if res["status"] != "completed" or res["processed"] != 1:
            raise CheckFailed(f"load_pending: {res}")

    def drain(self, tracer) -> None:
        with tracer.span("streaming.start_scd2_stream"):
            q = start_scd2_stream(
                self.spark,
                self.cdc_dir,
                self.dim,
                self.checkpoint,
                available_now=True,
                summary_store=self.summary,
                sketch_store=self.sketch,
                histogram_store=self.histogram,
            )
            q.awaitTermination()


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, tracer, fault: str | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.fault = fault
        self.ops = Ops()
        self.rng = random.Random(seed)
        self.keys = 0
        self.setup_s: list[float] = []
        self.batch_s: list[float] = []
        self.batch_windows: list[tuple[float, float]] = []
        self.batch_steal: list[float] = []
        self.batch_changes: list[int] = []
        self.query_s: list[float] = []
        self.read_mix_s: dict[str, float] = {}
        self.store_bytes = 0
        self.loop_wall_start = 0.0
        self.loop_wall_end = 0.0
        self.pipe: Pipeline | None = None
        self.gen: ChangeGenerator | None = None
        self.phase_s: dict[str, float] = {}
        self._phase: tuple[str, float] | None = None


# --- building blocks ----------------------------------------------------------


def _enter(ctx: Context, phase: str) -> None:
    """Switch phase: spans are tagged with it and its wall time is kept."""
    now = time.perf_counter()
    if ctx._phase is not None:
        name, since = ctx._phase
        ctx.phase_s[name] = ctx.phase_s.get(name, 0.0) + now - since
    ctx._phase = (phase, now)
    ctx.tracer.phase = phase


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine so far, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _du(paths: list[Path]) -> int:
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _commit(ctx: Context, n_changes: int) -> dict:
    batch = ctx.gen.next_batch(n_changes)
    ctx.gen.write_source(ctx.pipe.source_dir, ctx.pipe.deleted_dir)
    return batch


def _apply(ctx: Context, batch: dict, stream: bool) -> None:
    """Extract plus load (or drain): commit-to-visible for one batch."""
    ctx.pipe.extract(batch)
    if ctx.fault == "drop_batch" and ctx.tracer.phase == "loop" and not ctx.batch_s:
        for p in ctx.pipe.cdc_dir.glob("changes_*"):
            if p.is_dir():
                shutil.rmtree(p)
            else:
                p.unlink()
    if stream:
        ctx.pipe.drain(ctx.tracer)
    else:
        ctx.pipe.load()


def _inject_duplicate_current(ctx: Context) -> None:
    """Fault injection: publish a copy of one current row as history."""
    dim = ctx.pipe.dim
    row = dim.read_current(ctx.spark).orderBy("order_key").limit(1)
    hv = dim.history.append(row, txn_id="fault:duplicate-current")
    dim._write_pointer({**dim._read_pointer(), "history_version": hv})


def _probe(ctx: Context, batch: dict, measured: bool) -> None:
    """Read a sample of the changed keys back and check it against the
    record."""
    from pyspark.sql import functions as F

    keys = sorted({k for _, k, _ in batch["changes"]})
    if len(keys) > PROBE_KEYS:
        keys = sorted(ctx.rng.sample(keys, PROBE_KEYS))
    t = time.perf_counter()
    with ctx.tracer.span("dim_store.read"):
        rows = (
            ctx.pipe.dim.read(ctx.spark)
            .filter(F.col("is_current") & F.col("order_key").isin(keys))
            .select(*DIM_CHECK_COLUMNS)
            .collect()
        )
    if measured:
        ctx.query_s.append(time.perf_counter() - t)
    cur = ctx.gen.current_rows()
    expected = [normalize(cur[k]) for k in keys if k in cur]
    compare_rows(dim_tuples(rows), expected, f"batch {batch['no']} visibility probe")


def _cycle(ctx: Context, n_changes: int, stream: bool, measured: bool = True) -> None:
    """Commit one batch, make it visible (timed) and probe it."""
    batch = _commit(ctx, n_changes)
    cpu = cpu_jiffies()
    a = time.time()
    t = time.perf_counter()
    ctx.ops.run(f"batch {batch['no']}", _apply, ctx, batch, stream)
    if measured:
        ctx.batch_s.append(time.perf_counter() - t)
        ctx.batch_windows.append((a, time.time()))
        ctx.batch_steal.append(steal_share(cpu, cpu_jiffies()))
        ctx.batch_changes.append(len(batch["changes"]))
        if ctx.fault == "dup_current" and len(ctx.batch_s) == 1:
            _inject_duplicate_current(ctx)
    for _ in range(PROBE_READS if measured else 1):
        ctx.ops.run(f"probe {batch['no']}", _probe, ctx, batch, measured)


def _build(ctx: Context, root: Path, keys: int, fmt: str, stream: bool, zipf: bool) -> float:
    """Build a pipeline from the seed source: write it, extract it and
    load it.  Returns the seconds of the program's calls."""
    if ctx.pipe is not None:
        shutil.rmtree(ctx.pipe.root, ignore_errors=True)
    ctx.keys = keys
    ctx.gen = ChangeGenerator(ctx.seed, keys, zipf=zipf)
    ctx.pipe = Pipeline(ctx.spark, root, fmt)
    ctx.gen.write_source(ctx.pipe.source_dir, ctx.pipe.deleted_dir)
    t = time.perf_counter()
    _apply(ctx, ctx.gen.batches[0], stream)
    return time.perf_counter() - t


def _warm_up(ctx: Context, fmt: str, stream: bool, zipf: bool, n_changes) -> None:
    """Run the write path once, checked and untimed, on a small
    pipeline: the seed load and one change batch.  The JVM's first call
    of each kind (class loading, code generation, JIT) happens here, not
    in a measurement."""
    _enter(ctx, "warmup")
    _build(ctx, ctx.work / "warmup", WARM_KEYS, fmt, stream, zipf)
    _cycle(ctx, n_changes(), stream, measured=False)


def _setup(ctx: Context, keys: int, fmt: str, stream: bool, zipf: bool) -> None:
    """Build the workload's pipeline SETUPS times from the same seed,
    timing each build; the last build is the one the workload goes on
    with."""
    _enter(ctx, "setup")
    for i in range(SETUPS):
        ctx.setup_s.append(_build(ctx, ctx.work / f"build{i}", keys, fmt, stream, zipf))


def _write_loop(ctx: Context, n_changes, stream: bool) -> None:
    """Commit, apply and probe batches for ``ctx.seconds``: a batch is
    started while the time has not run out, so the loop ends with the
    first cycle that reaches it."""
    _enter(ctx, "loop")
    ctx.loop_wall_start = time.time()
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds:
        _cycle(ctx, n_changes(), stream)
        if len(ctx.batch_s) == 1:
            # after a fixed amount of work, so it does not grow with speed
            ctx.store_bytes = _du(ctx.pipe.store_dirs())
    ctx.loop_wall_end = time.time()


# --- the warehouse read mix ---------------------------------------------------
# Each query returns a check of its answer; the check runs after timing.


def _q_current(ctx, lo, hi, t):
    from pyspark.sql import functions as F

    rows = (
        ctx.pipe.dim.read(ctx.spark)
        .filter(F.col("is_current") & F.col("order_key").between(lo, hi))
        .select(*DIM_CHECK_COLUMNS)
        .collect()
    )
    expected = [normalize(v) for k, v in ctx.gen.current_rows().items() if lo <= k <= hi]
    return lambda: compare_rows(dim_tuples(rows), expected, "current state")


def _q_as_of(ctx, lo, hi, t):
    from pyspark.sql import functions as F

    rows = (
        ctx.pipe.dim.read(ctx.spark)
        .filter(
            F.col("order_key").between(lo, hi)
            & (F.col("valid_from") <= F.lit(t))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(t)))
        )
        .select(*DIM_CHECK_COLUMNS)
        .collect()
    )
    expected = ctx.gen.as_of(t, lo, hi)
    return lambda: compare_rows(dim_tuples(rows), expected, f"as of {t}")


def _q_history(ctx, lo, hi, t):
    df, _ = ctx.pipe.dim.read_history_for_keys(ctx.spark, lo, hi)
    rows = df.select(*DIM_CHECK_COLUMNS).collect()
    expected = [
        normalize(v)
        for v in ctx.gen.versions
        if lo <= v["order_key"] <= hi and not v["is_current"]
    ]
    return lambda: compare_rows(dim_tuples(rows), expected, f"history of [{lo}, {hi}]")


def _q_version(ctx, lo, hi, t):
    from pyspark.sql import functions as F

    log = ctx.pipe.dim._read_pointer()["pointer_log"]
    v = ctx.rng.choice(sorted(map(int, log)))
    row = (
        ctx.pipe.dim.read(ctx.spark, version=v)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("is_current").cast("long")).alias("cur"))
        .collect()[0]
    )
    b = ctx.gen.batches[v]
    return lambda: check_equal(
        (row["n"], row["cur"]), (b["n_versions"], b["n_current"]), f"read(version={v})"
    )


def _q_frequency(ctx, lo, hi, t):
    from pyspark.sql import functions as F

    rows = (
        ctx.pipe.dim.read(ctx.spark)
        .groupBy("order_key")
        .count()
        .orderBy(F.desc("count"), "order_key")
        .limit(10)
        .collect()
    )
    counts = Counter(v["order_key"] for v in ctx.gen.versions)
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return lambda: check_equal(
        [(r["order_key"], r["count"]) for r in rows], expected, "change frequency"
    )


def _q_invariants(ctx, lo, hi, t):
    counts = lineage.invariant_counts(ctx.pipe.dim.read(ctx.spark))
    return lambda: check_invariants(counts)


def _customers(ctx) -> tuple[int, int]:
    c = ctx.rng.randint(1, N_CUSTOMERS - CUSTOMER_RANGE)
    return c, c + CUSTOMER_RANGE - 1


def _q_rollup(ctx, lo, hi, t):
    from pyspark.sql import functions as F

    c_lo, c_hi = _customers(ctx)
    rows = (
        ctx.pipe.summary.read(ctx.spark)
        .filter(F.col("customer_id").between(c_lo, c_hi))
        .collect()
    )
    expected = expected_summary(ctx.gen.current_rows().values(), set(range(c_lo, c_hi + 1)))
    got = {r["customer_id"]: (r["n_orders"], money(r["measure_sum"])) for r in rows}
    return lambda: check_equal(got, expected, f"revenue summary of customers [{c_lo}, {c_hi}]")


def _q_quantile(ctx, lo, hi, t):
    from pyspark.sql import functions as F

    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        histogram_quantile,
    )

    c_lo, c_hi = _customers(ctx)
    rows = (
        histogram_quantile(ctx.pipe.histogram.read(ctx.spark), 0.9)
        .filter(F.col("customer_id").between(c_lo, c_hi))
        .collect()
    )
    expected = expected_quantiles(
        ctx.gen.current_rows().values(), set(range(c_lo, c_hi + 1)), 0.9
    )

    def check():
        got = {r["customer_id"]: r["q90_estimate"] for r in rows}
        check_equal(sorted(got), sorted(expected), "p90 histogram customers")
        for c, q in expected.items():
            if not close(got[c], q):
                raise CheckFailed(f"p90 of customer {c}: got {got[c]}, expected {q}")

    return check


def _q_kpis(ctx, lo, hi, t):
    k = ctx.pipe.metadata.kpis()
    return lambda: _check_kpi_values(ctx, k)


# (name, function, span the query runs under or None); the read pass
# runs them in this order, so every run measures the same mix
QUERIES = (
    ("current", _q_current, "dim_store.read"),
    ("as_of", _q_as_of, "dim_store.read"),
    ("history_for_keys", _q_history, "dim_store.read_history_for_keys"),
    ("version", _q_version, "dim_store.read"),
    ("frequency", _q_frequency, "dim_store.read"),
    ("invariants", _q_invariants, None),
    ("rollup", _q_rollup, None),
    ("quantile", _q_quantile, None),
    ("kpis", _q_kpis, None),
)


def _run_query(ctx: Context, name: str, fn, span: str | None) -> None:
    lo = ctx.rng.randint(1, ctx.keys - KEY_RANGE)
    last = ctx.gen.batches[-1]["now"]
    t = (T0 + (last - T0) * ctx.rng.random()).replace(microsecond=0)
    start = time.perf_counter()
    if span is None:
        check = fn(ctx, lo, lo + KEY_RANGE, t)
    else:
        with ctx.tracer.span(span):
            check = fn(ctx, lo, lo + KEY_RANGE, t)
    ctx.read_mix_s[name] = time.perf_counter() - start
    check()


def _read_pass(ctx: Context) -> None:
    """Every warehouse query once, timed, over the layout the write path
    left.  Most query kinds run here for the first time in the JVM, so
    their seconds include that warm-up; their bytes read do not."""
    _enter(ctx, "reads")
    for name, fn, span in QUERIES:
        ctx.ops.run(f"query {name}", _run_query, ctx, name, fn, span)


# --- end-of-run checks --------------------------------------------------------


def _check_dimension(ctx: Context) -> None:
    with ctx.tracer.span("dim_store.read"):
        rows = ctx.pipe.dim.read(ctx.spark).select(*DIM_CHECK_COLUMNS).collect()
    compare_rows(dim_tuples(rows), ctx.gen.expected_rows(), "final dimension")


def _check_invariants(ctx: Context) -> None:
    check_invariants(lineage.invariant_counts(ctx.pipe.dim.read(ctx.spark)))


def _rollup_matches_recompute(ctx: Context, store, recompute) -> None:
    current = ctx.pipe.dim.read_current(ctx.spark)
    maintained = store.read(ctx.spark)
    recomputed = recompute(current)
    diff = maintained.exceptAll(recomputed).count() + recomputed.exceptAll(maintained).count()
    check_equal(diff, 0, f"{store.path.name} rows differing from a recompute")


def _check_history_range(ctx: Context, lo: int, hi: int) -> None:
    with ctx.tracer.span("dim_store.read_history_for_keys"):
        df, _ = ctx.pipe.dim.read_history_for_keys(ctx.spark, lo, hi)
        rows = df.select(*DIM_CHECK_COLUMNS).collect()
    expected = [
        normalize(v)
        for v in ctx.gen.versions
        if lo <= v["order_key"] <= hi and not v["is_current"]
    ]
    compare_rows(dim_tuples(rows), expected, f"history of keys [{lo}, {hi}]")


def _check_kpi_values(ctx: Context, k: dict) -> None:
    check_equal(k["runs_7d"], ctx.pipe.loads, "kpis runs_7d")
    applied = sum(len(b["changes"]) for b in ctx.gen.batches)
    check_equal(k["rows_loaded_7d"], applied, "kpis rows_loaded_7d")


def _compact(ctx: Context) -> None:
    """The warehouse's history maintenance, once: rewrite the history
    as one segment.  The checks that follow read the rewritten
    history."""
    if not ctx.pipe.dim.compact_history(ctx.spark, max_segments=0):
        raise CheckFailed("compact_history found nothing to fold")


def _final_checks(ctx: Context, after_reads: bool) -> None:
    """The whole dimension and both rollups against the record, plus
    V1-V3 and a history range unless the read pass checked them."""
    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        group_histogram,
        group_summary,
    )

    _enter(ctx, "verify")
    ops = ctx.ops
    ops.run("final dimension", _check_dimension, ctx)
    ops.run("summary", _rollup_matches_recompute, ctx, ctx.pipe.summary, group_summary)
    ops.run("histogram", _rollup_matches_recompute, ctx, ctx.pipe.histogram, group_histogram)
    if not after_reads:
        ops.run("invariants", _check_invariants, ctx)
        lo = ctx.rng.randint(1, ctx.keys - KEY_RANGE)
        ops.run("history range", _check_history_range, ctx, lo, lo + KEY_RANGE)
    _enter(ctx, "done")


# --- workloads ----------------------------------------------------------------


def cdc_microbatch(ctx: Context) -> None:
    """The paper's steady state, then its read side: Zipf-skewed
    200-change batches through the batch loader, the warehouse read mix
    over the history they built, and the layout compaction the checks
    then read through."""
    batch = lambda: MICRO_CHANGES  # noqa: E731
    _warm_up(ctx, "reference", stream=False, zipf=True, n_changes=batch)
    _setup(ctx, MICRO_KEYS, "reference", stream=False, zipf=True)
    _write_loop(ctx, batch, stream=False)
    _read_pass(ctx)
    _enter(ctx, "compact")
    ctx.ops.run("compact", _compact, ctx)
    _final_checks(ctx, after_reads=True)


def cdc_bulk_stream(ctx: Context) -> None:
    """The backfill shape: each batch changes a quarter of the keys,
    uniformly, and an availableNow stream drains it."""
    batch = lambda: int(len(ctx.gen.rows) * BULK_SHARE)  # noqa: E731
    _warm_up(ctx, "jsonl", stream=True, zipf=False, n_changes=batch)
    _setup(ctx, BULK_KEYS, "jsonl", stream=True, zipf=False)
    _write_loop(ctx, batch, stream=True)
    _final_checks(ctx, after_reads=False)


WORKLOADS = {
    "cdc_microbatch": cdc_microbatch,
    "cdc_bulk_stream": cdc_bulk_stream,
}


"""Out-of-program tracing: one span per public-function call into a layer.

The benchmark patches each traced function where its caller looks the
name up (a module global or a class attribute) with a wrapper that
opens a span.  Every span sets its own Spark job group for the calling
thread, so Spark's event log tags each job with the span that ran it;
:func:`fold_event_log` then folds job, stage and task metrics back onto
the spans.  Nothing inside the program changes.

Spans live in memory and are folded after the SparkContext stops (the
event log is complete only then).  The tracer times its own
bookkeeping, so ``trace.overhead_ratio`` is measured, not guessed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from pathlib import Path

GROUP_PREFIX = "cdcbench-span-"
_GROUP_KEY = "spark.jobGroup.id"

# Spans whose jobs move data; they also report executor time and bytes.
HEAVY_SPANS = (
    "extractor.run_once",
    "loader.maintain_summary_store",
    "loader.maintain_histogram_store",
    "loader.maintain_distinct_sketch_store",
    "dim_store.apply_batch",
    "dim_store.compact_history",
    "streaming.start_scd2_stream",
    "dim_store.read",
    "dim_store.read_history_for_keys",
)
SPAN_NAMES = (
    "extractor.run_once",
    "change_batches.write_change_batch",
    "cdc.next_watermark",
    "loader.load_pending",
    "change_batches.read_change_batch",
    "state.generate_batch_id",
    "loader.maintain_summary_store",
    "loader.maintain_histogram_store",
    "loader.maintain_distinct_sketch_store",
    "dim_store.apply_batch",
    "dim_store.compact_history",
    "metadata.start_run",
    "metadata.update_run",
    "streaming.start_scd2_stream",
    "dim_store.read",
    "dim_store.read_history_for_keys",
    "lineage.invariant_counts",
    "metadata.kpis",
)
HEAVY_FIELDS = ("executor_run_s", "input_bytes", "output_bytes", "shuffle_write_bytes")
GAUGES = (
    "tables.pointer_bytes",
    "dim_store.history_segments",
    "metadata.run_rows",
    "change_batches.bytes",
    "dim_store.rewrite_ratio",
    "streaming.input_scans_per_epoch",
    "trace.overhead_ratio",
    "trace.self_time_coverage",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = []
    for span in SPAN_NAMES:
        fields = ("self_s", "driver_s", "jobs") + (HEAVY_FIELDS if span in HEAVY_SPANS else ())
        names += [f"{span}.{f}" for f in fields]
    return names + list(GAUGES)


class NullTracer:
    """The untraced run's tracer: spans cost one no-op context manager."""

    phase = "setup"

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records spans and tags the Spark jobs each one runs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self._stack: list[int] = []  # shared: a foreachBatch callee nests under the drain
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        with self._lock:
            sid = len(self.spans) + 1
            rec = {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "phase": self.phase,
            }
            self.spans.append(rec)
            self._stack.append(sid)
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self.sc.setLocalProperty(_GROUP_KEY, prev)
            with self._lock:
                self._stack.remove(sid)
            self.overhead_s += time.perf_counter() - t

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper."""
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Patch every traced public function at its caller's lookup site."""
    from cdc_historical_warehouse_platform_spark.pipeline import extractor, lineage, loader, metadata
    from cdc_historical_warehouse_platform_spark.sources import dim_store
    from cdc_historical_warehouse_platform_spark.streaming import pipeline as streaming

    p = tracer.patch
    p(extractor.CDCExtractor, "run_once", "extractor.run_once")
    p(extractor, "write_change_batch", "change_batches.write_change_batch")
    p(extractor, "next_watermark", "cdc.next_watermark")
    p(loader.SCD2Loader, "load_pending", "loader.load_pending")
    p(loader, "read_change_batch", "change_batches.read_change_batch")
    p(loader, "generate_batch_id", "state.generate_batch_id")
    p(streaming, "generate_batch_id", "state.generate_batch_id")
    # the stream's foreachBatch imports these from the loader module at call time
    p(loader, "maintain_summary_store", "loader.maintain_summary_store")
    p(loader, "maintain_histogram_store", "loader.maintain_histogram_store")
    p(loader, "maintain_distinct_sketch_store", "loader.maintain_distinct_sketch_store")
    p(dim_store.SCD2DimStore, "apply_batch", "dim_store.apply_batch")
    p(dim_store.SCD2DimStore, "compact_history", "dim_store.compact_history")
    p(metadata.PipelineMetadataManager, "start_run", "metadata.start_run")
    p(metadata.PipelineMetadataManager, "update_run", "metadata.update_run")
    p(metadata.PipelineMetadataManager, "kpis", "metadata.kpis")
    p(lineage, "invariant_counts", "lineage.invariant_counts")
    # dim_store.read / read_history_for_keys return lazy DataFrames: the
    # workloads open those spans around the call AND the action that
    # consumes it; streaming.start_scd2_stream spans the whole drain.


# --- event-log folding ------------------------------------------------------


# Columns of the change records.  foreachBatch hands its callees an
# RDD-backed frame, so a callee's re-read of the epoch's input shows as
# a "Scan ExistingRDD" node over these columns; the epoch's first read
# is the "Scan json" node.
_CHANGE_COLUMNS = ("operation_type#", "extracted_at#")


def _input_scans(plan: dict) -> int:
    name = plan.get("nodeName", "")
    text = plan.get("simpleString", "")
    hit = name.startswith("Scan json") or (
        name.startswith("Scan ExistingRDD") and all(c in text for c in _CHANGE_COLUMNS)
    )
    return int(hit) + sum(_input_scans(c) for c in plan.get("children", []))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, hi = 0.0, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total


def fold_event_log(log_path: Path, spans: list[dict]) -> None:
    """Attach ``jobs``, ``job_intervals``, the heavy fields and ``input_scans``
    to each span in place.

    A job belongs to the span named by its job group; a job with no
    benchmark group (for instance one the stream runs between
    foreachBatch callees) belongs to the innermost span open when it
    was submitted.  Tasks reach their job through their stage."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update(jobs=0, job_intervals=[], input_scans=0, **{f: 0.0 for f in HEAVY_FIELDS})
    ordered = sorted(spans, key=lambda s: s["start"])

    def innermost(t: float) -> dict | None:
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] >= t and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    job_span: dict[int, dict | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                t = ev["Submission Time"] / 1000
                group = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
                if group.startswith(GROUP_PREFIX):
                    span = by_id.get(int(group[len(GROUP_PREFIX):]))
                else:
                    span = innermost(t)
                job_span[jid], job_start[jid] = span, t
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                if span is not None:
                    span["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                span = job_span.get(ev["Job ID"])
                if span is not None:
                    span["job_intervals"].append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000)
                    )
            elif kind == "SparkListenerTaskEnd":
                span = job_span.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if span is None or not m:
                    continue
                span["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                span["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                span["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                span["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                span = innermost(ev["time"] / 1000)
                if span is not None:
                    span["input_scans"] += _input_scans(ev.get("sparkPlanInfo") or {})


def span_metrics(spans: list[dict], phases=("loop", "reads", "compact", "verify")) -> dict[str, float]:
    """Per span name, over the measured phases, the mean per call of
    ``self_s``, ``driver_s``, ``jobs`` and the heavy fields.

    ``self_s`` is the span's wall time minus its direct children's;
    ``driver_s`` is ``self_s`` minus the wall time its own jobs ran,
    i.e. py4j plan construction, Python work and file-system commits.
    A span that never ran on a workload reports 0."""
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for name in SPAN_NAMES:
        calls = [s for s in spans if s["name"] == name and s["phase"] in phases]
        n = len(calls) or 1
        self_s = driver_s = 0.0
        for s in calls:
            own = max(s["end"] - s["start"] - children.get(s["id"], 0.0), 0.0)
            self_s += own
            driver_s += max(own - _union_s(s["job_intervals"]), 0.0)
        out[f"{name}.self_s"] = self_s / n
        out[f"{name}.driver_s"] = driver_s / n
        out[f"{name}.jobs"] = sum(s["jobs"] for s in calls) / n
        if name in HEAVY_SPANS:
            for f in HEAVY_FIELDS:
                out[f"{name}.{f}"] = sum(s[f] for s in calls) / n
    return out


def input_scans_per_epoch(spans: list[dict], phase: str = "loop") -> float:
    """Scans of the change input per epoch over the drains of ``phase``:
    the input scans of every SQL execution of a drain span or of any
    span nested in it (the foreachBatch callees), over the epochs those
    drains ran (their ``dim_store.apply_batch`` calls)."""
    by_id = {s["id"]: s for s in spans}

    def drain_of(s: dict | None) -> dict | None:
        while s is not None and s["name"] != "streaming.start_scd2_stream":
            s = by_id.get(s["parent"])
        return s

    scans = epochs = 0
    for s in spans:
        drain = drain_of(s)
        if drain is None or drain["phase"] != phase:
            continue
        scans += s["input_scans"]
        epochs += s["name"] == "dim_store.apply_batch"
    return scans / epochs if epochs else 0.0


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    field = metric.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("bytes"):
        return "B"
    if field == "input_scans_per_epoch":
        return "scans/epoch"
    if field.endswith("ratio") or field.endswith("coverage"):
        return "ratio"
    return "count"


def self_time_coverage(spans: list[dict], windows: list[tuple[float, float]]) -> float:
    """Share of the batches' wall time covered by span self times (the
    rest is the loop's own time between calls)."""
    covered = wall = 0.0
    tops = [s for s in spans if s["parent"] is None]
    for a, b in windows:
        wall += b - a
        covered += sum(
            min(s["end"], b) - max(s["start"], a)
            for s in tops
            if s["start"] < b and s["end"] > a
        )
    return covered / wall if wall else 0.0

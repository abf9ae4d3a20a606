"""CDC pipeline benchmark: one closed-loop workload per invocation.

    python3 cdcbench/run.py --workload cdc_microbatch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it carries the host stamp,
every end-to-end figure, ``ops_failed_ratio``, ``query_p50_s`` and every
sample.  See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "cdc_historical_warehouse_platform_spark"
sys.path.insert(0, str(ROOT))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--fault",
        choices=("dup_current", "drop_batch"),
        default=None,
        help="inject a fault the checks must catch (ops_failed_ratio > 0)",
    )
    return ap.parse_args(argv)


def _vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _session(work: Path, cores: int, event_log: Path | None):
    from cdc_historical_warehouse_platform_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Xms2g -Xmn512m -Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="cdcbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _gauges(ctx) -> dict[str, float]:
    """File-level gauges of the stores at the end of the run."""
    import pyarrow.parquet as pq

    pipe = ctx.pipe
    pointers = sum(p.stat().st_size for d in pipe.store_dirs() for p in d.rglob("_LATEST"))
    hmeta = pipe.dim.history._read_pointer() or {}
    hv = str(pipe.dim._read_pointer()["history_version"])
    segments = len(hmeta.get("manifests", {}).get(hv, []))
    meta_ptr = pipe.metadata.table._read_pointer()
    run_rows = (
        sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in (pipe.metadata.table.path / meta_ptr["dir"]).glob("*.parquet")
        )
        if meta_ptr
        else 0
    )
    cdc_bytes = sum(p.stat().st_size for p in pipe.cdc_dir.rglob("*") if p.is_file())
    # current-slice rows written during the loop, whatever the store layout
    rewritten = 0
    for sub in pipe.dim.path.iterdir():
        if sub.is_dir() and sub.name.startswith("current"):
            for f in sub.rglob("*.parquet"):
                if f.stat().st_mtime >= ctx.loop_wall_start:
                    rewritten += pq.ParquetFile(f).metadata.num_rows
    loop_changes = sum(ctx.batch_changes) or 1
    return {
        "tables.pointer_bytes": float(pointers),
        "dim_store.history_segments": float(segments),
        "metadata.run_rows": float(run_rows),
        "change_batches.bytes": float(cdc_bytes),
        "dim_store.rewrite_ratio": rewritten / loop_changes,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PACKAGE).is_dir():
        print(f"cdcbench: {PACKAGE}/ not found next to cdcbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".cdcbench_work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # the environment's setting overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    load_before = _loadavg()
    cpu_before = workloads.cpu_jiffies()
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(work, cores, work / "eventlog" if args.trace else None)
        session_s = time.perf_counter() - t
        import pyspark
        from tracer import NullTracer, Tracer, install

        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            install(tracer)
        ctx = workloads.Context(spark, work, args.seed, args.seconds, tracer, args.fault)
        workloads.WORKLOADS[args.workload](ctx)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024
        gauges = _gauges(ctx) if ctx.pipe is not None else {}
        spark_version = pyspark.__version__
        _stop(spark)
        spark = None

        e2e = {
            "setup_s": (statistics.median(ctx.setup_s), "s"),
            "batch_p50_s": (statistics.median(ctx.batch_s), "s"),
            "change_rows_per_s": (sum(ctx.batch_changes) / sum(ctx.batch_s), "1/s"),
            "store_mb": (ctx.store_bytes / 2**20, "MB"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        ratio = ctx.ops.failed / ctx.ops.attempted
        report = {
            "workload": args.workload,
            "host": {
                "nproc": os.cpu_count(),
                "master": f"local[{cores}]",
                "spark": spark_version,
                "python": platform.python_version(),
                "loadavg_before": load_before,
                "loadavg_after": _loadavg(),
                "steal_share": workloads.steal_share(cpu_before, workloads.cpu_jiffies()),
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "fault": args.fault,
            },
            "samples": {
                "setup_s": ctx.setup_s,
                "batch_s": ctx.batch_s,
                "batch_steal_share": ctx.batch_steal,
                "query_s": ctx.query_s,
                "read_mix_s": ctx.read_mix_s,
            },
            "phase_s": ctx.phase_s,
            "session_s": round(session_s, 3),
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "ops_failed_ratio": {"value": ratio, "unit": "ratio"},
            "query_p50_s": {"value": statistics.median(ctx.query_s), "unit": "s"},
            "errors": ctx.ops.errors[:20],
        }
        if args.trace:
            from tracer import (
                fold_event_log,
                input_scans_per_epoch,
                per_layer_names,
                self_time_coverage,
                span_metrics,
                unit_of,
            )

            (log,) = (work / "eventlog").iterdir()
            fold_event_log(log, tracer.spans)
            per_layer = span_metrics(tracer.spans)
            per_layer.update(gauges)
            per_layer["streaming.input_scans_per_epoch"] = input_scans_per_epoch(tracer.spans)
            loop_wall = ctx.loop_wall_end - ctx.loop_wall_start
            per_layer["trace.overhead_ratio"] = tracer.overhead_s / loop_wall
            per_layer["trace.self_time_coverage"] = self_time_coverage(
                tracer.spans, ctx.batch_windows
            )
            out = {k: {"value": per_layer[k], "unit": unit_of(k)} for k in per_layer_names()}
        else:
            out = report["end_to_end"]
        print(json.dumps(report))
        for e in ctx.ops.errors[:20]:
            print(f"cdcbench: failed: {e}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": ctx.ops.failed == 0,
                    "attempted": ctx.ops.attempted,
                    "failed": ctx.ops.failed,
                    "metrics": out,
                }
            )
        )
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory.

One place to configure the engine so every entry point (tests, bench,
driver harness, streaming jobs) gets identical semantics:

- UTC session timezone — timestamp parity with the DuckDB oracle and
  with the reference's TIMESTAMP-without-tz columns (SURVEY.md §1.2).
- AQE on — runtime coalescing/skew-join handling stands in for the
  hand-tuned batch sizing the reference documents (README.md:658-696).
- Arrow on — pandas UDF / toPandas paths are vectorized.
- shuffle.partitions sized for local runs but overridable via env for
  cluster deployment (at 100 TB you want ~2-4× total cores).
- codegen class cache at 1000 entries — every micro-batch re-runs the
  same plan shapes, and their working set is about 280 generated
  classes per loop cycle on cdcbench's ``cdc_bulk_stream`` and 340 on
  ``cdc_microbatch`` (each body once per classloader); the engine's
  default of 100 evicts all of it every cycle, so Janino recompiled
  ~140 classes per batch. 1000 is ~3× the largest working set.
- whole-stage classes named without their codegen stage id — AQE
  numbers a query's stages as they are re-planned, so the id of one
  pipeline depends on which of its concurrent shuffles finished first;
  with the id in the class name, the same plan missed the cache in
  about half of the steady-state batches of
  ``tests/test_pipeline.py::test_steady_state_batch_compiles_almost_nothing``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["codegen_compiles", "empty_frame", "get_spark"]


def get_spark(
    app_name: str = "cdc-historical-warehouse-platform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults target the local test harness (``local[$SPARK_GRAFT_CPUS]``);
    on a real cluster pass ``master=None`` with externally-managed deploy
    configs and only the semantic confs below apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # --- performance ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # pin the runtime bloom-filter join pruning ON (engine default
        # today, but the 100-TB fact-scan pruning is load-bearing — see
        # tests/test_plans.py::test_runtime_bloom_filter_injects...)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Codec + scan-split knobs (r12 optimization round, guide
        # §2.3/§6): the local defaults ARE the engine defaults — zstd
        # shuffle/parquet codecs and 512m-1g splits were A/B'd at sf0.1
        # and LOSE locally (shuffle and scans hit the page cache, so
        # compression ratio buys nothing and the extra CPU is pure
        # overhead; small inputs under-parallelize at big splits). On a
        # real cluster — network-bound shuffles, object-store scans —
        # flip SPARK_GRAFT_IO_CODEC/SPARK_GRAFT_PARQUET_CODEC to zstd
        # and raise SPARK_GRAFT_MAX_PARTITION_BYTES to 512m-1g.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A zero-row frame of exactly ``schema`` (nullability included)
    over a zero-partition RDD: actions on it schedule no task, so no
    Python worker starts (``createDataFrame([], schema)`` parallelizes
    an empty list into defaultParallelism Python partitions)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (Spark's CodegenMetrics
    counter). On a cluster it counts the driver's compiles only."""
    jvm = spark.sparkContext._jvm
    return int(
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    )

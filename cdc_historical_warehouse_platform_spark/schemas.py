"""Explicit StructType schemas (DDL-first, like the reference).

Pipeline schemas re-express the reference's Postgres DDL
(init-scripts/01-init-orders-table.sql:2-13, scd2_loader.py:102-155,
pipeline_metadata.py:66-102) in Spark types per the SURVEY.md §1.2
mapping table.  Streaming sources require explicit schemas — none of
these are ever inferred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "ORDERS_SCHEMA",
    "CHANGE_SCHEMA",
    "CHANGE_JSON_SCHEMA",
    "DIM_HISTORY_SCHEMA",
    "PIPELINE_METADATA_SCHEMA",
    "TESTDATA_TABLES",
    "load_table",
    "register_testdata_views",
]

# --- source operational table (orders) -------------------------------------
# init-scripts/01-init-orders-table.sql:2-13; SERIAL -> long, DECIMAL(10,2)
ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("customer_id", T.IntegerType(), False),
        T.StructField("product_id", T.IntegerType(), False),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price", T.DecimalType(10, 2), False),
        T.StructField("total_amount", T.DecimalType(10, 2), True),  # generated col
        T.StructField("order_status", T.StringType(), True),
        T.StructField("order_date", T.TimestampType(), True),
        T.StructField("last_updated", T.TimestampType(), True),  # CDC watermark col
        T.StructField("created_at", T.TimestampType(), True),  # INSERT/UPDATE classifier
    ]
)

# --- CDC change record (typed, in-engine) -----------------------------------
# log_extractor.py:125-166: full row image + op metadata.
CHANGE_SCHEMA = T.StructType(
    list(ORDERS_SCHEMA.fields)
    + [
        T.StructField("operation_type", T.StringType(), False),  # INSERT|UPDATE|DELETE|UPSERT
        T.StructField("cdc_timestamp", T.TimestampType(), False),
        T.StructField("extracted_at", T.TimestampType(), True),
    ]
)

# --- CDC change record as serialized in JSON batch files ---------------------
# The reference stringifies decimals/timestamps (json.dump(default=str),
# log_extractor.py:199) so the JSON-side schema is all-strings for those
# columns; sources/change_batches.py casts back to CHANGE_SCHEMA.
CHANGE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("customer_id", T.IntegerType(), True),
        T.StructField("product_id", T.IntegerType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("unit_price", T.StringType(), True),
        T.StructField("total_amount", T.StringType(), True),
        T.StructField("order_status", T.StringType(), True),
        T.StructField("order_date", T.StringType(), True),
        T.StructField("last_updated", T.StringType(), True),
        T.StructField("created_at", T.StringType(), True),
        T.StructField("operation_type", T.StringType(), True),
        T.StructField("cdc_timestamp", T.StringType(), True),
        T.StructField("extracted_at", T.StringType(), True),
    ]
)

# --- SCD2 dimension (dim_orders_history) ------------------------------------
# scd2_loader.py:102-155. Surrogate key is xxhash64(order_key, valid_from)
# (no SERIAL in Spark; SURVEY.md §4 gap (2)).
DIM_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("surrogate_key", T.LongType(), False),
        T.StructField("order_key", T.LongType(), False),
        T.StructField("customer_id", T.IntegerType(), True),
        T.StructField("product_id", T.IntegerType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("unit_price", T.DecimalType(10, 2), True),
        T.StructField("total_amount", T.DecimalType(10, 2), True),
        T.StructField("order_status", T.StringType(), True),
        T.StructField("order_date", T.TimestampType(), True),
        T.StructField("valid_from", T.TimestampType(), False),
        T.StructField("valid_to", T.TimestampType(), True),  # NULL <=> current
        T.StructField("is_current", T.BooleanType(), False),
        T.StructField("cdc_operation", T.StringType(), True),
        T.StructField("cdc_timestamp", T.TimestampType(), True),
        T.StructField("batch_id", T.StringType(), True),
    ]
)

# --- pipeline run metadata ----------------------------------------------------
# pipeline_metadata.py:66-102; JSONB performance_metrics -> JSON string.
PIPELINE_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("pipeline_name", T.StringType(), False),
        T.StructField("start_time", T.TimestampType(), False),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("records_processed", T.LongType(), True),
        T.StructField("records_successful", T.LongType(), True),
        T.StructField("records_failed", T.LongType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("performance_metrics", T.StringType(), True),  # JSON string
    ]
)

# --- driver testdata ----------------------------------------------------------
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table (TESTDATA.md).

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects — read nanos as long and
    floor-divide to microseconds, matching DuckDB's ``CAST(ts AS
    TIMESTAMP)`` truncation) or TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ — cast to the session-TZ timestamp type so both
    encodings produce identical TimestampType columns). The encoding is
    detected from the parquet footer, never assumed.

    The session timezone is pinned to UTC on every load: the driver
    harness supplies its own SparkSession, and timestamp collect /
    date_trunc results must not depend on its host timezone.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read as long
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Traffic simulator — db_mutator.py re-expressed as rand()-based
DataFrame mutations against a VersionedTable source.

Reference op mix per cycle (db_mutator.py:243-258): 30% chance of 1-3
inserts, 40% chance of 1-3 updates, 20% chance of 1-2 deletes (only
when >10 rows). Deterministic under a seed so pipeline tests are
reproducible; deletes append tombstones to a ``deleted_orders`` table
(the trigger stand-in, log_extractor.py:290-334).
"""

from __future__ import annotations

import datetime as _dt
import random
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.schemas import ORDERS_SCHEMA
from cdc_historical_warehouse_platform_spark.session import empty_frame
from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

__all__ = ["OrderSimulator", "STATUSES"]

STATUSES = ("pending", "confirmed", "shipped", "completed", "cancelled")

# the most ids one mutation cycle collects to the driver
SAMPLE_POOL = 1024

DELETED_COLUMNS = [f.name for f in ORDERS_SCHEMA.fields] + ["deleted_at", "deletion_reason"]


class OrderSimulator:
    def __init__(
        self,
        spark: SparkSession,
        source: VersionedTable,
        deleted_table: VersionedTable | None = None,
        seed: int = 42,
    ):
        self.spark = spark
        self.source = source
        self.deleted = deleted_table
        self.rng = random.Random(seed)
        self._next_id = 1
        self._cycle = 0

    def _now(self, now: _dt.datetime | None) -> _dt.datetime:
        return now or _dt.datetime.utcnow()

    def _orders(self) -> DataFrame:
        if self.source.exists():
            return self.source.read(self.spark)
        return empty_frame(self.spark, ORDERS_SCHEMA)

    def seed_orders(self, n: int = 5, now: _dt.datetime | None = None) -> None:
        """Initial rows (init-scripts/01-init-orders-table.sql:21-26)."""
        now = self._now(now)
        rows = [self._new_row(now) for _ in range(n)]
        self.source.commit(self.spark.createDataFrame(rows, ORDERS_SCHEMA))

    def _new_row(self, now: _dt.datetime):
        oid = self._next_id
        self._next_id += 1
        qty = self.rng.randint(1, 10)
        price = Decimal(f"{self.rng.uniform(5, 500):.2f}")
        return (
            oid,
            self.rng.randint(1, 100),
            self.rng.randint(1, 50),
            qty,
            price,
            price * qty,
            self.rng.choice(STATUSES),
            now,
            now,
            now,
        )

    def mutate_once(self, now: _dt.datetime | None = None) -> dict:
        """One cycle of the 30/40/20 op mix; returns op counts."""
        now = self._now(now)
        orders = self._orders()
        self._cycle += 1
        # max/count in one agg row; update/delete targets from a
        # per-cycle deterministic pseudo-random LIMIT sample, so driver
        # memory stays bounded however big the source table is (the
        # reference collects every id, db_mutator.py:83)
        stats = orders.agg(
            F.max("id").alias("mx"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        n_rows = stats["n"]
        if stats["mx"] is not None:
            self._next_id = stats["mx"] + 1
        ids = [
            r["id"]
            for r in orders.select("id")
            .orderBy(F.xxhash64(F.col("id"), F.lit(self._cycle)), F.col("id"))
            .limit(SAMPLE_POOL)
            .collect()
        ]

        n_ins = self.rng.randint(1, 3) if self.rng.random() < 0.3 else 0
        n_upd = min(len(ids), self.rng.randint(1, 3)) if self.rng.random() < 0.4 else 0
        n_del = (
            min(2, self.rng.randint(1, 2))
            if (self.rng.random() < 0.2 and n_rows > 10)
            else 0
        )

        upd_ids = self.rng.sample(ids, n_upd) if n_upd else []
        remaining = [i for i in ids if i not in upd_ids]
        del_ids = self.rng.sample(remaining, min(n_del, len(remaining))) if n_del else []

        df = orders
        if del_ids:
            if self.deleted is not None:
                tomb = df.filter(F.col("id").isin(del_ids)).select(
                    "*",
                    F.lit(now).cast("timestamp").alias("deleted_at"),
                    F.lit("simulator").alias("deletion_reason"),
                )
                base = (
                    self.deleted.read(self.spark)
                    if self.deleted.exists()
                    else empty_frame(self.spark, tomb.schema)
                )
                self.deleted.commit(base.unionByName(tomb))
            df = df.filter(~F.col("id").isin(del_ids))

        if upd_ids:
            new_status = F.element_at(
                F.array(*[F.lit(s) for s in STATUSES]),
                (F.pmod(F.xxhash64("id", F.lit(str(now))), F.lit(len(STATUSES))) + 1).cast("int"),
            )
            is_upd = F.col("id").isin(upd_ids)
            qty = F.when(is_upd, F.pmod(F.xxhash64("id", F.lit("q"), F.lit(str(now))), F.lit(10)).cast("int") + 1).otherwise(F.col("quantity"))
            df = df.select(
                "id",
                "customer_id",
                "product_id",
                qty.alias("quantity"),
                "unit_price",
                (qty * F.col("unit_price")).cast("decimal(10,2)").alias("total_amount"),
                F.when(is_upd, new_status).otherwise(F.col("order_status")).alias("order_status"),
                "order_date",
                F.when(is_upd, F.lit(now)).otherwise(F.col("last_updated")).alias("last_updated"),
                "created_at",
            )

        inserts = [self._new_row(now) for _ in range(n_ins)]
        if inserts:
            df = df.unionByName(self.spark.createDataFrame(inserts, ORDERS_SCHEMA))

        self.source.commit(df.select(*[f.name for f in ORDERS_SCHEMA.fields]))
        return {"inserts": n_ins, "updates": len(upd_ids), "deletes": len(del_ids)}

    def stats(self) -> dict:
        """A2: source-stats aggregate (db_mutator.py:188-206)."""
        row = self._orders().agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.count(F.when(F.col("order_status") == "pending", 1)).alias("pending"),
            F.count(F.when(F.col("order_status") == "shipped", 1)).alias("shipped"),
            F.count(F.when(F.col("order_status") == "completed", 1)).alias("completed"),
            F.max("order_date").alias("latest_order"),
            F.sum("total_amount").alias("total_value"),
        ).collect()[0]
        return row.asDict()

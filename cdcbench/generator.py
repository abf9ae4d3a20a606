"""Seeded change generator and the engine-independent expected dimension.

The generator owns the operational ``orders`` source (a parquet
snapshot the extractor reads) and the ``deleted_orders`` tombstone
table.  Every batch it draws changes from a ``numpy`` generator seeded
by the workload seed, rewrites the source snapshot with pyarrow (no
Spark job, so the system under test sees only its inputs), and records
the versions the SCD2 dimension must hold in plain Python.  The same
seed therefore gives byte-identical change batches and an identical
expected dimension, whatever the engine does.

Modelling rules follow the loader's documented semantics
(operators/scd2.py): an UPDATE expires the current version at the
change's ``cdc_timestamp`` and opens a successor at the same instant;
a DELETE only expires; an INSERT opens a version.  Every generated
update changes ``quantity`` (a tracked column), so the P8 no-op
suppression never applies, and a key changes at most once per batch.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2026, 1, 1)
STATUSES = ("pending", "confirmed", "shipped", "completed", "cancelled")
N_CUSTOMERS = 400
N_PRODUCTS = 200

# Tracked columns as the dimension stores them (operators/scd2.py).
TRACKED = (
    "customer_id",
    "product_id",
    "quantity",
    "unit_price",
    "total_amount",
    "order_status",
    "order_date",
)
DIM_CHECK_COLUMNS = ("order_key", "valid_from", "valid_to", "is_current") + TRACKED

_TS = pa.timestamp("us", tz="UTC")
_DEC = pa.decimal128(10, 2)
ORDERS_ARROW = pa.schema(
    [
        ("id", pa.int64()),
        ("customer_id", pa.int32()),
        ("product_id", pa.int32()),
        ("quantity", pa.int32()),
        ("unit_price", _DEC),
        ("total_amount", _DEC),
        ("order_status", pa.string()),
        ("order_date", _TS),
        ("last_updated", _TS),
        ("created_at", _TS),
    ]
)
DELETED_ARROW = pa.schema(
    list(ORDERS_ARROW) + [("deleted_at", _TS), ("deletion_reason", pa.string())]
)
_UTC = dt.timezone.utc


def _aware(ts: dt.datetime) -> dt.datetime:
    return ts.replace(tzinfo=_UTC)


class ChangeGenerator:
    """Deterministic CDC source plus its expected SCD2 dimension.

    ``keyspace`` sets the seed size; :meth:`next_batch` draws one batch
    of ``n_changes`` with the given update/insert/delete shares.  With
    ``zipf`` the updated keys follow a Zipf(1.1) popularity drawn once
    per key, so hot orders build deep history; otherwise keys are
    uniform.
    """

    def __init__(self, seed: int, keyspace: int, zipf: bool):
        self.rng = np.random.default_rng(seed)
        self.zipf = zipf
        self.batch_no = 0
        self.rows: dict[int, dict] = {}
        self.weight: dict[int, float] = {}
        self.next_id = 1
        self.tombstones: list[dict] = []
        # expected dimension: every version ever opened, plus the open one per key
        self.versions: list[dict] = []
        self.open: dict[int, int] = {}
        self.batches: list[dict] = []
        self._seed_rows(keyspace)

    # --- drawing ------------------------------------------------------------

    def _new_row(self, ts: dt.datetime) -> dict:
        oid = self.next_id
        self.next_id += 1
        qty = int(self.rng.integers(1, 11))
        price = Decimal(int(self.rng.integers(500, 50_000_000))) / 100
        row = {
            "id": oid,
            "customer_id": int(self.rng.integers(1, N_CUSTOMERS + 1)),
            "product_id": int(self.rng.integers(1, N_PRODUCTS + 1)),
            "quantity": qty,
            "unit_price": price,
            "total_amount": price * qty,
            "order_status": STATUSES[int(self.rng.integers(0, len(STATUSES)))],
            "order_date": ts,
            "last_updated": ts,
            "created_at": ts,
        }
        self.weight[oid] = float(self.rng.zipf(1.1)) if self.zipf else 1.0
        return row

    def _seed_rows(self, n: int) -> None:
        changes = []
        for i in range(n):
            row = self._new_row(T0 + dt.timedelta(microseconds=i))
            self.rows[row["id"]] = row
            changes.append(("INSERT", row["id"], row["last_updated"]))
            self._open(row, row["last_updated"])
        self.batches.append({"no": 0, "changes": changes, "now": self.extract_time(0)})
        self._snapshot_counts(self.batches[0])

    def extract_time(self, batch_no: int) -> dt.datetime:
        """The extractor's ``now`` for batch ``batch_no`` — after every
        change of the batch, before the next batch's first change."""
        return T0 + dt.timedelta(minutes=batch_no, seconds=30)

    def _pick(self, pool: list[int], k: int, weighted: bool) -> list[int]:
        if k <= 0 or not pool:
            return []
        k = min(k, len(pool))
        if weighted:
            w = np.array([self.weight[i] for i in pool])
            idx = self.rng.choice(len(pool), size=k, replace=False, p=w / w.sum())
        else:
            idx = self.rng.choice(len(pool), size=k, replace=False)
        return [pool[i] for i in sorted(idx)]

    def next_batch(self, n_changes: int, mix=(0.6, 0.3, 0.1)) -> dict:
        """Draw one batch and advance the expected dimension."""
        self.batch_no += 1
        base = T0 + dt.timedelta(minutes=self.batch_no)
        n_upd = int(round(n_changes * mix[0]))
        n_del = int(round(n_changes * mix[2]))
        n_ins = n_changes - n_upd - n_del
        live = sorted(self.rows)
        upd = self._pick(live, n_upd, self.zipf)
        chosen = set(upd)
        dels = self._pick([k for k in live if k not in chosen], n_del, False)
        # one distinct timestamp per change, in a drawn order
        events = [("UPDATE", k) for k in upd] + [("DELETE", k) for k in dels]
        events += [("INSERT", None)] * n_ins
        order = self.rng.permutation(len(events))
        changes = []
        for tick, j in enumerate(order):
            op, key = events[j]
            ts = base + dt.timedelta(milliseconds=tick)
            if op == "INSERT":
                row = self._new_row(ts)
                self.rows[row["id"]] = row
                self._open(row, ts)
                key = row["id"]
            elif op == "UPDATE":
                row = dict(self.rows[key])
                qty = row["quantity"] % 10 + 1  # always a tracked change
                row["quantity"] = qty
                row["total_amount"] = row["unit_price"] * qty
                row["order_status"] = STATUSES[int(self.rng.integers(0, len(STATUSES)))]
                row["last_updated"] = ts
                self.rows[key] = row
                self._close(key, ts)
                self._open(row, ts)
            else:
                row = self.rows.pop(key)
                self.tombstones.append(
                    {**row, "deleted_at": ts, "deletion_reason": "generator"}
                )
                self._close(key, ts)
            changes.append((op, key, ts))
        batch = {"no": self.batch_no, "changes": changes, "now": self.extract_time(self.batch_no)}
        self.batches.append(batch)
        self._snapshot_counts(batch)
        return batch

    def _snapshot_counts(self, batch: dict) -> None:
        # the dimension's version N is the state after batch N: these
        # counts answer read(version=N) long after later batches ran
        batch["n_versions"] = len(self.versions)
        batch["n_current"] = len(self.open)

    # --- expected dimension -------------------------------------------------

    def _open(self, row: dict, ts: dt.datetime) -> None:
        v = {
            "order_key": row["id"],
            "valid_from": ts,
            "valid_to": None,
            "is_current": True,
            **{c: row[c] for c in TRACKED},
        }
        self.open[row["id"]] = len(self.versions)
        self.versions.append(v)

    def _close(self, key: int, ts: dt.datetime) -> None:
        v = self.versions[self.open.pop(key)]
        v["valid_to"] = ts
        v["is_current"] = False

    def expected_rows(self) -> set[tuple]:
        """The whole expected dimension as comparable tuples."""
        return {normalize(v) for v in self.versions}

    def current_rows(self) -> dict[int, dict]:
        return {k: self.versions[i] for k, i in self.open.items()}

    def as_of(self, t: dt.datetime, lo: int, hi: int) -> set[tuple]:
        """Versions of keys in [lo, hi] valid at instant ``t``."""
        return {
            normalize(v)
            for v in self.versions
            if lo <= v["order_key"] <= hi
            and v["valid_from"] <= t
            and (v["valid_to"] is None or v["valid_to"] > t)
        }

    # --- the source the extractor reads --------------------------------------

    def write_source(self, source_dir: Path, deleted_dir: Path) -> None:
        """Commit the current source state: a new orders snapshot and the
        tombstone table, each renamed into place atomically."""
        rows = [self.rows[k] for k in sorted(self.rows)]
        _write(source_dir, self.batch_no, _table(rows, ORDERS_ARROW))
        if self.tombstones:
            _write(deleted_dir, self.batch_no, _table(self.tombstones, DELETED_ARROW))


def normalize(v: dict) -> tuple:
    """A version as a hashable tuple with engine-neutral value types."""
    out = []
    for c in DIM_CHECK_COLUMNS:
        x = v[c]
        if isinstance(x, dt.datetime):
            x = x.replace(tzinfo=None)
        elif isinstance(x, Decimal):
            x = str(x.quantize(Decimal("0.01")))
        elif isinstance(x, (np.integer,)):
            x = int(x)
        elif isinstance(x, (bool, np.bool_)):
            x = bool(x)
        out.append(x)
    return tuple(out)


def _table(rows: list[dict], schema: pa.Schema) -> pa.Table:
    cols = {}
    for f in schema:
        vals = [r[f.name] for r in rows]
        if pa.types.is_timestamp(f.type):
            vals = [_aware(v) if v is not None else None for v in vals]
        cols[f.name] = pa.array(vals, type=f.type)
    return pa.table(cols, schema=schema)


def _write(directory: Path, version: int, table: pa.Table) -> None:
    directory.mkdir(parents=True, exist_ok=True)
    tmp = directory / f".v{version}.parquet.tmp"
    pq.write_table(table, tmp)
    tmp.rename(directory / f"v{version}.parquet")
    for old in directory.glob("v*.parquet"):
        if old.name != f"v{version}.parquet":
            old.unlink()


class ParquetSnapshot:
    """Read side of a generator-owned table: the newest snapshot file.

    Satisfies the extractor's source protocol (``read(spark)``) and,
    for the tombstone table, the ``exists()`` probe it makes first."""

    def __init__(self, directory: Path):
        self.directory = Path(directory)

    def exists(self) -> bool:
        return any(self.directory.glob("v*.parquet"))

    def read(self, spark):
        (latest,) = self.directory.glob("v*.parquet")
        return spark.read.parquet(str(latest))

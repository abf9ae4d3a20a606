"""Pipeline state: watermark file, processed-batch ledger, batch ids.

Mirrors the reference's state files (FIXTURES.md §1.6):
- ``.watermark`` — single ISO timestamp (log_extractor.py:81-106);
- ``.processed_files`` — append-only ``filename|batch_id`` lines
  (scd2_loader.py:165-187).

In streaming deployments the Structured Streaming checkpoint subsumes
both (ST1/ST4); these file twins keep batch runs reproducible and make
the idempotency contract testable without a streaming context.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.sources.tables import atomic_write_text

__all__ = ["BatchId", "Watermark", "ProcessedLedger", "generate_batch_id"]


class Watermark:
    """High-watermark state (ST1). Default first-run value: now − 5 min
    (log_extractor.py:94-97)."""

    def __init__(self, path: str | Path, lookback: _dt.timedelta = _dt.timedelta(minutes=5)):
        self.path = Path(path)
        self.lookback = lookback

    def get(self, now: _dt.datetime | None = None) -> _dt.datetime:
        try:
            return _dt.datetime.fromisoformat(self.path.read_text().strip())
        except FileNotFoundError:
            now = now or _dt.datetime.utcnow()
            return now - self.lookback

    def set(self, value: _dt.datetime) -> None:
        atomic_write_text(self.path, value.isoformat())


class ProcessedLedger:
    """Append-only exactly-once ledger of ``filename|batch_id``.

    Parsed lazily and cached against the file's (mtime, size) so a
    load_pending run over N batches parses the file once, not once per
    batch (the reference re-reads it per file, scd2_loader.py:165-187 —
    O(N²) lines over a backfill). External appends invalidate the cache
    via the stat key; in-process ``mark`` updates cache and key in step.
    """

    def __init__(self, path: str | Path):
        self.path = Path(path)
        self._cache: set[tuple[str, str]] | None = None
        self._cache_key: tuple[int, int] | None = None

    def entries(self) -> set[tuple[str, str]]:
        try:
            st = self.path.stat()
        except FileNotFoundError:
            return set()
        key = (st.st_mtime_ns, st.st_size)
        if self._cache is not None and self._cache_key == key:
            return self._cache
        out: set[tuple[str, str]] = set()
        for line in self.path.read_text().splitlines():
            if "|" in line:
                name, batch_id = line.split("|", 1)
                out.add((name, batch_id))
        self._cache, self._cache_key = out, key
        return out

    def is_processed(self, filename: str, batch_id: str) -> bool:
        return (filename, batch_id) in self.entries()

    def mark(self, filename: str, batch_id: str) -> None:
        cache = self.entries()  # parse (or reuse) BEFORE the append
        with self.path.open("a") as f:
            f.write(f"{filename}|{batch_id}\n")
        cache = set(cache)
        cache.add((filename, batch_id))
        st = self.path.stat()
        self._cache, self._cache_key = cache, (st.st_mtime_ns, st.st_size)


class BatchId(str):
    """A batch id that also carries ``rows``, the batch's row count
    from the same aggregate, so callers need no ``count`` job."""

    rows: int


def generate_batch_id(changes: DataFrame, id_col: str = "id") -> BatchId | None:
    """F7: deterministic content-hash batch id (the reference hashes
    the JSON of the sorted id list, scd2_loader.py:184-187), or None
    for an empty batch — the aggregate's row count doubles as the
    emptiness check, so callers need no separate ``isEmpty`` job.

    Computed as an order-insensitive distributed digest: two
    independent per-row xxhash64 streams summed exactly in
    DECIMAL(38,0) plus count/min/max, then md5 of that fixed-size
    summary. Commutative aggregation means partition order can't
    perturb it, and nothing proportional to the batch ever reaches the
    driver — a backfill batch can hold billions of rows.

    A change batch (one with a ``cdc_timestamp`` column) is rejected
    with ValueError if any change lacks its timestamp: the SCD2 merge
    orders a key's versions by it, and a NULL one would leave an
    expired row with no ``valid_to`` and a current row with no
    ``valid_from``. The same aggregate counts them."""
    idc = F.col(id_col).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(idc).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(idc, F.lit(1)).cast("decimal(38,0)")).alias("h2"),
        F.min(idc).alias("lo"),
        F.max(idc).alias("hi"),
    ]
    if "cdc_timestamp" in changes.columns:
        aggs.append(F.count("cdc_timestamp").alias("timestamped"))
    row = changes.agg(*aggs).collect()[0].asDict()
    if row["n"] == 0:
        return None
    untimed = row["n"] - row.get("timestamped", row["n"])
    if untimed:
        raise ValueError(
            f"{untimed} of {row['n']} changes have no cdc_timestamp; "
            "the batch is rejected before any commit"
        )
    digest = json.dumps(
        [int(row["n"]), str(row["h1"]), str(row["h2"]), row["lo"], row["hi"]]
    )
    batch_id = BatchId(hashlib.md5(digest.encode()).hexdigest())
    batch_id.rows = int(row["n"])
    return batch_id

"""Multi-dimensional data layout (Z-order) + file-level data skipping.

The two halves of the lakehouse "OPTIMIZE ZORDER BY" story
(reference has no counterpart — this is the 100 TB layout tier the
warehouse needs once a single filter column stops being enough):

1. **Z-order keys** — interleave the bits of two quantized dimensions
   (Morton code) so that rows close in BOTH dimensions land close in
   the single sort order. Writing a table ``repartitionByRange`` +
   ``sortWithinPartitions`` on that key gives every parquet file a
   tight bounding box in (colA, colB) space instead of a tight range
   in just one column.

2. **File-level min/max skipping** — after a version commit, a
   metadata-only pass (parquet footers, distributed over the file
   list with ``mapInPandas``; no data pages are read) records each
   file's per-column min/max into a stats manifest next to the
   version pointer. ``read_pruned`` intersects a range predicate with
   those bounding boxes and plans the scan over only the surviving
   files — the Delta/Iceberg data-skipping idea, sized so the
   manifest is one small JSON per version (at real scale it would be
   a parquet stats table; the shape is identical).

Everything is integer/bit arithmetic (shift/and/or) — JVM codegen on
the Spark side and expressible 1:1 in DuckDB SQL, so the key
computation itself is oracle-checkable bit-for-bit.

This is the package's one Z-order layout job. It holds the generic
interleave core, the integer-exact 2×16-bit key (``zorder_key2(a, b)``
≡ ``interleave([b, a], 16)`` — a's bits odd, b's even), and the
VersionedTable stats/skipping tier.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "quantize",
    "spread_bits16",
    "zorder_key2",
    "zorder_key2_py",
    "write_zordered",
    "collect_file_stats",
    "read_pruned",
]

BITS = 16
MAX_Q = (1 << BITS) - 1

# the classic Morton spread masks: 16 significant bits end up in the
# even bit positions of a 32-bit lane
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def quantize(col: Column, lo: int, hi: int) -> Column:
    """Map an integer-valued column into [0, 2^16) with pure integer
    arithmetic: ``((v - lo) * 65536) div (hi - lo + 1)``, clamped.
    Integer div keeps the mapping bit-identical on any engine — no
    float rounding at bucket boundaries."""
    span = int(hi) - int(lo) + 1
    scaled = (col.cast("long") - F.lit(int(lo))) * F.lit(1 << BITS)
    q = _intdiv(scaled, span)
    return F.greatest(F.lit(0), F.least(F.lit(MAX_Q), q)).cast("long")


def _intdiv(col: Column, divisor: int) -> Column:
    """Exact integer division on a long column. ``F.floor(a / b)``
    would round through double (wrong past 2^53); instead subtract
    the remainder first — both pmod and the arithmetic stay in
    longs."""
    d = F.lit(int(divisor))
    return ((col - F.pmod(col, d)) / d).cast("long")


def spread_bits16(col: Column) -> Column:
    """Spread the low 16 bits of ``col`` into the even bit positions
    of a 32-bit lane (Morton interleave half): 4 shift/or/and rounds,
    all JVM codegen."""
    x = col.bitwiseAND(F.lit(MAX_Q))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key2(a: Column, b: Column) -> Column:
    """Morton code of two pre-quantized [0, 2^16) columns: bits of
    ``a`` in odd positions, ``b`` in even — a 32-bit key in a long.
    Specialized fast path of :func:`interleave` (8 shift/mask ops vs
    a 32-round bit loop; same key, pinned equal in tests)."""
    return F.shiftleft(spread_bits16(a), 1).bitwiseOR(spread_bits16(b))


def interleave(quantized: list[Column], bits: int) -> Column:
    """Generic N-column Morton interleave of pre-quantized
    ``[0, 2^bits)`` long columns — column ``j``'s bit ``i`` lands at
    position ``i*n + j``. Tests pin the 2×16-bit fast path
    :func:`zorder_key2` equal to it. ``bits * n`` must fit 63 bits."""
    n = len(quantized)
    if bits * n > 63:
        raise ValueError(f"bits*cols = {bits * n} exceeds 63")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def zorder_key2_py(qa: int, qb: int) -> int:
    """Pure-Python reference of :func:`zorder_key2` for tests."""

    def spread(x: int) -> int:
        x &= MAX_Q
        for shift, mask in _SPREAD:
            x = (x | (x << shift)) & mask
        return x

    return (spread(qa) << 1) | spread(qb)


def zorder_sql(expr_a: str, expr_b: str) -> str:
    """DuckDB SQL twin of quantize+spread+interleave, built from the
    same shift/mask constants so the oracle is bit-identical."""

    def spread(e: str) -> str:
        x = f"({e} & {MAX_Q})"
        for shift, mask in _SPREAD:
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    return f"(({spread(expr_a)} << 1) | {spread(expr_b)})"


def quantize_sql(expr: str, lo: int, hi: int) -> str:
    span = int(hi) - int(lo) + 1
    q = f"((CAST({expr} AS BIGINT) - {int(lo)}) * {1 << BITS}) // {span}"
    return f"GREATEST(0, LEAST({MAX_Q}, {q}))"


# --------------------------------------------------------------------------
# Z-ordered writes + file stats + pruned reads over VersionedTable
# --------------------------------------------------------------------------


def write_zordered(
    table,
    df: DataFrame,
    key: Column,
    stats_cols: list[str],
    n_files: int = 16,
    txn_id: str | None = None,
) -> int:
    """Commit ``df`` to a VersionedTable clustered by ``key``:
    ``repartitionByRange`` (one range shuffle — contiguous, near-
    equal-sized key ranges per file thanks to Spark's range sampler)
    then ``sortWithinPartitions`` (in-task sort, no extra exchange),
    so every output file covers a tight slice of the Z-curve — i.e. a
    small bounding box in the original (colA, colB) space. Then a
    footer-only stats pass records per-file min/max for
    ``stats_cols`` into the version's skipping manifest."""
    clustered = df.repartitionByRange(n_files, key.asc()).sortWithinPartitions(
        key.asc()
    )
    version = table.commit(clustered, txn_id=txn_id)
    stats = []
    for seg in table.segment_dirs(version):
        stats.extend(collect_file_stats(df.sparkSession, seg, stats_cols))
    _stats_file(table, version).write_text(json.dumps(stats))
    return version


def _stats_file(table, version: int) -> Path:
    return table.path / f"_STATS_v{version}.json"


def collect_file_stats(
    spark: SparkSession, vdir: str | Path, cols: list[str]
) -> list[dict]:
    """Per-file min/max for ``cols`` from parquet FOOTERS only — the
    file list is distributed with ``mapInPandas`` and each task opens
    just the metadata of its files (O(files) footer reads, zero data
    pages; the write-time inline version Delta uses needs engine
    hooks Spark doesn't expose — a footer pass after commit is the
    portable equivalent and scans no row data). Values are stored
    JSON-portably: numerics as numbers, everything else as ISO/str
    (whose lexicographic order matches the engine's for dates and
    plain strings)."""
    files = sorted(str(p) for p in Path(vdir).rglob("*.parquet"))
    if not files:
        return []
    sdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        min(len(files), 32)
    )
    wanted = list(cols)

    def footer_stats(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                nrows = md.num_rows
                per_col: dict[str, tuple] = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        name = c.path_in_schema
                        if name not in wanted:
                            continue
                        st = c.statistics
                        if st is None or not st.has_min_max:
                            per_col[name] = None  # one stats-less group poisons the file
                            continue
                        if name in per_col and per_col[name] is None:
                            continue
                        lo, hi = st.min, st.max
                        cur = per_col.get(name)
                        if cur is not None:
                            lo = min(lo, cur[0])
                            hi = max(hi, cur[1])
                        per_col[name] = (lo, hi)
                rows.append(
                    {
                        "path": path,
                        "nrows": nrows,
                        "stats": json.dumps(
                            {
                                k: None if v is None else [_portable(v[0]), _portable(v[1])]
                                for k, v in per_col.items()
                            }
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["path", "nrows", "stats"])

    out = sdf.mapInPandas(
        footer_stats, schema="path string, nrows long, stats string"
    ).collect()
    return [
        {"path": r["path"], "nrows": r["nrows"], "stats": json.loads(r["stats"])}
        for r in out
    ]


def _portable(v):
    if isinstance(v, (int, float, str)):
        return v
    return str(v)  # dates/timestamps/decimals -> ISO-ish strings


def read_pruned(
    table,
    spark: SparkSession,
    predicates: dict[str, tuple],
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Plan a scan over only the files whose min/max box intersects
    every ``col: (lo, hi)`` predicate (None bound = open). Returns
    (DataFrame of surviving files with the predicate still applied —
    skipping is a pruning optimization, never a filter replacement —
    and a report {files_total, files_read, rows_total, rows_read}).

    Files without stats for a predicate column are conservatively
    kept. Falls back to the full read when no stats manifest exists."""
    v = table.version() if version is None else version
    full = table.read(spark, version=v)  # FileNotFoundError on an empty table
    sfile = _stats_file(table, v)
    cond = _pred_condition(predicates)
    if not sfile.exists():
        return full.where(cond), {"files_total": None, "files_read": None}

    stats = json.loads(sfile.read_text())
    keep, skipped_rows = [], 0
    for f in stats:
        if _intersects(f["stats"], predicates):
            keep.append(f)
        else:
            skipped_rows += f["nrows"]
    report = {
        "files_total": len(stats),
        "files_read": len(keep),
        "rows_total": sum(f["nrows"] for f in stats),
        "rows_read": sum(f["nrows"] for f in keep),
    }
    if len(keep) == len(stats):
        return full.where(cond), report
    if not keep:
        return full.where(cond).limit(0), report
    df = spark.read.schema(full.schema).parquet(*[f["path"] for f in keep])
    return df.where(cond), report


def _pred_condition(predicates: dict[str, tuple]) -> Column:
    cond = F.lit(True)
    for col, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return cond


def _intersects(file_stats: dict, predicates: dict[str, tuple]) -> bool:
    for col, (lo, hi) in predicates.items():
        box = file_stats.get(col)
        if box is None:
            continue  # no stats for this column -> cannot skip
        fmin, fmax = box
        if lo is not None and _cmp(fmax, lo) < 0:
            return False
        if hi is not None and _cmp(fmin, hi) > 0:
            return False
    return True


def _cmp(a, b) -> int:
    # numerics compare numerically even against int/float mix; strings
    # (incl. ISO dates) lexically — matching parquet's ordering for
    # the types _portable emits
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return (a > b) - (a < b)
    sa, sb = str(a), str(b)
    return (sa > sb) - (sa < sb)


def zorder_file_spread(stats: list[dict], col_a: str, col_b: str) -> float:
    """Layout-quality metric for tests/benchmarks: mean fractional
    side length of each file's bounding box in (col_a, col_b) space —
    1.0 means every file spans the whole domain (no locality), values
    near ``1/sqrt(n_files)`` mean an ideal square tiling."""
    mins_a = [f["stats"][col_a][0] for f in stats if f["stats"].get(col_a)]
    maxs_a = [f["stats"][col_a][1] for f in stats if f["stats"].get(col_a)]
    mins_b = [f["stats"][col_b][0] for f in stats if f["stats"].get(col_b)]
    maxs_b = [f["stats"][col_b][1] for f in stats if f["stats"].get(col_b)]
    dom_a = max(maxs_a) - min(mins_a) or 1
    dom_b = max(maxs_b) - min(mins_b) or 1
    sides = []
    for f in stats:
        sa = f["stats"][col_a]
        sb = f["stats"][col_b]
        sides.append(
            math.sqrt(((sa[1] - sa[0]) / dom_a) * ((sb[1] - sb[0]) / dom_b))
        )
    return sum(sides) / len(sides)

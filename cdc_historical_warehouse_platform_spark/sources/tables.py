"""Versioned parquet tables with atomic commits — the warehouse layer.

Delta Lake is not available in this environment, so the engine ships a
minimal transactional table format with the same properties the SCD2
pipeline needs (SURVEY.md §4 "Transactionality"):

- **Atomic publish**: data lands in an immutable ``v{N}`` directory (no leading underscore — Hadoop
  path listing treats ``_``/``.``-prefixed paths as hidden and silently
  ignores them);
  readers follow the ``_LATEST`` pointer file, which is replaced with
  an atomic ``os.replace`` — a reader sees the old version or the new
  one, never a partial write (the Delta-log pattern, minus JSON log).
- **Time travel**: every committed version remains readable until
  ``vacuum``.
- **Idempotent commits**: ``commit(df, txn_id=...)`` is a no-op if that
  txn_id was already committed (the Delta ``txnAppId/txnVersion``
  idea) — this is what makes foreachBatch exactly-once.

The pointer format and the list of segments that make up a version
live only here: :func:`read_pointer` / :func:`write_pointer` are the one
pointer I/O (the dimension store and the IVF index keep their own
fields in the same kind of file), and ``VersionedTable._segment_dirs``
the one segment lookup. The pointer file is tiny; at 1000 executors
contention is on the object store's rename, same as any lakehouse
commit protocol.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "VersionedTable",
    "atomic_write_text",
    "BucketedSegmentTable",
    "fresh_stage",
    "PrunedTxnVersionError",
    "read_pointer",
    "register_bucketed_dir",
    "write_bucketed_dir",
    "write_pointer",
]


class PrunedTxnVersionError(RuntimeError):
    """A committed txn's version entry was pruned from txn_versions
    retention before its transaction was replayed — no consistent
    pre-txn snapshot exists (see VersionedTable.txn_version_checked)."""

_POINTER = "_LATEST"

# txn->version entries power order-free replay of multi-table
# transactions; replay happens immediately after a crash, so only the
# newest entries matter — cap the map so pointer size stays O(1) per
# append instead of O(total appends) (the txns list itself is the
# long-standing idempotence ledger and keeps its full history)
_TXN_VERSION_RETENTION = 128


def atomic_write_text(path: Path, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: write a temp file in
    the same directory, then ``os.replace`` it over ``path`` (atomic on
    POSIX) — a reader sees the old content or the new, never a partial
    write. The temp file is removed if anything fails."""
    fd, tmp = tempfile.mkstemp(dir=Path(path).parent, prefix="._tmp_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def read_pointer(root: str | Path) -> dict | None:
    """The pointer of the table rooted at ``root``, or None before its
    first commit."""
    try:
        return json.loads((Path(root) / _POINTER).read_text())
    except FileNotFoundError:
        return None


def write_pointer(root: str | Path, meta: dict) -> None:
    """Publish ``meta`` as the pointer of the table rooted at ``root``
    (an atomic replace: readers see the old pointer or the new one)."""
    atomic_write_text(Path(root) / _POINTER, json.dumps(meta))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by someone else
    return True


def fresh_stage(root: str | Path) -> Path:
    """The caller's hidden staging directory under ``root``
    (``._stage_{pid}``, which Hadoop listings and ``vacuum`` skip), to
    be filled and then adopted by ``commit_dir`` / ``append_dir``.

    Stages left by CRASHED writers are reclaimed first, without
    destroying a live concurrent writer's in-progress stage: our own
    pid's stage is always removed (we are about to rewrite it); another
    pid's stage only when that pid no longer exists. Tables are
    contractually single-writer — this just makes the failure mode of a
    violated contract a clean losing race instead of a corrupted
    partial-stage adoption."""
    root = Path(root)
    own = os.getpid()
    for stale in root.glob("._stage_*"):
        try:
            pid = int(stale.name.rsplit("_", 1)[-1])
        except ValueError:
            pid = None
        if pid is not None and pid != own and _pid_alive(pid):
            continue
        shutil.rmtree(stale, ignore_errors=True)
    return root / f"._stage_{own}"


def _pruned_txn_versions(txn_versions: dict) -> dict:
    if len(txn_versions) <= _TXN_VERSION_RETENTION:
        return txn_versions
    keep = sorted(txn_versions.items(), key=lambda kv: kv[1])
    return dict(keep[-_TXN_VERSION_RETENTION:])


class VersionedTable:
    """A named, versioned parquet table rooted at ``path``."""

    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)

    # --- pointer management -------------------------------------------------

    def _pointer_file(self) -> Path:
        return self.path / _POINTER

    def _read_pointer(self) -> dict | None:
        return read_pointer(self.path)

    def _write_pointer(self, meta: dict) -> None:
        write_pointer(self.path, meta)

    def _committed(self) -> dict:
        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"table {self.path} has no committed version")
        return meta

    def _segment_names(self, meta: dict, version: int | None) -> list[str]:
        v = meta["version"] if version is None else version
        try:
            return meta["manifests"][str(v)]
        except KeyError:
            if 0 <= v < meta["version"]:  # vacuum dropped its entry
                raise FileNotFoundError(f"version {v} of {self.path} was vacuumed") from None
            raise FileNotFoundError(f"table {self.path} has no version {v}") from None

    def _segment_dirs(self, meta: dict, version: int | None) -> list[Path]:
        """The segment directories that make up ``version`` (None: the
        latest) under pointer ``meta``. Raises FileNotFoundError for
        a version the table never had, or for a segment that is no
        longer on disk (vacuumed)."""
        dirs = [self.path / s for s in self._segment_names(meta, version)]
        for d in dirs:
            if not d.exists():
                raise FileNotFoundError(f"segment {d.name} of {self.path} missing (vacuumed?)")
        return dirs

    def segment_dirs(self, version: int | None = None) -> list[Path]:
        """:meth:`_segment_dirs` at the table's current pointer."""
        return self._segment_dirs(self._committed(), version)

    # --- physical write hook --------------------------------------------------

    def _write_version_dir(self, df: DataFrame, vdir: Path) -> None:
        """Write one immutable version/segment directory. Subclasses
        override to change the physical layout (e.g. bucketed files);
        the pointer/txn protocol above is layout-agnostic."""
        df.write.mode("overwrite").parquet(str(vdir))

    # --- public API ---------------------------------------------------------

    def version(self) -> int:
        """Latest committed version, or -1 if empty."""
        meta = self._read_pointer()
        return -1 if meta is None else meta["version"]

    def exists(self) -> bool:
        return self._read_pointer() is not None

    def committed_txns(self) -> set[str]:
        meta = self._read_pointer()
        return set(meta.get("txns", [])) if meta else set()

    def txn_version(self, txn_id: str) -> int | None:
        """The version a committed txn created, or None — the
        time-travel anchor for ORDER-FREE idempotent recovery: a
        replayer reads every table AS OF (its txn's version − 1), so
        delta recomputation sees the same pre-txn snapshot no matter
        which subset of a multi-table transaction landed before the
        crash. Entries are retained for the newest
        ``_TXN_VERSION_RETENTION`` txns only (pointer size stays O(1)
        per append); older txns — and pointers written before r8 —
        return None and callers fall back to their order-dependent
        recovery. Replay readers should call
        :meth:`txn_version_checked` instead, which refuses that
        fallback for committed-but-pruned txns."""
        meta = self._read_pointer()
        if meta is None:
            return None
        v = meta.get("txn_versions", {}).get(txn_id)
        return int(v) if v is not None else None

    def txn_version_checked(self, txn_id: str) -> int | None:
        """:meth:`txn_version`, but LOUD on the pruned case (r10,
        verdict task #3): a txn that IS in the committed ledger while
        its version entry was pruned from retention has no recoverable
        pre-txn snapshot — the silent None would make a replay reader
        fall back to the LATEST version and recompute its delta from
        the wrong state. None still means "never committed here" (the
        normal replay-probe answer)."""
        v = self.txn_version(txn_id)
        if v is None and txn_id in self.committed_txns():
            raise PrunedTxnVersionError(
                f"txn {txn_id!r} committed on table {self.path.name!r} but "
                "its pre-txn version was pruned from txn_versions "
                "(retention exceeded before replay); the torn transaction "
                "cannot be replayed from a consistent snapshot — rebuild "
                "the store or raise the retention"
            )
        return v

    def _publish(
        self,
        src: DataFrame | Path,
        schema_json: str,
        columns: list[str],
        txn_id: str | None,
        *,
        extend: bool,
    ) -> int:
        """The one commit protocol: read the pointer, skip a txn that is
        already committed (the reference's ledger check,
        scd2_loader.py:504-510), fill ``v{N}``, publish the pointer.

        ``src`` fills ``v{N}``: a DataFrame is written by Spark; a Path
        is an already-written parquet directory adopted by a move (no
        Spark job), after clearing a torn adopt's leftovers. ``extend``
        appends ``v{N}`` to the previous version's segments instead of
        replacing them. Returns the new version, or the current one for
        a replayed txn."""
        meta = self._read_pointer()
        txns = list(meta.get("txns", [])) if meta else []
        if txn_id is not None and txn_id in txns:
            return meta["version"]

        new_version = (meta["version"] + 1) if meta else 0
        vdir = self.path / f"v{new_version}"
        if isinstance(src, Path):
            if vdir.exists():  # crash-replay leftovers from a torn adopt
                shutil.rmtree(vdir)
            shutil.move(str(src), str(vdir))
        else:
            self._write_version_dir(src, vdir)
        segments = [vdir.name]
        if extend and meta:
            segments = self._segment_names(meta, None) + segments
        txn_versions = dict(meta.get("txn_versions", {})) if meta else {}
        if txn_id is not None:
            txns.append(txn_id)
            txn_versions[txn_id] = new_version
        manifests = dict(meta["manifests"]) if meta else {}
        manifests[str(new_version)] = segments
        self._write_pointer(
            {
                "version": new_version,
                "dir": vdir.name,
                "manifests": manifests,
                "committed_at": time.time(),
                "txns": txns,
                "txn_versions": _pruned_txn_versions(txn_versions),
                "schema": schema_json,
                "columns": columns,
            }
        )
        return new_version

    def commit(self, df: DataFrame, txn_id: str | None = None) -> int:
        """Write ``df`` as the next version; returns the version number.
        A replayed ``txn_id`` is a no-op returning the current version."""
        return self._publish(
            df, df.schema.json(), list(df.columns), txn_id, extend=False
        )

    def append(self, df: DataFrame, txn_id: str | None = None) -> int:
        """Append a segment WITHOUT rewriting existing data (manifest
        grows by one directory; old segments are immutable). This is
        what keeps per-batch work O(batch) for append-only data like
        SCD2 history — a 100 TB history never gets rewritten.
        """
        return self._publish(
            df, df.schema.json(), list(df.columns), txn_id, extend=True
        )

    def commit_dir(
        self, src: Path, schema_json: str, columns: list[str], txn_id: str | None = None
    ) -> int:
        """Adopt an already-written parquet directory as
        the next version — a filesystem move, no Spark job.

        This is what lets one Spark write produce segments for several
        tables (SCD2DimStore stages a single ``partitionBy(__part)`` job
        and adopts each partition directory into its sub-table): the
        expensive scan happens exactly once, in the caller's job.
        """
        return self._publish(Path(src), schema_json, columns, txn_id, extend=False)

    def append_dir(
        self, src: Path, schema_json: str, columns: list[str], txn_id: str | None = None
    ) -> int:
        """`append`'s twin of :meth:`commit_dir` — adopt a pre-written
        parquet directory as a new append segment (manifest grows by one
        directory; existing segments untouched)."""
        return self._publish(Path(src), schema_json, columns, txn_id, extend=True)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the latest (or a time-travel) version.

        The latest version is read at the schema its pointer records, so
        the read launches no Spark job (inferring the schema from
        parquet footers costs one). The pointer holds only the latest
        version's schema, so a time-travel read of an older version,
        which may predate a schema change, still infers from its
        footers.
        """
        meta = self._committed()
        reader = spark.read
        if version is None or version == meta["version"]:
            reader = reader.schema(_schema(meta))
        return reader.parquet(*map(str, self._segment_dirs(meta, version)))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop segment directories not referenced by the manifests of
        the newest ``keep_last`` versions, and the manifest entry of
        every version that loses a segment, so the pointer lists only
        versions that can still be read."""
        meta = self._read_pointer()
        if meta is None:
            return []
        current = meta["version"]
        keep: set[str] = set()
        for v in range(max(0, current - keep_last + 1), current + 1):
            keep.update(self._segment_names(meta, v))
        removed = []
        for vdir in sorted(self.path.glob("v*")):
            try:
                v = int(vdir.name[1:])
            except ValueError:
                continue
            if vdir.name not in keep:
                shutil.rmtree(vdir)
                removed.append(v)
        manifests = {
            v: segments
            for v, segments in meta["manifests"].items()
            if keep.issuperset(segments)
        }
        if len(manifests) < len(meta["manifests"]):
            self._write_pointer({**meta, "manifests": manifests})
        return removed


def _schema(meta: dict):
    """The latest version's schema, as its pointer records it."""
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(meta["schema"]))


def register_bucketed_dir(
    spark: SparkSession,
    name: str,
    path: Path,
    bucket_col: str,
    num_buckets: int,
    cols_ddl: str,
) -> DataFrame:
    """Idempotently register ``path`` as a bucketed external catalog
    table and return its scan (HashPartitioning(bucket_col,
    num_buckets) from the file layout — probing it shuffles only the
    probe side). Shared by BucketedSegmentTable and the corpus
    pipeline's bucketed state dirs; the files (plus their owner's
    pointer/marker) are the source of truth — the in-memory catalog
    does not persist and is rebuilt from this on demand."""
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE {name} ({cols_ddl}) USING PARQUET "
            f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
            f"INTO {num_buckets} BUCKETS LOCATION '{Path(path).resolve()}'"
        )
    return spark.table(name)


def write_bucketed_dir(
    df: DataFrame,
    name: str,
    path: Path,
    bucket_col: str,
    num_buckets: int,
    mode: str,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` into ``path`` as bucketed parquet via the catalog
    table ``name``. ``overwrite`` drops any stale same-name entry (a
    rebuild-in-place may carry a different bucket spec) and clears the
    directory; ``append`` requires the table to be registered first
    (callers use :func:`register_bucketed_dir`). The pre-write
    repartition uses the same murmur3-pmod router as the bucket-id
    assignment, so each write lands one file per touched bucket."""
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
    w = (
        df.repartition(num_buckets, bucket_col)
        .write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", str(path))
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.saveAsTable(name)


class BucketedSegmentTable(VersionedTable):
    """A :class:`VersionedTable` whose segments are Spark-BUCKETED
    parquet files (``CLUSTERED BY (bucket_col) INTO num_buckets
    BUCKETS``), registered in the session catalog on demand.

    Why: a bucketed scan satisfies ``HashPartitioning(bucket_col,
    num_buckets)``, so joining/semi-joining a probe against a segment
    via :meth:`segments` shuffles ONLY the probe side — the store is
    never re-shuffled, no matter how big it grows. This is the scale
    path for the incremental-ExactSubstr probe (and any other
    key-probe of corpus-sized persisted state): a broadcast probe caps
    out at the broadcast budget; a plain shuffled join re-pays a
    store-sized Exchange per append — the exact cost the incremental
    tier exists to avoid.

    Layout compatibility: the pointer/txn/vacuum protocol is inherited
    unchanged; :meth:`read` (plain path-union parquet read) works on
    bucketed files like any other, so readers that don't need
    co-partitioning see no difference. Catalog entries are per-session
    conveniences rebuilt idempotently from the pointer (the in-memory
    catalog does not persist; the pointer file is the source of truth).

    Scale notes: ``num_buckets`` is fixed at table creation (all
    segments must agree for bucket ids to line up); size it so one
    bucket of the LARGEST expected segment fits an executor — at
    100 TB that means thousands, locally 32 is plenty. Each append
    writes exactly one file per bucket (the pre-write repartition uses
    the same murmur3 pmod as the bucket-id router).
    """

    def __init__(self, path: str | Path, bucket_col: str, num_buckets: int = 32):
        super().__init__(path)
        self.bucket_col = bucket_col
        self.num_buckets = num_buckets

    def _seg_table_name(self, vdir_name: str) -> str:
        import hashlib

        h = hashlib.sha1(str(self.path.resolve()).encode()).hexdigest()[:16]
        return f"bseg_{h}_{vdir_name}"

    def _write_version_dir(self, df: DataFrame, vdir: Path) -> None:
        # overwrite doubles as crash-replay hygiene: a torn write may
        # have left a catalog entry and/or files for this
        # not-yet-committed version
        write_bucketed_dir(
            df,
            self._seg_table_name(vdir.name),
            vdir,
            self.bucket_col,
            self.num_buckets,
            mode="overwrite",
        )

    def _register_segment(self, spark: SparkSession, vdir_name: str, meta: dict):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in _schema(meta).fields
        )
        return register_bucketed_dir(
            spark,
            self._seg_table_name(vdir_name),
            self.path / vdir_name,
            self.bucket_col,
            self.num_buckets,
            cols,
        )

    def segments(self, spark: SparkSession, version: int | None = None) -> list:
        """The current (or time-travel) version as a list of BUCKETED
        segment scans — join each against your probe and union the
        results (semi/anti joins distribute over the union of disjoint
        segments). Each join plans with zero store-side Exchange."""
        meta = self._read_pointer()
        if meta is None:
            return []
        return [
            self._register_segment(spark, d.name, meta)
            for d in self._segment_dirs(meta, version)
        ]

    def commit_dir(self, *a, **k):  # pragma: no cover - contract guard
        raise NotImplementedError(
            "adopting pre-written directories would bypass the bucketed layout"
        )

    def append_dir(self, *a, **k):  # pragma: no cover - contract guard
        raise NotImplementedError(
            "adopting pre-written directories would bypass the bucketed layout"
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Plain (union-of-paths) read. A bucketed write of an EMPTY
        delta produces zero data files (the bucket router writes no
        file for an empty bucket), so schema inference can fail — the
        pointer's recorded schema is authoritative here."""
        meta = self._committed()
        return spark.read.schema(_schema(meta)).parquet(
            *map(str, self._segment_dirs(meta, version))
        )

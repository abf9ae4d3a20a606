"""Persisted ExactSubstr k-gram index — incremental span dedup state.

The from-scratch :func:`~cdc_historical_warehouse_platform_spark.operators.dedup.
exact_substring_spans` re-pays the corpus-sized k-gram shuffle on every
call; at 100 TB that shuffle dominates the whole dedup bill, and
re-paying it per corpus append is the one cost the r6 review flagged.
This store gives ExactSubstr the same epoch-versioned incremental
posture the LSH/fingerprint tiers already have (``_lsh_index`` /
``_fp_index``): an append gram-streams ONLY the new batch and probes
the persisted state by hash; stored document text is never re-read.

Layout (four tables + a meta file under one dir):

- ``unique/``   — (doc_id, pos, g) frontier occurrences (grams seen
  exactly once when admitted; LSM-dead once their hash duplicates).
  A :class:`BucketedSegmentTable` clustered on ``g``.
- ``duphash/``  — (g) hashes known duplicated; bucketed on ``g`` too
- ``flagged/``  — (doc_id, pos) every flagged k-gram start, old and
  new docs alike (plain :class:`VersionedTable`)
- ``docs/``     — (doc_id) every admitted doc (including zero-gram
  short docs, which leave no other trace — the re-ingest idempotence
  check needs them)
- ``_xs_meta.json`` — k (an index answers for exactly one k) +
  ``buckets`` (the g-store bucket count, fixed at creation)

Probe scaling: small appends broadcast their distinct gram set against
the stores (zero store jobs beyond a scan). Once the batch's gram
count passes ``broadcast_gram_limit``, the append switches to
co-partitioned probes against the BUCKETED segments: the only
Exchanges in the plan are on batch-derived sides — the store is never
re-shuffled, and there is no broadcast ceiling, so bulk appends need
no special batch sizing. Legacy indexes written before the bucketed
layout (meta without ``buckets``) stay on the broadcast path.

Crash story: the three appends share one txn id; each table's txn
guard makes a replay of a half-committed append idempotent (the same
recovery contract as SCD2Loader's two-table adopt). Compaction rewrites
``unique`` without its dead rows and is a pure space win — spans never
read ``unique``.

Reference parity note: the reference recomputes dedup state per load
(scd2_loader.py full-table scans); the incremental index is this
repo's scale extension, mirrored on operators/dedup.py:884's
incremental LSH design.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_historical_warehouse_platform_spark.operators.dedup import (
    incremental_exact_substring,
    remove_duplicate_spans,
    substring_spans_from_flagged,
)
from cdc_historical_warehouse_platform_spark.session import empty_frame
from cdc_historical_warehouse_platform_spark.sources.tables import (
    BucketedSegmentTable,
    VersionedTable,
)

__all__ = ["ExactSubstrIndex"]

_META = "_xs_meta.json"

_UNIQUE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("g", T.StringType()),
    ]
)
_DUP_SCHEMA = T.StructType([T.StructField("g", T.StringType())])
_FLAGGED_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("pos", T.IntegerType())]
)
_DOCS_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


class ExactSubstrIndex:
    def __init__(
        self, path: str | Path, k: int = 20, num_buckets: int = 32
    ):
        """``num_buckets`` sizes the bucketed g-stores; it is fixed at
        index creation (reopening reads the stored value and ignores
        the argument). Size it so one bucket of the largest expected
        segment fits an executor — thousands at 100 TB."""
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        meta_file = self.path / _META
        self._bucketed = True
        if meta_file.exists():
            meta = json.loads(meta_file.read_text())
            if meta["k"] != k:
                raise ValueError(
                    f"index at {self.path} was built with k={meta['k']}; "
                    f"requested k={k} needs a separate index"
                )
            if "buckets" in meta:
                num_buckets = meta["buckets"]
            else:
                # legacy pre-bucketed index: plain segments, broadcast
                # probes only (rebuild to unlock the bulk-append path)
                self._bucketed = False
        self.k = k
        self.num_buckets = num_buckets
        if self._bucketed:
            self.unique = BucketedSegmentTable(
                self.path / "unique", "g", num_buckets
            )
            self.duphash = BucketedSegmentTable(
                self.path / "duphash", "g", num_buckets
            )
        else:
            self.unique = VersionedTable(self.path / "unique")
            self.duphash = VersionedTable(self.path / "duphash")
        self.flagged = VersionedTable(self.path / "flagged")
        self.docs = VersionedTable(self.path / "docs")

    def exists(self) -> bool:
        return (self.path / _META).exists() and self.unique.exists()

    # --- reads ---------------------------------------------------------------

    def _read_or_empty(self, spark: SparkSession, tbl: VersionedTable, schema):
        if tbl.exists():
            return tbl.read(spark)
        return empty_frame(spark, schema)

    def _read_pre_txn(
        self, spark: SparkSession, tbl: VersionedTable, schema, txn_id: str
    ) -> DataFrame:
        """The table AS OF the pre-``txn_id`` snapshot: the latest
        version when the txn never committed here, version − 1 when it
        did. This is what makes the four-table append ORDER-FREE on
        replay: delta recomputation always sees the same pre-txn state
        no matter which subset of the tables a crash let commit."""
        if not tbl.exists():
            return empty_frame(spark, schema)
        # txn_version_checked raises PrunedTxnVersionError when the txn
        # IS committed here but its version entry fell out of retention
        # (128+ later appends before the torn txn replayed) — reading
        # the LATEST version instead would recompute the delta from the
        # wrong state and commit it to the still-missing tables
        # silently (guard now lives in VersionedTable itself — r10)
        v = tbl.txn_version_checked(txn_id)
        if v is None:
            return tbl.read(spark)
        if v == 0:
            return empty_frame(spark, schema)
        return tbl.read(spark, version=v - 1)

    def _segments_pre_txn(
        self, spark: SparkSession, tbl, schema, txn_id: str
    ) -> list:
        """Pre-txn flavor of ``BucketedSegmentTable.segments`` (same
        replay contract as :meth:`_read_pre_txn`)."""
        if not tbl.exists():
            return [empty_frame(spark, schema)]
        v = tbl.txn_version_checked(txn_id)
        if v is None:
            segs = tbl.segments(spark)
        elif v == 0:
            return [empty_frame(spark, schema)]
        else:
            segs = tbl.segments(spark, version=v - 1)
        return segs or [empty_frame(spark, schema)]

    def spans(self, spark: SparkSession) -> DataFrame:
        """Merged duplicate spans over every doc ever appended —
        identical to ``exact_substring_spans`` over the union corpus
        (rebuild-equivalence pinned by tests + the driver oracle row).
        Reads only the (small) flagged store; islands merge is
        doc-partitioned."""
        flagged = self._read_or_empty(spark, self.flagged, _FLAGGED_SCHEMA)
        return substring_spans_from_flagged(flagged, self.k)

    def clean(self, docs: DataFrame, out_col: str = "clean_text") -> DataFrame:
        """The cut step against the maintained spans."""
        return remove_duplicate_spans(
            docs, self.spans(docs.sparkSession), out_col=out_col
        )

    # --- writes --------------------------------------------------------------

    @staticmethod
    def _auto_txn_id(new_docs: DataFrame) -> str:
        """Content-derived txn id: order-independent hash of the
        batch's (doc_id, text) PAIRS + row count — the text is part of
        the identity, so a batch re-emitted with the same ids but
        different text gets a DISTINCT txn instead of silently
        no-op'ing as a replay (it then appends, surfacing the
        unique-id-contract violation as duplicate grams rather than
        silent loss). One bounded 1-row aggregate; the hash sum runs
        in decimal(38,0) because a long sum overflows under ANSI mode
        at batch sizes a real append actually hits."""
        sig = new_docs.select(
            F.sum(
                F.xxhash64(F.col("doc_id").cast("long"), F.col("text"))
                .cast("decimal(38,0)")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        h = int(sig["h"] or 0) & 0xFFFFFFFFFFFFFFFF
        return f"xs_append_{sig['n']}_{h:016x}"

    def append(
        self,
        new_docs: DataFrame,
        txn_id: str | None = None,
        probe_mode: str = "auto",
        broadcast_gram_limit: int = 2_000_000,
    ) -> dict:
        """Admit one new batch (build == first append over an empty
        index — one code path, so the bootstrap exercises the same
        plan the steady state runs). Never reads stored text; the two
        probe scans are map-only (see incremental_exact_substring).

        ``probe_mode``: ``"broadcast"`` probes the stores with the
        batch's broadcast gram set (cheapest for CDC-sized appends);
        ``"shuffle"`` probes the BUCKETED store segments co-partitioned
        — no broadcast ceiling, store never re-shuffled (bulk appends);
        ``"auto"`` (default) picks by a map-side token-count proxy for
        the batch's gram count vs ``broadcast_gram_limit`` (default
        2M grams ≈ 100 MB of md5 strings, comfortably inside the
        broadcast budget).

        The four table appends share ``txn_id``; the three gram tables
        run CONCURRENTLY (r8 — they were the serial tail of the append
        cycle) and ``docs`` commits LAST as the txn's completion
        marker. Replay safety is ORDER-FREE among the concurrent
        three: the probe reads go through the pre-txn snapshot
        (:meth:`_read_pre_txn` — each table AS OF its txn's version −
        1 when the txn committed there), so a replay recomputes
        byte-identical deltas no matter which subset a crash let
        commit; committed tables skip, the rest complete, and a
        fully-committed txn short-circuits before any computation. The auto id is derived from the BATCH CONTENT
        (order-independent hash of its (doc_id, text) PAIRS + count —
        the text is part of the identity, see :meth:`_auto_txn_id`),
        not from any table's version: a version-derived id would collide with the
        torn txn after a crash, and the committed-txn guard would then
        silently skip a DIFFERENT batch's delta on one table. Content
        derivation makes replay of the same batch idempotent and any
        other batch distinct. Costs one bounded 1-row aggregate over
        the batch's doc_id column.
        """
        spark = new_docs.sparkSession
        meta_file = self.path / _META
        if not meta_file.exists():
            meta: dict = {"k": self.k}
            if self._bucketed:
                meta["buckets"] = self.num_buckets
            meta_file.write_text(json.dumps(meta))
        if txn_id is None:
            txn_id = self._auto_txn_id(new_docs)
        # fully-committed replay: short-circuit BEFORE any delta
        # computation — the pre-txn snapshot an old txn would recompute
        # against may have been vacuumed, and recomputing it would be
        # wasted work anyway (docs commits LAST below, so its ledger
        # alone implies the whole txn; the all-four check also covers
        # legacy states)
        if all(
            txn_id in t.committed_txns()
            for t in (self.flagged, self.duphash, self.unique, self.docs)
        ):
            return {
                "txn_id": txn_id,
                "flagged_version": self.flagged.version(),
                "probe_mode": "noop",
            }
        if probe_mode == "auto":
            if not (self._bucketed and self.unique.exists()):
                probe_mode = "broadcast"
            else:
                # total gram occurrences >= distinct grams: a cheap
                # map-side upper bound, no gram explode needed
                toks = F.split(F.col("text"), " ")
                n_grams = (
                    new_docs.select(
                        F.sum(
                            F.greatest(
                                F.size(toks) - F.lit(self.k - 1), F.lit(0)
                            ).cast("long")
                        ).alias("n")
                    ).first()["n"]
                    or 0
                )
                probe_mode = (
                    "shuffle" if n_grams > broadcast_gram_limit else "broadcast"
                )
        if probe_mode == "shuffle":
            if not self._bucketed:
                raise ValueError(
                    "legacy (pre-bucketed) index: shuffle probes need the "
                    "bucketed layout; rebuild the index to bulk-append"
                )
            useg = self._segments_pre_txn(
                spark, self.unique, _UNIQUE_SCHEMA, txn_id
            )
            dseg = self._segments_pre_txn(
                spark, self.duphash, _DUP_SCHEMA, txn_id
            )
            flagged_adds, dup_adds, unique_adds = incremental_exact_substring(
                new_docs,
                None,
                None,
                k=self.k,
                unique_segments=useg,
                dup_segments=dseg,
                broadcast_probe=False,
                probe_partitions=self.num_buckets,
            )
        else:
            stored_unique = self._read_pre_txn(
                spark, self.unique, _UNIQUE_SCHEMA, txn_id
            )
            stored_dup = self._read_pre_txn(
                spark, self.duphash, _DUP_SCHEMA, txn_id
            )
            flagged_adds, dup_adds, unique_adds = incremental_exact_substring(
                new_docs, stored_unique, stored_dup, k=self.k
            )
        # deltas' lineage reads pre-txn versions' immutable segment
        # dirs, so appending new segments below cannot disturb them;
        # the probe intermediates were eager-pinned inside the operator
        # (which also materialized the shared gram-stream checkpoint,
        # so the concurrent jobs below read it instead of racing to
        # recompute it). The four writes are independent given the
        # pre-txn replay contract — run them concurrently (measured
        # ~1.8 s sequential -> ~0.7 s wall at sf0.1).
        from concurrent.futures import ThreadPoolExecutor

        def _w_flagged():
            return self.flagged.append(
                flagged_adds.select(
                    F.col("doc_id").cast("long"), F.col("pos").cast("int")
                ),
                txn_id=txn_id,
            )

        def _w_dup():
            self.duphash.append(dup_adds.select("g"), txn_id=txn_id)

        def _w_unique():
            self.unique.append(
                unique_adds.select(
                    F.col("doc_id").cast("long"), F.col("pos").cast("int"), "g"
                ),
                txn_id=txn_id,
            )

        with ThreadPoolExecutor(max_workers=3) as ex:
            f_flagged = ex.submit(_w_flagged)
            futs = [ex.submit(w) for w in (_w_dup, _w_unique)]
            n_flagged = f_flagged.result()
            for f in futs:
                f.result()
        # docs commits LAST, after every gram table resolved: a doc's
        # presence in admitted_ids then IMPLIES its grams/flags are
        # committed, which is what makes the admitted-ids anti-join
        # (CLI substr-append) a sound re-delivery filter — an anti
        # against a concurrently-committed docs table could mask a
        # torn txn's missing gram state forever.
        # The cheap sequential tail (~0.2 s) buys that completion-marker
        # property; flagged/dup/unique still run concurrently under the
        # order-free pre-txn replay contract.
        self.docs.append(
            new_docs.select(F.col("doc_id").cast("long")).distinct(),
            txn_id=txn_id,
        )
        return {
            "txn_id": txn_id,
            "flagged_version": n_flagged,
            "probe_mode": probe_mode,
        }

    def vacuum(self, keep_last: int = 2) -> dict:
        """Reclaim segment directories older than the newest
        ``keep_last`` versions of every table (compaction and appends
        leave superseded versions readable for time travel / pre-txn
        replay — this is the retention knob, same contract as
        VersionedTable.vacuum). Keep at least 2 so an in-flight
        append's pre-txn snapshot stays resolvable."""
        return {
            name: getattr(self, name).vacuum(keep_last=keep_last)
            for name in ("unique", "duphash", "flagged", "docs")
        }

    def admitted_ids(self, spark: SparkSession) -> DataFrame:
        """(doc_id) of every doc ever appended — the anti-join side for
        idempotent re-ingestion (covers zero-gram short docs too)."""
        return self._read_or_empty(spark, self.docs, _DOCS_SCHEMA)

    def compact(self, spark: SparkSession) -> dict:
        """Drop LSM-dead frontier rows (hash already duplicated) — a
        space/scan-cost win only; spans never read ``unique``. On the
        bucketed layout (r8) the dead-row anti-probes are fully
        CO-PARTITIONED: unique and duphash share the same (g, buckets)
        file layout, so each per-segment-pair anti join plans with
        ZERO Exchanges — the only shuffle left is the compacted
        rewrite itself (run on the maintenance cadence, like shard
        compaction). Legacy plain-layout indexes pay one hash-key
        shuffle of each store, as before."""
        if not self.unique.exists():
            return {"rows_before": 0, "rows_after": 0}
        u = self.unique.read(spark)
        if self._bucketed:
            dsegs = (
                self.duphash.segments(spark) if self.duphash.exists() else []
            )
            from cdc_historical_warehouse_platform_spark.operators.dedup import (
                _union_all,
            )

            parts = []
            for useg in self.unique.segments(spark):
                live_u = useg
                # anti distributes over the RIGHT side as a chain:
                # u ▷ (d1 ∪ d2) == (u ▷ d1) ▷ d2 — and every link is
                # bucketed-to-bucketed, no Exchange anywhere
                for dseg in dsegs:
                    live_u = live_u.join(dseg, "g", "anti")
                parts.append(live_u)
            live = _union_all(parts)
        else:
            d = self._read_or_empty(spark, self.duphash, _DUP_SCHEMA)
            live = u.join(d, "g", "anti")
        live = live.localCheckpoint(eager=True)
        before = u.count()
        after = live.count()
        self.unique.commit(live, txn_id=f"xs_compact_{self.unique.version() + 1}")
        # duphash has no dead rows, but its SEGMENTS accumulate one per
        # append and every future probe joins each segment — merge them
        # back to one on the same maintenance cadence (commit resets
        # the manifest to a single segment)
        merged_dup = 0
        if self.duphash.exists():
            dup_segs = self.duphash.segment_dirs()
            if len(dup_segs) > 1:
                merged_dup = len(dup_segs)
                self.duphash.commit(
                    self.duphash.read(spark).localCheckpoint(eager=True),
                    txn_id=f"xs_dup_compact_{self.duphash.version() + 1}",
                )
        return {
            "rows_before": before,
            "rows_after": after,
            "dup_segments_merged": merged_dup,
        }

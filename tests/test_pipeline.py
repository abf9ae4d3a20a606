"""End-to-end pipeline: simulator → extractor → loader → invariants —
the Spark twin of tests/verify_scd2.py's live-Postgres flow."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.pipeline.extractor import CDCExtractor
from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
from cdc_historical_warehouse_platform_spark.pipeline.metadata import PipelineMetadataManager
from cdc_historical_warehouse_platform_spark.pipeline.simulator import OrderSimulator
from cdc_historical_warehouse_platform_spark.pipeline.state import Watermark
from cdc_historical_warehouse_platform_spark.sources.change_batches import (
    read_change_batch,
    write_change_batch,
)
from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable
from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA
from tests.conftest import make_change
from tests.test_scd2 import assert_invariants

T0 = dt.datetime(2026, 4, 1, 9, 0, 0)


def ts(m):
    return T0 + dt.timedelta(minutes=m)


@pytest.fixture
def env(tmp_path, spark):
    source = VersionedTable(tmp_path / "source_orders")
    deleted = VersionedTable(tmp_path / "deleted_orders")
    dim = SCD2DimStore(tmp_path / "dim_orders_history")
    meta = PipelineMetadataManager(spark, tmp_path / "pipeline_metadata")
    cdc_dir = tmp_path / "cdc_logs"
    sim = OrderSimulator(spark, source, deleted, seed=7)
    ext = CDCExtractor(spark, source, cdc_dir, deleted_table=deleted)
    loader = SCD2Loader(spark, dim, cdc_dir, metadata=meta)
    return sim, ext, loader, dim, meta


def test_versioned_table_atomicity(tmp_path, spark):
    t = VersionedTable(tmp_path / "t")
    assert not t.exists()
    v0 = t.commit(spark.range(5))
    v1 = t.commit(spark.range(10))
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 10
    assert t.read(spark, version=0).count() == 5
    # idempotent txn redelivery
    v2 = t.commit(spark.range(99), txn_id="tx1")
    v_again = t.commit(spark.range(1), txn_id="tx1")
    assert v2 == v_again and t.read(spark).count() == 99
    # vacuum keeps the newest versions readable
    removed = t.vacuum(keep_last=1)
    assert 0 in removed
    assert t.read(spark).count() == 99


def test_txn_version_checked_raises_on_pruned_entry(tmp_path, spark):
    """r10 (verdict task #3): the pruned-txn guard lives in
    VersionedTable itself now — txn_version_checked raises for a txn
    that IS in the committed ledger but whose version entry fell out of
    txn_versions retention, instead of the silent None that made replay
    readers fall back to the LATEST snapshot. Plain txn_version keeps
    its documented None fallback."""
    import json as _json

    import pytest
    from cdc_historical_warehouse_platform_spark.sources.tables import (
        PrunedTxnVersionError,
    )

    t = VersionedTable(tmp_path / "t")
    t.commit(spark.range(5), txn_id="tx1")
    t.commit(spark.range(9), txn_id="tx2")
    assert t.txn_version_checked("tx1") == 0  # committed, entry present
    assert t.txn_version_checked("never") is None  # never committed

    ptr = t._pointer_file()
    meta = _json.loads(ptr.read_text())
    del meta["txn_versions"]["tx1"]  # simulate retention pruning
    ptr.write_text(_json.dumps(meta))

    with pytest.raises(PrunedTxnVersionError, match="pruned from txn_versions"):
        t.txn_version_checked("tx1")
    assert t.txn_version("tx1") is None  # documented silent fallback
    assert t.txn_version_checked("tx2") == 1  # unpruned txns unaffected


def test_batch_file_roundtrip(tmp_path, spark):
    """Reference envelope format: write (default=str quirk) → read →
    typed values survive (F8/F10)."""
    changes = spark.createDataFrame(
        [make_change(1, "INSERT", ts(0), unit_price="39.99")], CHANGE_SCHEMA
    )
    p = write_change_batch(changes, tmp_path, extracted_at=ts(1), watermark=ts(0))
    assert p.name.startswith("changes_") and p.suffix == ".json"
    # the stringified quirk is on disk...
    import json

    raw = json.loads(p.read_text())
    assert raw["changes"][0]["unit_price"] == "39.99"
    assert raw["batch_metadata"]["change_count"] == 1
    # ...and typed after the read-back casts
    back = read_change_batch(spark, p).collect()[0]
    assert str(back["unit_price"]) == "39.99"
    assert back["cdc_timestamp"] == ts(0)


def test_jsonl_batch_roundtrip(tmp_path, spark):
    changes = spark.createDataFrame(
        [make_change(i, "INSERT", ts(i)) for i in range(3)], CHANGE_SCHEMA
    )
    p = write_change_batch(changes, tmp_path, extracted_at=ts(5), fmt="jsonl")
    assert p.is_dir()
    assert not list(tmp_path.glob(".*tmp"))  # the staging dir was renamed away
    back = read_change_batch(spark, p)
    cols = [f.name for f in CHANGE_SCHEMA.fields]
    assert sorted(back.select(*cols).collect()) == sorted(changes.collect())
    import json

    meta = json.loads((p / "_batch_metadata.json").read_text())
    assert meta["change_count"] == back.count() == 3
    # nullability is lost through JSON round-trips; names+types must hold
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in CHANGE_SCHEMA.fields
    ]


def test_e2e_simulator_extractor_loader(env, spark):
    sim, ext, loader, dim, meta = env
    sim.seed_orders(5, now=ts(0))
    batch1 = ext.run_once(now=ts(1))
    assert batch1 is not None
    res1 = loader.load_pending()
    assert res1["status"] == "completed" and res1["processed"] == 1

    stats = loader.summary_statistics()
    assert stats["total_records"] == 5 and stats["current_records"] == 5

    # mutate a few cycles, extract, load
    for i in range(3):
        sim.mutate_once(now=ts(10 + i))
        ext.run_once(now=ts(10 + i))
    res2 = loader.load_pending()
    assert res2["failed"] == 0

    rows = dim.read(spark).collect()
    assert_invariants(rows)

    # source current state == dim current slice (lineage check)
    src = {r["id"]: r for r in sim._orders().collect()}
    cur = {r["order_key"]: r for r in dim.read(spark).filter(F.col("is_current")).collect()}
    assert set(cur) == set(src)
    for k, r in cur.items():
        assert r["quantity"] == src[k]["quantity"]
        assert r["order_status"] == src[k]["order_status"]

    # metadata recorded the runs
    last = meta.last_run()
    assert last is not None and last["status"] == "completed"
    assert meta.stats()["total_runs"] >= 2


def test_loader_idempotent_replay(env, spark):
    sim, ext, loader, dim, meta = env
    sim.seed_orders(4, now=ts(0))
    ext.run_once(now=ts(1))
    loader.load_pending()
    v = dim.version()
    before = sorted(map(str, dim.read(spark).collect()))
    # replaying everything is a no-op: ledger + txn guard
    res = loader.load_pending()
    assert res["processed"] == 0
    assert dim.version() == v
    assert sorted(map(str, dim.read(spark).collect())) == before


def test_extractor_watermark_advances(env, spark):
    sim, ext, loader, dim, meta = env
    sim.seed_orders(3, now=ts(0))
    ext.run_once(now=ts(1))
    wm1 = ext.watermark.get()
    assert wm1 == ts(0)  # max(last_updated) of the seed batch
    # no new changes -> no batch
    assert ext.run_once(now=ts(2)) is None
    sim.mutate_once(now=ts(5))
    ext.run_once(now=ts(6))
    assert ext.watermark.get() >= wm1


def test_watermark_set_failure_keeps_old_value_and_no_temp_file(tmp_path, monkeypatch):
    """A watermark write that fails at the replace leaves the committed
    watermark readable and no temp file behind in the cdc dir."""
    import os

    cdc_dir = tmp_path / "cdc_logs"
    cdc_dir.mkdir()
    wm = Watermark(cdc_dir / ".watermark")
    wm.set(ts(0))

    def _fail(*_a, **_k):
        raise OSError("replace failed")

    monkeypatch.setattr(os, "replace", _fail)
    with pytest.raises(OSError):
        wm.set(ts(9))
    monkeypatch.undo()
    assert wm.get() == ts(0)
    assert [p.name for p in cdc_dir.iterdir()] == [".watermark"]


def test_delete_newer_than_updates_extracted_once(env, spark):
    """A delete with deleted_at newer than every last_updated must be
    extracted exactly once — the watermark advances over tombstone
    cdc_timestamps too (reference log_extractor.py:253-261), not just
    max(last_updated), or the same DELETE re-emits every cycle."""
    sim, ext, loader, dim, meta = env
    sim.seed_orders(5, now=ts(0))
    assert ext.run_once(now=ts(1)) is not None  # wm -> ts(0)
    # tombstone newer than every update, written straight to the audit
    # table (the simulator's BEFORE-DELETE-trigger stand-in)
    victim = sim._orders().filter(F.col("id") == 1)
    tomb = victim.select(
        "*",
        F.lit(ts(5)).cast("timestamp").alias("deleted_at"),
        F.lit("test").alias("deletion_reason"),
    )
    deleted = ext.deleted_table
    base = deleted.read(spark) if deleted.exists() else spark.createDataFrame([], tomb.schema)
    deleted.commit(base.unionByName(tomb))

    batch1 = ext.run_once(now=ts(6))
    assert batch1 is not None
    ops = [r["operation_type"] for r in read_change_batch(spark, batch1).collect()]
    assert ops == ["DELETE"]
    assert ext.watermark.get() == ts(5)  # cleared the tombstone's event time
    # second cycle: nothing new — the delete must NOT re-extract
    assert ext.run_once(now=ts(7)) is None


def test_delete_flows_through_pipeline(env, spark):
    sim, ext, loader, dim, meta = env
    sim.seed_orders(12, now=ts(0))
    ext.run_once(now=ts(1))
    loader.load_pending()
    # force deletes by mutating until one lands (seeded rng, >10 rows)
    deleted_any = False
    for i in range(8):
        ops = sim.mutate_once(now=ts(10 + i))
        if ops["deletes"]:
            deleted_any = True
        ext.run_once(now=ts(10 + i))
    loader.load_pending()
    rows = dim.read(spark).collect()
    assert_invariants(rows)
    if deleted_any:
        src_ids = {r["id"] for r in sim._orders().collect()}
        cur_ids = {
            r["order_key"]
            for r in dim.read(spark).filter(F.col("is_current")).collect()
        }
        assert cur_ids == src_ids  # deleted keys have no current version


def test_batch_id_distributed_and_order_insensitive(tmp_path, spark):
    """Backfill-sized batch ids: no id array is collected, so the id
    must be stable under repartition/shuffle order and sensitive to
    content; an empty batch has none."""
    from cdc_historical_warehouse_platform_spark.pipeline.state import ProcessedLedger, generate_batch_id

    big = spark.range(0, 200_000).select(F.col("id"))
    a = generate_batch_id(big)
    b = generate_batch_id(big.repartition(17))  # different partition order
    assert a == b
    c = generate_batch_id(spark.range(0, 200_001).select(F.col("id")))
    assert c != a
    # duplicate ids are content, not noise
    d = generate_batch_id(big.unionAll(big.limit(1)))
    assert d != a
    # the aggregate's row count is the emptiness check: no id, no isEmpty job
    assert generate_batch_id(spark.createDataFrame([], CHANGE_SCHEMA)) is None

    # ledger: one parse per run, cache tracks in-process appends and
    # survives external writers (stat-key invalidation)
    led = ProcessedLedger(tmp_path / "ledger")
    led.mark("f1", a)
    assert led.is_processed("f1", a) and not led.is_processed("f1", c)
    other = ProcessedLedger(tmp_path / "ledger")  # external append
    other.mark("f2", c)
    assert led.is_processed("f2", c)


def test_read_at_pointer_schema_launches_no_job(tmp_path, spark):
    """Reading a table's latest version takes the schema its pointer
    records instead of inferring it from parquet footers: no Spark job,
    and the same schema inference gives — for a single-segment and a
    multi-segment (append) table. An older version keeps its own
    schema."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType()),
            T.StructField("amount", T.DecimalType(10, 2)),
            T.StructField("at", T.TimestampType()),
            T.StructField("p", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, f"s{i}", Decimal(f"{i}.25"), ts(i), i % 2) for i in range(6)], schema
    )
    plain = VersionedTable(tmp_path / "plain")
    plain.commit(df)
    appended = VersionedTable(tmp_path / "appended")
    appended.append(df)
    appended.append(df.filter(F.col("k") > 2))

    sc = spark.sparkContext
    group = "versioned-table-read"
    sc.setJobGroup(group, "VersionedTable.read")
    try:
        for table, dirs in [
            (plain, ["v0"]),
            (appended, ["v0", "v1"]),
        ]:
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            got = table.read(spark)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs, table.path.name
            inferred = spark.read.parquet(*[str(table.path / d) for d in dirs]).schema
            assert got.schema == inferred, table.path.name
        # the job count does see this group's jobs
        assert len(sc.statusTracker().getJobIdsForGroup(group)) > jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    plain.commit(df.withColumn("extra", F.lit(1)))
    assert plain.read(spark, version=0).schema == spark.read.parquet(
        str(plain.path / "v0")
    ).schema
    assert "extra" in plain.read(spark).columns


def test_segment_lookup_time_travel_and_missing_versions(tmp_path, spark):
    """A version reads exactly the segments it was committed with: an
    appended table's older versions keep their shorter segment lists,
    a commit resets the list to one segment, and a version the table
    never had or whose segment was vacuumed raises FileNotFoundError."""
    t = VersionedTable(tmp_path / "t")
    with pytest.raises(FileNotFoundError, match="no committed version"):
        t.segment_dirs()
    t.append(spark.range(0, 3))
    t.append(spark.range(3, 5))
    t.append(spark.range(5, 6))
    assert [d.name for d in t.segment_dirs(0)] == ["v0"]
    assert [d.name for d in t.segment_dirs(1)] == ["v0", "v1"]
    assert [d.name for d in t.segment_dirs()] == ["v0", "v1", "v2"]
    for v, n in [(0, 3), (1, 5), (2, 6)]:
        assert sorted(r.id for r in t.read(spark, version=v).collect()) == list(range(n))
    t.commit(spark.range(10, 12))
    assert [d.name for d in t.segment_dirs()] == ["v3"]
    assert sorted(r.id for r in t.read(spark).collect()) == [10, 11]
    assert t.read(spark, version=2).count() == 6

    for v in (4, -1):
        with pytest.raises(FileNotFoundError, match=f"no version {v}"):
            t.read(spark, version=v)
    assert t.vacuum(keep_last=1) == [0, 1, 2]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(spark, version=1)
    assert t.read(spark).count() == 2


def test_vacuum_keeps_the_pointer_bounded(tmp_path, spark):
    """vacuum drops the manifest entry of every version whose segments
    it removed, so a table committed and vacuumed on every write keeps
    at most ``keep_last`` entries and a pointer that does not grow
    (sized without ``committed_at``, whose repr varies by a digit)."""
    import json

    t = VersionedTable(tmp_path / "t")
    size = {}
    for n in range(1, 61):
        t.commit(spark.range(n % 3))
        t.vacuum(keep_last=2)
        meta = json.loads((tmp_path / "t" / "_LATEST").read_text())
        size[n] = len(json.dumps({k: v for k, v in meta.items() if k != "committed_at"}))
    assert sorted(meta["manifests"], key=int) == ["58", "59"]
    assert size[60] <= size[20]
    assert t.read(spark, version=58).count() == 59 % 3
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(spark, version=57)


def test_bucketed_table_empty_append_reads_back_at_older_version(tmp_path, spark):
    """A bucketed append of an empty frame writes no data file; the
    table still reads at the pointer's schema, and time travel to the
    version before the empty append reads the same rows."""
    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.sources.tables import (
        BucketedSegmentTable,
    )

    schema = T.StructType(
        [T.StructField("g", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = BucketedSegmentTable(tmp_path / "b", "g", num_buckets=4)
    t.append(spark.createDataFrame([(i, f"s{i}") for i in range(6)], schema))
    t.append(spark.createDataFrame([], schema))
    assert [d.name for d in t.segment_dirs()] == ["v0", "v1"]
    assert not list((tmp_path / "b" / "v1").glob("*.parquet"))
    latest = sorted(t.read(spark).collect())
    older = sorted(t.read(spark, version=0).collect())
    assert latest == older and len(older) == 6
    assert t.read(spark, version=0).schema == schema
    assert len(t.segments(spark, version=0)) == 1
    assert len(t.segments(spark)) == 2
    with pytest.raises(FileNotFoundError, match="no version 2"):
        t.segments(spark, version=2)


def test_dim_store_history_is_append_only(tmp_path, spark):
    """The split store must never rewrite history segments — per-batch
    cost stays O(current+batch) no matter how deep history gets."""
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    store = SCD2DimStore(tmp_path / "dim")
    b1 = spark.createDataFrame([make_change(i, "INSERT", ts(i)) for i in (1, 2)], CHANGE_SCHEMA)
    assert store.apply_batch(spark, b1, txn_id="t1", batch_id="b1")
    b2 = spark.createDataFrame([make_change(1, "UPDATE", ts(10), quantity=5)], CHANGE_SCHEMA)
    assert store.apply_batch(spark, b2, txn_id="t2", batch_id="b2")

    hist_seg0 = tmp_path / "dim" / "history" / "v0"
    assert hist_seg0.exists()
    mtime0 = max(p.stat().st_mtime for p in hist_seg0.rglob("*.parquet"))

    b3 = spark.createDataFrame([make_change(2, "UPDATE", ts(20), quantity=7)], CHANGE_SCHEMA)
    assert store.apply_batch(spark, b3, txn_id="t3", batch_id="b3")
    # segment v0 untouched by the later batch; a new segment appeared
    assert max(p.stat().st_mtime for p in hist_seg0.rglob("*.parquet")) == mtime0
    assert (tmp_path / "dim" / "history" / "v1").exists()

    rows = store.read(spark).collect()
    assert_invariants(rows)
    assert len(rows) == 4  # 2 expired + 2 current
    # replayed txn is a no-op
    assert store.apply_batch(spark, b3, txn_id="t3", batch_id="b3") is False
    assert len(store.read(spark).collect()) == 4


def test_dim_store_history_compaction(tmp_path, spark):
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    store = SCD2DimStore(tmp_path / "dim")
    store.apply_batch(
        spark,
        spark.createDataFrame([make_change(1, "INSERT", ts(0))], CHANGE_SCHEMA),
        txn_id="t0",
    )
    for i in range(1, 4):  # three updates -> three history segments
        store.apply_batch(
            spark,
            spark.createDataFrame(
                [make_change(1, "UPDATE", ts(10 * i), quantity=i + 1)], CHANGE_SCHEMA
            ),
            txn_id=f"t{i}",
        )
    before = sorted(map(str, store.read(spark).collect()))
    assert store.compact_history(spark, max_segments=2) is True
    after = sorted(map(str, store.read(spark).collect()))
    assert after == before
    # consolidated: latest history manifest has exactly one segment
    hmeta = store.history._read_pointer()
    assert len(hmeta["manifests"][str(hmeta["version"])]) == 1
    # no-op below the threshold
    assert store.compact_history(spark, max_segments=2) is False


DIM_BATCHES = [
    [make_change(i, "INSERT", ts(i)) for i in range(1, 31)],
    [make_change(3, "UPDATE", ts(100), quantity=7, status="shipped"),
     make_change(11, "UPDATE", ts(101), quantity=2)],
    [make_change(3, "UPDATE", ts(200), quantity=9),
     make_change(40, "INSERT", ts(201)),
     make_change(11, "DELETE", ts(202))],
    [make_change(40, "UPDATE", ts(300), status="confirmed"),
     make_change(41, "INSERT", ts(301))],
]


def _dim_rows(df):
    return sorted(map(str, df.collect()))


def test_time_travel_reads_base_store(spark, change_df, tmp_path):
    """read(version=N) returns the dimension exactly as it stood after
    batch N — the sub-tables retain those versions until vacuum."""
    store = SCD2DimStore(tmp_path / "d")
    snapshots = {}
    for i, rows in enumerate(DIM_BATCHES):
        store.apply_batch(spark, change_df(rows), txn_id=f"t{i}")
        snapshots[i] = _dim_rows(store.read(spark))
    for i in range(len(DIM_BATCHES)):
        assert _dim_rows(store.read(spark, version=i)) == snapshots[i], i
    with pytest.raises(ValueError, match="pointer log"):
        store.read(spark, version=99)


def test_delete_can_empty_the_current_slice(spark, change_df, tmp_path):
    """A batch that deletes every live key leaves an empty current
    version (the no-current-rows branch of apply_batch); the deleted
    key's history survives and the store keeps accepting batches."""
    store = SCD2DimStore(tmp_path / "d")
    store.apply_batch(spark, change_df([make_change(1, "INSERT", ts(0))]), txn_id="t0")
    store.apply_batch(spark, change_df([make_change(1, "DELETE", ts(10))]), txn_id="t1")
    assert store.read_current(spark).count() == 0
    assert store.read_history(spark).filter(F.col("order_key") == 1).count() >= 1
    store.apply_batch(spark, change_df([make_change(2, "INSERT", ts(20))]), txn_id="t2")
    assert [r["order_key"] for r in store.read_current(spark).collect()] == [2]


def test_apply_batch_crash_windows_replay_exactly_once(spark, change_df, tmp_path):
    """A crash in any step of a batch — a rollup running beside the
    stage job, the history adopt, the current adopt, or the store
    pointer swap — leaves readers on the previous state; replaying the
    same txn_id from a fresh store object then lands the batch exactly
    once: the dimension equals a clean store's, the history manifest
    gained exactly one segment and no stage directory is left. A failed
    rollup moves no version at all: the adopts wait for every rollup."""
    import shutil

    def history_segments(store):
        hv = store._read_pointer()["history_version"]
        return len(store.history._read_pointer()["manifests"][str(hv)])

    def versions(store):
        return store.version(), store.current.version(), store.history.version()

    seeded = SCD2DimStore(tmp_path / "seeded")
    for i, rows in enumerate(DIM_BATCHES[:2]):
        seeded.apply_batch(spark, change_df(rows), txn_id=f"t{i}")
    before_rows = _dim_rows(seeded.read(spark))
    before_segments = history_segments(seeded)
    before_versions = versions(seeded)
    shutil.copytree(seeded.path, tmp_path / "clean")
    clean = SCD2DimStore(tmp_path / "clean")
    clean.apply_batch(spark, change_df(DIM_BATCHES[2]), txn_id="t2")
    expected = _dim_rows(clean.read(spark))

    def boom(*_a, **_k):
        raise RuntimeError("injected crash")

    for step in ("rollup", "history", "current", "store"):
        shutil.copytree(seeded.path, tmp_path / step)
        store = SCD2DimStore(tmp_path / step)
        rollups = ()
        if step == "rollup":
            rollups = (boom,)
        else:
            target = store if step == "store" else getattr(store, step)
            target._write_pointer = boom  # the step's publish fails after its move
        with pytest.raises(RuntimeError, match="injected crash"):
            store.apply_batch(spark, change_df(DIM_BATCHES[2]), txn_id="t2", rollups=rollups)

        restarted = SCD2DimStore(tmp_path / step)
        assert _dim_rows(restarted.read(spark)) == before_rows, step
        if step == "rollup":
            assert versions(restarted) == before_versions
        assert restarted.apply_batch(spark, change_df(DIM_BATCHES[2]), txn_id="t2"), step
        assert _dim_rows(restarted.read(spark)) == expected, step
        assert history_segments(restarted) == before_segments + 1, step
        assert not list(restarted.path.glob("._stage_*")), step
        assert restarted.apply_batch(spark, change_df(DIM_BATCHES[2]), txn_id="t2") is False


def test_apply_batch_pool_threads_keep_the_callers_job_group(spark, change_df, tmp_path):
    """The stage write and the rollups run in pool threads under the
    caller's job group: every job the batch launches lands in the
    group, none runs without one, and a rollup sees the group too."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    store = SCD2DimStore(tmp_path / "dim")
    store.apply_batch(spark, change_df(DIM_BATCHES[0]), txn_id="t0")
    spark.range(1).count()  # an ungrouped job: its id bounds the jobs before the batch
    bus.waitUntilEmpty()
    last = max(tracker.getJobIdsForGroup(None))

    seen = []

    def rollup():
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))

    sc.setJobGroup("g", "apply_batch under a job group")
    try:
        assert store.apply_batch(
            spark, change_df(DIM_BATCHES[1]), txn_id="t1", rollups=[rollup]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert seen == ["g"]
    assert [j for j in tracker.getJobIdsForGroup(None) if j > last] == []
    assert [j for j in tracker.getJobIdsForGroup("g") if j > last]  # the stage write's


def test_loader_reports_corrupt_batch(env, spark):
    """A malformed batch file must fail the run (status=failed, error
    recorded in metadata) without corrupting the dim."""
    sim, ext, loader, dim, meta = env
    sim.seed_orders(3, now=ts(0))
    ext.run_once(now=ts(1))
    loader.load_pending()
    good = sorted(map(str, dim.read(spark).collect()))
    # drop a corrupt envelope into the cdc dir
    (loader.cdc_dir / "changes_99999999_999999_999.json").write_text("{not json")
    res = loader.load_pending()
    assert res["status"] == "failed" and res["failed"] == 1
    assert meta.last_run()["status"] == "failed"
    assert sorted(map(str, dim.read(spark).collect())) == good


def test_null_timestamp_change_is_rejected_before_any_commit(spark, change_df, tmp_path):
    """A change without a cdc_timestamp cannot be ordered among its
    key's versions. The loader fails the run and names the batch file
    before any rollup or dimension commit, and a stream epoch fails the
    same way. Applied, it left an expired row with no valid_to and a
    current row with no valid_from."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.streaming.pipeline import start_scd2_stream

    cdc = tmp_path / "cdc"
    write_change_batch(
        change_df([make_change(1, "INSERT", ts(0))]), cdc, extracted_at=ts(1), fmt="jsonl"
    )
    untimed = {**make_change(1, "UPDATE", ts(5), quantity=3), "cdc_timestamp": None}
    nullable = T.StructType([T.StructField(f.name, f.dataType) for f in CHANGE_SCHEMA.fields])
    bad = write_change_batch(
        spark.createDataFrame([untimed], nullable), cdc, extracted_at=ts(6), fmt="jsonl"
    )

    dim = SCD2DimStore(tmp_path / "dim")
    summary = VersionedTable(tmp_path / "summary")
    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    loader = SCD2Loader(spark, dim, cdc, metadata=meta, summary_store=summary)
    for _ in range(2):  # the rejected batch is not marked: a rerun fails again
        res = loader.load_pending()
        assert res["status"] == "failed", res
        assert res["error"].startswith(f"{bad.name}: ValueError"), res["error"]
        assert "cdc_timestamp" in res["error"]
        assert meta.last_run()["error_message"] == res["error"]
        assert (dim.version(), summary.version()) == (0, 0)
        rows = dim.read(spark).collect()
        assert_invariants(rows)
        assert [(r["order_key"], r["quantity"], r["is_current"]) for r in rows] == [(1, 1, True)]

    streamed = SCD2DimStore(tmp_path / "streamed")
    q = start_scd2_stream(spark, cdc, streamed, tmp_path / "ckpt", available_now=True)
    with pytest.raises(StreamingQueryException, match="cdc_timestamp"):
        q.awaitTermination(120)
    assert streamed.version() <= 0
    if streamed.exists():
        assert_invariants(streamed.read(spark).collect())


def test_lineage_report_artifact(env, spark, tmp_path):
    """The validate artifact (reference verify_scd2.py:344-495): a
    markdown lineage report for a sampled order with version timeline
    and invariant results; invariant_counts must agree with the
    3-query formulation on a violating dimension."""
    from cdc_historical_warehouse_platform_spark.pipeline.lineage import (
        generate_lineage_report,
        invariant_counts,
        pick_sample_key,
    )

    sim, ext, loader, dim, meta = env
    sim.seed_orders(6, now=ts(0))
    ext.run_once(now=ts(1))
    loader.load_pending()
    def touch(status, when):
        src = sim._orders()
        hit = F.col("id") == 2
        sim.source.commit(
            src.withColumn(
                "order_status", F.when(hit, F.lit(status)).otherwise(F.col("order_status"))
            ).withColumn(
                "last_updated",
                F.when(hit, F.lit(when).cast("timestamp")).otherwise(F.col("last_updated")),
            )
        )

    touch("shipped", ts(10))
    ext.run_once(now=ts(11))
    loader.load_pending()
    touch("delivered", ts(20))
    ext.run_once(now=ts(21))
    loader.load_pending()

    d = dim.read(spark)
    assert invariant_counts(d) == {
        "V1_duplicate_current": 0,
        "V2_flag_violations": 0,
        "V3_overlaps": 0,
    }
    assert pick_sample_key(d) == 2  # most-versioned order

    report = generate_lineage_report(spark, d, last_run=meta.last_run())
    assert "# SCD Type 2 Lineage Report" in report
    assert "**Order ID:** 2" in report
    assert "PASSED" in report
    assert report.count("### Version") == 3  # insert + 2 updates
    assert "NULL (Current)" in report  # open-ended current version
    assert "## Order Lineage Timeline" in report
    (tmp_path / "lineage.md").write_text(report)

    # invariant violations must be counted, and fail the report status
    bad = d.withColumn("is_current", F.lit(True))
    inv = invariant_counts(bad)
    assert inv["V1_duplicate_current"] == 1  # key 2 has 3 "current" rows
    assert inv["V2_flag_violations"] == 2  # closed rows flagged current
    bad_report = generate_lineage_report(spark, bad)
    assert "FAILED" in bad_report


def test_streamed_envelope_byte_identical_to_json_dumps(tmp_path, spark):
    """The streamed reference-envelope writer must emit byte-identical
    output to json.dumps(payload, indent=2) — wire compat holds while
    driver memory stays bounded (toLocalIterator, one partition at a
    time). Also: empty batch and multi-row ordering."""
    import json

    from cdc_historical_warehouse_platform_spark.sources.change_batches import _stringify

    for n in (0, 1, 7):
        changes = spark.createDataFrame(
            [make_change(i, "INSERT", ts(i)) for i in range(n)], CHANGE_SCHEMA
        ).repartition(3)
        d = tmp_path / f"n{n}"
        p = write_change_batch(
            changes, d, extracted_at=ts(30), watermark=ts(29), fmt="reference"
        )
        rows = [
            _stringify(r.asDict())
            for r in changes.orderBy("last_updated", "id").collect()
        ]
        expected = json.dumps(
            {
                "batch_metadata": {
                    "extracted_at": ts(30).isoformat(),
                    "change_count": n,
                    "watermark": ts(29).isoformat(),
                },
                "changes": rows,
            },
            indent=2,
        )
        assert p.read_text() == expected
        # running log appended once per row, in batch order
        log = d / "running_changes.jsonl"
        if n:
            assert [json.loads(l)["id"] for l in log.read_text().splitlines()] == list(range(n))
        else:
            assert not log.exists()


def test_lineage_report_nonexistent_key_reports_cleanly(env, spark):
    from cdc_historical_warehouse_platform_spark.pipeline.lineage import generate_lineage_report

    sim, ext, loader, dim, meta = env
    sim.seed_orders(3, now=ts(0))
    ext.run_once(now=ts(1))
    loader.load_pending()
    report = generate_lineage_report(spark, dim.read(spark), order_key=999999)
    assert "999999" in report and "no rows" in report  # not an IndexError


def test_empty_reference_envelope_roundtrip(tmp_path, spark):
    """An empty batch ("changes": []) must read back as zero typed rows
    — schema inference used to give the array a non-struct element type
    and crash the c.* expansion before the loader's own empty guard."""
    from cdc_historical_warehouse_platform_spark.sources.change_batches import (
        read_change_batch,
        write_change_batch,
    )
    from cdc_historical_warehouse_platform_spark.schemas import CHANGE_SCHEMA

    empty = spark.createDataFrame([], CHANGE_SCHEMA)
    p = write_change_batch(empty, tmp_path, extracted_at=ts(1), watermark=ts(0))
    back = read_change_batch(spark, p)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == [f.name for f in CHANGE_SCHEMA.fields]


def test_cleanup_covers_jsonl_directories(env, spark):
    """Retention must reclaim jsonl batch DIRECTORIES too — the old
    file-only glob silently no-op'd under fmt='jsonl'."""
    import os
    import time as _time

    sim, ext, loader, dim, meta = env
    ext.fmt = "jsonl"
    sim.seed_orders(2, now=ts(0))
    batch = ext.run_once(now=ts(1))
    assert batch is not None and batch.is_dir()
    old = _time.time() - 48 * 3600
    os.utime(batch, (old, old))
    assert ext.cleanup_old_batches(max_age_hours=24.0) == 1
    assert not batch.exists()


def test_simulator_sample_bounds_driver_collect(spark, tmp_path, monkeypatch):
    """A mutation cycle collects at most SAMPLE_POOL ids to the driver
    (the big-table-safe variant of the reference's full id collect) and
    still mutates correctly; the pool is shrunk below the table size so
    the bound binds."""
    from cdc_historical_warehouse_platform_spark.pipeline import simulator
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

    assert simulator.SAMPLE_POOL == 1024
    monkeypatch.setattr(simulator, "SAMPLE_POOL", 5)
    src = VersionedTable(tmp_path / "orders")
    sim = simulator.OrderSimulator(spark, src, seed=7)
    sim.seed_orders(25)
    pools = []
    draw = sim.rng.sample
    monkeypatch.setattr(sim.rng, "sample", lambda ids, k: pools.append(len(ids)) or draw(ids, k))
    before = src.read(spark).count()
    total_ops = {"inserts": 0, "updates": 0, "deletes": 0}
    for _ in range(5):
        ops = sim.mutate_once()
        for k in total_ops:
            total_ops[k] += ops[k]
    after = src.read(spark).count()
    assert after == before + total_ops["inserts"] - total_ops["deletes"]
    assert pools and max(pools) <= 5
    # ids keep advancing past the seeded range (max-id agg, not collect)
    assert sim._next_id > 25


def test_kpis_report_true_record_throughput(spark, tmp_path, change_df):
    """The monitoring KPI set (reference README.md:752-762): record
    throughput comes from the loader's true row accounting (the run
    table's records_* columns carry batch counts), replays raise the
    duplicate-batch rate, and the watermark-lag alert fires past 300 s."""
    import datetime as dt

    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.pipeline.metadata import (
        PipelineMetadataManager,
    )
    from cdc_historical_warehouse_platform_spark.sources.change_batches import write_change_batch
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore

    t0 = dt.datetime(2026, 5, 1, 12, 0, 0)
    cdc = tmp_path / "cdc"
    cdc.mkdir()
    write_change_batch(
        change_df([make_change(i, "INSERT", t0) for i in range(1, 8)]),
        cdc, extracted_at=t0, fmt="jsonl",
    )
    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    loader = SCD2Loader(spark, SCD2DimStore(tmp_path / "dim"), cdc, metadata=meta)
    loader.load_pending()
    loader.load_pending()  # pure replay: 0 rows, 1 skipped batch

    k = meta.kpis(watermark=dt.datetime.utcnow() - dt.timedelta(seconds=400))
    assert k["rows_loaded_7d"] == 7
    assert k["runs_7d"] == 2
    assert k["duplicate_batch_rate"] == 0.5  # the replay run
    assert k["failed_batch_rate"] == 0.0
    assert "watermark_lag_sec > 300" in k["alerts"]
    assert k["sustained_throughput_rps"] is None or k["sustained_throughput_rps"] > 0


def test_empty_builders_are_zero_partition_frames_of_the_exact_schema(spark, tmp_path):
    """Every empty builder returns a frame of its intended schema,
    nullability included, over zero partitions: counting or writing it
    schedules no task, so no Python worker starts."""
    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.operators.incremental_agg import (
        empty_histogram,
        empty_summary,
    )
    from cdc_historical_warehouse_platform_spark.operators.scd2 import empty_dim
    from cdc_historical_warehouse_platform_spark.schemas import (
        DIM_HISTORY_SCHEMA,
        ORDERS_SCHEMA,
        PIPELINE_METADATA_SCHEMA,
    )
    from cdc_historical_warehouse_platform_spark.session import empty_frame
    from cdc_historical_warehouse_platform_spark.sources.substr_index import (
        _UNIQUE_SCHEMA,
        ExactSubstrIndex,
    )

    group = T.StructField("customer_id", T.IntegerType(), True)
    summary_schema = T.StructType(
        [
            group,
            T.StructField("n_orders", T.LongType(), False),
            T.StructField("measure_sum", T.DecimalType(38, 2), True),
        ]
    )
    hist_key = T.StructField(
        "__hist_key",
        T.StructType([group, T.StructField("bucket", T.IntegerType(), False)]),
        False,
    )
    xs = ExactSubstrIndex(tmp_path / "xs")
    missing = VersionedTable(tmp_path / "missing")
    sim = OrderSimulator(spark, missing, None, seed=1)
    built = [
        (empty_frame(spark, CHANGE_SCHEMA), CHANGE_SCHEMA),
        (empty_dim(spark), DIM_HISTORY_SCHEMA),
        (empty_summary(spark), summary_schema),
        (empty_histogram(spark), T.StructType([hist_key, *summary_schema.fields[1:]])),
        (PipelineMetadataManager(spark, tmp_path / "meta")._runs(), PIPELINE_METADATA_SCHEMA),
        (sim._orders(), ORDERS_SCHEMA),
        (xs._read_or_empty(spark, missing, _UNIQUE_SCHEMA), _UNIQUE_SCHEMA),
        (xs._read_pre_txn(spark, missing, _UNIQUE_SCHEMA, "t"), _UNIQUE_SCHEMA),
        (xs._segments_pre_txn(spark, missing, _UNIQUE_SCHEMA, "t")[0], _UNIQUE_SCHEMA),
    ]
    for df, schema in built:
        assert df.schema.json() == schema.json()
        assert df._jdf.rdd().getNumPartitions() == 0
        assert df.count() == 0

    # a committed empty frame still publishes its schema
    table = VersionedTable(tmp_path / "empty")
    table.commit(empty_dim(spark))
    assert table.read(spark).count() == 0
    assert table.read(spark).columns == DIM_HISTORY_SCHEMA.names


@pytest.fixture
def host_clock_off_utc(monkeypatch):
    """Pin the host's local time zone to UTC-5 for the test."""
    monkeypatch.setenv("TZ", "EST5")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_run_rows_and_pointer_schema_round_trip(spark, tmp_path, host_clock_off_utc):
    """start_run and update_run each append one event, written by
    pyarrow at the event schema, which the pointer records; the folded
    runs read back at the run schema with the instants the callers
    handed in. The host clock is off UTC: Arrow keeps the wall clock of
    an aware datetime, and a naive one handed to it as is would shift
    every run duration by the host's UTC offset."""
    import json

    from pyspark.sql import types as T

    from cdc_historical_warehouse_platform_spark.schemas import PIPELINE_METADATA_SCHEMA

    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    events = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in PIPELINE_METADATA_SCHEMA.fields]
        + [T.StructField("seq", T.LongType(), True)]
    )

    def pointer_schema():
        return json.loads((tmp_path / "meta" / "_LATEST").read_text())["schema"]

    # recent, so stats()' trailing window holds it
    t = (dt.datetime.utcnow() - dt.timedelta(hours=1)).replace(microsecond=250000)
    assert meta.start_run(run_id="r1", now=t) == "r1"
    assert pointer_schema() == events.json()
    runs = meta._runs()
    assert runs.schema.json() == PIPELINE_METADATA_SCHEMA.json()
    assert [r.asDict() for r in runs.collect()] == [
        {
            "run_id": "r1",
            "pipeline_name": "scd2_loader",
            "start_time": t,
            "end_time": None,
            "status": "running",
            "records_processed": 0,
            "records_successful": 0,
            "records_failed": 0,
            "error_message": None,
            "performance_metrics": None,
        }
    ]

    meta.update_run(
        "r1", "completed", 3, 2, 1,
        performance_metrics={"a": 1}, now=t + dt.timedelta(seconds=5),
    )
    meta.start_run(run_id="r2", now=t + dt.timedelta(seconds=9))
    assert pointer_schema() == events.json()
    assert meta.table.read(spark).count() == 3  # events, not runs
    rows = sorted(meta._runs().collect(), key=lambda r: r.run_id)
    assert [tuple(r) for r in rows] == [
        ("r1", "scd2_loader", t, t + dt.timedelta(seconds=5), "completed", 3, 2, 1, None, '{"a": 1}'),
        ("r2", "scd2_loader", t + dt.timedelta(seconds=9), None, "running", 0, 0, 0, None, None),
    ]
    # durations are end minus start: 5 s, not 5 s plus the UTC offset
    assert meta.stats()["avg_duration_sec"] == 5.0
    k = meta.kpis(now=t + dt.timedelta(seconds=10))
    assert k["batch_processing_p95_sec"] == 5.0
    assert "batch_processing_p95_sec > 120" not in k["alerts"]


def test_update_run_replaces_one_row_and_compiles_nothing_when_warm(spark, tmp_path):
    """update_run changes only its own run's outcome: the run's
    start_time and pipeline_name stay as its start event has them, and
    the other runs' rows are unchanged. It writes its event with
    pyarrow, so a second update compiles no class."""
    from cdc_historical_warehouse_platform_spark.session import codegen_compiles

    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    t = (dt.datetime.utcnow() - dt.timedelta(hours=1)).replace(microsecond=0)
    for i, run in enumerate("abc"):
        meta.start_run(run_id=run, now=t + dt.timedelta(seconds=i))

    def rows():
        return {r.run_id: tuple(r) for r in meta._runs().collect()}

    meta.update_run("a", "completed", 4, 4, 0, performance_metrics={"n": 4}, now=t + dt.timedelta(seconds=10))
    before = rows()
    assert before["a"] == (
        "a", "scd2_loader", t, t + dt.timedelta(seconds=10), "completed", 4, 4, 0, None, '{"n": 4}'
    )
    compiles = codegen_compiles(spark)
    meta.update_run(
        "b", "failed", 2, 1, 1, error_message="boom",
        performance_metrics={"n": 1}, now=t + dt.timedelta(seconds=20),
    )
    assert codegen_compiles(spark) - compiles == 0
    after = rows()
    assert after["a"] == before["a"] and after["c"] == before["c"]
    assert after["b"] == (
        "b", "scd2_loader", t + dt.timedelta(seconds=1), t + dt.timedelta(seconds=20),
        "failed", 2, 1, 1, "boom", '{"n": 1}',
    )
    assert len(after) == 3


def test_run_events_fold_in_append_order_not_clock_order(spark, tmp_path):
    """A run's newest event is the one appended last, whatever its
    timestamps say: an update stamped before the run's start (a host
    clock that stepped back) still sets the run's status, a later
    failure overrides it, and an update of a run that never started
    adds no row."""
    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    t = (dt.datetime.utcnow() - dt.timedelta(hours=1)).replace(microsecond=0)
    meta.start_run(run_id="r", now=t)
    meta.update_run("r", "completed", 1, 1, 0, now=t - dt.timedelta(seconds=30))
    last = meta.last_run()
    assert (last["status"], last["start_time"], last["end_time"]) == (
        "completed", t, t - dt.timedelta(seconds=30)
    )
    for _ in range(2):  # the same event twice folds to the same row
        meta.update_run("r", "failed", 1, 0, 1, error_message="late", now=t - dt.timedelta(seconds=60))
    meta.update_run("ghost", "completed", now=t)
    assert [(r.run_id, r.status, r.error_message) for r in meta._runs().collect()] == [
        ("r", "failed", "late")
    ]


def test_run_table_writes_launch_no_spark_job(spark, tmp_path):
    """start_run and update_run write their events from the driver with
    pyarrow: a load run's metadata costs no Spark job."""
    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = "run-table-writes"
    sc.setJobGroup(group, "start_run / update_run")
    try:
        run = meta.start_run()
        meta.update_run(run, "completed", 1, 1, 0, performance_metrics={"rows_loaded": 1})
        meta.start_run()
        bus.waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        spark.range(1).count()  # the group does see a job
        bus.waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert meta.last_run()["status"] == "running"


def test_run_table_state_stays_bounded(spark, tmp_path):
    """Every start_run / update_run appends one segment; past 32
    segments the next append first commits the folded runs as one, and
    every append vacuums the table to its newest two versions. After
    200 runs the table holds at most 34 version directories and a
    pointer under 16 KB, and the queries read the same runs."""
    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    t = (dt.datetime.utcnow() - dt.timedelta(hours=1)).replace(microsecond=0)
    for i in range(200):
        run = meta.start_run(run_id=f"r{i:03d}", now=t + dt.timedelta(seconds=10 * i))
        meta.update_run(
            run, "completed" if i % 4 else "failed", i, i, 0,
            now=t + dt.timedelta(seconds=10 * i + 2),
        )
    assert len(list((tmp_path / "meta").glob("v*"))) <= 34
    assert (tmp_path / "meta" / "_LATEST").stat().st_size < 16 * 1024
    assert not meta.table.committed_txns()
    last = meta.last_run()
    assert (last["run_id"], last["status"], last["records_processed"]) == ("r199", "completed", 199)
    assert last["end_time"] - last["start_time"] == dt.timedelta(seconds=2)
    stats = meta.stats()
    assert (stats["total_runs"], stats["successful_runs"], stats["failed_runs"]) == (200, 150, 50)
    assert stats["avg_duration_sec"] == 2.0
    assert stats["total_records_processed"] == sum(range(200))
    assert stats["last_completion"] == t + dt.timedelta(seconds=1992)


def test_steady_state_batch_compiles_almost_nothing(spark, change_df, tmp_path):
    """Two loader batches of the same shape, with all three rollup
    stores: the second reuses the first's generated classes from the
    codegen cache and compiles none (the run table's events are
    written by pyarrow, not by Spark); a cache too small for the
    working set (the engine's default of 100) recompiled ~140 classes
    here."""
    import json

    from cdc_historical_warehouse_platform_spark.session import codegen_compiles

    cdc = tmp_path / "cdc"
    meta = PipelineMetadataManager(spark, tmp_path / "meta")
    loader = SCD2Loader(
        spark, SCD2DimStore(tmp_path / "dim"), cdc, metadata=meta,
        summary_store=VersionedTable(tmp_path / "summary"),
        sketch_store=VersionedTable(tmp_path / "sketch"),
        histogram_store=VersionedTable(tmp_path / "hist"),
    )

    def batch(n, first_id, updated):
        at = ts(10 * n)
        rows = [
            make_change(i, "INSERT", at, quantity=n, customer_id=100 + i % 5)
            for i in range(first_id, first_id + 6)
        ]
        rows += [
            make_change(i, "UPDATE", at, quantity=n + 1, customer_id=100 + i % 5, status="shipped")
            for i in updated
        ]
        write_change_batch(change_df(rows), cdc, extracted_at=at)
        before = codegen_compiles(spark)
        assert loader.load_pending()["processed"] == 1
        return codegen_compiles(spark) - before

    batch(0, 1, [])  # seeds the store: the bulk-build path
    batch(1, 100, [1, 2, 3])  # first merge: compiles the merge working set
    second = batch(2, 200, [4, 5, 6])  # same shape
    assert second == 0, second
    recorded = json.loads(meta.last_run()["performance_metrics"])["codegen_compiles"]
    assert 0 <= recorded <= second
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

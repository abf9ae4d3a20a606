"""Composed training-corpus build + incremental append.

The pipeline bodies behind ``run_pipeline.py corpus`` /
``corpus-append`` (and bench.py's incremental cycle): quality gate →
exact-fingerprint dedup → LSH near-dup → hash-sharded parquet, with
the dedup state (``_kept_docs``, ``_lsh_index``, ``_fp_index``)
persisted next to the shards so appends never reprocess the kept
corpus, all under the crash-atomic ``_corpus_commit`` marker
(pipeline/corpus_state.py).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.dedup import (
    incremental_minhash_dedup,
    minhash_band_buckets,
)
from cdc_historical_warehouse_platform_spark.operators.sampling import (
    compact_shards,
    write_training_shards,
)
from cdc_historical_warehouse_platform_spark.operators.text import fingerprint, quality_score
from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import (
    read_marker,
    repair,
    write_marker,
)

__all__ = [
    "corpus_build",
    "corpus_append",
    "corpus_compact",
    "corpus_forget",
    "corpus_top_tokens",
    "read_committed_corpus",
]

QUALITY_THRESHOLD = 0.68
_CAPS_FILE = "_source_caps.json"

# bucketed-state layout (r8, opt-in via corpus_build(state_buckets=N)):
# the probe-keyed dedup state dirs are written as Spark-BUCKETED files
# and registered as session-catalog external tables, so a bulk append
# probes them co-partitioned (batch-side Exchanges only — no broadcast
# ceiling, state never re-shuffled). The marker/repair protocol is
# untouched: bucketed part files are ordinary immutable parquet files
# that snapshot()/repair() track like any other.
_LSH_DDL = "`doc_id` BIGINT, `bucket` STRING"
_FP_DDL = "`doc_id` BIGINT, `fp` STRING"

# auto-layout thresholds (r9, verdict task #4): a 100 TB pipeline
# should not need to know the --state-buckets flag. Corpora whose kept
# count crosses _AUTO_STATE_MIN_DOCS get the bucketed layout by
# default, sized ~1 bucket per million kept docs (clamped) so one
# bucket of the probe-keyed state stays executor-sized; smaller
# corpora keep the flat layout (broadcast probes win there anyway and
# the catalog-table machinery buys nothing).
_AUTO_STATE_MIN_DOCS = 2_000_000
_AUTO_STATE_DOCS_PER_BUCKET = 1_000_000
_AUTO_STATE_MAX_BUCKETS = 4096


def resolve_state_buckets(state_buckets, n_kept: int) -> int | None:
    """Resolve the ``state_buckets`` setting to a concrete layout:
    ``"auto"`` (the default) picks the bucketed layout for corpora
    with ≥ ``_AUTO_STATE_MIN_DOCS`` kept docs (one bucket per
    ``_AUTO_STATE_DOCS_PER_BUCKET`` docs, clamped to
    [32, ``_AUTO_STATE_MAX_BUCKETS``]) and the flat layout below it;
    an explicit int or None passes through untouched. The RESOLVED
    value rides the commit marker, so appends/forgets/compactions
    never re-derive it from a different corpus size."""
    if state_buckets != "auto":
        return state_buckets
    if n_kept < _AUTO_STATE_MIN_DOCS:
        return None
    return int(
        max(
            32,
            min(
                _AUTO_STATE_MAX_BUCKETS,
                -(-n_kept // _AUTO_STATE_DOCS_PER_BUCKET),
            ),
        )
    )


def _state_table_name(sdir: Path) -> str:
    import hashlib as _hashlib

    return (
        "cstate_"
        + _hashlib.sha1(str(Path(sdir).resolve()).encode()).hexdigest()[:16]
    )


def _ensure_state_table(
    spark: SparkSession, sdir: Path, bucket_col: str, buckets: int, ddl: str
):
    """Idempotent catalog registration of a bucketed state dir (the
    in-memory catalog does not persist; the files + marker are the
    source of truth). Thin wrapper over the shared
    sources/tables.register_bucketed_dir core."""
    from cdc_historical_warehouse_platform_spark.sources.tables import (
        register_bucketed_dir,
    )

    return register_bucketed_dir(
        spark, _state_table_name(sdir), sdir, bucket_col, buckets, ddl
    )


def _write_state(
    df: DataFrame,
    sdir: Path,
    bucket_col: str,
    buckets: int | None,
    ddl: str,
    mode: str = "append",
    max_records_per_file: int | None = None,
) -> None:
    """State-dir write honoring the corpus's layout: plain parquet when
    ``buckets`` is None (legacy/default), bucketed catalog-table files
    otherwise (the shared sources/tables.write_bucketed_dir core —
    overwrite also clears a stale same-path catalog entry, which a
    rebuild-in-place with a new state_buckets may carry)."""
    if not buckets:
        w = df.write.mode(mode)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(str(sdir))
        return
    from cdc_historical_warehouse_platform_spark.sources.tables import (
        write_bucketed_dir,
    )

    if mode != "overwrite":
        _ensure_state_table(df.sparkSession, sdir, bucket_col, buckets, ddl)
    write_bucketed_dir(
        df,
        _state_table_name(sdir),
        sdir,
        bucket_col,
        buckets,
        mode=mode,
        max_records_per_file=max_records_per_file,
    )


def read_committed_corpus(spark: SparkSession, output: str | Path) -> DataFrame:
    """The committed corpus, EXACTLY: repair() first (roll back any
    torn epoch), then read only the shard files the committed manifest
    lists. A raw ``spark.read.parquet(output)`` would also sweep up
    superseded files a crash mid-forget/append/compact left on disk —
    double-counting rows and potentially resurrecting
    right-to-be-forgotten documents the committed marker already
    excludes. Every downstream consumer (export, ad-hoc reads) goes
    through here."""
    import json as _json

    out = Path(output)
    repair(out)
    try:
        manifest = _json.loads((out / "_manifest.json").read_text())
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{out} has no _manifest.json — not a built corpus (run "
            "`corpus` first)"
        ) from None
    live = [
        str(out / f"shard={s}/{f}")
        for s, e in manifest["shards"].items()
        for f in e["files"]
    ]
    if not live:
        raise ValueError(f"corpus at {out} is empty (no live shard files)")
    return spark.read.option("basePath", str(out)).parquet(*live)


def _cap_against_quota(
    kept: DataFrame, counts: DataFrame, max_per_source: int
) -> DataFrame:
    """Cap a NEW batch's kept docs against each source's REMAINING
    quota (``max_per_source`` minus docs already in the corpus).

    Incremental semantics are first-come: the corpus is append-only,
    so a later doc can never evict an earlier-kept one — within each
    batch the winners are the md5-smallest (deterministic, engine
    independent, same draw as operators/sampling.cap_per_source), and
    across batches the quota just drains. That is the standard
    production shape for per-domain quotas in a streaming corpus
    build; the one-shot global-rank semantics remain available via
    cap_per_source over a full rebuild.

    ``counts`` has (source, n_kept); null-safe join so a NULL source
    is one ordinary quota group."""
    from pyspark.sql import Window

    from cdc_historical_warehouse_platform_spark.operators.sampling import cap_draw

    draw = cap_draw(F.col("doc_id"))
    c = counts.select(F.col("source").alias("__src"), F.col("n_kept").alias("__used"))
    w = Window.partitionBy("source").orderBy(draw.asc(), F.col("doc_id").asc())
    return (
        kept.join(F.broadcast(c), F.col("source").eqNullSafe(F.col("__src")), "left")
        .withColumn("__rk", F.row_number().over(w))
        .filter(
            F.col("__rk")
            <= F.lit(max_per_source) - F.coalesce(F.col("__used"), F.lit(0))
        )
        .drop("__src", "__used", "__rk")
    )


def corpus_build(
    spark: SparkSession,
    input_dir: str,
    output: str,
    num_shards: int = 8,
    max_records_per_file: int = 100_000,
    max_per_source: int | None = None,
    track_top_tokens: int | None = None,
    quality_model: dict | None = None,
    quality_model_threshold: float = 0.5,
    state_buckets: int | str | None = "auto",
) -> dict:
    """Full build: keep decisions over ``input_dir``/documents.parquet,
    sharded kept corpus + persisted dedup state under ``output``.

    ``state_buckets``: write the probe-keyed dedup state
    (``_lsh_index`` clustered on bucket, ``_fp_index`` clustered on
    fp) as Spark-BUCKETED files (r8). Appends whose batch exceeds the
    broadcast budget then probe the state co-partitioned — no
    broadcast ceiling, state never re-shuffled. The setting rides the
    commit marker like the quota, so every later append/forget honors
    the layout without being told. ``"auto"`` (the default, r9) picks
    the layout from the kept count — large corpora get bucketed state
    without the flag (:func:`resolve_state_buckets`); pass an int to
    pin the count (size it so one bucket of the state fits an
    executor — thousands at 100 TB) or None to force flat. Fixed at
    build time; ``corpus_compact(state_buckets=N)`` migrates an
    existing corpus in place.

    ``max_per_source`` adds the per-domain quota stage (at most N kept
    docs per source, md5-rank deterministic — operators/sampling.
    cap_per_source) AFTER quality + dedup; the per-source kept counts
    persist as ``_source_counts`` so corpus_append enforces the
    REMAINING quota on every increment.

    ``track_top_tokens``: Misra-Gries summary size m — maintain the
    kept corpus's token heavy-hitter state (operators/heavy_hitters.py)
    as ``_hh_state`` LSM rows; appends keep extending it (the m rides
    the commit marker like the quota) and ``corpus_top_tokens`` reports
    the exact top-k off the state + one candidate-verify pass.

    ``quality_model``: a fitted operators/classifier.py model dict —
    adds the MODEL-BASED quality gate (predicted quality ≥
    ``quality_model_threshold``) on top of the heuristic gate, applied
    before shards/state so filtered docs never enter the dedup
    indexes. The model rides the commit marker (like the quota), so
    appends score new batches with the SAME model without being
    passed it — and a model-less rebuild explicitly clears it."""
    from cdc_historical_warehouse_platform_spark.operators.sampling import cap_per_source
    from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import (
        corpus_keep_decisions_unsorted,
    )

    if track_top_tokens is not None and track_top_tokens < 1:
        raise ValueError(f"track_top_tokens must be >= 1, got {track_top_tokens}")
    docs = spark.read.parquet(str(Path(input_dir) / "documents.parquet"))
    # Materialize the decision table ONCE (r12 optimization round,
    # guide §2.4/§5): it is (doc_id, lang, decision) — tiny next to the
    # corpus — and without the boundary every downstream consumer of
    # ``kept`` (shard write, _kept_docs, LSH state, fp state) re-runs
    # the full quality + fingerprint + LSH-near-dup pipeline. The
    # counts collect right below is the action that pins it. Measured
    # at sf0.1: corpus_build 13-16 s → ~8 s warm; the plan under each
    # writer becomes scan ⋈ pinned-id-set instead of the 12-FileScan
    # decision pipeline.
    decisions = corpus_keep_decisions_unsorted(spark, input_dir).localCheckpoint(
        eager=False
    )
    counts = {
        r.decision: r.n
        for r in decisions.groupBy("decision").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept = docs.join(
        decisions.filter(F.col("decision") == "kept").select("doc_id"), "doc_id"
    )
    out = Path(output)
    n_kept_now = counts.get("kept", 0)
    if quality_model is not None:
        from cdc_historical_warehouse_platform_spark.operators.classifier import (
            quality_features,
            score_logreg,
        )

        kept = kept.filter(
            score_logreg(quality_features(F.col("text")), quality_model)
            >= quality_model_threshold
        ).localCheckpoint(eager=True)
        n_after = kept.count()
        counts["model_filtered"] = n_kept_now - n_after
        n_kept_now = n_after
    if max_per_source is not None:
        kept = cap_per_source(kept, max_per_source).drop("cap_rank")
        kept = kept.localCheckpoint(eager=True)  # one derivation for shards+state
        n_after_cap = kept.count()
        counts["over_source_cap"] = n_kept_now - n_after_cap
        n_kept_now = n_after_cap
    # resolve "auto" against the actual kept count — the RESOLVED int
    # (or None) is what rides the marker and every later append reads.
    # n_kept_now IS the shard row count (the shards hold exactly kept's
    # rows), so resolution no longer waits for the shard write — which
    # lets the writes below run concurrently.
    state_buckets = resolve_state_buckets(state_buckets, n_kept_now)
    # The build's 3-5 STATE writes are mutually independent (disjoint
    # directories, all derived from the pinned decision table) — run
    # them CONCURRENTLY exactly like corpus_append's epoch writes (r12
    # optimization round; the marker still publishes only after every
    # future resolves, so the crash story is unchanged: no marker ⇒
    # rebuild). The SHARD write must finish FIRST and alone: it is a
    # mode("overwrite") of the corpus ROOT, which truncates the root
    # dir — a concurrent state write's _temporary dir under the root
    # would be deleted mid-flight (observed as FileNotFoundException
    # on _kept_docs/_temporary when all writes ran together).
    from concurrent.futures import ThreadPoolExecutor

    def _b_shards():
        return write_training_shards(
            kept,
            output,
            key_col="doc_id",
            num_shards=num_shards,
            max_records_per_file=max_records_per_file,
        )

    def _b_kept():
        kept.write.mode("overwrite").parquet(str(out / "_kept_docs"))

    def _b_lsh():
        _write_state(
            minhash_band_buckets(kept).select("doc_id", "bucket"),
            out / "_lsh_index",
            "bucket",
            state_buckets,
            _LSH_DDL,
            mode="overwrite",
        )

    def _b_fp():
        _write_state(
            kept.select("doc_id", fingerprint(F.col("text")).alias("fp")),
            out / "_fp_index",
            "fp",
            state_buckets,
            _FP_DDL,
            mode="overwrite",
        )

    def _b_counts():
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).write.mode(
            "overwrite"
        ).parquet(str(out / "_source_counts"))

    def _b_hh():
        _hh_delta(kept, track_top_tokens).write.mode("overwrite").parquet(
            str(out / "_hh_state")
        )

    writers = [_b_kept, _b_lsh, _b_fp]
    if max_per_source is not None:
        writers.append(_b_counts)
    if track_top_tokens is not None:
        writers.append(_b_hh)
    manifest = _b_shards()
    with ThreadPoolExecutor(max_workers=len(writers)) as ex:
        for f in [ex.submit(w) for w in writers]:
            f.result()
    if track_top_tokens is None:
        # tracking-less rebuild over an old tracked corpus: stale state
        # must not survive into the new epoch's snapshot
        import shutil as _shutil

        _shutil.rmtree(out / "_hh_state", ignore_errors=True)
    if max_per_source is None:
        # quota-less rebuild over an old quota corpus: the previous
        # corpus's counts state describes DELETED documents — left on
        # disk it would be snapshotted as committed and poison a later
        # quota adoption's backfill gate
        import shutil as _shutil

        _shutil.rmtree(out / "_source_counts", ignore_errors=True)
    # the marker is the quota's only home now; a surviving legacy side
    # file would resurrect a cleared quota through corpus_append's
    # pre-r5 fallback read
    (out / _CAPS_FILE).unlink(missing_ok=True)
    # all state written → publish the commit marker (crash before this
    # line = rebuild; corpus_append repairs against it). The quota
    # rides the marker so its adoption is atomic with the epoch —
    # passed unconditionally: None EXPLICITLY CLEARS a stale quota
    # when rebuilding in place over an old quota corpus.
    write_marker(
        out,
        epoch=0,
        extra={
            "max_per_source": max_per_source,
            "track_top_tokens": track_top_tokens,
            # None EXPLICITLY CLEARS a stale model on a model-less rebuild
            "quality_model": quality_model,
            "quality_model_threshold": (
                quality_model_threshold if quality_model is not None else None
            ),
            # None EXPLICITLY CLEARS the layout flag when rebuilding
            # in place over a bucketed-state corpus with plain state
            "state_buckets": state_buckets,
        },
    )
    return {
        "decisions": counts,
        "kept_rows": manifest["total_rows"],
        "num_shards": manifest["num_shards"],
        "output": output,
    }


def corpus_append(
    spark: SparkSession,
    new_docs: DataFrame,
    output: str,
    num_shards: int = 8,
    max_records_per_file: int = 100_000,
    max_per_source: int | None = None,
    quality_model: dict | None = None,
    quality_model_threshold: float | None = None,
    bulk_probe_doc_limit: int = 500_000,
) -> dict:
    """Incremental load: quality-gate the NEW batch, dedup it against
    the persisted state (exact-fingerprint + LSH; the existing corpus
    is never re-signatured), enforce any per-source quota the build
    declared (recorded in the commit marker + append-only
    ``_source_counts`` state; legacy ``_source_caps.json`` corpora are
    read transparently), append kept docs into the shard layout,
    extend the state, publish the next epoch marker.

    ``max_per_source`` here ADOPTS (or overrides) the quota mid-stream:
    the new quota is recorded IN the epoch's commit marker (one atomic
    rename — adoption and epoch commit are a single event, no crash
    window) and, for a corpus built without quotas, ``_source_counts``
    is backfilled once from the kept corpus — already-stored docs
    count against the new quota, they are never evicted (append-only
    corpus).

    ``bulk_probe_doc_limit`` (r8): on a bucketed-state corpus
    (``corpus_build(state_buckets=N)``), a batch with more pooled docs
    than this probes the fp/LSH state CO-PARTITIONED against the
    bucketed files instead of broadcasting its key sets — no broadcast
    ceiling, state never re-shuffled. Small batches keep the cheaper
    broadcast probes; plain-state corpora always do."""
    out = Path(output)
    if not (out / "_lsh_index").exists():
        raise FileNotFoundError(f"no corpus state under {output}; run corpus_build first")
    # roll back any torn epoch BEFORE reading state: data files not
    # listed in the commit marker are crashed-append leftovers
    repaired = repair(out)
    # ONE marker read for the whole epoch: quota fallback, tracking
    # setting, and the epoch counter must observe the SAME committed
    # marker (repair just reconciled disk against it)
    marker = read_marker(out) or {"epoch": 0}
    stored_buckets = spark.read.parquet(str(out / "_lsh_index"))
    stored_docs = spark.read.parquet(str(out / "_kept_docs"))
    # gate on data files, not the directory: repair() after a torn
    # backfill unlinks the parquet files but leaves the directory, and
    # an empty dir would skip the backfill then fail schema inference
    state_buckets = marker.get("state_buckets")
    if not any((out / "_fp_index").glob("*.parquet")):
        # pre-r4 state: one-time backfill of the fingerprint index from
        # the kept corpus (unlisted in the old marker, so a crash here
        # is rolled back and re-backfilled next run)
        _write_state(
            stored_docs.select(
                "doc_id", fingerprint(F.col("text")).alias("fp")
            ),
            out / "_fp_index",
            "fp",
            state_buckets,
            _FP_DDL,
            mode="overwrite",
        )
    stored_fps = spark.read.parquet(str(out / "_fp_index"))
    # producer drift guard: align the incoming batch to the STORED
    # corpus schema (operators/schema_drift.py — the change_batches
    # discipline applied to documents): extra columns drop, missing
    # columns null-fill, safe widenings cast, lossy drift raises
    # loudly instead of poisoning the parquet layout with mixed
    # schemas that break every later whole-dir read
    from cdc_historical_warehouse_platform_spark.operators.schema_drift import align_to_schema

    new_docs, drift = align_to_schema(new_docs, stored_docs.schema)
    # one materialization of the incoming batch (triggered by the count
    # right below): every tier scans it — without this barrier each of
    # the ~8 downstream consumers re-derives the caller's arbitrary
    # upstream lineage. Batch-sized (never corpus-sized), so the
    # checkpoint is bounded at any corpus scale.
    new_docs = new_docs.localCheckpoint(eager=False)
    n_new = new_docs.count()
    # quality_score is a regex cascade — pin the filtered batch too so
    # the dedup tiers and the 4 final writes don't re-score per pass
    quality_ok = new_docs.filter(
        quality_score(F.col("text")) >= QUALITY_THRESHOLD
    ).localCheckpoint(eager=False)
    n_quality = quality_ok.count()
    # model-based quality gate: adoption/override rides the epoch's
    # commit marker exactly like the quota — an append never needs the
    # model passed again once the corpus declared one
    if quality_model is None:
        quality_model = marker.get("quality_model")
    if quality_model_threshold is None:
        quality_model_threshold = marker.get("quality_model_threshold", 0.5)
    n_model_filtered = 0
    n_pool = n_quality
    if quality_model is not None:
        from cdc_historical_warehouse_platform_spark.operators.classifier import (
            quality_features,
            score_logreg,
        )

        quality_ok = quality_ok.filter(
            score_logreg(quality_features(F.col("text")), quality_model)
            >= quality_model_threshold
        ).localCheckpoint(eager=False)
        n_pool = quality_ok.count()
        n_model_filtered = n_quality - n_pool
    # No caller-side materialization needed: incremental_minhash_dedup
    # checkpoints its drop sets (and the new batch's buckets), so kept/
    # kept_buckets re-derive from the new batch + small checkpointed
    # tables only — no stored-state directory is in their lineage, and
    # the appends below cannot invalidate a pending plan. (The previous
    # full-output checkpoints re-ran the whole dedup pipeline once per
    # output: 12.5 s → 7.5 s for an sf0.1 append cycle.)
    if state_buckets and n_pool > bulk_probe_doc_limit:
        # bulk path: co-partitioned probes against the bucketed state
        # (batch-side Exchanges only; no broadcast of batch key sets)
        kept, kept_buckets = incremental_minhash_dedup(
            quality_ok,
            stored_buckets=None,
            stored_docs=stored_docs,
            fp_segments=[
                _ensure_state_table(
                    spark, out / "_fp_index", "fp", state_buckets, _FP_DDL
                )
            ],
            bucket_segments=[
                _ensure_state_table(
                    spark, out / "_lsh_index", "bucket", state_buckets, _LSH_DDL
                )
            ],
            probe_partitions=state_buckets,
        )
    else:
        kept, kept_buckets = incremental_minhash_dedup(
            quality_ok,
            stored_buckets=stored_buckets,
            stored_docs=stored_docs,
            stored_fps=stored_fps,
        )
    # kept is consumed by 4-5 downstream jobs, but an eager caller-side
    # materialization measures as a wash (±0.2 s per sf0.1 cycle): the
    # drop-set checkpoints inside incremental_minhash_dedup already make
    # each re-derivation a cheap anti-join over the pinned batch, so the
    # checkpoint's own write cancels what it saves. Deliberately lazy.
    # per-domain quota stage (present iff the build used max_per_source):
    # cap the new batch against each source's REMAINING quota, and keep
    # the LSH-bucket state consistent with what actually ships — buckets
    # of quota-dropped docs must never enter _lsh_index (they would be
    # state for docs not in the corpus)
    n_over_cap = 0
    import json as _json

    # quota adoption/override rides the epoch's commit marker (below),
    # so a crash mid-epoch can never adopt the new quota while the
    # epoch's data rolls back — there is no separate caps write at all
    if max_per_source is None:
        if "max_per_source" in marker:
            max_per_source = marker["max_per_source"]
        elif (out / _CAPS_FILE).exists():
            # pre-r5 corpora recorded the quota in a side file
            max_per_source = _json.loads((out / _CAPS_FILE).read_text())[
                "max_per_source"
            ]
    if max_per_source is not None:
        # pre-quota corpus: one-time backfill of the counts state from
        # the kept corpus (same gate-on-data-files pattern as _fp_index)
        if not any((out / "_source_counts").glob("*.parquet")):
            stored_docs.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_kept")
            ).write.mode("overwrite").parquet(str(out / "_source_counts"))
        used = (
            spark.read.parquet(str(out / "_source_counts"))
            .groupBy("source")
            .agg(F.sum("n_kept").alias("n_kept"))
        )
        n_dedup_kept = kept.count()
        kept = _cap_against_quota(kept, used, max_per_source).localCheckpoint(
            eager=True
        )
        n_over_cap = n_dedup_kept - kept.count()
        kept_buckets = kept_buckets.join(
            kept.select("doc_id"), "doc_id", "left_semi"
        )
    # the epoch's 4-6 state writes are mutually independent (disjoint
    # directories, all derived from the pinned batch + checkpointed
    # drop sets) and the batch is small next to the cluster — run them
    # CONCURRENTLY instead of as a chain of idle-heavy sequential jobs
    # (measured 1.3 s → 0.5 s of the sf0.1 append cycle; the marker
    # still publishes only after every future resolves, so a failure
    # in any write leaves an uncommitted epoch for repair() exactly as
    # before). Only the shards thread touches _manifest.json.
    _manifest_path = out / "_manifest.json"
    if _manifest_path.exists():
        prev_total = _json.loads(_manifest_path.read_text())["total_rows"]
    else:
        # legacy pre-manifest corpus (same backfill posture as the
        # _fp_index/_source_counts backfills above): the shards thread
        # rebuilds the full manifest from footers, so its total_rows
        # lands corpus-sized — this epoch's kept count must then come
        # from the batch itself, not the manifest delta
        prev_total = None
    m_track = marker.get("track_top_tokens")
    from concurrent.futures import ThreadPoolExecutor

    def _w_shards():
        return write_training_shards(
            kept,
            output,
            key_col="doc_id",
            num_shards=num_shards,
            max_records_per_file=max_records_per_file,
            mode="append",
        )

    def _w_kept():
        kept.write.mode("append").parquet(str(out / "_kept_docs"))

    def _w_lsh():
        _write_state(
            kept_buckets.select("doc_id", "bucket"),
            out / "_lsh_index",
            "bucket",
            state_buckets,
            _LSH_DDL,
        )

    def _w_fp():
        _write_state(
            kept.select("doc_id", fingerprint(F.col("text")).alias("fp")),
            out / "_fp_index",
            "fp",
            state_buckets,
            _FP_DDL,
        )

    def _w_counts():
        # LSM-style: append this epoch's per-source counts; readers sum
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).write.mode(
            "append"
        ).parquet(str(out / "_source_counts"))

    def _w_hh():
        # heavy-hitter state rides the same LSM + marker protocol: this
        # epoch's kept-batch MG summaries append; readers merge by sum
        _hh_delta(kept, m_track).write.mode("append").parquet(str(out / "_hh_state"))

    writers = [_w_kept, _w_lsh, _w_fp]
    if max_per_source is not None:
        writers.append(_w_counts)
    if m_track:
        writers.append(_w_hh)
    with ThreadPoolExecutor(max_workers=1 + len(writers)) as ex:
        f_manifest = ex.submit(_w_shards)
        futs = [ex.submit(w) for w in writers]
        manifest = f_manifest.result()
        for f in futs:
            f.result()
    # every write of this epoch landed → atomically publish it (the
    # active quota is recorded in the same atomic rename, so adoption
    # and epoch commit are one event)
    extra: dict = {}
    if max_per_source is not None:
        extra["max_per_source"] = max_per_source
    if quality_model is not None:
        extra["quality_model"] = quality_model
        extra["quality_model_threshold"] = quality_model_threshold
    write_marker(out, epoch=marker["epoch"] + 1, extra=extra or None)
    # kept's cardinality falls out of the shard manifest delta — the
    # shards hold exactly kept's rows, so no extra count job (except on
    # the manifest-less legacy path, where one O(batch) count is due)
    n_kept = (
        manifest["total_rows"] - prev_total
        if prev_total is not None
        else kept.count()
    )
    return {
        "new_docs": n_new,
        "low_quality": n_new - n_quality,
        "model_filtered": n_model_filtered,
        "near_dup": n_pool - n_kept - n_over_cap,
        "over_source_cap": n_over_cap,
        "appended": n_kept,
        "repaired_files": len(repaired["removed"]),
        "corpus_rows": manifest["total_rows"],
        "schema_drift": {k: v for k, v in drift.items() if v},
        "output": output,
    }


def corpus_compact(
    spark: SparkSession,
    output: str,
    max_files_per_shard: int = 32,
    max_records_per_file: int = 100_000,
    max_state_files: int = 64,
    state_buckets: int | str = "keep",
) -> dict:
    """Crash-atomic shard + state compaction: roll back any torn
    epoch, rewrite over-fragmented shards (compact_shards with
    deletion deferred) AND over-fragmented dedup-state dirs (each
    append adds files — num_buckets per epoch on the r8 bucketed
    layout — so the LSM needs the same maintenance the shards get),
    publish ONE marker listing the NEW files, and only then unlink the
    old ones. A crash at any point is repairable: before the marker
    the unlisted compacted files are rolled back; after it, the old
    files are unlisted and removed by the next repair.

    State compaction is row-preserving (read the old files by explicit
    path, append one compacted copy, honoring the bucketed layout when
    the marker declares one), so every reader sees identical state
    before and after.

    ``state_buckets`` (r9): layout MIGRATION under the same protocol.
    ``"keep"`` (default) preserves the marker's layout; an int > 0
    rewrites the probe-keyed state dirs (``_lsh_index``, ``_fp_index``)
    into that bucketed layout — a legacy flat corpus becomes bucketed
    in place, or a bucketed one re-buckets — and ``0`` migrates back
    to flat. The new layout value rides the marker atomically with the
    epoch: a crash before the marker rolls the rewrite back and keeps
    the old layout; after it, the old files are unlisted and the next
    repair finishes the unlink. Dedup results are identical through
    both probe paths (row-preserving rewrite)."""
    out = Path(output)
    repaired = repair(out)
    marker = read_marker(out) or {"epoch": 0}
    cur_buckets = marker.get("state_buckets")
    if state_buckets == "keep":
        migrate, target = False, cur_buckets
    else:
        target = int(state_buckets) if int(state_buckets) > 0 else None
        migrate = target != cur_buckets
    result = compact_shards(
        spark,
        output,
        max_files_per_shard=max_files_per_shard,
        max_records_per_file=max_records_per_file,
        delete_old=False,
    )
    old_files: list[str] = list(result["old_files"])
    state_dirs_compacted = 0
    for d, bcol, ddl in (
        ("_kept_docs", None, None),
        ("_lsh_index", "bucket", _LSH_DDL),
        ("_fp_index", "fp", _FP_DDL),
    ):
        sdir = out / d
        files = sorted(sdir.glob("*.parquet"))
        rewriting = migrate and bcol is not None
        if not files or (len(files) <= max_state_files and not rewriting):
            continue
        # read the superseded files BY PATH (new appended files can
        # never collide with the input set; the sources stay on disk
        # until the post-marker unlink)
        df = spark.read.parquet(*[str(f) for f in files])
        dir_buckets = target if rewriting else cur_buckets
        if bcol and dir_buckets:
            if rewriting:
                # a layout change needs a fresh bucket spec: drop the
                # (external — files untouched) catalog entry so
                # _write_state re-registers with the target count
                spark.sql(f"DROP TABLE IF EXISTS {_state_table_name(sdir)}")
            _write_state(
                df,
                sdir,
                bcol,
                dir_buckets,
                ddl,
                max_records_per_file=max_records_per_file,
            )
        else:
            if rewriting:
                # bucketed -> flat: the stale catalog entry must not
                # shadow the plain-parquet layout in this session
                spark.sql(f"DROP TABLE IF EXISTS {_state_table_name(sdir)}")
            n_rows = df.count()
            n_out = max(1, -(-n_rows // max_records_per_file))
            df.repartition(n_out).write.mode("append").option(
                "maxRecordsPerFile", max_records_per_file
            ).parquet(str(sdir))
        old_files.extend(f"{d}/{f.name}" for f in files)
        state_dirs_compacted += 1
    if result["compacted_shards"] or state_dirs_compacted or migrate:
        # the marker must NOT list the superseded files (a crash mid-
        # unlink would otherwise leave them committed forever); with
        # them excluded, the next repair finishes the deletion. The
        # migrated layout commits atomically with the same marker
        # (extra None REMOVES the key — the flat layout).
        write_marker(
            out,
            epoch=marker["epoch"] + 1,
            exclude=frozenset(old_files),
            extra={"state_buckets": target} if migrate else None,
        )
        for rel in old_files:
            p = out / rel
            if p.exists():
                p.unlink()
    return {**{k: v for k, v in result.items() if k != "old_files"},
            "state_dirs_compacted": state_dirs_compacted,
            "state_buckets": target,
            "migrated_layout": migrate,
            "repaired_files": len(repaired["removed"])}


def corpus_forget(
    spark: SparkSession,
    doc_ids,
    output: str,
    max_records_per_file: int = 100_000,
) -> dict:
    """Right-to-be-forgotten: physically remove the given doc_ids from
    the shard layout AND every piece of dedup state, crash-atomically.

    Work is bounded by the files that actually CONTAIN forgotten docs:
    a column-pruned (doc_id + input_file_name) scan finds the victim
    files per directory, only those are rewritten (filtered copies
    appended as new part files), and the commit marker excludes the
    superseded files exactly like compaction — a crash before the
    marker rolls the copies back, a crash after it lets the next
    repair finish the unlink. At 100 TB the scan is a footer-narrow
    single-column pass and the rewrite is proportional to the victim
    files, not the corpus.

    Semantics the state removal buys: the forgotten docs' LSH buckets
    and fingerprints are dropped too, so a future append of the SAME
    text is admitted again — "forgotten" means the corpus retains no
    trace, not a tombstone. Per-source quota headroom is returned by
    appending NEGATIVE rows to the ``_source_counts`` LSM (readers
    sum). The heavy-hitter token state cannot retract (Misra-Gries
    summaries are merge-only), so when tracking is on it is REBUILT
    from the post-forget corpus in the same epoch — one corpus pass,
    the documented cost of an exact forget.
    """
    out = Path(output)
    if not (out / "_lsh_index").exists():
        raise FileNotFoundError(f"no corpus state under {output}; run corpus_build first")
    repaired = repair(out)
    marker = read_marker(out) or {"epoch": 0}

    if isinstance(doc_ids, DataFrame):
        forget = doc_ids.select("doc_id").distinct()
    else:
        forget = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id long"
        ).distinct()
    forget = forget.localCheckpoint(eager=True)  # tiny; joined by every tier

    import json as _json

    manifest = _json.loads((out / "_manifest.json").read_text())

    # how many of the requested ids the corpus actually holds, and the
    # per-source give-back for the quota state — computed from
    # _kept_docs BEFORE any rewrite touches it
    kept_docs_dir = str(out / "_kept_docs")
    held = (
        spark.read.parquet(kept_docs_dir)
        .join(forget, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_removed"))
        .localCheckpoint(eager=True)
    )
    n_found = held.agg(F.sum("n_removed")).collect()[0][0] or 0

    old_rel: list[str] = []  # marker-excluded, unlinked after commit

    def _victim_files(read_path: str, base: Path) -> list[str]:
        """Absolute paths of data files containing >= 1 forgotten doc —
        ONE column-pruned scan (doc_id + file name), never row data."""
        rows = (
            spark.read.parquet(read_path)
            .select("doc_id", F.input_file_name().alias("__f"))
            .join(forget, "doc_id", "left_semi")
            .select("__f")
            .distinct()
            .collect()
        )
        # input_file_name yields URIs; strip the scheme to a local path
        return sorted(r["__f"].removeprefix("file:") for r in rows)

    # --- shard layout: rewrite only victim files, fix the manifest ---
    shards_rewritten = 0
    if any(out.glob("shard=*/*.parquet")):
        victims = _victim_files(str(out), out)
        if victims:
            listed_before = {
                s: {p.name for p in (out / f"shard={s}").glob("*.parquet")}
                for s in manifest["shards"]
            }
            kept_part = (
                spark.read.option("basePath", str(out))
                .parquet(*victims)
                .join(forget, "doc_id", "left_anti")
                .localCheckpoint(eager=True)
            )
            removed_per_shard = dict(
                (str(r["shard"]), r["n"])
                for r in spark.read.option("basePath", str(out))
                .parquet(*victims)
                .join(forget, "doc_id", "left_semi")
                .groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            (
                kept_part.repartition(max(len(removed_per_shard), 1), "shard")
                .write.mode("append")
                .option("maxRecordsPerFile", max_records_per_file)
                .partitionBy("shard")
                .parquet(str(out))
            )
            victim_names: dict[str, set] = {}
            for v in victims:
                parts = v.split("/")
                sh = [p for p in parts if p.startswith("shard=")][-1].split("=", 1)[1]
                victim_names.setdefault(sh, set()).add(parts[-1])
                old_rel.append(f"shard={sh}/{parts[-1]}")
            for sh, names in victim_names.items():
                entry = manifest["shards"][sh]
                survivors = [f for f in entry["files"] if f not in names]
                new_files = sorted(
                    p.name
                    for p in (out / f"shard={sh}").glob("*.parquet")
                    if p.name not in listed_before[sh]
                )
                manifest["shards"][sh] = {
                    "files": sorted(survivors + new_files),
                    "rows": entry["rows"] - removed_per_shard.get(sh, 0),
                }
            shards_rewritten = len(victim_names)
            manifest["total_rows"] = sum(
                e["rows"] for e in manifest["shards"].values()
            )
            (out / "_manifest.json").write_text(
                _json.dumps(manifest, indent=2, sort_keys=True)
            )

    # --- dedup state dirs: same victim-file rewrite; the probe-keyed
    # dirs honor the bucketed layout when the marker declares one (a
    # plain rewrite would inject unbucketed files a bucketed scan
    # must never see) ---
    state_buckets = marker.get("state_buckets")
    state_files_rewritten = 0
    for d, bcol, ddl in (
        ("_kept_docs", None, None),
        ("_lsh_index", "bucket", _LSH_DDL),
        ("_fp_index", "fp", _FP_DDL),
    ):
        sdir = out / d
        if not any(sdir.glob("*.parquet")):
            continue
        victims = _victim_files(str(sdir), sdir)
        if not victims:
            continue
        kept_part = (
            spark.read.parquet(*victims)
            .join(forget, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if bcol and state_buckets:
            _write_state(
                kept_part,
                sdir,
                bcol,
                state_buckets,
                ddl,
                max_records_per_file=max_records_per_file,
            )
        else:
            kept_part.write.mode("append").option(
                "maxRecordsPerFile", max_records_per_file
            ).parquet(str(sdir))
        old_rel.extend(f"{d}/{v.rsplit('/', 1)[-1]}" for v in victims)
        state_files_rewritten += len(victims)

    # --- per-source quota give-back: negative LSM rows, readers sum ---
    if n_found and any((out / "_source_counts").glob("*.parquet")):
        held.select(
            "source", (-F.col("n_removed")).cast("long").alias("n_kept")
        ).write.mode("append").parquet(str(out / "_source_counts"))

    # --- heavy-hitter state: merge-only summaries cannot retract ---
    m_track = marker.get("track_top_tokens")
    if n_found and m_track and any((out / "_hh_state").glob("*.parquet")):
        hh_dir = out / "_hh_state"
        old_hh = sorted(str(p) for p in hh_dir.glob("*.parquet"))
        # rebuild over the post-forget corpus, read via the UPDATED
        # manifest (the superseded shard files are still on disk)
        live = [
            str(out / f"shard={s}/{f}")
            for s, e in manifest["shards"].items()
            for f in e["files"]
        ]
        if live:
            corpus = spark.read.option("basePath", str(out)).parquet(*live)
            _hh_delta(corpus, m_track).write.mode("append").parquet(str(hh_dir))
        old_rel.extend(f"_hh_state/{p.rsplit('/', 1)[-1]}" for p in old_hh)

    # --- publish, then unlink the superseded files ---
    write_marker(out, epoch=marker["epoch"] + 1, exclude=frozenset(old_rel))
    for rel in old_rel:
        p = out / rel
        if p.exists():
            p.unlink()
    return {
        "requested": forget.count(),
        "forgotten": n_found,
        "shards_rewritten": shards_rewritten,
        "state_files_rewritten": state_files_rewritten,
        "repaired_files": len(repaired["removed"]),
        "corpus_rows": manifest["total_rows"],
        "output": output,
    }


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """The corpus token stream (normalize → split), shared by the
    summary builder and the report's exact-verify pass so the two can
    never tokenize differently."""
    from cdc_historical_warehouse_platform_spark.operators import text as TX

    return docs.select(
        F.explode_outer(TX.tokens(TX.normalize_text(F.col("text")))).alias("token")
    ).filter(F.col("token").isNotNull())


def _hh_delta(docs: DataFrame, m: int) -> DataFrame:
    """Misra-Gries token summaries of a kept-doc frame — the per-epoch
    LSM rows for ``_hh_state`` (mergeable, so read-time groupBy-sum
    over all epochs IS the merged summary; operators/heavy_hitters.py)."""
    from cdc_historical_warehouse_platform_spark.operators.heavy_hitters import mg_summaries

    return mg_summaries(_doc_tokens(docs), "token", m)


def corpus_top_tokens(spark: SparkSession, output: str, k: int = 50) -> dict:
    """Exact top-k corpus tokens off the maintained ``_hh_state``:
    repair any torn epoch FIRST (like every other state reader — an
    uncommitted append's summaries must not count), then merge the
    per-epoch MG summaries and run the shared candidate-verify pass
    (operators/heavy_hitters.exact_topk_from_state) over the kept
    corpus — one scan at report time, and only broadcast-semi-joined
    candidate tokens reach the count shuffle, never the vocabulary.
    Returns the top list, the state's error bound, and whether the
    result provably equals the true top-k (k-th count > bound)."""
    from cdc_historical_warehouse_platform_spark.operators.heavy_hitters import exact_topk_from_state

    out = Path(output)
    repair(out)
    m_track = (read_marker(out) or {}).get("track_top_tokens")
    if not m_track:
        raise FileNotFoundError(
            f"{output} does not track top tokens; build with track_top_tokens=m"
        )
    state = spark.read.parquet(str(out / "_hh_state"))
    kept = spark.read.parquet(str(out / "_kept_docs"))
    topk, guarantee = exact_topk_from_state(_doc_tokens(kept), state, "token", k)
    g = guarantee.collect()[0]
    return {
        "top": [{"token": r["item"], "cnt": r["cnt"]} for r in topk.collect()],
        "k": k,
        "error_bound": int(g["error_bound"]),
        "provably_exact": bool(g["provably_exact"]),
    }

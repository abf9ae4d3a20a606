#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect bottleneck). The suite spans the engine's load-bearing
paths: SCD2 build, scan-heavy agg, 5-way join, window, sessionization,
MinHash-LSH dedup, vector top-k, and the composed corpus keep pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

# Headline set: name -> registry key
HEADLINE = [
    "scd2_dim_history",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_top_per_customer",
    "events_session_windows",
    "dedup_minhash_lsh",
    "knn_cosine_brute",
    # added r03 (the warm-metric re-base round): the composed
    # training-data keep pipeline — quality → exact dedup → LSH
    # near-dup — so the LLM tier's end-to-end path is benched per-round
    "corpus_keep_decisions",
    # added r04: the two heaviest remaining LLM-tier paths get the same
    # regression tracking as the relational suite
    "corpus_pack_sequences",
    "text_tfidf_keywords",
    # added r04 (second batch): the new operator families — delta
    # aggregation (two chained merges + two maintenance steps) and the
    # bucketed no-equi-key range join
    "scd2_incremental_revenue",
    "join_interval_events",
    # added r05: the doubly-correlated subquery family (the heaviest
    # new relational shape) and the mergeable-sketch maintenance path
    "subquery_sole_late_supplier",
    "agg_distinct_sketch_rollup",
    # added r06: the two heaviest of the twelve new TPC-H shapes — the
    # 5-table LIKE-filtered profit star (Q9) and the correlated-MIN
    # catalog query (Q2) — so the completed TPC-H tier is tracked
    # round-over-round
    "tpch_q9_product_profit",
    "tpch_q2_min_cost_supplier",
    # added r06 (late batch): DSIR importance weights — the heaviest of
    # the new data-selection paths (two model fits + scored re-join
    # over the bigram stream)
    "corpus_dsir_weights",
    # added r06 (fourth batch): ExactSubstr dedup — the corpus-sized
    # k-gram window path (the heaviest new dedup tier)
    "corpus_exact_substring_spans",
    # added r08: the r7 surface gets regression tracking — the packed
    # training-export composite (BPE counts + seeded shuffle + packing
    # coordinates) and the on-disk SCD2 time-travel row. NOTE (r9): the
    # scd2_time_travel row times TWO full on-disk dim-store BUILD cycles
    # plus the version-pinned read — ~90% of its wall time is the WRITE
    # path it regression-tracks, not the time-travel read (which is a
    # pointer-follow + scan). Read it as "store build + travel".
    "corpus_export_manifest",
    "scd2_time_travel",
]

# Pre-run load above this (1-min loadavg) marks the artifact loaded: the
# bench itself is the only thing that should be running on the driver
# machine, so any standing load is a foreign process skewing timings.
# r10 (verdict task #2): dropped 4.0 → 1.0. The r9 artifact shipped
# loaded:false at loadavg 3.97 — a hair under the old absolute gate —
# while every comparable row read +10-25% vs r8 including untouched
# rows. 1.0 is ~3% of the 32 CPUs: anything above it is foreign work.
LOAD_THRESHOLD = 1.0
LOAD_WAIT_SEC = 120  # max time to wait for a loaded machine to drain

# --- host-capacity canary (r10, verdict task #2; I/O leg r11) ------------
# Loadavg misses contention the kernel can't see from this cgroup
# (co-tenant VMs, CPU steal, thermal/frequency caps). Before the suite,
# time TWO fixed synthetic jobs — not registry queries, so engine
# optimizations can never read as "fast host":
#   - a CPU leg (6e9-row range aggregation; saturates threads, never
#     touches disk), and
#   - an I/O leg (r11, verdict task #5: write + read back a ~200 MB
#     parquet) — the r10 artifact shipped canary-clean at ratio 1.056
#     while every disk-heavy write-cycle row read +10-18%: pure-CPU
#     probes sail under disk contention.
# Each leg compares its best-of-3 against the cleanest value of ITS
# field ever recorded in the repo's BENCH_r*.json history. A run with
# EITHER leg slower than floor × (1 + margin) waits for the host to
# drain; if it never does, the artifact ships loaded:true with the
# samples as evidence.
CANARY_ROWS = 6_000_000_000  # ~1.1 s warm on a quiesced local[32]
# r11 (verdict task #5): 0.10 → 0.05 for the CPU leg — quiesced
# min-of-3 spread measured ≤2% across rounds; the I/O leg keeps 0.15
# (page cache + writeback make even fixed write jobs ~3x noisier).
CANARY_MARGIN = 0.05
IO_CANARY_MARGIN = 0.15
IO_CANARY_ROWS = 25_000_000  # 2 high-entropy int64 cols ≈ 200 MB parquet
# Floor fallbacks when no artifact in history carries the field yet
# (r11 ADVICE fix: fallbacks are used ONLY with empty history — they
# no longer seed a min() that could only ratchet downward and could
# never pass on a runner class genuinely slower than the constant).
CANARY_FLOOR_FALLBACK = 0.90
IO_CANARY_FLOOR_FALLBACK = 2.0  # clean min-of-3 measured 1.83-2.07 s on
# this container (write + sync + read of the fixed 200 MB parquet;
# first-ever sample runs ~2.5x cold — min-of-3 absorbs it). Governs the
# first artifact only: once BENCH_r*.json history carries io_canary_sec
# values >= the sanity band, min(history) takes over.
# Sanity band (r11 ADVICE fix): a historical value below half the
# physically-plausible fallback is a mangled artifact (truncated JSON
# mid-number), not a fast host — one such value must not permanently
# poison the floor for every future round.
CANARY_SANITY_MIN = 0.45
IO_CANARY_SANITY_MIN = 1.0
# Floors are keyed by core count: every artifact records the `cpus` it
# ran on, and a fixed job on fewer cores is slower by design, not
# loaded (against the local[32] floors, every 4-core run shipped
# loaded:true). The fallbacks and sanity bands above were measured at
# FALLBACK_CPUS; at another core count with no artifact of its own the
# fallbacks scale linearly (perfect scaling, so an upper bound on the
# floor: the legs stay quiet rather than flag every run). The first
# artifact recorded at that core count replaces them. The sanity bands
# only screen out mangled numbers and do not scale.
FALLBACK_CPUS = 32

# Spread-triggered re-sample (r12, verdict task #3): rows whose warm
# spread exceeds this bar get up to MAX_EXTRA_SAMPLES additional
# sync-settled samples so the shipped min is steady-state, not lucky.
RESAMPLE_SPREAD = 0.3
MAX_EXTRA_SAMPLES = 3


def _spread_best3(vals: list[float]) -> float:
    """Relative spread over the 3 fastest samples — the stability
    qualifier for the min-of-N warm signal. For 3-sample rows this is
    the old all-samples (max-min)/min definition exactly; once
    re-sampling appends extras, the slowest (disturbed) samples stop
    poisoning a spread whose job is to certify the MIN."""
    best = sorted(vals)[:3]
    return (max(best) - min(best)) / max(min(best), 1e-9)


def _canary_floor(
    repo: Path, field: str, fallback: float, sanity_min: float, cpus: int
) -> float:
    """Cleanest `field` ever recorded in the BENCH_r*.json artifacts of
    a `cpus`-core run; the fallback, scaled to `cpus`, applies only when
    that history carries no plausible value.

    The driver wraps bench output (sometimes front-truncating the JSON
    line into a "tail" field), so scan raw text for the fields instead
    of parsing — floors must survive artifact mangling.
    """
    import re

    history = []
    for artifact in sorted(repo.glob("BENCH_r*.json")):
        try:
            text = artifact.read_text()
        except OSError:
            continue
        recorded = re.search(r'"cpus\\?":\s*([0-9]+)', text)
        if recorded is None or int(recorded.group(1)) != cpus:
            continue
        for m in re.finditer(rf'"{field}\\?":\s*([0-9.]+)', text):
            v = float(m.group(1))
            if v >= sanity_min:
                history.append(v)
    return min(history) if history else round(fallback * FALLBACK_CPUS / cpus, 3)


def _canary_probe(spark) -> float:
    """One timed fixed-work CPU sample: an embarrassingly-parallel
    range aggregation that saturates all local[...] threads JVM-side.
    Runtime depends only on host capacity, never on engine code."""
    t0 = time.perf_counter()
    # modulo keeps the 6e9-row sum inside int64 (ANSI mode would raise
    # ARITHMETIC_OVERFLOW on sum(id) at this row count)
    spark.range(CANARY_ROWS).selectExpr(
        "sum(id % 7919) AS s", "count(*) AS c"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def _io_canary_probe(spark, workdir: str) -> float:
    """One timed fixed-work I/O sample (r11): write a ~200 MB parquet
    of high-entropy int64s (Knuth-hash values defeat dictionary/RLE
    encoding, so the byte volume is fixed), SYNC it to disk, and
    aggregate it back. Disk contention that a pure-CPU probe cannot
    see reads directly here — the in-section sync is what makes the
    probe price the device, not the page cache. A sync runs UNTIMED
    first so the sample prices this job's I/O, not a predecessor's
    writeback debt."""
    path = f"{workdir}/io_canary.parquet"
    os.sync()
    t0 = time.perf_counter()
    spark.range(IO_CANARY_ROWS).selectExpr(
        "id", "id * 2654435761 % 1000000007 AS v"
    ).write.mode("overwrite").parquet(path)
    os.sync()  # force OUR ~200 MB through the device inside the sample
    spark.read.parquet(path).selectExpr("sum(v) AS s").collect()
    return round(time.perf_counter() - t0, 3)


def _settle(spark, gc: bool = True) -> None:
    """Untimed pre-sample barrier for the write-cycle rows (r11,
    verdict task #3): flush dirty pages (so a predecessor row's async
    writeback can't stall THIS sample's writes — the observed
    substr_append_cycle pattern: one of two warm samples randomly
    2.6-3.5x the other, directly after the ingest/PQ rows write ~GBs)
    and request a JVM full GC (so accumulated old-gen debt is paid
    between samples, not inside one).

    ``gc=False`` (r12, verdict task #1): READ/score-shaped rows must
    sync WITHOUT the GC. The r12 interleaved 4-protocol A/B (5
    rotated rounds on one host) measured
    the PQ bulk probe at min/median = none 2.88/3.09, sync-only
    2.87/3.22, gc-only 3.21/3.83, sync+gc 3.38/3.51 — a full GC
    between samples re-chills the JIT'd ADC-fold codegen and costs
    ~0.4-0.7 s per sample, which is the r11 `ann_pq_bulk_probe`
    regression (3.55 -> 4.80 s when sync+gc landed on the row). The
    write-cycle rows KEEP the GC: their spread collapse (1.605 ->
    0.029) came from paying allocator debt between samples, and their
    hot path is I/O, not a long-lived JIT'd fold."""
    os.sync()
    if gc:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass  # canary-only environments without a JVM handle


def corpus_append_cycle(spark, sf_dir: str, out: str, cycle: int) -> float:
    """One timed incremental corpus-append: a synthetic new batch (half
    exact duplicates of the corpus — exercising the fingerprint tier —
    half genuinely-fresh docs — exercising signature + append) deduped
    against the persisted state and appended, marker included.

    Each cycle's fresh half must DIFFER from every earlier cycle's,
    or warm passes degenerate into drop-everything probes (the fp tier
    would kill byte-identical re-derivations and the append path would
    go untimed): cycle 1 reverses the token order, cycles 2/3 apply
    stride-2/-3 deinterleaves — mutually-low-Jaccard shufflings that
    keep each doc's token sequence distinct (sorting instead would
    converge different docs toward near-identical strings and turn the
    verify step into an artificial near-dup blowup). The store grows
    by the fresh half each cycle, so warm passes carry a mild upward
    drift; min-of-2 still tracks the steady state."""
    from pyspark.sql import functions as F

    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_append

    toks = F.split(F.col("text"), " ")

    def _pred(stride: int, r: int):
        # closure factory: a default-arg lambda would surface as a
        # 3-parameter function and break pyspark's HOF arity detection
        return lambda _x, i: i % stride == r

    def deinterleave(stride: int):
        return F.flatten(
            F.array(*[F.filter(toks, _pred(stride, r)) for r in range(stride)])
        )

    transform = {1: F.reverse(toks), 2: deinterleave(2), 3: deinterleave(3)}[cycle]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup_half = docs.filter(F.col("doc_id") % 2 == 0)
    fresh_half = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "text", F.array_join(transform, " ")
    )
    new_batch = dup_half.unionByName(fresh_half).withColumn(
        "doc_id", F.col("doc_id") + F.lit(cycle * 10_000_000)
    )
    _settle(spark)
    t0 = time.perf_counter()
    corpus_append(spark, new_batch, out)
    return round(time.perf_counter() - t0, 3)


def substr_append_cycle(spark, sf_dir: str, idx, cycle: int) -> float:
    """One timed incremental-ExactSubstr append (r08): a batch of
    token-shuffled fresh docs plus re-planted duplicates of the seeded
    corpus, admitted through the persisted k-gram index — the O(batch)
    probe path, never a re-gram-stream of stored text. Same per-cycle
    transform discipline as corpus_append_cycle (each cycle's fresh
    half must differ from every earlier one's)."""
    from pyspark.sql import functions as F

    toks = F.split(F.col("text"), " ")

    def _pred(stride: int, r: int):
        return lambda _x, i: i % stride == r

    def deinterleave(stride: int):
        return F.flatten(
            F.array(*[F.filter(toks, _pred(stride, r)) for r in range(stride)])
        )

    transform = {1: F.reverse(toks), 2: deinterleave(2), 3: deinterleave(3)}[cycle]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dup_half = docs.filter(F.col("doc_id") % 2 == 0)
    fresh_half = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "text", F.array_join(transform, " ")
    )
    batch = dup_half.unionByName(fresh_half).withColumn(
        "doc_id", F.col("doc_id") + F.lit(cycle * 10_000_000)
    )
    _settle(spark)
    t0 = time.perf_counter()
    idx.append(batch, txn_id=f"bench_substr_{cycle}")
    return round(time.perf_counter() - t0, 3)


def _write_synthetic_warc(dest: str, n_files: int = 16, docs_per_file: int = 100) -> int:
    """Deterministic synthetic WARC crawl for the ingest bench row
    (r10, verdict task #6): per-record-gzip archives of HTML response
    records (some chunked transfer-encoding) plus WET conversion
    records — every parse path the ingestion tier runs in production.
    Returns the number of ingestible records written."""
    import gzip
    import random

    rng = random.Random(20260816)
    words = [f"word{i:03d}" for i in range(400)]
    n_docs = 0
    for fi in range(n_files):
        parts = []
        for di in range(docs_per_file):
            uri = f"http://site{fi}.example/page{di}"
            if di % 5 == 4:  # WET-style conversion record
                text = " ".join(rng.choices(words, k=220)).encode()
                hdr = (
                    b"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
                    + uri.encode() + b"\r\nContent-Length: "
                    + str(len(text)).encode() + b"\r\n\r\n"
                )
                parts.append(gzip.compress(hdr + text + b"\r\n\r\n"))
                n_docs += 1
                continue
            paras = "".join(
                "<p>" + " ".join(rng.choices(words, k=60)) + "</p>"
                for _ in range(4)
            )
            html = (
                "<html><body><nav>" + "".join(
                    f"<a href='/l{j}'>nav link {j}</a>" for j in range(8)
                ) + "</nav>" + paras + "<footer><a href='/t'>terms</a>"
                "</footer></body></html>"
            ).encode()
            if di % 3 == 0:  # chunked transfer-encoding path
                mid = len(html) // 2
                body = b"%x\r\n%s\r\n%x\r\n%s\r\n0\r\n\r\n" % (
                    mid, html[:mid], len(html) - mid, html[mid:]
                )
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Transfer-Encoding: chunked\r\n\r\n" + body
                )
            else:
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html
                )
            hdr = (
                b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
                + uri.encode() + b"\r\nContent-Length: "
                + str(len(http)).encode() + b"\r\n\r\n"
            )
            parts.append(gzip.compress(hdr + http + b"\r\n\r\n"))
            n_docs += 1
        Path(dest, f"seg{fi:02d}.warc.gz").write_bytes(b"".join(parts))
    return n_docs


def corpus_ingest_cycle(spark, warc_dir: str, work_dir: str, cycle: int) -> float:
    """One timed WARC→corpus ingest: streaming record walk +
    boilerplate extraction over every archive, staged to parquet, then
    a corpus build (quality + dedup gates) into a fresh directory.
    Prices the Arrow batch shapes of the ingestion tier — a regression
    to per-row dispatch would read directly here (the 1600-record
    extract is ~0.5 s Arrow-batched vs minutes per-row, and any
    batch-shape regression multiplies it; the corpus build contributes
    a ~15 s fixed-overhead floor shared with the other corpus rows —
    sized so the row stays comparable to the other cycle rows instead
    of dominating the suite headline)."""
    from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_build
    from cdc_historical_warehouse_platform_spark.sources.raw_docs import read_warc_documents

    staged = f"{work_dir}/staged_{cycle}"
    _settle(spark)
    t0 = time.perf_counter()
    docs = read_warc_documents(spark, warc_dir)
    docs.write.mode("overwrite").parquet(f"{staged}/documents.parquet")
    corpus_build(spark, staged, f"{work_dir}/corpus_{cycle}")
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # --- run-condition self-certification (r9, verdict task #2): the
    # artifact must carry enough evidence to tell a clean run from a
    # loaded-machine run, so a regression in the JSON is trustworthy on
    # its face and a VM-noise spike is visible AS noise. If the machine
    # is loaded before we start, wait (bounded) for it to drain; if it
    # never does, run anyway but stamp loaded=true.
    load_before = os.getloadavg()
    waited = 0
    while load_before[0] > LOAD_THRESHOLD and waited < LOAD_WAIT_SEC:
        time.sleep(10)
        waited += 10
        load_before = os.getloadavg()
    loaded_run = load_before[0] > LOAD_THRESHOLD

    from cdc_historical_warehouse_platform_spark.session import get_spark

    spark = get_spark(
        app_name="cdc-historical-warehouse-platform-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    import __spark_entry__ as entrymod

    registry = entrymod.queries()

    # Warm the JVM/codegen paths once with a trivial job so the first
    # measured query doesn't absorb cluster-startup cost.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Canary gate (r10; I/O leg r11): fixed-work host probes vs each
    # leg's historical clean floor. Either leg elevated → wait
    # (bounded, shares the LOAD_WAIT budget) and re-probe; still
    # elevated → run anyway but stamp loaded=true so a slow-host
    # artifact can never ship as a clean one.
    import shutil
    import tempfile

    cpus = spark.sparkContext.defaultParallelism
    canary_floor = _canary_floor(
        REPO, "canary_sec", CANARY_FLOOR_FALLBACK, CANARY_SANITY_MIN, cpus
    )
    io_canary_floor = _canary_floor(
        REPO, "io_canary_sec", IO_CANARY_FLOOR_FALLBACK, IO_CANARY_SANITY_MIN, cpus
    )
    io_workdir = tempfile.mkdtemp(prefix="bench_iocanary_")
    try:
        canary_samples = [_canary_probe(spark) for _ in range(3)]
        io_canary_samples = [_io_canary_probe(spark, io_workdir) for _ in range(3)]

        def _elevated() -> bool:
            return (
                min(canary_samples) > canary_floor * (1 + CANARY_MARGIN)
                or min(io_canary_samples)
                > io_canary_floor * (1 + IO_CANARY_MARGIN)
            )

        while _elevated() and waited < LOAD_WAIT_SEC:
            time.sleep(15)
            waited += 15
            canary_samples.append(_canary_probe(spark))
            io_canary_samples.append(_io_canary_probe(spark, io_workdir))
        loaded_run = loaded_run or _elevated()
    finally:
        shutil.rmtree(io_workdir, ignore_errors=True)
    canary_sec = min(canary_samples)
    canary_ratio = round(canary_sec / canary_floor, 3)
    io_canary_sec = min(io_canary_samples)
    io_canary_ratio = round(io_canary_sec / io_canary_floor, 3)

    # Two passes per query: the cold pass absorbs per-query codegen/JIT
    # compilation (tens of percent of noise round-to-round), the warm
    # pass measures the steady-state plan — which is what a long-running
    # cluster job actually sees. Warm is the headline; cold is kept as a
    # secondary field so startup regressions stay visible.
    def run(name: str) -> float:
        fn = registry[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 3)

    cold: dict[str, float] = {}
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for name in HEADLINE:
        cold[name] = run(name)
    # best-of-3 warm passes: single warm runs still drift ±30% on a
    # shared VM (observed on byte-identical code), and even the
    # best-of-2 SUITE SUM was measured spreading ±7% across
    # byte-identical runs (r7 drift bisection, PLANS.md) — the
    # per-query min over three passes is the stable steady-state
    # signal round-over-round comparisons need. All samples are kept
    # so the artifact records the spread, not just the min (r9).
    for _ in range(3):
        for name in HEADLINE:
            samples[name].append(run(name))

    # Spread-triggered re-sample (r12, verdict task #3): a row whose
    # warm samples spread past the 0.3 noise bar (the r10 verdict's
    # done-bar, which the settle barrier brought the write-cycle rows
    # under) hasn't reached steady state — observed on
    # corpus_dsir_weights (shipped spread 0.622 in BENCH_r11: the row
    # sits directly after the write-cycle rows in suite order and
    # inherits their writeback debt). Re-sample behind a sync-only
    # settle (no GC — see _settle) until the best-3 spread is under
    # the bar, bounded. Spread is defined over the 3 FASTEST samples
    # throughout (identical to the old all-samples definition for
    # 3-sample rows); the full sample list ships in the artifact as
    # noise evidence either way.
    for name in HEADLINE:
        extra = 0
        while _spread_best3(samples[name]) > RESAMPLE_SPREAD and extra < MAX_EXTRA_SAMPLES:
            _settle(spark, gc=False)
            samples[name].append(run(name))
            extra += 1
    warm = {name: min(vals) for name, vals in samples.items()}

    # incremental corpus-append cycle (r04): one untimed state build,
    # then cold + 2 warm timed appends with distinct id spaces
    corpus_dir = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_build

        corpus_build(spark, sf_dir, corpus_dir)
        cold["corpus_append_cycle"] = corpus_append_cycle(spark, sf_dir, corpus_dir, 1)
        samples["corpus_append_cycle"] = [
            corpus_append_cycle(spark, sf_dir, corpus_dir, 2),
            corpus_append_cycle(spark, sf_dir, corpus_dir, 3),
        ]
        warm["corpus_append_cycle"] = min(samples["corpus_append_cycle"])
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)

    # PQ bulk-probe cycle (r09): one untimed IVF-PQ build over the
    # embeddings table, then timed BULK probes (broadcast_probe=False —
    # the shuffled ADC path with per-row LUT columns) of the full
    # table as the query set. Prices the no-broadcast-ceiling path
    # round-over-round; cold = first probe (plan compile), warm =
    # best-of-2 repeats.
    # r11 note (verdict task #2): the r10 artifact's +0.4 s on this row
    # was A/B'd vs the r9 sealed tree (same host, order-controlled
    # interleaving, 5 pairs) — warm minima OVERLAP (head {3.70, 2.95,
    # 3.63, 3.31, 3.52} vs r9 {2.79, 3.20, 2.76, 3.33, 3.15}; the
    # apparent gap inverted when run order reversed) and the probe-path
    # diff since r9 is byte-identical, so the delta is host I/O, not
    # code. Plan-shape guarded by tests/test_pq.py::
    # test_ivfpq_bulk_probe_plan_guard (no BNLJ/cartesian/Python-UDF
    # can land on this path silently).
    pq_dir = tempfile.mkdtemp(prefix="bench_pq_")
    try:
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.sources.ann_index import IVFIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        pq_index = IVFIndex.build(
            emb, pq_dir + "/pq", n_lists=16, quantize="pq", pq_m=8, pq_k=16
        )
        queries_df = emb.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

        def pq_probe() -> float:
            # sync-only settle (r12, verdict task #1): the r11 full
            # settle's System.gc() was measured re-chilling this row's
            # JIT'd ADC fold (+0.4-0.7 s/sample — A/B numbers in
            # _settle's docstring); the sync stays so a predecessor
            # row's writeback debt can't stall the probe's shuffle
            # writes. Trend ledger: r9 3.05 (no barrier), r10 3.55 (no
            # barrier; order-controlled A/B vs r9 tree overlapped ->
            # host I/O), r11 4.80 (sync+gc landed -> GC chill, now
            # measured), r12 expectation ~3.5 or less warm.
            _settle(spark, gc=False)
            t0 = time.perf_counter()
            pq_index.probe(
                spark, queries_df, k=10, n_probes=2, broadcast_probe=False
            ).write.mode("overwrite").format("noop").save()
            return round(time.perf_counter() - t0, 3)

        cold["ann_pq_bulk_probe"] = pq_probe()
        samples["ann_pq_bulk_probe"] = [pq_probe(), pq_probe()]
        warm["ann_pq_bulk_probe"] = min(samples["ann_pq_bulk_probe"])
    finally:
        shutil.rmtree(pq_dir, ignore_errors=True)

    # WARC ingest cycle (r10, verdict task #6): one untimed synthetic
    # crawl write (deterministic — 16 per-record-gzip archives, HTML +
    # chunked + WET records), then cold + 2 warm timed full cycles
    # (streaming walk → boilerplate extract → stage → corpus build),
    # each into a fresh corpus dir so the work is constant per sample
    ingest_dir = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        _write_synthetic_warc(ingest_dir)
        work = ingest_dir + "/work"
        cold["corpus_ingest_cycle"] = corpus_ingest_cycle(spark, ingest_dir, work, 0)
        samples["corpus_ingest_cycle"] = [
            corpus_ingest_cycle(spark, ingest_dir, work, 1),
            corpus_ingest_cycle(spark, ingest_dir, work, 2),
        ]
        warm["corpus_ingest_cycle"] = min(samples["corpus_ingest_cycle"])
    finally:
        shutil.rmtree(ingest_dir, ignore_errors=True)

    # incremental ExactSubstr append cycle (r08): one untimed seed
    # append builds the k-gram index state, then cold + 2 warm timed
    # incremental appends with distinct id spaces
    xs_dir = tempfile.mkdtemp(prefix="bench_substr_")
    try:
        from cdc_historical_warehouse_platform_spark.sources.substr_index import (
            ExactSubstrIndex,
        )

        idx = ExactSubstrIndex(xs_dir + "/xs", k=20)
        idx.append(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            ),
            txn_id="bench_substr_seed",
        )
        cold["substr_append_cycle"] = substr_append_cycle(spark, sf_dir, idx, 1)
        samples["substr_append_cycle"] = [
            substr_append_cycle(spark, sf_dir, idx, 2),
            substr_append_cycle(spark, sf_dir, idx, 3),
        ]
        warm["substr_append_cycle"] = min(samples["substr_append_cycle"])
    finally:
        shutil.rmtree(xs_dir, ignore_errors=True)

    total = round(sum(warm.values()), 3)
    load_after = os.getloadavg()
    # relative best-3 spread per query (see _spread_best3) — a row
    # whose spread exceeds the noise band tells the reader its warm
    # number is soft BEFORE they compare it round-over-round
    spread = {
        name: round(_spread_best3(vals), 3) for name, vals in samples.items()
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_warm_sec",
                "value": total,
                "unit": "sec",
                "queries": warm,
                "cold_queries": cold,
                "cold_value": round(sum(cold.values()), 3),
                "warm_samples": samples,
                "warm_spread": spread,
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in load_after],
                "load_waited_sec": waited,
                "canary_sec": canary_sec,
                "canary_samples": canary_samples,
                "canary_floor": canary_floor,
                "canary_ratio": canary_ratio,
                "io_canary_sec": io_canary_sec,
                "io_canary_samples": io_canary_samples,
                "io_canary_floor": io_canary_floor,
                "io_canary_ratio": io_canary_ratio,
                "loaded": loaded_run,
                "cpus": cpus,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()

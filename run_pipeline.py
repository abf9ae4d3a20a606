#!/usr/bin/env python
"""Pipeline CLI — the Spark-native twin of the reference's
run_pipeline.sh / Makefile surface (SURVEY.md §7 M5).

Commands operate on a workdir layout:
  <workdir>/source_orders/      versioned source table
  <workdir>/deleted_orders/     tombstone table (DELETE capture)
  <workdir>/dim_orders_history/ SCD2 dimension
  <workdir>/summary_customer_revenue/  maintained rollup (load --summary)
  <workdir>/pipeline_metadata/  run history
  <workdir>/cdc_logs/           change batches + state files

Usage:
  python run_pipeline.py seed      [--workdir DIR] [--orders N]
  python run_pipeline.py simulate  [--workdir DIR] [--cycles N]
  python run_pipeline.py extract   [--workdir DIR] [--cycles N] [--backfill]
                                   [--source-url JDBC_URL [--source-table T]]
  python run_pipeline.py load      [--workdir DIR] [--summary] [--drift-report]
                                   [--quarantine-dir DIR]
  python run_pipeline.py summary   [--workdir DIR]   # IVM check; exit 1 on drift
  python run_pipeline.py optimize  [--workdir DIR] [--max-segments N]
                                   [--history-files N]  # compact + z-order history
  python run_pipeline.py status    [--workdir DIR]
  python run_pipeline.py validate  [--workdir DIR] [--report [PATH]]
                                   [--order-key K]
  python run_pipeline.py corpus    --input SF_DIR --output DIR
  python run_pipeline.py corpus-append --input NEW_SF_DIR --output DIR
                                   [--num-shards N] [--max-records-per-file N]
                                   [--max-per-source N]  # corpus: per-domain quota
                                   [--quality-model PATH [--threshold T]]  # model gate
  python run_pipeline.py corpus-compact --output DIR [--max-files-per-shard N]
  python run_pipeline.py corpus-forget --output DIR --doc-ids 1,2,3
  python run_pipeline.py corpus-ingest --input DIR --output DIR [--ingest-format text|jsonl|html|warc|zip|csv]
  python run_pipeline.py corpus-sample --input SF_DIR --output DIR [--k N]
                                   [--weight-col C] [--stratum-col C]  # E-S weighted WOR
  python run_pipeline.py corpus-coverage --input SF_DIR      # train/held-out n-gram leakage per lang
  python run_pipeline.py dedup-cluster-stats --input SF_DIR  # near-dup cluster size histogram
  python run_pipeline.py corpus-export --output CORPUS --bpe-dir BPE --export-dir DIR [--seq-len N]
  python run_pipeline.py ann-build  --input SF_DIR --output DIR [--n-lists N]
                                   [--int8]   # IVF-SQ: int8 storage layout
                                   [--pq [--pq-m M] [--pq-k K]]  # IVF-PQ: m-byte codes
  python run_pipeline.py ann-append --input NEW_SF_DIR --output DIR
  python run_pipeline.py ann-query  --input SF_DIR --output DIR
                                   [--k N] [--n-probes N] [--n-queries N]
  python run_pipeline.py quality-train --input SF_DIR --output DIR
                                   [--label-sql EXPR] [--iters N]
  python run_pipeline.py quality-score --input SF_DIR --output DIR [--threshold T]
  python run_pipeline.py bpe-train  --input SF_DIR --output DIR
                                   [--num-merges N] [--min-pair-count M]
  python run_pipeline.py bpe-encode --input SF_DIR --output DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))
# Spark's Python workers are separate processes that see PYTHONPATH, not
# the driver's sys.path — without this, any Pandas-UDF stage fails with
# ModuleNotFoundError when the CLI is invoked from outside the repo.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
)


def _env(
    workdir: Path,
    source_url: str | None = None,
    source_table: str = "orders",
):
    from cdc_historical_warehouse_platform_spark.pipeline.extractor import CDCExtractor
    from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader
    from cdc_historical_warehouse_platform_spark.pipeline.metadata import PipelineMetadataManager
    from cdc_historical_warehouse_platform_spark.pipeline.simulator import OrderSimulator
    from cdc_historical_warehouse_platform_spark.session import get_spark
    from cdc_historical_warehouse_platform_spark.sources.dim_store import SCD2DimStore
    from cdc_historical_warehouse_platform_spark.sources.jdbc import JdbcSource
    from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

    spark = get_spark(
        app_name="cdc-historical-warehouse-platform-cli",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    if source_url is not None:
        # live-database entry point (reference log_extractor.py:56-79):
        # credentials/driver via standard JDBC url options
        source = JdbcSource(source_url, source_table, partition_column="id")
    else:
        source = VersionedTable(workdir / "source_orders")
    deleted = VersionedTable(workdir / "deleted_orders")
    dim = SCD2DimStore(workdir / "dim_orders_history")
    meta = PipelineMetadataManager(spark, workdir / "pipeline_metadata")
    sim = OrderSimulator(
        spark,
        source if source_url is None else VersionedTable(workdir / "source_orders"),
        deleted,
    )
    ext = CDCExtractor(spark, source, workdir / "cdc_logs", deleted_table=deleted)
    loader = SCD2Loader(spark, dim, workdir / "cdc_logs", metadata=meta)
    return spark, sim, ext, loader, dim, meta


def _load_quality_model(args) -> dict | None:
    """corpus/corpus-append: load a quality-train model JSON when
    --quality-model was given (None otherwise — corpus_append then
    adopts whatever model rides the corpus commit marker)."""
    if not getattr(args, "quality_model", None):
        return None
    return json.loads(Path(args.quality_model).read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "command",
        choices=[
            "seed", "simulate", "extract", "load", "status", "kpis", "validate",
            "summary", "optimize",
            "corpus", "corpus-append", "corpus-compact", "corpus-tokens",
            "corpus-forget", "corpus-ingest", "corpus-export", "corpus-status",
            "corpus-sample", "corpus-coverage", "dedup-cluster-stats",
            "ann-build", "ann-append", "ann-query",
            "substr-append", "substr-spans", "substr-compact",
            "bpe-train", "bpe-encode",
            "quality-train", "quality-score",
        ],
    )
    ap.add_argument(
        "--summary",
        action="store_true",
        help="load: also maintain the revenue-per-customer rollup "
        "incrementally from batch deltas (verify with the `summary` command)",
    )
    ap.add_argument(
        "--csv-text-col", default="text",
        help="corpus-ingest --ingest-format csv: the text column name",
    )
    ap.add_argument(
        "--csv-id-col", default=None,
        help="corpus-ingest --ingest-format csv: producer id column "
        "(default: md5-of-text ids)",
    )
    ap.add_argument(
        "--ingest-format",
        choices=["text", "jsonl", "csv", "html", "warc", "zip"],
        default="text",
        help="corpus-ingest: text = one doc per *.txt file (wholetext), "
        "jsonl = one doc per line with an explicit FAILFAST schema, "
        "csv = header + RFC-4180 quoting with a text column "
        "(--csv-text-col / --csv-id-col), "
        "html = one doc per *.htm(l) file with boilerplate removal "
        "(link-density block scoring), warc = WARC crawl archives "
        "(response records -> boilerplate-removed HTML; conversion "
        "records -> WET text; plain or per-record gzip; streaming "
        "record walk — per-task memory bounded by the largest record)",
    )
    ap.add_argument(
        "--ingest-source",
        default="files",
        help="corpus-ingest (text format): value for the source column",
    )
    ap.add_argument(
        "--bpe-dir",
        default=None,
        help="corpus-export: directory holding the bpe-train artifacts",
    )
    ap.add_argument(
        "--export-dir",
        default=None,
        help="corpus-export: output directory for the packed shards",
    )
    ap.add_argument(
        "--seq-len",
        type=int,
        default=2048,
        help="corpus-export: training sequence length in BPE tokens",
    )
    ap.add_argument(
        "--shuffle-seed",
        type=int,
        default=None,
        help="corpus-export: seeded deterministic global shuffle of the "
        "training order (omit for doc_id order)",
    )
    ap.add_argument(
        "--export-shards",
        type=int,
        default=8,
        help="corpus-export: number of range-sharded output partitions",
    )
    ap.add_argument(
        "--doc-ids",
        default=None,
        help="corpus-forget: comma-separated doc_ids to physically "
        "remove from the corpus and its dedup state",
    )
    ap.add_argument(
        "--quarantine-dir",
        default=None,
        help="load: route rows with uncastable/invalid critical fields "
        "into this parquet quarantine sink (original wire strings + "
        "reason) instead of silently nulling them; incompatible with "
        "--drift-report",
    )
    ap.add_argument(
        "--drift-report",
        action="store_true",
        help="load: infer each batch's actual wire schema and report "
        "producer drift (added/dropped/retyped columns) in the run "
        "result and pipeline metadata instead of tolerating it silently",
    )
    ap.add_argument("--workdir", default="./warehouse_data")
    ap.add_argument("--orders", type=int, default=10)
    ap.add_argument("--cycles", type=int, default=1)
    ap.add_argument(
        "--backfill",
        action="store_true",
        help="start the watermark at epoch so the first extraction captures all rows",
    )
    ap.add_argument(
        "--source-url",
        default=None,
        help="extract from a live database over JDBC instead of the workdir "
        "source table (e.g. jdbc:postgresql://host:5432/operational_db; "
        "jdbc:derby:<path> works with Spark's bundled driver)",
    )
    ap.add_argument(
        "--source-table", default="orders", help="JDBC source table name"
    )
    ap.add_argument(
        "--report",
        nargs="?",
        const="lineage_report.md",
        default=None,
        help="validate: also write the per-order markdown lineage report "
        "(reference verify_scd2.py:344-495) to this path",
    )
    ap.add_argument(
        "--order-key",
        type=int,
        default=None,
        help="validate --report: order to sample (default: most-versioned key)",
    )
    ap.add_argument(
        "--input",
        default=None,
        help="corpus: sf-style directory containing documents.parquet",
    )
    ap.add_argument(
        "--output",
        default=None,
        help="corpus: output directory for the sharded kept corpus",
    )
    ap.add_argument("--num-shards", type=int, default=8)
    ap.add_argument("--max-records-per-file", type=int, default=100_000)
    ap.add_argument(
        "--max-per-source",
        type=int,
        default=None,
        help="corpus: per-source quota (at most N kept docs per source), "
        "persisted so corpus-append enforces the remaining quota; on "
        "corpus-append it adopts/overrides the quota mid-stream "
        "(existing docs count against it, never evicted)",
    )
    ap.add_argument(
        "--track-top-tokens",
        type=int,
        default=None,
        help="corpus: maintain the kept corpus's token heavy-hitter "
        "state (Misra-Gries summary size m); corpus-append extends it "
        "automatically; report with the corpus-tokens command",
    )
    ap.add_argument(
        "--bulk-probe-doc-limit",
        type=int,
        default=500_000,
        help="corpus-append: batches with more pooled docs than this "
        "probe a bucketed-state corpus co-partitioned instead of "
        "broadcasting key sets (0 forces the bulk path)",
    )
    ap.add_argument(
        "--state-buckets",
        default="auto",
        help="corpus: write the probe-keyed dedup state (_lsh_index, "
        "_fp_index) Spark-BUCKETED so bulk appends probe it "
        "co-partitioned (no broadcast ceiling, state never "
        "re-shuffled); rides the commit marker — appends/forgets "
        "honor the layout automatically. Default 'auto' derives the "
        "layout from the kept count (large corpora bucket without "
        "the flag); an int pins it, 0 forces flat",
    )
    ap.add_argument(
        "--migrate-state-buckets",
        type=int,
        default=None,
        help="corpus-compact: migrate the dedup-state layout in place "
        "(an int re-buckets / buckets a flat corpus; 0 flattens) — "
        "crash-atomic, rides the same compaction marker",
    )
    ap.add_argument(
        "--max-files-per-shard", type=int, default=32,
        help="corpus-compact: rewrite shards exceeding this file count",
    )
    ap.add_argument("--n-lists", type=int, default=16, help="ann-build: IVF lists")
    ap.add_argument(
        "--num-merges", type=int, default=50, help="bpe-train: merge rounds to learn"
    )
    ap.add_argument(
        "--min-pair-count",
        type=int,
        default=2,
        help="bpe-train: stop when the best pair occurs fewer times",
    )
    ap.add_argument(
        "--int8",
        action="store_true",
        help="ann-build: store the IVF-SQ layout (int8 vectors + integer "
        "norms, no full-precision copy); appends/probes follow the stored mode",
    )
    ap.add_argument(
        "--pq",
        action="store_true",
        help="ann-build: store the IVF-PQ layout (m single-byte codes per "
        "vector — the 64x-compression tier); appends/probes follow the stored mode",
    )
    ap.add_argument("--pq-m", type=int, default=8, help="ann-build --pq: subspaces")
    ap.add_argument(
        "--prefix-dims",
        type=int,
        default=0,
        help="ann-build: store a Matryoshka prefix column of this width "
        "(float tier) enabling ann-query --two-stage narrow-scan probes",
    )
    ap.add_argument(
        "--two-stage",
        action="store_true",
        help="ann-query: Matryoshka two-stage probe (stage 1 scans the "
        "stored prefix column only, stage 2 exact-reranks --k1 candidates)",
    )
    ap.add_argument(
        "--k1", type=int, default=40,
        help="ann-query --two-stage: stage-1 candidates per query",
    )
    ap.add_argument(
        "--pq-k", type=int, default=16, help="ann-build --pq: codes per subspace"
    )
    ap.add_argument("--n-probes", type=int, default=2, help="ann-query: probed lists")
    ap.add_argument(
        "--bulk-probe",
        action="store_true",
        help="ann-query: shuffled bulk-query mode (broadcast_probe=False; "
        "no query-batch broadcast ceiling on any tier, PQ included)",
    )
    ap.add_argument(
        "--substr-k", type=int, default=20,
        help="substr-*: k-gram length of the ExactSubstr index",
    )
    ap.add_argument(
        "--probe-mode", default="auto",
        choices=("auto", "broadcast", "shuffle"),
        help="substr-append: store-probe strategy (auto gates on the "
        "batch's gram count; shuffle = co-partitioned bucketed probe "
        "for bulk appends, no broadcast ceiling)",
    )
    ap.add_argument(
        "--quality-model",
        default=None,
        help="corpus / corpus-append: path to a quality_model.json from "
        "quality-train; adds the model-based keep gate (score >= "
        "--threshold). On corpus-append the model rides the corpus "
        "commit marker, so passing it again is only needed to override",
    )
    ap.add_argument(
        "--label-sql",
        default="lang = 'en'",
        help="quality-train: boolean SQL expression over documents "
        "columns used as the training label",
    )
    ap.add_argument(
        "--iters", type=int, default=15, help="quality-train: gradient iterations"
    )
    ap.add_argument(
        "--threshold",
        type=float,
        default=0.5,
        help="quality-score / corpus --quality-model: keep docs with "
        "predicted quality >= this",
    )
    ap.add_argument(
        "--max-segments",
        type=int,
        default=32,
        help="optimize: consolidate history when it exceeds this many segments",
    )
    ap.add_argument(
        "--history-files",
        type=int,
        default=32,
        help="optimize: target file count for the z-ordered history rewrite",
    )
    ap.add_argument("--k", type=int, default=10, help="ann-query: neighbors per query; corpus-tokens: top-k; corpus-sample: docs kept per stratum")
    ap.add_argument(
        "--weight-col", default="n_chars",
        help="corpus-sample: weight column for the E-S draw (default n_chars)",
    )
    ap.add_argument(
        "--stratum-col", default="source",
        help="corpus-sample: stratum column for the per-stratum budget",
    )
    ap.add_argument(
        "--n-queries", type=int, default=10,
        help="ann-query: probe with the first N vectors of --input",
    )
    args = ap.parse_args()
    workdir = Path(args.workdir)
    workdir.mkdir(parents=True, exist_ok=True)

    spark, sim, ext, loader, dim, meta = _env(
        workdir,
        source_url=args.source_url,
        source_table=args.source_table,
    )
    if args.backfill:
        from cdc_historical_warehouse_platform_spark.pipeline.state import Watermark

        wm = Watermark(workdir / "cdc_logs" / ".watermark")
        if not wm.path.exists():
            wm.set(dt.datetime(2000, 1, 1))

    if args.command == "seed":
        sim.seed_orders(args.orders)
        print(json.dumps({"seeded": args.orders, **{k: str(v) for k, v in sim.stats().items()}}))
    elif args.command == "simulate":
        for _ in range(args.cycles):
            ops = sim.mutate_once()
            print(json.dumps(ops))
    elif args.command == "extract":
        for _ in range(args.cycles):
            batch = ext.run_once()
            print(json.dumps({"batch": str(batch) if batch else None}))
    elif args.command == "load":
        if args.summary:
            from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

            loader.summary = VersionedTable(
                Path(args.workdir) / "summary_customer_revenue"
            )
        if args.drift_report or args.quarantine_dir:
            # rebuild the loader through the constructor so its option
            # validation (e.g. quarantine x drift-report incompatibility)
            # is the single authority for CLI invocations too
            from cdc_historical_warehouse_platform_spark.pipeline.loader import SCD2Loader

            try:
                loader = SCD2Loader(
                    spark,
                    dim,
                    Path(args.workdir) / "cdc_logs",
                    metadata=loader.metadata,
                    summary_store=loader.summary,
                    drift_policy="report" if args.drift_report else "silent",
                    quarantine_dir=args.quarantine_dir,
                )
            except ValueError as e:
                # keep the CLI's JSON-on-stdout error contract
                print(json.dumps({"error": str(e)}))
                return 1
        print(json.dumps(loader.load_pending()))
    elif args.command == "summary":
        # IVM validation surface: the maintained rollup must hash-equal a
        # from-scratch GROUP BY over the dimension's current slice
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.operators.incremental_agg import group_summary
        from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

        store = VersionedTable(Path(args.workdir) / "summary_customer_revenue")
        if not store.exists():
            print(json.dumps({"error": "no maintained summary; run load --summary"}))
            return 1
        maintained = store.read(spark)
        recomputed = group_summary(dim.read_current(spark))
        mism = (
            maintained.withColumnRenamed("n_orders", "mn")
            .withColumnRenamed("measure_sum", "mm")
            .join(recomputed, "customer_id", "full_outer")
            .filter(
                ~F.col("mn").eqNullSafe(F.col("n_orders"))
                | ~F.col("mm").eqNullSafe(F.col("measure_sum"))
            )
            .count()
        )
        out = {
            "groups": maintained.count(),
            "total_orders": maintained.agg(F.sum("n_orders")).collect()[0][0],
            "total_revenue": str(maintained.agg(F.sum("measure_sum")).collect()[0][0]),
            "matches_recompute": mism == 0,
            "mismatched_groups": mism,
        }
        print(json.dumps(out))
        return 0 if mism == 0 else 1
    elif args.command == "optimize":
        # layout maintenance at compaction cadence: consolidate history
        # segments, then Z-order the consolidated history by
        # (order_key, valid_from-day) with a file-stats manifest so
        # key-history and as-of probes skip files on both dimensions
        if not dim.exists():
            print(json.dumps({"error": "dim table empty"}))
            return 1
        compacted = dim.compact_history(spark, max_segments=args.max_segments)
        result = dim.optimize_history(spark, n_files=args.history_files)
        print(
            json.dumps(
                {"compacted": compacted, **result, "workdir": str(workdir)}
            )
        )
    elif args.command == "kpis":
        # the reference's monitoring KPI set (README.md:752-762) with
        # its alert thresholds, off the run table + high watermark
        import datetime as _dt2

        wm_path = workdir / "cdc_logs" / ".watermark"
        wm = (
            _dt2.datetime.fromisoformat(wm_path.read_text().strip())
            if wm_path.exists()
            else None
        )
        print(json.dumps(meta.kpis(watermark=wm), default=str, sort_keys=True))
    elif args.command == "status":
        out = {
            "source_rows": sim._orders().count(),
            "dim": loader.summary_statistics() if dim.exists() else None,
            "last_run": meta.last_run(),
            "stats_7d": meta.stats(),
        }
        print(json.dumps(out, default=str))
    elif args.command == "validate":
        from cdc_historical_warehouse_platform_spark.pipeline.lineage import (
            generate_lineage_report,
            invariant_counts,
        )

        if not dim.exists():
            print(json.dumps({"error": "dim table empty"}))
            return 1
        d = dim.read(spark)
        inv = invariant_counts(d)
        ok = all(v == 0 for v in inv.values())
        if args.report is not None:
            report = generate_lineage_report(
                spark, d, order_key=args.order_key, last_run=meta.last_run()
            )
            report_path = Path(args.report)
            report_path.write_text(report)
            inv["report"] = str(report_path)
        print(
            json.dumps(
                {**inv, "valid": ok},
                default=str,
            )
        )
        return 0 if ok else 1
    elif args.command == "corpus":
        # the composed training-data build: keep decisions (quality →
        # exact dedup → LSH near-dup) → hash-sharded bounded parquet +
        # persisted dedup state (pipeline/corpus_build.py)
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_build

        if not args.input or not args.output:
            print(json.dumps({"error": "corpus requires --input and --output"}))
            return 1
        print(
            json.dumps(
                corpus_build(
                    spark,
                    args.input,
                    args.output,
                    num_shards=args.num_shards,
                    max_records_per_file=args.max_records_per_file,
                    max_per_source=args.max_per_source,
                    track_top_tokens=args.track_top_tokens,
                    quality_model=_load_quality_model(args),
                    quality_model_threshold=args.threshold,
                    state_buckets=(
                        "auto"
                        if args.state_buckets == "auto"
                        else (int(args.state_buckets) or None)
                    ),
                )
            )
        )
    elif args.command == "corpus-append":
        # incremental corpus load against the persisted dedup state
        # (crash-atomic via the _corpus_commit marker)
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_append

        if not args.input or not args.output:
            print(json.dumps({"error": "corpus-append requires --input and --output"}))
            return 1
        if not (Path(args.output) / "_lsh_index").exists():
            print(json.dumps({"error": f"no corpus state under {args.output}; run corpus first"}))
            return 1
        new_docs = spark.read.parquet(str(Path(args.input) / "documents.parquet"))
        print(
            json.dumps(
                corpus_append(
                    spark,
                    new_docs,
                    args.output,
                    num_shards=args.num_shards,
                    max_records_per_file=args.max_records_per_file,
                    max_per_source=args.max_per_source,
                    quality_model=_load_quality_model(args),
                    quality_model_threshold=(
                        args.threshold if args.quality_model else None
                    ),
                    bulk_probe_doc_limit=args.bulk_probe_doc_limit,
                )
            )
        )
    elif args.command == "corpus-tokens":
        # exact top-k corpus tokens off the maintained heavy-hitter
        # state (one candidate-verify pass; pipeline/corpus_build.py)
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_top_tokens

        if not args.output:
            print(json.dumps({"error": "corpus-tokens requires --output"}))
            return 1
        try:
            print(json.dumps(corpus_top_tokens(spark, args.output, k=args.k)))
        except FileNotFoundError as e:
            print(json.dumps({"error": str(e)}))
            return 1
    elif args.command == "corpus-sample":
        # fixed-budget weighted sampling WITHOUT replacement (r11):
        # Efraimidis-Spirakis top-k per stratum via deterministic md5
        # draws — re-running keeps the identical sample
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.operators.sampling import (
            weighted_sample_wor,
        )

        if not args.input or not args.output:
            print(json.dumps({"error": "corpus-sample requires --input and --output"}))
            return 1
        docs = spark.read.parquet(f"{args.input}/documents.parquet")
        sample = weighted_sample_wor(
            docs, k=args.k, weight_col=args.weight_col, strata_col=args.stratum_col
        )
        dest = str(Path(args.output) / "sample.parquet")
        sample.write.mode("overwrite").parquet(dest)
        stats = (
            spark.read.parquet(dest)
            .agg(
                F.count("*").alias("kept"),
                F.countDistinct(args.stratum_col).alias("strata"),
            )
            .collect()[0]
        )
        print(
            json.dumps(
                {
                    "kept": stats["kept"],
                    "strata": stats["strata"],
                    "k_per_stratum": args.k,
                    "weight_col": args.weight_col,
                    "output": dest,
                }
            )
        )
    elif args.command == "corpus-coverage":
        # train/held-out n-gram contamination coverage per language
        # (r12): what fraction of the held-out slice's distinct word
        # trigrams also occur in train — the corpus-level eval-leakage
        # report (plans/datapipe_queries.q_corpus_ngram_coverage)
        from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import (
            q_corpus_ngram_coverage,
        )

        if not args.input:
            print(json.dumps({"error": "corpus-coverage requires --input"}))
            return 1
        rows = q_corpus_ngram_coverage(spark, args.input).collect()
        print(
            json.dumps(
                {
                    "languages": [
                        {
                            "lang": r["lang"],
                            "n_test_grams": r["n_test_grams"],
                            "n_covered": r["n_covered"],
                            "coverage_micro": r["coverage_micro"],
                        }
                        for r in rows
                    ]
                }
            )
        )
    elif args.command == "dedup-cluster-stats":
        # near-dup cluster size distribution (r12): how many clusters
        # at each size + docs a dedup pass would retire — the skew
        # diagnostic over the LSH component labels
        # (plans/datapipe_queries.q_dedup_cluster_size_histogram)
        from cdc_historical_warehouse_platform_spark.plans.datapipe_queries import (
            q_dedup_cluster_size_histogram,
        )

        if not args.input:
            print(json.dumps({"error": "dedup-cluster-stats requires --input"}))
            return 1
        rows = q_dedup_cluster_size_histogram(spark, args.input).collect()
        print(
            json.dumps(
                {
                    "clusters": [
                        {
                            "cluster_size": r["cluster_size"],
                            "n_clusters": r["n_clusters"],
                            "docs_retired": r["docs_retired"],
                        }
                        for r in rows
                    ],
                    "total_docs_retired": sum(r["docs_retired"] for r in rows),
                }
            )
        )
    elif args.command == "corpus-ingest":
        # raw crawl/export directory -> documents.parquet (the table
        # corpus_build consumes); ids are path-stable so re-ingesting
        # the same files re-delivers the same docs (fp-tier dedup)
        from cdc_historical_warehouse_platform_spark.sources.raw_docs import (
            read_html_documents,
            read_jsonl_documents,
            read_text_documents,
        )

        if not args.input or not args.output:
            print(json.dumps({"error": "corpus-ingest requires --input and --output"}))
            return 1
        if args.ingest_format == "jsonl":
            docs = read_jsonl_documents(spark, args.input)
        elif args.ingest_format == "csv":
            from cdc_historical_warehouse_platform_spark.sources.raw_docs import (
                read_csv_documents,
            )

            docs = read_csv_documents(
                spark, args.input,
                text_col=args.csv_text_col, id_col=args.csv_id_col,
                source=args.ingest_source,
            )
        elif args.ingest_format == "html":
            docs = read_html_documents(spark, args.input, source=args.ingest_source)
        elif args.ingest_format == "warc":
            from cdc_historical_warehouse_platform_spark.sources.raw_docs import (
                read_warc_documents,
            )

            docs = read_warc_documents(spark, args.input)
        elif args.ingest_format == "zip":
            from cdc_historical_warehouse_platform_spark.sources.raw_docs import (
                read_zip_documents,
            )

            docs = read_zip_documents(spark, args.input)
        else:
            docs = read_text_documents(spark, args.input, source=args.ingest_source)
        out = str(Path(args.output) / "documents.parquet")
        docs.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(json.dumps({"ingested": n, "format": args.ingest_format, "output": out}))
    elif args.command == "corpus-status":
        # read-only operational report: committed epoch, layout and
        # state sizes, quota usage, tracking/model config — everything
        # an operator needs before an append/forget/compact decision
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_state import read_marker

        if not args.output:
            print(json.dumps({"error": "corpus-status requires --output"}))
            return 1
        out = Path(args.output)
        marker = read_marker(out)
        if marker is None:
            print(json.dumps({"error": f"no corpus under {args.output}"}))
            return 1
        manifest = json.loads((out / "_manifest.json").read_text())
        status = {
            "epoch": marker["epoch"],
            "corpus_rows": manifest["total_rows"],
            "num_shards": manifest["num_shards"],
            "shard_files": sum(len(m["files"]) for m in manifest["shards"].values()),
            "state_files": {
                d: len(list((out / d).glob("*.parquet")))
                for d in ("_kept_docs", "_lsh_index", "_fp_index", "_source_counts", "_hh_state")
                if (out / d).exists()
            },
            "max_per_source": marker.get("max_per_source"),
            "track_top_tokens": marker.get("track_top_tokens"),
            "quality_model": bool(marker.get("quality_model")),
        }
        if marker.get("max_per_source") and any((out / "_source_counts").glob("*.parquet")):
            from pyspark.sql import functions as F

            used = (
                spark.read.parquet(str(out / "_source_counts"))
                .groupBy("source")
                .agg(F.sum("n_kept").alias("n"))
                .collect()
            )
            status["quota_used"] = {str(r["source"]): int(r["n"]) for r in used}
        print(json.dumps(status, sort_keys=True))
    elif args.command == "corpus-forget":
        # right-to-be-forgotten: physically remove the given docs from
        # shards + every dedup-state table in one crash-atomic epoch
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_forget

        if not args.output or not args.doc_ids:
            print(json.dumps({"error": "corpus-forget requires --output and --doc-ids"}))
            return 1
        ids = [int(x) for x in args.doc_ids.split(",") if x.strip()]
        try:
            print(json.dumps(corpus_forget(spark, ids, args.output)))
        except FileNotFoundError as e:
            print(json.dumps({"error": str(e)}))
            return 1
    elif args.command == "corpus-compact":
        # OPTIMIZE-style shard maintenance: bound file counts after
        # many incremental appends (crash-atomic via the marker)
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import corpus_compact

        if not args.output:
            print(json.dumps({"error": "corpus-compact requires --output"}))
            return 1
        print(
            json.dumps(
                corpus_compact(
                    spark,
                    args.output,
                    max_files_per_shard=args.max_files_per_shard,
                    max_records_per_file=args.max_records_per_file,
                    state_buckets=(
                        "keep"
                        if args.migrate_state_buckets is None
                        else args.migrate_state_buckets
                    ),
                )
            )
        )
    elif args.command in ("ann-build", "ann-append", "ann-query"):
        # persisted IVF ANN index: build once, append increments with
        # the stored quantizer, probe with zero corpus passes beyond
        # the probed lists (sources/ann_index.py)
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.sources.ann_index import IVFIndex

        if not args.input or not args.output:
            print(json.dumps({"error": f"{args.command} requires --input and --output"}))
            return 1
        emb = spark.read.parquet(str(Path(args.input) / "embeddings.parquet"))
        if args.command == "ann-build":
            if args.int8 and args.pq:
                print(json.dumps({"error": "--int8 and --pq are exclusive"}))
                return 1
            quantize = "pq" if args.pq else ("int8" if args.int8 else None)
            index = IVFIndex.build(
                emb,
                args.output,
                n_lists=args.n_lists,
                quantize=quantize,
                pq_m=args.pq_m,
                pq_k=args.pq_k,
                prefix_dims=args.prefix_dims or None,
            )
            print(
                json.dumps(
                    {
                        "vectors": emb.count(),
                        "n_lists": args.n_lists,
                        "quantize": quantize,
                        "version": index.assignments.version(),
                        "output": args.output,
                    }
                )
            )
        elif args.command == "ann-append":
            index = IVFIndex(args.output)
            if not index.exists():
                print(json.dumps({"error": f"no index under {args.output}; run ann-build first"}))
                return 1
            v, n_appended = index.append(emb)
            print(
                json.dumps(
                    {"appended": n_appended, "version": v, "output": args.output}
                )
            )
        else:  # ann-query
            index = IVFIndex(args.output)
            if not index.exists():
                print(json.dumps({"error": f"no index under {args.output}; run ann-build first"}))
                return 1
            queries = emb.filter(F.col("vec_id") < args.n_queries).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            if args.two_stage:
                hits = index.probe_two_stage(
                    spark,
                    queries,
                    k=args.k,
                    k1=args.k1,
                    n_probes=args.n_probes,
                    broadcast_probe=not args.bulk_probe,
                ).collect()
            else:
                hits = index.probe(
                    spark,
                    queries,
                    k=args.k,
                    n_probes=args.n_probes,
                    broadcast_probe=not args.bulk_probe,
                ).collect()
            print(
                json.dumps(
                    {
                        "queries": len({r["query_id"] for r in hits}),
                        "results": len(hits),
                        "top1": {
                            str(r["query_id"]): r["neighbor_id"]
                            for r in hits
                            if r["rank"] == 1
                        },
                    },
                    sort_keys=True,
                )
            )
    elif args.command in ("substr-append", "substr-spans", "substr-compact"):
        # incremental ExactSubstr dedup: the k-gram index persists under
        # --output; substr-append admits --input's documents WITHOUT
        # re-gram-streaming anything already indexed (build == first
        # append), substr-spans reads the maintained flagged store,
        # substr-compact drops LSM-dead frontier rows
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.sources.substr_index import ExactSubstrIndex

        if not args.output:
            print(json.dumps({"error": f"{args.command} requires --output (index dir)"}))
            return 1
        idx = ExactSubstrIndex(args.output, k=args.substr_k)
        if args.command == "substr-append":
            if not args.input:
                print(json.dumps({"error": "substr-append requires --input SF_DIR"}))
                return 1
            docs = spark.read.parquet(f"{args.input}/documents.parquet").select(
                "doc_id", "text"
            )
            if idx.docs.exists():
                # idempotent re-append: an already-admitted doc_id
                # would double its grams — anti-join the (ids-only)
                # admitted-docs store
                docs = docs.join(idx.admitted_ids(spark), "doc_id", "anti")
            n_new = docs.count()
            probe_mode = None
            if n_new:
                probe_mode = idx.append(docs, probe_mode=args.probe_mode)[
                    "probe_mode"
                ]
            print(
                json.dumps(
                    {
                        "appended": n_new,
                        "k": idx.k,
                        "probe_mode": probe_mode,
                        "output": args.output,
                    }
                )
            )
        elif args.command == "substr-spans":
            if not idx.exists():
                print(json.dumps({"error": f"no index under {args.output}; run substr-append first"}))
                return 1
            agg = idx.spans(spark).agg(
                F.count(F.lit(1)).alias("spans"),
                F.countDistinct("doc_id").alias("docs_with_spans"),
                F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
                    "tokens_covered"
                ),
            ).collect()[0]
            print(
                json.dumps(
                    {
                        "spans": agg["spans"],
                        "docs_with_spans": agg["docs_with_spans"],
                        "tokens_covered": agg["tokens_covered"] or 0,
                        "k": idx.k,
                    }
                )
            )
        else:  # substr-compact
            if not idx.exists():
                print(json.dumps({"error": f"no index under {args.output}"}))
                return 1
            stats = idx.compact(spark)
            # retention: reclaim versions older than the newest two —
            # the segments THIS compaction superseded stay readable for
            # one more pass (in-flight pre-txn replay can still resolve
            # them); the PREVIOUS pass's superseded versions reclaim now
            stats["vacuumed"] = {
                t: len(v) for t, v in idx.vacuum(keep_last=2).items()
            }
            print(json.dumps(stats))
    elif args.command in ("quality-train", "quality-score"):
        # model-based quality filter: fit the deterministic logistic
        # classifier on a labeled seed rule, persist the tiny model as
        # an atomically-replaced JSON artifact, score whole corpora
        # with a map-only literal-weight expression
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.operators.classifier import (
            fit_logreg,
            quality_features,
            score_logreg,
        )
        from cdc_historical_warehouse_platform_spark.sources.tables import atomic_write_text

        if not args.input or not args.output:
            print(json.dumps({"error": f"{args.command} requires --input and --output"}))
            return 1
        docs = spark.read.parquet(str(Path(args.input) / "documents.parquet"))
        out = Path(args.output)
        out.mkdir(parents=True, exist_ok=True)
        model_file = out / "quality_model.json"
        if args.command == "quality-train":
            label = F.expr(args.label_sql).cast("boolean").cast("double")
            model = fit_logreg(
                docs,
                quality_features(F.col("text")),
                label,
                iters=args.iters,
            )
            atomic_write_text(
                model_file, json.dumps({**model, "label_sql": args.label_sql})
            )
            print(
                json.dumps(
                    {
                        "n": model["n"],
                        "final_loss": round(model["losses"][-1], 6),
                        "weights": {
                            k: round(v, 6) for k, v in model["weights"].items()
                        },
                        "model": str(model_file),
                    }
                )
            )
        else:  # quality-score
            if not model_file.exists():
                print(
                    json.dumps(
                        {"error": f"no model under {args.output}; run quality-train first"}
                    )
                )
                return 1
            model = json.loads(model_file.read_text())
            scored = docs.withColumn(
                "p_quality", score_logreg(quality_features(F.col("text")), model)
            )
            agg = scored.agg(
                F.count(F.lit(1)).alias("docs"),
                F.count(F.when(F.col("p_quality") >= args.threshold, 1)).alias(
                    "kept"
                ),
                F.avg("p_quality").alias("mean_p"),
            ).collect()[0]
            print(
                json.dumps(
                    {
                        "docs": agg["docs"],
                        "kept": agg["kept"],
                        "threshold": args.threshold,
                        "mean_p": round(agg["mean_p"], 6),
                        "label_sql": model.get("label_sql"),
                    }
                )
            )
    elif args.command == "corpus-export":
        # the final training-data deliverable: kept corpus + trained
        # tokenizer -> per-doc BPE token counts -> global packing
        # coordinates (hierarchical prefix sum) -> RANGE-sharded export
        # so each file holds contiguous training sequences. Composes
        # corpus_build/forget upstream with bpe-train: the pipeline is
        # ingest -> build -> (forget) -> export.
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.operators import bpe as BPE
        from cdc_historical_warehouse_platform_spark.operators.packing import packed_sequence_ids
        from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

        if not args.output or not args.bpe_dir or not args.export_dir:
            print(json.dumps({"error": "corpus-export requires --output (corpus), --bpe-dir and --export-dir"}))
            return 1
        merges_tbl = VersionedTable(Path(args.bpe_dir) / "merges")
        if not merges_tbl.exists():
            print(json.dumps({"error": f"no merges under {args.bpe_dir}; run bpe-train first"}))
            return 1
        merges = [
            (r["left_sym"], r["right_sym"])
            for r in merges_tbl.read(spark).orderBy("merge_rank").collect()
        ]
        # committed-epoch read (repair + manifest live-file list) — a
        # raw directory read could double-count superseded shards or
        # resurrect forgotten docs after a crash mid-forget/append
        from cdc_historical_warehouse_platform_spark.pipeline.corpus_build import read_committed_corpus

        docs = read_committed_corpus(spark, args.output).select("doc_id", "text")
        counts = BPE.bpe_token_counts(docs, merges).join(docs, "doc_id")
        # training order: doc_id (deterministic corpus order) or, with
        # --shuffle-seed, a seeded GLOBAL shuffle — the order key is
        # md5(seed || doc_id) truncated under 2^60, so the same seed
        # reproduces the same order on any cluster and a different
        # seed reshuffles; the span-derived bucketing below already
        # handles the key's sparseness
        order_col = "doc_id"
        if args.shuffle_seed is not None:
            order_col = "__ord"
            counts = counts.withColumn(
                order_col,
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(str(args.shuffle_seed)),
                                F.lit("|"),
                                F.col("doc_id").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        # packed_sequence_ids buckets on value ranges of order_col —
        # ingested md5 ids (and the shuffle key) are SPARSE (up to
        # 2^60), so size the bucket to the actual span instead of the
        # default dense contract
        bounds = counts.agg(
            F.min(order_col).alias("lo"), F.max(order_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        span = int(bounds["hi"]) - int(bounds["lo"]) + 1
        target_buckets = max(1, min(65536, int(bounds["n"]) // 16384 + 1))
        bucket_size = max(16384, -(-span // target_buckets))
        packed = packed_sequence_ids(
            counts,
            token_col="n_bpe_tokens",
            seq_len=args.seq_len,
            order_col=order_col,
            bucket_size=bucket_size,
        )
        n_shards = max(1, args.export_shards)
        (
            packed.select(
                "doc_id", "text", "n_bpe_tokens",
                "tokens_before", "pack_id", "pack_offset",
            )
            .repartitionByRange(n_shards, "pack_id")
            .sortWithinPartitions("pack_id", "pack_offset")
            .write.mode("overwrite")
            .parquet(args.export_dir)
        )
        agg = spark.read.parquet(args.export_dir).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_bpe_tokens").alias("total_tokens"),
            (F.max("pack_id") + 1).alias("n_packs"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "docs": agg["docs"],
                    "total_tokens": int(agg["total_tokens"] or 0),
                    "n_packs": int(agg["n_packs"] or 0),
                    "seq_len": args.seq_len,
                    "export_dir": args.export_dir,
                }
            )
        )
    elif args.command in ("bpe-train", "bpe-encode"):
        # tokenizer training over the documents corpus: merges + final
        # word segmentations persist as VersionedTables (atomic commit,
        # same artifact discipline as the ANN index); encode re-reads
        # the committed merges and reports token counts under them
        from pyspark.sql import functions as F

        from cdc_historical_warehouse_platform_spark.operators import bpe as BPE
        from cdc_historical_warehouse_platform_spark.sources.tables import VersionedTable

        if not args.input or not args.output:
            print(json.dumps({"error": f"{args.command} requires --input and --output"}))
            return 1
        docs = spark.read.parquet(str(Path(args.input) / "documents.parquet"))
        out = Path(args.output)
        merges_tbl = VersionedTable(out / "merges")
        if args.command == "bpe-train":
            merges_df, vocab_df = BPE.bpe_train(
                docs,
                num_merges=args.num_merges,
                min_pair_count=args.min_pair_count,
            )
            mv = merges_tbl.commit(merges_df)
            vv = VersionedTable(out / "vocab").commit(vocab_df)
            print(
                json.dumps(
                    {
                        "merges_learned": merges_df.count(),
                        "vocab_size": vocab_df.count(),
                        "merges_version": mv,
                        "vocab_version": vv,
                        "output": args.output,
                    }
                )
            )
        else:  # bpe-encode
            if not merges_tbl.exists():
                print(
                    json.dumps(
                        {"error": f"no merges under {args.output}; run bpe-train first"}
                    )
                )
                return 1
            merges = [
                (r["left_sym"], r["right_sym"])
                for r in merges_tbl.read(spark).orderBy("merge_rank").collect()
            ]
            counts = BPE.bpe_token_counts(docs, merges)
            agg = counts.agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_words").alias("total_words"),
                F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            ).collect()[0]
            print(
                json.dumps(
                    {
                        "docs": agg["docs"],
                        "total_words": int(agg["total_words"] or 0),
                        "total_bpe_tokens": int(agg["total_bpe_tokens"] or 0),
                        "merges_applied": len(merges),
                        "output": args.output,
                    }
                )
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

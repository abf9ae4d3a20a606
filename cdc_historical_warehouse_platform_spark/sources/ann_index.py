"""Persisted IVF ANN index: build once, probe many, append increments.

The r3 inline :func:`~cdc_historical_warehouse_platform_spark.operators.similarity.ivf_topk`
re-fits the coarse quantizer on every call (``refine`` full corpus
passes + a bounded driver collect). That is the right shape for a
one-shot query, but a production ANN serving/probing workload pays the
build exactly once. This module is the IVF twin of the corpus-append
LSH state (run_pipeline.py ``_lsh_index``):

- ``IVFIndex.build``: fit centroids (deterministic seeds + Lloyd
  steps), assign every corpus vector to its nearest list — one linear
  pass — and persist ``(vec_id, embedding, list_id)`` clustered by
  list into a :class:`VersionedTable`; centroids land in a tiny JSON
  sidecar (n_lists × dim floats) named per build epoch.
- ``IVFIndex.append``: assign ONLY the new vectors with the stored
  centroids (map-only, zero passes over the existing index) and
  append a segment — standard IVF semantics: the index grows, the
  quantizer stays fixed until a rebuild.
- ``IVFIndex.probe``: zero corpus passes beyond the probed lists —
  the assignments scan carries a pushed ``list_id IN (...)`` filter
  (segments are written clustered+sorted by list_id, so parquet
  row-group stats skip everything else), and scoring joins the
  broadcast probed-query set exactly like the inline path.

Storage modes (``quantize=``): ``None`` keeps float vectors; "int8"
stores the IVF-SQ layout (4× smaller, integer-fold scoring); "pq"
stores the IVF-PQ layout (operators/pq.py — m single-byte codes per
vector, ~64× smaller, ADC lookup-table scoring), with the trained
codebooks living in the same epoch sidecar as the coarse centroids so
one pointer swap keeps (centroids, codebooks, assignments) a
consistent triple.

Atomicity (the dim_store pattern): readers resolve ONE pointer
(tables.read_pointer) naming a (centroids file, assignments version) pair; writes
land data first (epoch-named centroid sidecar, assignments commit or
append — old versions stay readable until vacuum) and swap the pointer
last with an atomic replace. A crash anywhere before the swap leaves
readers on the previous consistent pair — new centroids are never
paired with assignments computed under old ones (that silent
wrong-neighbors failure is exactly what a shared mutable sidecar
would allow during a rebuild).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_historical_warehouse_platform_spark.operators.similarity import (
    _nearest_list_expr,
    int_dot,
    ivf_centroids,
    ivf_search,
    probed_queries,
    quantize_int8,
    sq_ivf_search,
)
from cdc_historical_warehouse_platform_spark.sources.tables import (
    VersionedTable,
    read_pointer,
    write_pointer,
)

__all__ = ["IVFIndex"]


class IVFIndex:
    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self.assignments = VersionedTable(self.path / "assignments")

    # --- pointer / state ---------------------------------------------------

    def _read_pointer(self) -> dict | None:
        return read_pointer(self.path)

    def _write_pointer(self, meta: dict) -> None:
        write_pointer(self.path, meta)

    def exists(self) -> bool:
        meta = self._read_pointer()
        return meta is not None and (self.path / meta["centroids_file"]).exists()

    def centroids(self) -> list[list[float]]:
        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"IVF index {self.path} has no committed build")
        return json.loads((self.path / meta["centroids_file"]).read_text())[
            "centroids"
        ]

    def _codebooks(self) -> list | None:
        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"IVF index {self.path} has no committed build")
        return json.loads((self.path / meta["centroids_file"]).read_text()).get(
            "pq_codebooks"
        )

    @staticmethod
    def _assign(
        vectors: DataFrame,
        cents: list[list[float]],
        corpus_id: str,
        corpus_vec: str,
        quantize: str | None = None,
        codebooks: list | None = None,
        prefix_dims: int | None = None,
    ) -> DataFrame:
        """``quantize="int8"`` stores the IVF-SQ layout — int8 vector +
        precomputed integer self-norm, NO full-precision copy (the
        standard inverted-file + scalar-quantizer composition: coarse
        quantizer prunes lists, SQ shrinks what each list stores ~4×).
        ``quantize="pq"`` stores the IVF-PQ layout — m single-byte-range
        codes per vector against the trained ``codebooks``
        (operators/pq.py), the 64×-compression tier for corpora whose
        float vectors don't fit the cluster. List assignment always
        runs on the full-precision input."""
        # zero vectors have no centroid cosine (0/0 → ArithmeticException
        # under ANSI); park them deterministically in list 0 — probes
        # never score them (zero-norm filter at search time)
        vnorm2 = F.aggregate(
            F.transform(
                F.col(corpus_vec), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        list_id = (
            F.when(vnorm2 > 0, _nearest_list_expr(F.col(corpus_vec), cents))
            .otherwise(F.lit(0))
            .alias("list_id")
        )
        if quantize == "pq":
            from cdc_historical_warehouse_platform_spark.operators.pq import encode_pq

            # one map pass: codes + coarse list in the same kernel
            # (carry_exprs), no encode⋈assign self-join
            assigned = encode_pq(
                vectors,
                codebooks,
                vec_col=corpus_vec,
                id_col=corpus_id,
                carry_exprs={"list_id": list_id},
            ).withColumnRenamed(corpus_id, "vec_id")
        elif quantize == "int8":
            assigned = vectors.select(
                F.col(corpus_id).alias("vec_id"),
                quantize_int8(F.col(corpus_vec)).alias("__cq"),
                list_id,
            )
            # zero-norm (all-zero) vectors STAY in the index — dropping
            # them here would break append's id-dedup idempotence (the
            # id would look fresh on every re-delivery); the probe path
            # filters __na > 0 at scoring time instead
            assigned = assigned.select(
                "vec_id",
                "__cq",
                int_dot(F.col("__cq"), F.col("__cq")).alias("__na"),
                "list_id",
            )
        else:
            cols = [
                F.col(corpus_id).alias("vec_id"),
                F.col(corpus_vec).alias("embedding"),
            ]
            if prefix_dims:
                # Matryoshka layout (r10, verdict task #4): materialize
                # the truncated prefix as its OWN column so a two-stage
                # probe's cheap pass is a genuinely narrow scan —
                # parquet column pruning can drop the full vector from
                # stage 1 entirely (an array column cannot be
                # partially read)
                cols.append(
                    F.slice(F.col(corpus_vec), 1, prefix_dims).alias("prefix")
                )
            assigned = vectors.select(*cols, list_id)
        # cluster + sort by list so probe-time list_id predicates skip
        # non-probed row groups via parquet min/max stats
        return assigned.repartition("list_id").sortWithinPartitions("list_id")

    # --- public API --------------------------------------------------------

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str | Path,
        n_lists: int = 16,
        refine: int = 1,
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        txn_id: str | None = None,
        quantize: str | None = None,
        pq_m: int = 8,
        pq_k: int = 16,
        pq_refine: int = 2,
        prefix_dims: int | None = None,
    ) -> "IVFIndex":
        if quantize not in (None, "int8", "pq"):
            raise ValueError(
                f"quantize must be None, 'int8' or 'pq', got {quantize!r}"
            )
        if prefix_dims and quantize is not None:
            raise ValueError(
                "prefix_dims (the Matryoshka two-stage layout) applies to "
                "the float tier only — int8/pq are already compressed"
            )
        index = cls(path)
        prev = index._read_pointer()
        epoch = (prev["epoch"] + 1) if prev else 0
        cents = ivf_centroids(corpus, n_lists, refine, corpus_id, corpus_vec)
        codebooks = None
        if quantize == "pq":
            from cdc_historical_warehouse_platform_spark.operators.pq import (
                train_pq_codebooks,
            )

            codebooks = train_pq_codebooks(
                corpus, pq_m, pq_k, pq_refine, corpus_id, corpus_vec
            )
        cent_file = f"_centroids_e{epoch}.json"
        (index.path / cent_file).write_text(
            json.dumps(
                {
                    "centroids": cents,
                    "n_lists": n_lists,
                    "refine": refine,
                    # PQ codebooks live in the SAME epoch sidecar so the
                    # pointer swap keeps (centroids, codebooks,
                    # assignments) consistent as one unit
                    "pq_codebooks": codebooks,
                }
            )
        )
        v = index.assignments.commit(
            cls._assign(
                corpus, cents, corpus_id, corpus_vec, quantize, codebooks,
                prefix_dims,
            ),
            txn_id=txn_id,
        )
        index._write_pointer(
            {
                "epoch": epoch,
                "centroids_file": cent_file,
                "assignments_version": v,
                "quantize": quantize,
                "prefix_dims": prefix_dims,
            }
        )
        return index

    def append(
        self,
        new_vectors: DataFrame,
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
    ) -> tuple[int, int]:
        """Assign new vectors with the STORED quantizer and append a
        segment — the existing index is never read or rewritten. The
        pointer advances only after the segment lands.

        CDC semantics on the id column: vectors whose id is already
        indexed are dropped via a left-anti join against a
        column-pruned scan of the stored ids, so re-delivering a
        batch — or overlapping batches — never duplicates index
        entries (a duplicated id would surface the same neighbor
        twice in every probe top-k it reaches). The anti-join shuffles
        bare ids only, the same shape as the loader's ledger
        anti-filter.

        Returns ``(assignments_version, n_appended)``; an
        all-duplicate batch is a no-op that leaves the version
        unchanged."""
        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"IVF index {self.path} has no committed build")
        cents = self.centroids()
        existing = self.assignments.read(
            new_vectors.sparkSession, version=meta["assignments_version"]
        ).select(F.col("vec_id").alias("__indexed_id"))
        # materialize the anti-join once: n_appended's count() and the
        # segment write below would otherwise each re-run the
        # new-vector scan + id scan + anti-join — and could disagree
        # if the source is live between the two jobs
        fresh = new_vectors.join(
            existing, F.col(corpus_id) == F.col("__indexed_id"), "left_anti"
        ).localCheckpoint(eager=True)
        n_appended = fresh.count()
        if n_appended == 0:
            return meta["assignments_version"], 0
        v = self.assignments.append(
            self._assign(
                fresh,
                cents,
                corpus_id,
                corpus_vec,
                meta.get("quantize"),
                self._codebooks() if meta.get("quantize") == "pq" else None,
                meta.get("prefix_dims"),
            ),
        )
        self._write_pointer({**meta, "assignments_version": v})
        return v, n_appended

    def vacuum(self, keep_last: int = 2) -> dict:
        """Reclaim superseded state: old assignment versions beyond
        ``keep_last`` (delegated to VersionedTable.vacuum) and centroid
        sidecars no epoch pointer references — build-crash orphans and
        pre-rebuild quantizers. The pointed-to pair is never touched:
        if the pointer pins an assignments version OLDER than the
        table's latest (a crashed rebuild committed data but never
        swapped the pointer), ``keep_last`` is widened to cover it —
        vacuuming the pinned version would turn a recoverable crash
        into data loss."""
        meta = self._read_pointer()
        if meta is not None:
            pinned_span = self.assignments.version() - meta["assignments_version"] + 1
            keep_last = max(keep_last, pinned_span)
        removed_versions = self.assignments.vacuum(keep_last=keep_last)
        meta = self._read_pointer()
        keep_file = meta["centroids_file"] if meta else None
        removed_centroids = []
        for f in sorted(self.path.glob("_centroids_e*.json")):
            if f.name != keep_file:
                f.unlink()
                removed_centroids.append(f.name)
        return {
            "removed_versions": removed_versions,
            "removed_centroids": removed_centroids,
        }

    def probe(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probes: int = 2,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        broadcast_probe: bool = True,
    ) -> DataFrame:
        """Top-k search against the persisted index. The assignments
        scan is prefiltered to the union of probed lists (pushed to
        parquet), then scored per query against the broadcast probed
        set — same output schema and same results as the inline
        ``ivf_topk`` run with this index's centroids. One pointer
        resolution pins a consistent (centroids, assignments-version)
        pair for the whole query.

        ``broadcast_probe=False`` (r8, PQ r9): BULK offline query sets
        join shuffled instead of broadcast — no query-batch broadcast
        ceiling on any tier. Float and int8 shuffle the probe set;
        the PQ tier rides each probed (query, list) row's ADC lookup
        table as a column through the same shuffled join
        (:func:`~cdc_historical_warehouse_platform_spark.operators.pq.pq_adc_topk_bulk`) —
        per-query list masking IS the join, no driver-side collected
        dict, candidates bounded by list pruning either way."""
        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"IVF index {self.path} has no committed build")
        cents = json.loads((self.path / meta["centroids_file"]).read_text())[
            "centroids"
        ]
        # the union of probed lists is tiny (≤ |queries|·n_probes ≤
        # n_lists) — compute the probe set ONCE, collect the list ids,
        # and push an IN-filter into the assignments scan so non-probed
        # lists are skipped at the row-group level, not post-scan.
        # The eager checkpoint materializes the probe rows (|queries| ×
        # n_probes, spilling to executor disk when a bulk query set
        # outgrows memory): the centroid-cosine HOF tree otherwise
        # re-evaluates in every downstream job that consumes `probed`
        # (the distinct-collect here, the score join, and the PQ LUT
        # pass — 3× the work, measured ~1 s each at bench scale).
        probed = probed_queries(
            queries, cents, n_probes, query_id, query_vec
        ).localCheckpoint(eager=True)
        probed_ids = [
            r["list_id"] for r in probed.select("list_id").distinct().collect()
        ]
        scan = self.assignments.read(
            spark, version=meta["assignments_version"]
        ).filter(F.col("list_id").isin(probed_ids))
        if meta.get("quantize") == "pq":
            from cdc_historical_warehouse_platform_spark.operators.pq import (
                pq_adc_topk,
                pq_adc_topk_bulk,
            )

            sidecar = json.loads(
                (self.path / meta["centroids_file"]).read_text()
            )
            if not broadcast_probe:
                # bulk mode: no driver-side query collect at all — the
                # LUT rides the probed rows through a shuffled join
                return pq_adc_topk_bulk(
                    scan, sidecar["pq_codebooks"], probed, k=k
                )
            # per-query probed lists: each query ADC-scores only rows
            # of ITS lists (ivf_search's probe-join semantics), on top
            # of the storage-level union filter above
            per_query: dict[str, list[int]] = {}
            for r in probed.select("query_id", "list_id").collect():
                per_query.setdefault(str(r["query_id"]), []).append(r["list_id"])
            return pq_adc_topk(
                scan,
                sidecar["pq_codebooks"],
                queries,
                k=k,
                query_id=query_id,
                query_vec=query_vec,
                probed_lists=per_query,
            )
        if meta.get("quantize") == "int8":
            assigned_q = scan.select(
                F.col("vec_id").alias("neighbor_id"), "__cq", "__na", "list_id"
            )
            return sq_ivf_search(
                assigned_q, queries, cents, k, n_probes, query_id, query_vec,
                probed=probed, broadcast_probe=broadcast_probe,
            )
        # stored zero vectors (kept for append idempotence) have no
        # cosine — drop them before scoring divides by their norm
        cv_norm2 = F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        assigned = (
            scan.filter(cv_norm2 > 0)
            .select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__cv"),
                "list_id",
            )
        )
        return ivf_search(
            assigned, queries, cents, k, n_probes, query_id, query_vec,
            probed=probed, broadcast_probe=broadcast_probe,
        )

    def probe_two_stage(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        k1: int = 40,
        n_probes: int = 2,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        broadcast_probe: bool = True,
    ) -> DataFrame:
        """Matryoshka two-stage search (r10, verdict task #4) against
        an index built with ``prefix_dims``: stage 1 scores the probed
        lists on the STORED prefix column — a genuinely narrow scan;
        the full ``embedding`` column is column-pruned out of the
        stage-1 parquet read (plan-pinned in tests) — keeping the
        ``k1`` best candidates per query; stage 2 reranks only those
        candidates with the exact full-dimension cosine.

        List probing uses the full query vector against the stored
        (full-dimension) quantizer — the same lists the one-stage probe
        touches — so the prefix narrows the SCORING bytes, not the
        recall surface. ``broadcast_probe=False`` keeps both the probe
        set and the candidate join shuffled for bulk query sets."""
        from pyspark.sql import Window

        from cdc_historical_warehouse_platform_spark.operators.similarity import cosine

        meta = self._read_pointer()
        if meta is None:
            raise FileNotFoundError(f"IVF index {self.path} has no committed build")
        pdims = meta.get("prefix_dims")
        if not pdims:
            raise ValueError(
                "index was not built with prefix_dims — rebuild with "
                "IVFIndex.build(..., prefix_dims=N) for two-stage probes"
            )
        cents = self.centroids()
        # probe lists with the FULL query vector (stored quantizer is
        # full-dimension), then truncate the carried __qv so stage-1
        # scoring is prefix-vs-prefix
        probed = (
            probed_queries(queries, cents, n_probes, query_id, query_vec)
            .withColumn("__qv", F.slice(F.col("__qv"), 1, pdims))
            .localCheckpoint(eager=True)
        )
        probed_ids = [
            r["list_id"] for r in probed.select("list_id").distinct().collect()
        ]
        version = meta["assignments_version"]
        # stage 1: NARROW scan — (vec_id, prefix, list_id) only; the
        # wide embedding column never leaves parquet here
        narrow = (
            self.assignments.read(spark, version=version)
            .select("vec_id", "prefix", "list_id")
            .filter(F.col("list_id").isin(probed_ids))
        )
        pre_norm2 = F.aggregate(
            F.transform(
                F.col("prefix"), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        assigned = narrow.filter(pre_norm2 > 0).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("prefix").alias("__cv"),
            "list_id",
        )
        cand = ivf_search(
            assigned, queries, cents, k1, n_probes, query_id, query_vec,
            probed=probed, broadcast_probe=broadcast_probe,
        ).select("query_id", "neighbor_id")
        # stage 2: exact full-dim rerank of k1 candidates per query;
        # the full-vector scan keeps the probed-list pushdown
        # (candidates are a subset of the probed lists by construction)
        full = (
            self.assignments.read(spark, version=version)
            .select("vec_id", "embedding", "list_id")
            .filter(F.col("list_id").isin(probed_ids))
            .select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__fv"),
            )
        )
        cand_q = cand.join(
            queries.select(
                F.col(query_id).alias("query_id"),
                F.col(query_vec).alias("__fqv"),
            ),
            "query_id",
        )
        P = F.broadcast if broadcast_probe else (lambda df: df)
        rerank = full.join(P(cand_q), "neighbor_id").select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__fqv"), F.col("__fv")).alias("cosine"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            rerank.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cosine")
        )

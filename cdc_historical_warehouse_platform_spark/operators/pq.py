"""Product quantization (PQ) — the billion-scale ANN storage tier.

Completes the engine's quantization ladder (float → int8 SQ → PQ):
a D-dim vector is split into ``m`` subspaces of D/m dims; each
subspace gets a k-entry codebook (k ≤ 256) and every vector is stored
as just ``m`` single-byte codes — 64-dim float64 vectors compress
512 B → 8 B (64×). Search uses ADC (asymmetric distance computation):
per query, one m×k lookup table of exact sub-dot-products, then each
candidate's approximate cosine is ``sum_m LUT[m][code_m]`` — m table
lookups per candidate, no float vector ever touched.

Spark shapes (designed for the 100 TB corpus, tested on local[32]):

- **Training** is per-subspace Lloyd's, every step distributed: code
  assignment is an Arrow-batched numpy argmin over the broadcast
  codebook (k·D floats — tiny), re-averaging is one
  groupBy(subspace, code, pos) aggregate with the same exact
  integer-pico summation trick as similarity.ivf_centroids, so the
  codebooks are order-independent at any partitioning. Seeds are the
  md5-smallest vector ids — deterministic, no RNG state.
- **Encoding** is one map-only Arrow pass (vector → m tinyint codes).
- **ADC scoring** is mapInPandas over the (already list-pruned, when
  composed with IVF) code table: queries are collected and broadcast
  as a numpy LUT block (n_queries·m·k floats — query-sized, never
  corpus-sized), each task scores its partition with one fancy-index
  + sum, emits its local top-k, and a final tiny window picks the
  global top-k. The corpus-sized side never shuffles.

Vectors are L2-normalized before training/encoding, so the ADC
inner-product approximates COSINE — the same metric every other ANN
path here returns. Python appears only inside Arrow-batched numpy
kernels (the brief's sanctioned slow-path escape hatch: a k-way
argmin per subspace is not expressible as a reasonable built-in
expression at k=256).

No reference counterpart (the reference has no vector tier at all);
the design follows the published IVF-PQ construction (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "train_pq_codebooks",
    "encode_pq",
    "pq_adc_topk",
    "pq_adc_topk_bulk",
]

_PICO = 1e12


def _normalize(vec_col):
    """Unit-L2 column expression (JVM-side); zero vectors stay zero."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return F.when(norm > 0, F.transform(vec_col, lambda x: x.cast("double") / norm)).otherwise(
        F.transform(vec_col, lambda x: x.cast("double"))
    )


def _codes_udf(codebooks, m: int, dsub: int, carry: list[str] | None = None):
    """Arrow-batched encoder: normalized vector -> m nearest-subcode
    ids (ties -> smallest code, numpy argmin's first-occurrence
    rule). ``codebooks`` is a python list[m][k][dsub]; it rides to
    executors inside the serialized closure as one small constant.
    ``carry`` columns pass through untouched (so callers can keep
    e.g. a coarse list_id in the SAME map pass — no self-join)."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    carry = carry or []

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            # np.stack over the object array is the C-level fast path —
            # a per-row asarray comprehension here was measured 5-10×
            # slower and dominated encode wall time
            vecs = (
                np.stack(pdf["__nv"].to_numpy()).astype(np.float64, copy=False)
                if len(pdf)
                else np.empty((0, m * dsub))
            )
            if len(vecs) == 0:
                yield pd.DataFrame(
                    {"__id": [], "__codes": [], **{c: [] for c in carry}}
                )
                continue
            sub = vecs.reshape(len(vecs), m, dsub)  # (n, m, dsub)
            # ||x - c||^2 argmin per subspace, (n, m, k) distances
            # without materializing (n,m,k,dsub); batched matmul
            # (BLAS) for the cross term — np.einsum without optimize
            # is a naive loop and was the encode bottleneck
            x2 = (sub * sub).sum(axis=2, keepdims=True)  # (n, m, 1)
            c2 = (cb * cb).sum(axis=2)  # (m, k)
            # (m, n, dsub) @ (m, dsub, k) -> (m, n, k)
            xc = np.matmul(sub.transpose(1, 0, 2), cb.transpose(0, 2, 1))
            dist = x2 + c2[None, :, :] - 2.0 * xc.transpose(1, 0, 2)
            codes = dist.argmin(axis=2).astype(np.int32)  # (n, m)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "__codes": list(codes),
                    **{c: pdf[c] for c in carry},
                }
            )

    return encode


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    refine: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[list[list[float]]]:
    """Fit ``m`` per-subspace codebooks of ``k`` centroids each over
    the L2-normalized corpus. Returns list[m][k][dsub] (driver-held:
    m·k·dsub floats — e.g. 8·256·8 = 16 K — never corpus-sized).

    Seeds: the ``k`` vectors with the smallest md5(id) — one
    deterministic sample shared by all subspaces. Each refine round =
    one Arrow argmin assignment pass + one exact-integer grouped
    re-average (order-independent, see module docstring)."""
    dim_row = corpus.select(F.size(corpus_vec).alias("d")).first()
    if dim_row is None:
        raise ValueError("cannot train PQ on an empty corpus")
    dim = dim_row["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    normalized = corpus.select(
        F.col(corpus_id).cast("string").alias("__id"),
        _normalize(F.col(corpus_vec)).alias("__nv"),
    )
    seeds = (
        normalized.orderBy(F.md5(F.col("__id")), F.col("__id"))
        .limit(k)
        .select("__nv")
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"corpus has {len(seeds)} vectors < k={k}")
    cb = [
        [[float(x) for x in r["__nv"][s * dsub : (s + 1) * dsub]] for r in seeds]
        for s in range(m)
    ]

    for _ in range(refine):
        coded = normalized.mapInPandas(
            _codes_udf(cb, m, dsub),
            schema="__id string, __codes array<int>",
        ).join(normalized, "__id")
        # (subspace, code, pos) -> exact mean over pico-quantized values
        exploded = coded.select(
            F.posexplode("__nv").alias("pos", "val"), "__codes"
        ).select(
            (F.col("pos") / dsub).cast("int").alias("sub"),
            F.pmod(F.col("pos"), F.lit(dsub)).alias("subpos"),
            F.element_at(
                F.col("__codes"), ((F.col("pos") / dsub).cast("int") + 1)
            ).alias("code"),
            "val",
        )
        rows = (
            exploded.groupBy("sub", "code", "subpos")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("val") * F.lit(_PICO))
                        .cast("long")
                        .cast("decimal(38,0)")
                    ).cast("double")
                    / F.lit(_PICO)
                    / F.count(F.lit(1))
                ).alias("avg_val")
            )
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            acc.setdefault((r["sub"], r["code"]), {})[r["subpos"]] = r["avg_val"]
        for s in range(m):
            for c in range(k):
                vals = acc.get((s, c))
                if vals:  # empty code keeps its previous centroid
                    cb[s][c] = [vals[p] for p in sorted(vals)]
    return cb


def encode_pq(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_codes: str = "__codes",
    carry_exprs: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Map-only Arrow encode: (id, vector) -> (id, m codes). 64×
    smaller than the float64 input at m=8 — the storage the IVF lists
    actually keep under ``quantize='pq'``. ``carry_exprs`` are extra
    named column expressions evaluated in the SAME pass and carried
    through the kernel (e.g. the coarse list_id — keeping encode +
    assign one job instead of an encode⋈assign self-join)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    carry_exprs = carry_exprs or {}
    src = vectors.select(
        F.col(id_col).cast("string").alias("__id"),
        _normalize(F.col(vec_col)).alias("__nv"),
        *[e.alias(name) for name, e in carry_exprs.items()],
    )
    carry_schema = "".join(
        f", {name} {src.schema[name].dataType.simpleString()}"
        for name in carry_exprs
    )
    coded = src.mapInPandas(
        _codes_udf(codebooks, m, dsub, carry=list(carry_exprs)),
        schema=f"__id string, __codes array<int>{carry_schema}",
    )
    return coded.select(
        F.col("__id").alias(id_col),
        F.col("__codes").alias(out_codes),
        *carry_exprs.keys(),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "__codes",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    probed_lists: dict[str, list[int]] | None = None,
    list_col: str = "list_id",
) -> DataFrame:
    """ADC top-k over a PQ-coded corpus: approximate cosine =
    ``sum_m LUT[q][m][code_m]`` where LUT holds the query's exact
    sub-dot-products with every codebook entry.

    The query side is collected and broadcast inside the kernel
    closure (n_queries·m·k doubles — query-sized); the corpus codes
    never shuffle: each task emits only its partition-local top-k and
    one final window over ≤ n_partitions·k·n_queries tiny rows picks
    the global winners. Output schema matches the other ANN paths:
    (query_id, rank, neighbor_id, qcosine).

    ``probed_lists`` (the IVF-PQ composition): map query_id ->
    allowed ``list_col`` values; each query then scores ONLY rows in
    its own probed lists (others masked out), matching ivf_search's
    per-query probe join semantics — the caller still pre-filters the
    scan to the union of probed lists so non-probed row groups are
    skipped at the storage layer."""
    import numpy as np

    m = len(codebooks)
    kk = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)

    qrows = queries.select(
        F.col(query_id).cast("string").alias("qid"),
        _normalize(F.col(query_vec)).alias("qv"),
    ).collect()
    if not qrows:
        raise ValueError("empty query set")
    qids = [r["qid"] for r in qrows]
    qmat = np.array([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    qsub = qmat.reshape(len(qids), m, dsub)
    lut = np.einsum("nmd,mkd->nmk", qsub, cb)  # (nq, m, k)

    probe_sets = (
        {qid: np.asarray(sorted(ls)) for qid, ls in probed_lists.items()}
        if probed_lists is not None
        else None
    )

    def score(batches):
        import pandas as pd

        tops: dict[str, list] = {qid: [] for qid in qids}
        for pdf in batches:
            if not len(pdf):
                continue
            code_mat = (
                np.stack(pdf[codes_col].to_numpy()).astype(np.int64, copy=False)
            )  # (n, m)
            ids = pdf[id_col].to_numpy()
            lists = pdf[list_col].to_numpy() if probe_sets is not None else None
            # scores[q, n] = sum_m lut[q, m, code_mat[n, m]]
            gathered = lut[:, np.arange(m)[None, :], code_mat]  # (nq, n, m)
            scores = gathered.sum(axis=2)  # (nq, n)
            for qi, qid in enumerate(qids):
                s = scores[qi]
                sel = np.arange(len(s))
                if probe_sets is not None:
                    mask = np.isin(lists, probe_sets.get(qid, ()))
                    sel = sel[mask]
                    if not len(sel):
                        continue
                    s = s[mask]
                # k+1: the query's own row may sit in this partition's
                # top-k and is filtered after the kernel
                take = min(k + 1, len(s))
                idx = np.argpartition(-s, take - 1)[:take]
                tops[qid].extend(zip(ids[sel[idx]], s[idx]))
        out = {"query_id": [], "neighbor_id": [], "qcosine": []}
        for qid, pairs in tops.items():
            for nid, sc in pairs:
                out["query_id"].append(qid)
                out["neighbor_id"].append(nid)
                out["qcosine"].append(float(sc))
        yield pd.DataFrame(out)

    cols = [id_col, codes_col] + ([list_col] if probe_sets is not None else [])
    local = codes.select(*cols).mapInPandas(
        score, schema="query_id string, neighbor_id string, qcosine double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qcosine")
    )


def pq_adc_topk_bulk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    probed: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "__codes",
    list_col: str = "list_id",
) -> DataFrame:
    """BULK-query ADC top-k (r9): the shuffled twin of
    :func:`pq_adc_topk` — no query-batch broadcast ceiling.

    Instead of collecting the query set into a driver-side LUT block,
    each probed (query, list) row carries its own ADC lookup table AS
    A COLUMN: one map-only Arrow pass over the (query-sized) probed
    set computes ``lut[m·k]`` per row (the query's exact
    sub-dot-products with every codebook entry — m·k doubles ≈ 16 KB
    at m=8,k=256), then a plain shuffled join on ``list_col`` lands
    each LUT row next to ITS probed lists' candidates, and the score
    is a JVM-side fold: ``sum_m lut[m·k_m + code_m]`` via
    ``F.get`` — no Python in the per-candidate hot path.

    Scale posture matches ``ivf_search(broadcast_probe=False)``: the
    shuffle moves list-pruned candidates + the LUT-bearing probe rows,
    both proportional to the intrinsic ADC work, never the whole code
    table (the caller pre-filters the scan to the union of probed
    lists). Per-query list masking is the JOIN itself — a query's LUT
    row exists only for its own probed lists, so no driver-side
    probed_lists dict and no np.isin mask.

    ``probed`` is :func:`~cdc_historical_warehouse_platform_spark.operators.similarity.
    probed_queries` output: (query_id, __qv, list_id). Output schema
    and tie-breaking match the broadcast path exactly:
    (query_id string, rank, neighbor_id string, qcosine)."""
    import numpy as np

    m = len(codebooks)
    kk = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)

    src = probed.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col(list_col).cast("int").alias(list_col),
        _normalize(F.col("__qv")).alias("__nv"),
    )

    def lut_rows(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"query_id": [], list_col: [], "__lut": []}
                )
                continue
            q = (
                np.stack(pdf["__nv"].to_numpy())
                .astype(np.float64, copy=False)
                .reshape(len(pdf), m, dsub)
            )
            # same einsum as the broadcast kernel -> bit-identical LUT
            # entries; only the per-candidate m-term summation order
            # can differ (numpy vs the JVM fold), both sequential at
            # real m (numpy pairwise summation starts above 8 terms)
            lut = np.einsum("nmd,mkd->nmk", q, cb).reshape(len(pdf), m * kk)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    list_col: pdf[list_col],
                    "__lut": list(lut),
                }
            )

    luts = src.mapInPandas(
        lut_rows, schema=f"query_id string, {list_col} int, __lut array<double>"
    )
    cand = codes.select(
        F.col(id_col).cast("string").alias("neighbor_id"),
        F.col(codes_col),
        F.col(list_col).cast("int").alias(list_col),
    )
    # score = sum_i lut[i*k + code_i]. m is statically known, so the
    # fold is unrolled into a flat chain of m element_at terms: higher-
    # order functions (transform/aggregate) run INTERPRETED with a
    # per-element closure — measured ~2 s over the bench's 500K
    # candidates — while this chain whole-stage-codegens. The addition
    # order (0.0 left-fold) is kept identical, so scores are
    # bit-identical to the former fold and to the broadcast kernel.
    score = F.lit(0.0)
    for i in range(m):
        score = score + F.get(
            F.col("__lut"), F.lit(i * kk) + F.get(F.col(codes_col), i)
        )
    scored = (
        cand.join(luts, list_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("qcosine"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qcosine")
    )

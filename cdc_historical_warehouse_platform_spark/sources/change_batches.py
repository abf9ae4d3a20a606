"""CDC change-batch files — the hand-off queue between extractor and
loader (reference: log_extractor.py:176-210 / scd2_loader.py:476-548).

Two physical formats:

- ``reference``: one ``changes_YYYYmmdd_HHMMSS_mmm.json`` per batch with
  the ``{batch_metadata, changes[]}`` envelope and stringified values
  (the ``json.dump(default=str)`` quirk, log_extractor.py:199) — exact
  wire-compat with the reference so its sample files load unchanged.
- ``jsonl``: Spark-written partitioned JSON-lines under
  ``<dir>/<batch_name>/`` with a ``_batch_metadata.json`` sidecar — the
  scale path (a 100 TB backfill batch writes distributed, no driver
  collect).

Readers cast the all-strings JSON schema back to CHANGE_SCHEMA
(ISO-timestamp parse + decimal casts: F8/F10).
"""

from __future__ import annotations

import datetime as _dt
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_historical_warehouse_platform_spark.schemas import CHANGE_JSON_SCHEMA, CHANGE_SCHEMA

__all__ = [
    "batch_name",
    "write_change_batch",
    "read_change_batch",
    "read_change_batch_with_drift",
    "read_change_batch_with_quarantine",
    "discover_batches",
    "cast_json_changes",
]

RUNNING_LOG = "running_changes.jsonl"


def batch_name(extracted_at: _dt.datetime) -> str:
    """``changes_%Y%m%d_%H%M%S_%f[:-3]`` (log_extractor.py:187)."""
    return "changes_" + extracted_at.strftime("%Y%m%d_%H%M%S_%f")[:-3]


def _stringify(row: dict) -> dict:
    out = {}
    for k, v in row.items():
        if isinstance(v, (_dt.datetime, _dt.date)):
            out[k] = v.isoformat(sep="T")
        elif v is None or isinstance(v, (int, str, bool)):
            out[k] = v
        else:  # Decimal, float
            out[k] = str(v)
    return out


def write_change_batch(
    changes: DataFrame,
    out_dir: str | Path,
    extracted_at: _dt.datetime,
    watermark: _dt.datetime | None = None,
    fmt: str = "reference",
) -> Path:
    """Write one batch; returns the batch file (or directory) path.

    ``reference`` format is the wire-compatible single-JSON-document
    envelope (log_extractor.py:176-208). It is assembled on the driver
    — a single JSON document has no distributed representation — but
    STREAMED via ``toLocalIterator``: driver memory holds one partition
    of rows at a time, never the whole batch, so a backfill-sized batch
    writes in bounded memory. ``jsonl`` is the fully distributed path.
    """
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    name = batch_name(extracted_at)

    ordered = changes.orderBy("last_updated", "id")  # O1 deterministic order

    if fmt == "reference":
        n = ordered.count()
        meta = {
            "extracted_at": extracted_at.isoformat(),
            "change_count": n,
            "watermark": watermark.isoformat() if watermark else None,
        }
        path = out_dir / f"{name}.json"
        tmp = out_dir / f".{name}.json.tmp"
        # byte-identical to json.dumps({"batch_metadata": meta,
        # "changes": rows}, indent=2), built incrementally
        log = (out_dir / RUNNING_LOG).open("a") if n else None
        try:
            with tmp.open("w") as f:
                head = json.dumps({"batch_metadata": meta}, indent=2)
                f.write(head[: head.rfind("\n}")])  # drop closing brace
                f.write(',\n  "changes": [')
                first = True
                for r in ordered.toLocalIterator():
                    row = _stringify(r.asDict())
                    body = json.dumps(row, indent=2)
                    indented = "\n".join("    " + ln for ln in body.splitlines())
                    f.write(("\n" if first else ",\n") + indented)
                    first = False
                    if log is not None:
                        log.write(json.dumps(row) + "\n")
                f.write("]\n}" if first else "\n  ]\n}")
        finally:
            if log is not None:
                log.close()
        tmp.rename(path)
        return path

    if fmt == "jsonl":
        path = out_dir / name
        # serialize in CHANGE_JSON_SCHEMA's exact types: numerics stay
        # native JSON numbers, decimals/timestamps stringify (the
        # default=str quirk) — quoted numbers would parse back as null
        wire = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in CHANGE_JSON_SCHEMA.fields
        ]
        # Write into a hidden .tmp dir and rename once complete —
        # the same atomicity the reference format gets from its .tmp
        # file. A concurrent loader globbing changes_* must never see
        # a half-written directory (it would mark the batch processed
        # and skip the missing rows forever).
        tmp_dir = out_dir / f".{name}.tmp"
        ordered.select(*wire).write.mode("overwrite").json(str(tmp_dir))
        n = changes.count()
        (tmp_dir / "_batch_metadata.json").write_text(
            json.dumps(
                {
                    "extracted_at": extracted_at.isoformat(),
                    "change_count": n,
                    "watermark": watermark.isoformat() if watermark else None,
                }
            )
        )
        if path.exists():
            import shutil

            shutil.rmtree(path)
        tmp_dir.rename(path)
        return path

    raise ValueError(f"unknown format {fmt!r}")


def cast_json_changes(df: DataFrame) -> DataFrame:
    """All-strings JSON change rows → typed CHANGE_SCHEMA (F8/F10)."""
    casts = []
    for field in CHANGE_SCHEMA.fields:
        casts.append(F.col(field.name).cast(field.dataType).alias(field.name))
    return df.select(*casts)


def _read_raw(spark: SparkSession, path: Path, element_schema: T.StructType) -> DataFrame:
    """One raw batch read at ``element_schema``, either format.

    Envelope notes (shared by every reader): the changes element schema
    is EXPLICIT — inference on an empty "changes": [] batch
    (legitimately produced by the writer) yields a non-struct element
    type and the c.* star-expansion crashes; and the read is FAILFAST —
    corrupt envelopes must FAIL the load run (tested contract), where
    the default PERMISSIVE mode would null them out silently."""
    if path.is_dir():  # jsonl format
        return spark.read.schema(element_schema).json(str(path))
    env_schema = T.StructType(
        [T.StructField("changes", T.ArrayType(element_schema))]
    )
    env = (
        spark.read.option("multiLine", "true")
        .option("mode", "FAILFAST")
        .schema(env_schema)
        .json(str(path))
    )
    return env.select(F.explode("changes").alias("c")).select("c.*")


def read_change_batch(spark: SparkSession, path: str | Path) -> DataFrame:
    """Read one batch (either format) as a typed changes DataFrame."""
    return cast_json_changes(_read_raw(spark, Path(path), CHANGE_JSON_SCHEMA))


def read_change_batch_with_drift(
    spark: SparkSession, path: str | Path
) -> "tuple[DataFrame, dict]":
    """Drift-aware batch read: infer the batch's ACTUAL schema, align
    it to the CHANGE_SCHEMA contract (operators/schema_drift.py), and
    return ``(typed_changes, drift_report)``.

    :func:`read_change_batch` tolerates drift silently (explicit-schema
    JSON reads null out missing fields and drop extra ones — the right
    default for the hot load path). This variant is the operational
    seam: same aligned output, plus the report that tells an operator
    WHICH columns a producer added/dropped/retyped — the signal to
    evolve the contract deliberately. Two JSON-inference artifacts are
    NOT reported as drift: string→decimal/timestamp/date casts (the
    reference stringifies exactly those via default=str) and
    bigint→integral casts (every JSON integer infers as bigint, so the
    wire cannot distinguish a producer's int from long — out-of-range
    values still land NULL via try_cast rather than failing the load).
    A string column arriving for an integral/boolean contract column
    IS reported (that is a retype or corruption, the very signal the
    silent path's FAILFAST read turns into a hard error). Caveat for
    Spark-written jsonl batches: JSON has no column manifest and the
    writer omits null fields, so a column that is null in EVERY row is
    indistinguishable from a dropped column and reports as missing.
    """
    from cdc_historical_warehouse_platform_spark.operators.schema_drift import align_to_schema

    _no_drift = {"missing": [], "extra": [], "widened": [], "narrowed": []}
    path = Path(path)
    if path.is_dir():  # jsonl format
        raw = spark.read.json(str(path))
        if not raw.columns or raw.isEmpty():
            # an empty batch carries no schema evidence at all —
            # without this guard it would misreport every contract
            # column as producer-dropped, on every run
            return read_change_batch(spark, path), dict(_no_drift)
    else:
        env = spark.read.option("multiLine", "true").json(str(path))
        if "changes" not in env.columns or not isinstance(
            env.schema["changes"].dataType, T.ArrayType
        ) or not isinstance(
            env.schema["changes"].dataType.elementType, T.StructType
        ):
            # empty "changes": [] infers a non-struct element type —
            # no rows means no drift to report
            return read_change_batch(spark, path), dict(_no_drift)
        raw = env.select(F.explode("changes").alias("c")).select("c.*")
    # JSON-inference artifacts (see docstring) are not drift; a string
    # column for an integral/boolean contract column stays reported
    aligned, report = align_to_schema(raw, CHANGE_SCHEMA, allow_narrowing=True)
    _stringified = ("decimal", "timestamp", "date")
    report["narrowed"] = [
        t
        for t in report["narrowed"]
        if not (t[1] == "string" and t[2].startswith(_stringified))
        and not (t[1] == "bigint" and t[2] in ("tinyint", "smallint", "int"))
    ]
    return aligned, report


def discover_batches(cdc_dir: str | Path) -> list[Path]:
    """S5: sorted glob of batch files/dirs (ledger anti-filter is the
    loader's job — left-anti semantics, scd2_loader.py:570-575)."""
    cdc_dir = Path(cdc_dir)
    files = [p for p in cdc_dir.glob("changes_*.json")]
    dirs = [p for p in cdc_dir.glob("changes_*") if p.is_dir()]
    return sorted(files + dirs, key=lambda p: p.name)


# --- bad-record quarantine (r6) --------------------------------------------

# Wire-level all-strings twin of CHANGE_JSON_SCHEMA: nothing is lost at
# read time, so uncastable values can be ROUTED instead of silently
# nulled (explicit-schema JSON reads null out bad tokens — right for
# the hot path, silent-corruption-shaped when a producer breaks).
CHANGE_WIRE_SCHEMA = T.StructType(
    [T.StructField(f.name, T.StringType(), True) for f in CHANGE_SCHEMA.fields]
)

_QUARANTINE_OPS = ("INSERT", "UPDATE", "DELETE")
# fields whose silent null-out would corrupt merge semantics: identity,
# ordering, dispatch, and the tracked measures
_QUARANTINE_CRITICAL = ("id", "quantity", "unit_price", "cdc_timestamp")


def read_change_batch_with_quarantine(
    spark: SparkSession, path: str | Path
) -> "tuple[DataFrame, DataFrame]":
    """Row-level bad-record routing: read the batch at the string wire
    level, cast to the contract, and split into ``(good_typed,
    quarantined)`` — the row-level upgrade of the reference's
    run-level ``records_failed`` counter (pipeline_metadata.py).

    A row quarantines when a critical field was PRESENT on the wire
    but failed its cast (id/quantity/unit_price/cdc_timestamp), when
    id or cdc_timestamp is missing entirely, or when operation_type is
    missing or not INSERT/UPDATE/DELETE. ``quarantined`` carries the
    ORIGINAL wire strings plus a ``quarantine_reason`` column listing
    every failed check — the operator sees exactly what the producer
    sent.

    Scale shape: one read, one Project with the cast expressions and
    the reason array — the split is two filters over the same typed
    frame (no shuffle, no second file pass)."""
    raw = _read_raw(spark, Path(path), CHANGE_WIRE_SCHEMA)

    # try_cast, not cast: the session runs ANSI mode, where a plain
    # cast THROWS on malformed input — the quarantine tier exists
    # precisely to route those rows, so casts must yield NULL here
    typed_cols = {
        f.name: F.col(f.name).try_cast(CHANGE_SCHEMA[f.name].dataType)
        for f in CHANGE_SCHEMA.fields
    }
    checks = [
        F.when(F.col("id").isNull(), F.lit("missing:id")),
        # the merge orders a key's versions by it (state.generate_batch_id
        # rejects a batch that still carries such a change)
        F.when(F.col("cdc_timestamp").isNull(), F.lit("missing:cdc_timestamp")),
        F.when(
            F.col("operation_type").isNull()
            | ~F.col("operation_type").isin(*_QUARANTINE_OPS),
            F.lit("bad:operation_type"),
        ),
    ]
    for name in _QUARANTINE_CRITICAL:
        checks.append(
            F.when(
                F.col(name).isNotNull() & typed_cols[name].isNull(),
                F.lit(f"uncastable:{name}"),
            )
        )
    reason = F.array_join(
        F.filter(F.array(*checks), lambda x: x.isNotNull()), ","
    )
    tagged = raw.withColumn("quarantine_reason", reason).localCheckpoint(
        eager=False
    )
    good = tagged.filter(F.col("quarantine_reason") == "").select(
        *[typed_cols[f.name].alias(f.name) for f in CHANGE_SCHEMA.fields]
    )
    quarantined = tagged.filter(F.col("quarantine_reason") != "")
    return good, quarantined

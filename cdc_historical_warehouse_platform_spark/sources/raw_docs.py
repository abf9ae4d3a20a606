"""Raw-asset ingestion: loose text / JSONL / binary files → the
engine's `documents` / multimodal schemas.

The corpus pipeline (pipeline/corpus_build.py) consumes
``documents.parquet``; these readers are the step BEFORE it — turning
a crawl/export directory into that table with stable, re-ingestable
ids. All three use Spark's built-in distributed file sources
(``text`` with ``wholetext``, ``json`` with an explicit schema +
FAILFAST, ``binaryFile``) — file listing and reading scale with the
cluster, never the driver.

Id discipline: ``doc_id`` is the first 15 hex digits of the md5 of the
file path (text) or the producer-supplied id (jsonl) — deterministic,
so re-ingesting the same directory yields the same ids and the corpus
fingerprint tier dedups re-deliveries instead of double-admitting
them. 15 hex < 2^60 keeps the id inside BIGINT exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "read_text_documents",
    "read_jsonl_documents",
    "read_csv_documents",
    "read_html_documents",
    "read_warc_documents",
    "read_zip_documents",
    "iter_warc_records",
    "iter_warc_records_stream",
    "read_binary_assets",
]

JSONL_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def _path_id() -> F.Column:
    # md5(path)[:15 hex] < 2^60: exact in BIGINT, stable across runs
    return F.conv(
        F.substring(F.md5(F.input_file_name()), 1, 15), 16, 10
    ).cast("long")


def read_text_documents(
    spark: SparkSession, input_dir: str, source: str = "files"
) -> DataFrame:
    """One document per ``*.txt`` file (``wholetext`` — the file is the
    unit, not the line). Newlines normalized to spaces so the corpus
    tokenizers' whitespace contract holds."""
    raw = spark.read.text(f"{input_dir}/*.txt", wholetext=True)
    text = F.regexp_replace(F.col("value"), r"\s+", " ")
    return raw.select(
        _path_id().alias("doc_id"),
        text.alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(source).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))


def read_jsonl_documents(spark: SparkSession, path: str) -> DataFrame:
    """One document per JSONL line, explicit schema + FAILFAST (the
    change_batches discipline: schema inference on untrusted producer
    data is a silent-drift vector)."""
    return (
        spark.read.schema(JSONL_DOC_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def read_csv_documents(
    spark: SparkSession,
    path: str,
    text_col: str = "text",
    id_col: str | None = None,
    lang_col: str | None = None,
    source: str = "csv",
) -> DataFrame:
    """CSV/TSV document exports (the Hugging-Face-datasets interchange
    shape: a header row, a text column, optional id/lang columns) →
    the documents table. Header + RFC-4180 quoting (multiline quoted
    text, doubled-quote escapes) via Spark's distributed csv source.

    Ids: the producer's ``id_col`` when given (cast to BIGINT);
    otherwise the md5 of the TEXT — deterministic across re-ingestion,
    with the documented consequence that byte-identical texts collapse
    to one id (the corpus fingerprint tier would dedup them anyway).

    FAILFAST (r11, ADVICE fix): the JSONL reader's contract applies
    here too — malformed rows (bad quoting, column-count drift) must
    raise, not parse to all-null and silently vanish through the
    isNotNull(text) filter (which now only drops rows whose text
    FIELD is genuinely empty)."""
    df = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("mode", "FAILFAST")
        .csv(path)
    )
    if text_col not in df.columns:
        raise ValueError(
            f"csv ingest: text column {text_col!r} not in {df.columns}"
        )
    if id_col is not None:
        if id_col not in df.columns:
            raise ValueError(f"csv ingest: id column {id_col!r} not in {df.columns}")
        doc_id = F.col(id_col).cast("long")
    else:
        doc_id = F.conv(
            F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10
        ).cast("long")
    lang = (
        F.col(lang_col).cast("string")
        if lang_col is not None and lang_col in df.columns
        else F.lit(None).cast("string")
    )
    text = F.regexp_replace(F.col(text_col), r"\s+", " ")
    return df.filter(F.col(text_col).isNotNull()).select(
        doc_id.alias("doc_id"),
        text.alias("text"),
        lang.alias("lang"),
        F.lit(source).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))


def read_binary_assets(
    spark: SparkSession, input_dir: str, pattern: str = "*"
) -> DataFrame:
    """Opaque binary ingestion via Spark's ``binaryFile`` source — the
    real seam the multimodal tier's deterministic fakes stand in for:
    (asset_id, payload, meta{mime, n_bytes, checksum, path}) in exactly
    the attach_binary_payload shape, so decode/feature UDFs compose
    unchanged. ``binaryFile`` caps file size via
    spark.sql.sources.binaryFile.maxLength (driver-side listing only;
    content is read executor-side)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(input_dir)
    )
    return raw.select(
        F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
        .cast("long")
        .alias("asset_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("checksum"),
            F.col("path").alias("path"),
        ).alias("meta"),
    )


def read_html_documents(
    spark: SparkSession,
    input_dir: str,
    source: str = "web",
    min_words: int = 10,
    max_link_density: float = 0.33,
) -> DataFrame:
    """One document per ``*.htm(l)`` file: wholetext read, then
    boilerplate REMOVAL via operators/html.extract_main_content
    (link-density block scoring — nav/menu/footer link farms dropped,
    article prose kept), then the corpus whitespace contract. The
    extraction is Arrow-batched and per-file parallel; ids follow the
    same md5(path) discipline as the text reader, so re-ingesting a
    crawl directory re-delivers the same ids and the corpus
    fingerprint tier dedups instead of double-admitting. Pages whose
    every block is boilerplate yield empty text and fall to the
    corpus quality gate."""
    from cdc_historical_warehouse_platform_spark.operators.html import (
        extract_main_content,
    )

    raw = spark.read.text(f"{input_dir}/*.htm*", wholetext=True)
    pages = raw.select(_path_id().alias("doc_id"), F.col("value").alias("html"))
    content = extract_main_content(
        pages, html_col="html", min_words=min_words, max_link_density=max_link_density
    )
    text = F.regexp_replace(F.col("content"), r"\s+", " ")
    return content.select(
        "doc_id",
        text.alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(source).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))


def iter_warc_records(payload: bytes):
    """WARC/1.x record iterator (ISO 28500, the Common Crawl wire
    format): yields (headers dict lower-cased, body bytes) per
    record. Accepts plain WARC and the standard per-record-gzip
    multistream layout (each record its own gzip member — stdlib
    zlib walks the members via unused_data)."""
    import zlib

    if payload[:2] == b"\x1f\x8b":
        parts = []
        rest = payload
        while rest[:2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=31)
            parts.append(d.decompress(rest))
            parts.append(d.flush())
            rest = d.unused_data
        payload = b"".join(parts)

    pos = 0
    n = len(payload)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and payload[pos : pos + 2] in (b"\r\n", b"\n"):
            pos += 2 if payload[pos : pos + 2] == b"\r\n" else 1
        if pos >= n:
            return
        if not payload[pos : pos + 5] == b"WARC/":
            raise ValueError("not a WARC payload (missing WARC/ record header)")
        hdr_end = payload.index(b"\r\n\r\n", pos)
        headers = {}
        for line in payload[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.decode("ascii").strip().lower()] = v.decode(
                "utf-8", "replace"
            ).strip()
        body_start = hdr_end + 4
        length = int(headers.get("content-length", "0"))
        body = payload[body_start : body_start + length]
        if len(body) != length:
            raise ValueError("WARC: truncated record body")
        yield headers, body
        pos = body_start + length


def iter_warc_records_stream(fh, chunk_size: int = 1 << 20):
    """Incremental WARC/1.x record walk over an open binary file
    handle: yields (headers dict lower-cased, body bytes) per record
    with peak memory bounded by the LARGEST SINGLE RECORD plus one
    chunk — never the archive. Handles plain WARC and the standard
    per-record-gzip multistream layout (member boundaries detected via
    ``decompressobj.eof``; the consumed prefix of the decode buffer is
    trimmed after every record). Record semantics are identical to
    :func:`iter_warc_records` (pinned by test)."""
    import zlib

    buf = bytearray()
    first = fh.read(chunk_size)
    if first[:2] == b"\x1f\x8b":
        comp = first
        d = zlib.decompressobj(wbits=31)

        def more() -> bool:
            # decompress until buf grows (or EOF); one gzip member per
            # WARC record in the multistream layout — reset the
            # decompressor at each member boundary
            nonlocal comp, d
            while True:
                if comp:
                    chunk, comp = comp, b""
                else:
                    chunk = fh.read(chunk_size)
                    if not chunk:
                        tail = d.flush()
                        if tail:
                            buf.extend(tail)
                            return True
                        return False
                out = d.decompress(chunk)
                if d.eof:
                    comp = d.unused_data
                    d = zlib.decompressobj(wbits=31)
                if out:
                    buf.extend(out)
                    return True
    else:
        buf.extend(first)

        def more() -> bool:
            chunk = fh.read(chunk_size)
            if not chunk:
                return False
            buf.extend(chunk)
            return True

    # position-based consume: trimming the buffer per record would
    # memmove ~chunk_size bytes per record (O(archive × chunk) overall)
    # — advance `pos` instead and compact only once a full chunk of
    # consumed prefix has built up, keeping peak memory at
    # max(record) + 2×chunk while the copy cost stays O(archive)
    pos = 0
    while True:
        if pos > chunk_size:
            del buf[:pos]
            pos = 0
        # skip inter-record blank lines (pull more data if the buffer
        # holds only a partial separator)
        while True:
            nxt = buf[pos : pos + 2]
            if nxt == b"\r\n":
                pos += 2
            elif nxt[:1] == b"\n":
                pos += 1
            elif len(nxt) < 2:
                if not more():
                    break
            else:
                break
        if pos >= len(buf):
            return
        while (hdr_end := buf.find(b"\r\n\r\n", pos)) < 0:
            if not more():
                raise ValueError("WARC: truncated record header")
        if bytes(buf[pos : pos + 5]) != b"WARC/":
            raise ValueError("not a WARC payload (missing WARC/ record header)")
        headers = {}
        for line in bytes(buf[pos:hdr_end]).split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.decode("ascii").strip().lower()] = v.decode(
                "utf-8", "replace"
            ).strip()
        body_start = hdr_end + 4
        length = int(headers.get("content-length", "0"))
        while len(buf) < body_start + length:
            if not more():
                raise ValueError("WARC: truncated record body")
        body = bytes(buf[body_start : body_start + length])
        pos = body_start + length
        yield headers, body


def _dechunk_http(entity: bytes) -> bytes:
    """Reassemble a ``Transfer-Encoding: chunked`` HTTP entity body
    (RFC 9112 §7.1): hex-size lines frame each chunk; a 0-size chunk
    terminates (trailers ignored). Raw Common Crawl ``response``
    records ship chunked bodies verbatim — without de-chunking, the
    hex framing lines leak into extracted corpus text. Malformed
    framing returns the chunks assembled so far (the body is crawl
    data, not trusted input)."""
    out = []
    pos = 0
    n = len(entity)
    while pos < n:
        eol = entity.find(b"\r\n", pos)
        if eol < 0:
            break
        size_token = entity[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            break
        if size == 0:
            break
        start = eol + 2
        out.append(entity[start : start + size])
        pos = start + size + 2  # skip the chunk-data CRLF
    return b"".join(out)


def _warc_record_to_doc(
    headers: dict, body: bytes, min_words: int, max_link_density: float
):
    """One WARC record → a documents-table row dict, or None if the
    record carries nothing ingestible. Shared by the materializing and
    streaming readers so both are parse-identical by construction.
    ``response`` records: HTTP headers split off (chunked bodies
    reassembled), HTML boilerplate-removed via the block scorer;
    ``conversion`` (WET) records pass through."""
    import hashlib
    import re
    from urllib.parse import urlparse

    from cdc_historical_warehouse_platform_spark.operators.html import parse_blocks

    def emit(uri, text):
        text = " ".join(text.split())
        doc_id = int(hashlib.md5(uri.encode()).hexdigest()[:15], 16)
        host = urlparse(uri).netloc or "warc"
        return {
            "doc_id": doc_id,
            "text": text,
            "lang": None,
            "source": host,
            "n_chars": len(text),
        }

    rtype = headers.get("warc-type")
    uri = headers.get("warc-target-uri", "")
    if rtype == "conversion":
        return emit(uri, body.decode("utf-8", "replace"))
    if rtype != "response":
        return None  # warcinfo / request / metadata ...
    # HTTP response: headers precede the entity body
    sep = body.find(b"\r\n\r\n")
    http_hdr = body[:sep].decode("latin-1") if sep > 0 else ""
    entity = body[sep + 4 :] if sep > 0 else body
    hdr_low = http_hdr.lower()
    if "text/html" not in hdr_low:
        return None
    if re.search(r"transfer-encoding\s*:[^\r\n]*\bchunked\b", hdr_low):
        entity = _dechunk_http(entity)
    blocks = parse_blocks(entity.decode("utf-8", "replace"))
    kept = [
        t
        for t, lc in blocks
        if len(t.split()) >= min_words and lc <= max_link_density * len(t)
    ]
    return emit(uri, "\n".join(kept)) if kept else None


_DOC_COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]

# Streaming-walk output flush thresholds (r11, verdict task #4): the
# extracted docs of ONE archive used to accumulate into a single
# Arrow batch — fine for boilerplate-heavy HTML, but WET-style
# `conversion` archives are ~pass-through text, so a ~1 GB .gz member
# could expand to multi-GB of Python strings per task, quietly
# re-creating the materialization ceiling the streaming record walk
# removed. Yield every N docs / M extracted chars instead.
_STREAM_FLUSH_DOCS = 2_000
_STREAM_FLUSH_CHARS = 16 << 20  # ~16M chars: Arrow batches stay large
# (tens of MB) while the per-task output buffer stays far below any
# archive's decompressed size


def _open_stream(path: str, use_arrow_fs: bool = False):
    """Open ``path`` (a Spark file-listing URI) as a binary, seekable
    file handle for the streaming walks. Local paths (no scheme or
    ``file:``) use plain ``open``; any other scheme — and local paths
    when ``use_arrow_fs`` forces it, which is how tests exercise the
    branch — routes through ``pyarrow.fs.FileSystem.from_uri`` (r11,
    verdict task #6: the Hadoop-ecosystem filesystems — hdfs://,
    s3://, gs:// — readable INCREMENTALLY from the Python worker, so
    the bounded-memory record walk applies on object storage too,
    not just local disk)."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(path)
    if not use_arrow_fs and parsed.scheme in ("", "file"):
        local = unquote(parsed.path) if parsed.scheme else path
        return open(local, "rb")
    import pyarrow.fs as pafs

    # Spark lists local files as single-slash URIs (file:/a/b);
    # pyarrow's from_uri wants the authority form
    uri = f"file://{unquote(parsed.path)}" if parsed.scheme == "file" else path
    try:
        fs, rel = pafs.FileSystem.from_uri(uri)
        return fs.open_input_file(rel)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"streaming walk: filesystem for {path!r} is not openable "
            f"from the Python worker ({exc}); use materialize=True to "
            "read whole archives through Spark's binaryFile source"
        ) from exc


def _warc_doc_batches(
    fh, min_words: int, max_link_density: float, flush_docs: int, flush_chars: int
):
    """Bounded-flush doc-batch generator over ONE open archive handle
    (r11, verdict task #4): yields a pandas DataFrame every
    ``flush_docs`` docs / ``flush_chars`` extracted chars, so a
    WET-heavy archive — conversion records are ~pass-through text —
    can never accumulate its whole extracted output in the task. This
    is the exact unit the streaming reader's mapInPandas closure runs."""
    import pandas as pd

    out: list = []
    out_chars = 0
    for headers, body in iter_warc_records_stream(fh):
        doc = _warc_record_to_doc(headers, body, min_words, max_link_density)
        if doc is None:
            continue
        out.append(doc)
        out_chars += doc["n_chars"]
        if len(out) >= flush_docs or out_chars >= flush_chars:
            yield pd.DataFrame(out, columns=_DOC_COLUMNS)
            out, out_chars = [], 0
    if out:
        yield pd.DataFrame(out, columns=_DOC_COLUMNS)


def read_warc_documents(
    spark: SparkSession,
    input_dir: str,
    min_words: int = 10,
    max_link_density: float = 0.33,
    pattern: str = "*.warc*",
    materialize: bool = False,
    use_arrow_fs: bool = False,
    flush_docs: int | None = None,
    flush_chars: int | None = None,
) -> DataFrame:
    """WARC crawl archives → the documents table: ``response``
    records carrying HTML get boilerplate-removed through the
    operators/html block scorer (chunked transfer-encoding
    reassembled first); ``conversion`` records (WET-style extracted
    text) pass through directly. One archive per task — Common Crawl
    ships ~1 GB gzip archives, so a segment's file list fans out
    across the cluster. Ids hash the WARC-Target-URI (stable across
    re-crawls of the same capture), ``source`` is the URI host.

    Default is the STREAMING record walk (r10): tasks receive paths
    only (binaryFile listing with the content column pruned), open
    the archive locally, and iterate records incrementally — peak
    per-task memory is bounded by the largest record, not the
    archive, so ~1 GB members leave headroom at any task
    parallelism. Extracted output flushes every ``_STREAM_FLUSH_DOCS``
    docs / ``_STREAM_FLUSH_CHARS`` chars (r11: a WET-heavy archive's
    pass-through text no longer accumulates per-archive). Non-local
    path schemes (hdfs/s3/gs) stream through pyarrow's filesystem
    layer (r11; ``use_arrow_fs=True`` forces that branch for local
    paths — the parity test hook). ``materialize=True`` keeps the r9
    behavior (whole archive as one binaryFile content cell) for
    filesystems pyarrow cannot open either."""
    from collections.abc import Iterator as _It

    import pandas as pd

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )

    if materialize:
        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern)
            .load(input_dir)
            .select("content")
        )

        def _extract(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
            for pdf in batches:
                out = []
                for content in pdf["content"]:
                    for headers, body in iter_warc_records(bytes(content)):
                        doc = _warc_record_to_doc(
                            headers, body, min_words, max_link_density
                        )
                        if doc is not None:
                            out.append(doc)
                yield pd.DataFrame(out, columns=_DOC_COLUMNS)

        return raw.mapInPandas(_extract, schema)

    # streaming walk: the binaryFile LISTING distributes paths (content
    # pruned — .explain shows ReadSchema: struct<path:string>), each
    # task opens its archive and iterates records with bounded memory
    paths = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(input_dir)
        .select("path")
    )

    _fd = flush_docs or _STREAM_FLUSH_DOCS
    _fc = flush_chars or _STREAM_FLUSH_CHARS

    def _extract_stream(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                with _open_stream(path, use_arrow_fs) as fh:
                    yield from _warc_doc_batches(
                        fh, min_words, max_link_density, _fd, _fc
                    )

    return paths.mapInPandas(_extract_stream, schema)


def read_zip_documents(
    spark: SparkSession,
    input_dir: str,
    min_words: int = 10,
    max_link_density: float = 0.33,
    pattern: str = "*.zip",
    materialize: bool = False,
    use_arrow_fs: bool = False,
    flush_docs: int | None = None,
    flush_chars: int | None = None,
) -> DataFrame:
    """ZIP archives of loose documents → the documents table: ``*.txt``
    members pass through as plain text, ``*.htm(l)`` members get the
    same boilerplate removal as :func:`read_html_documents`; other
    members are skipped. One archive per task, members parsed with
    stdlib ``zipfile`` executor-side. Ids hash ``archive_path!member``
    — stable across re-ingestion, so the corpus fingerprint tier
    dedups re-deliveries.

    Default is the STREAMING walk (r10, same posture as the WARC
    reader): tasks receive paths only (binaryFile listing, content
    column pruned) and ``zipfile`` reads the central directory + one
    member at a time from the open file handle — peak per-task memory
    is bounded by the largest member, never the archive. Extracted
    output flushes on the same doc/char thresholds as the WARC walk
    (r11), and non-local schemes stream through pyarrow's seekable
    filesystem handles (``use_arrow_fs=True`` forces the branch for
    local paths — the parity test hook). ``materialize=True`` keeps
    the whole-archive binaryFile cell for filesystems pyarrow cannot
    open either."""
    from collections.abc import Iterator as _It

    import pandas as pd

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def _members_to_docs(zf, path: str):
        import hashlib

        from cdc_historical_warehouse_platform_spark.operators.html import parse_blocks
        from cdc_historical_warehouse_platform_spark.sources.xlsx import _zread

        def emit(key: str, text: str):
            text = " ".join(text.split())
            return {
                "doc_id": int(hashlib.md5(key.encode()).hexdigest()[:15], 16),
                "text": text,
                "lang": None,
                "source": "zip",
                "n_chars": len(text),
            }

        for member in zf.namelist():
            low = member.lower()
            key = f"{path}!{member}"
            if low.endswith(".txt"):
                yield emit(key, _zread(zf, member).decode("utf-8", "replace"))
            elif low.endswith((".htm", ".html")):
                html = _zread(zf, member).decode("utf-8", "replace")
                kept = [
                    t
                    for t, lc in parse_blocks(html)
                    if len(t.split()) >= min_words
                    and lc <= max_link_density * len(t)
                ]
                yield emit(key, "\n".join(kept))

    if materialize:
        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern)
            .load(input_dir)
            .select("path", "content")
        )

        def _extract(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
            import io
            import zipfile

            for pdf in batches:
                out: list = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                        out.extend(_members_to_docs(zf, path))
                yield pd.DataFrame(out, columns=_DOC_COLUMNS)

        return raw.mapInPandas(_extract, schema)

    paths = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(input_dir)
        .select("path")
    )

    _fd = flush_docs or _STREAM_FLUSH_DOCS
    _fc = flush_chars or _STREAM_FLUSH_CHARS

    def _extract_stream(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import zipfile

        out: list = []
        out_chars = 0
        for pdf in batches:
            for path in pdf["path"]:
                # ZipFile on the handle reads the central directory and
                # then ONE member at a time — the archive never
                # materializes; non-local schemes stream through
                # pyarrow's (seekable) filesystem handles (r11)
                with _open_stream(path, use_arrow_fs) as fh, zipfile.ZipFile(
                    fh
                ) as zf:
                    for doc in _members_to_docs(zf, path):
                        out.append(doc)
                        out_chars += doc["n_chars"]
                        # bounded flush (r11): one text-dense archive
                        # can no longer accumulate multi-GB of output
                        if len(out) >= _fd or out_chars >= _fc:
                            yield pd.DataFrame(out, columns=_DOC_COLUMNS)
                            out, out_chars = [], 0
        if out:
            yield pd.DataFrame(out, columns=_DOC_COLUMNS)

    return paths.mapInPandas(_extract_stream, schema)

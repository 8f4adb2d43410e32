"""Readers (S1-S8) — thin, declarative wrappers over spark.read.

Scale notes: every reader keeps Catalyst in charge — schema given up front
where the format needs it (TSV), projection/predicates push to the scan,
and file-parallelism replaces the reference's file-per-Slurm-task model
(slurm_nodes.py:160-197): `spark.sql.files.maxPartitionBytes` decides the
split, AQE coalesces small files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from metadata_enhanced_pretrain_datapipeline_spark.functions.text import _bind
from metadata_enhanced_pretrain_datapipeline_spark.schema import to_documents

#: ParaDocs 18-column headerless gzipped TSV layout
#: (reference pipelines/paradocs/preprocessing/paradocs.py:117-134).
PARADOCS_COLUMNS = [
    "src", "tgt", "similarity_one", "similarity_two", "collection",
    "src_paragraph_id", "tgt_paragraph_id", "src_sentence_id",
    "tgt_sentence_id", "src_start_index", "src_end_index",
    "tgt_start_index", "tgt_end_index", "src_language_id",
    "tgt_language_id", "frequency", "src_docid", "tgt_docid",
]


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """S1 — ParquetReader (reference fineweb/main.py:97-99). Column pruning
    via select reaches the scan (ReadSchema), like the reference's explicit
    `columns=` (robots_filter.py:133)."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_parquet_documents(spark: SparkSession, path: str, id_col: str = "id",
                           text_col: str = "text",
                           metadata_cols: list[str] | None = None,
                           metadata_json_col: str | None = None) -> DataFrame:
    """S1+S7 — parquet scan with the reader-adapter applied
    (finemath/main.py:46-66)."""
    return to_documents(
        spark.read.parquet(path), id_col, text_col, metadata_cols, metadata_json_col
    )


def read_jsonl(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """S2 — JsonlReader incl. .gz (provenance-flan/main.py:61-64). Spark's
    json reader handles gzip transparently; give a schema at scale to skip
    the inference pass."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, header: bool = True,
             schema: StructType | str | None = None, sep: str = ",") -> DataFrame:
    """S5 — CSV reader (toxicity preprocessing.py:21-25)."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_paradocs_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S4 — the 18-column headerless gzipped TSV (paradocs.py:117-134),
    with the numeric coercions of paradocs.py:142-148 applied lazily by
    the caller via try_cast.

    Quoting and escaping are DISABLED: this is a raw tab-separated dump,
    and the CSV default (quote='\"') makes a sentence that begins with a
    double-quote swallow the tab separators and silently shift every
    following column."""
    schema = " string, ".join(PARADOCS_COLUMNS) + " string"
    return (
        spark.read.option("sep", "\t")
        .option("quote", "")
        .option("escape", "")
        .schema(schema)
        .csv(path)
    )


def read_hf_snapshot(spark: SparkSession, snapshot_dir: str,
                     text_key: str = "text", split: str | None = None,
                     id_col: str | None = None) -> DataFrame:
    """S3 — HuggingFaceDatasetReader analogue over a locally-synced hub
    snapshot (reference preprocess_megatron.py:107-111,
    tokenize_with_metadata.py:200-204: ``HuggingFaceDatasetReader(dataset,
    text_key, dataset_options={"split": ...})``).

    The reference streams via the datasets library; Spark-first, the same
    data is the snapshot's parquet shards, so this resolves the standard
    hub layouts — ``data/{split}-*.parquet``, ``{split}/*.parquet``, flat
    ``*.parquet`` — and scans them with the parquet reader (pushdown and
    column pruning intact). The ``text_key`` column is surfaced as
    ``text``; pass ``id_col`` to run the full Document adapter (S7).
    """
    import glob as _glob
    import os

    if split:
        patterns = [
            os.path.join(snapshot_dir, "data", f"{split}-*.parquet"),
            os.path.join(snapshot_dir, split, "*.parquet"),
            os.path.join(snapshot_dir, f"{split}-*.parquet"),
        ]
    else:
        patterns = [
            os.path.join(snapshot_dir, "data", "*.parquet"),
            os.path.join(snapshot_dir, "*.parquet"),
        ]
    if "://" in snapshot_dir:
        # remote URI (s3a://, hdfs://, ...): driver-local glob can't see it
        # — probe each layout with the scan itself and take the first that
        # resolves (the listing Spark does here is reused by the read).
        # Only path-not-found is part of probing; auth/network errors must
        # surface, not masquerade as a missing dataset.
        from pyspark.errors import AnalysisException

        df = None
        for p in patterns:
            try:
                df = spark.read.parquet(p)
                break
            except AnalysisException:
                continue
        if df is None:
            raise FileNotFoundError(
                f"no parquet shards under {snapshot_dir!r} for split={split!r}; "
                f"tried {patterns}"
            )
    else:
        chosen = next((p for p in patterns if _glob.glob(p)), None)
        if chosen is None:
            raise FileNotFoundError(
                f"no parquet shards under {snapshot_dir!r} for split={split!r}; "
                f"tried {patterns}"
            )
        df = spark.read.parquet(chosen)
    if id_col is not None:
        return to_documents(df, id_col=id_col, text_col=text_key)
    if text_key != "text":
        if "text" in df.columns:
            # a pre-existing 'text' column would duplicate the name after
            # the rename and make every downstream reference ambiguous
            df = df.withColumnRenamed("text", "__orig_text")
        df = df.withColumnRenamed(text_key, "text")
    return df


def read_orc(spark: SparkSession, path: str,
             columns: list[str] | None = None) -> DataFrame:
    """ORC scan (engine extension — the reference is parquet/jsonl-only,
    but mixed lakes feed ORC; Spark's vectorized ORC reader prunes
    columns and pushes predicates exactly like the parquet path)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def _iter_warc_records(raw: bytes):
    """Iterate (headers, content) over a decompressed WARC/WET byte
    stream: header block up to CRLFCRLF (first line ``WARC/x.y``,
    then ``Key: Value`` lines, keys lower-cased), then exactly
    Content-Length BYTES of content, then the record separator. Raises
    on a stream that does not start a record with a WARC version line —
    a truncated download should fail loudly, not parse to fewer docs.
    """
    pos, n = 0, len(raw)
    while pos < n:
        while raw.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        end_hdr = raw.find(b"\r\n\r\n", pos)
        if end_hdr < 0:
            raise ValueError("WARC: unterminated header block "
                             f"(offset {pos})")
        lines = raw[pos:end_hdr].decode("utf-8", "replace").split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(
                f"WARC: expected version line at offset {pos}, got "
                f"{lines[0][:40]!r}")
        headers = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        clen = int(headers.get("content-length", "0"))
        content = raw[end_hdr + 4:end_hdr + 4 + clen]
        if len(content) != clen:
            raise ValueError(
                f"WARC: truncated record at offset {pos}: declared "
                f"{clen} bytes, stream has {len(content)}")
        pos = end_hdr + 4 + clen
        yield headers, content


def _decompressed(raw: bytes) -> bytes:
    """Gunzip if the magic says so (WET/WARC ship as MULTI-MEMBER gzip,
    one member per record — GzipFile reads across members); raw
    streams pass through."""
    if raw[:2] == b"\x1f\x8b":
        import gzip
        import io

        return gzip.GzipFile(fileobj=io.BytesIO(bytes(raw))).read()
    return bytes(raw)


def _warc_rows(batches, record_type: str | None, text: bool = False):
    """The record loop behind :func:`read_wet` and
    :func:`parse_warc_records`: per pandas batch of whole-file
    ``content`` blobs, one (url, warc_date, record_type, content_length,
    content) row per record of ``record_type`` (every record when None),
    content as bytes or, with ``text``, UTF-8 decoded (errors replaced)
    into a ``text`` column."""
    import pandas as pd

    body = "text" if text else "content"
    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for h, c in _iter_warc_records(_decompressed(blob)):
                if record_type and h.get("warc-type") != record_type:
                    continue
                rows.append((h.get("warc-target-uri"), h.get("warc-date"),
                             h.get("warc-type"), len(c),
                             c.decode("utf-8", "replace") if text else c))
        yield pd.DataFrame(
            rows, columns=["url", "warc_date", "record_type",
                           "content_length", body])


def read_wet(spark: SparkSession, path: str,
             record_type: str | None = "conversion") -> DataFrame:
    """Common Crawl WET reader (engine extension; datatrove's WarcReader
    is the reference framework's crawl entry point): WET files hold the
    extracted plain text of a crawl as WARC ``conversion`` records.
    Returns (url, warc_date, record_type, content_length, text);
    ``record_type=None`` keeps every record (warcinfo rows included).

    Scale shape: ``binaryFile`` scan + mapInPandas — the parallelism
    unit is the FILE, exactly the reference framework's file-per-task
    model (a crawl ships ~10^5-10^6 WET files, far more than executor
    slots, so file granularity saturates a 1000-executor cluster);
    per-task memory is one decompressed file (WET segments are sized
    ~100-400 MB for this). The gzip walk is one pass, records stream
    out as Arrow batches, and downstream projection/filtering is
    ordinary Catalyst on the returned columns.
    """
    files = spark.read.format("binaryFile").load(path)
    return files.select("content").mapInPandas(
        lambda batches: _warc_rows(batches, record_type, text=True),
        "url string, warc_date string, record_type string, "
        "content_length long, text string")


#: fixed schema of Spark's binaryFile source — readStream demands an
#: explicit schema for file sources, and this is the only one binaryFile
#: can have (streaming crawl ingestion reads WARC segments through it)
BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length long, content binary")

WARC_RECORD_SCHEMA = ("url string, warc_date string, record_type string, "
                      "content_length long, content binary")


def parse_warc_records(files: DataFrame,
                       record_type: str | None = "response") -> DataFrame:
    """WARC record parse over a ``content: binary`` column of whole
    files — works on BATCH and STREAMING DataFrames alike (mapInPandas
    is streamable), so continuous crawl ingestion and the batch reader
    share one parser byte-for-byte."""
    return files.select("content").mapInPandas(
        lambda batches: _warc_rows(batches, record_type), WARC_RECORD_SCHEMA)


def read_warc(spark: SparkSession, path: str,
              record_type: str | None = "response") -> DataFrame:
    """Raw WARC reader: like :func:`read_wet` but content stays BINARY
    (response bodies are HTTP bytes, not text) — feed it to the
    multimodal decode family or an HTML extractor. Same file-granular
    scale shape. The parse itself lives in :func:`parse_warc_records`
    so a readStream(binaryFile) source runs the identical code."""
    return parse_warc_records(
        spark.read.format("binaryFile").load(path), record_type)


def http_content_type(content) -> "Column":
    """MIME type of a read_warc ``response`` payload, from the HTTP
    Content-Type header — the routing key that splits a mixed crawl
    into page records (text/html -> the text front door) and media
    records (image/* -> the visual-dedup front door). Decodes only a
    256-byte PREFIX of the binary content (ISO-8859-1 round-trips
    arbitrary bytes, and HTTP headers are ASCII), so multi-megabyte
    image bodies never pass through a string: pure JVM substring +
    decode + regexp, riding the parse stage. Lower-cased; parameters
    (``; charset=...``) stripped; '' when the header is absent."""
    from pyspark.sql import functions as F

    prefix = F.decode(F.substring(content, 1, 256), "ISO-8859-1")
    return F.lower(F.regexp_extract(
        prefix, r"(?i)\r\ncontent-type:\s*([^;\s]+)", 1))


def http_body_bytes(payload: bytes) -> bytes:
    """Binary HTTP body of one WARC response payload: everything after
    the first CRLFCRLF (driver/executor-side helper for the Python
    media-decode stage — the binary twin of :func:`http_body_str`,
    which stays JVM-side for text). Raises on a payload without the
    terminator rather than silently hashing header bytes as pixels."""
    at = payload.find(b"\r\n\r\n")
    if at < 0:
        raise ValueError("HTTP payload without header terminator")
    return payload[at + 4:]


def http_body_str(content) -> "Column":
    """UTF-8 HTTP response body of a read_warc ``response`` payload:
    decode the bytes and return everything after the first CRLFCRLF
    header terminator (the HTTP header block is metadata, not corpus
    text). Pure JVM string expressions — the decode+slice rides the
    parse stage, no Python, no shuffle. The decoded text is
    lambda-bound once (three sibling references otherwise re-decode
    per reference). Assumes a well-formed response (writers.
    warc_response_record always emits one); content without the
    terminator yields a 3-char-offset garble rather than silently
    passing headers as text."""
    from pyspark.sql import functions as F

    return _bind(F.decode(content, "UTF-8"), lambda t: F.substring(
        t, F.locate("\r\n\r\n", t) + 4, F.length(t)))

"""WARC (Web ARChive, ISO 28500) record reader — LLM-corpus ingest.

Common Crawl, the dominant raw source for LLM pre-training corpora,
ships as WARC files; a 100 TB curation pipeline starts by splitting
those archives into per-record rows. This module implements the
record-level parse over Spark's ``binaryFile`` source:

- one input row per archive file (streaming or batch ``binaryFile``);
- an Arrow-batched ``mapInPandas`` fan-out to one row per WARC record
  (header fields typed, payload kept as opaque bytes — the multimodal
  column pattern);
- malformed trailing data is skipped with a per-file ``n_parse_errors``
  surfaced on every emitted record rather than failing the task (at
  scale one torn archive must never kill the job).

The parser handles the WARC/1.0 and WARC/1.1 framing actually found in
Common Crawl: ``WARC/1.x\\r\\n``, colon-separated headers terminated by
a blank line, exactly ``Content-Length`` payload bytes, then the
``\\r\\n\\r\\n`` record separator. A gzip archive (.warc.gz, recognized
by the gzip magic bytes, since a WARC file starts ``WARC/``) decompresses
transparently (whole-file gzip; per-record members concatenate and the
parser walks the joined stream).

No counterpart in the reference (its sources are CCSDS binary + CSV:
``src/mdp/plugins/extractors/binary.py``, ``csv.py``); this extends the
same split-and-validate scan pattern to the LLM ingest format.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("record_idx", T.LongType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_parse_errors", T.LongType()),
    ]
)

_CRLF = b"\r\n"


def build_warc_record(
    payload: bytes,
    *,
    warc_type: str = "response",
    record_id: str = "<urn:uuid:0>",
    target_uri: str | None = None,
    warc_date: str = "2024-01-01T00:00:00Z",
) -> bytes:
    """Serialize one WARC/1.0 record (test-fixture generator — the write
    path mirror of the parser, same role as models/ccsds.py
    ``build_packet``)."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: " + record_id.encode(),
        b"WARC-Date: " + warc_date.encode(),
    ]
    if target_uri is not None:
        headers.append(b"WARC-Target-URI: " + target_uri.encode())
    headers.append(b"Content-Length: " + str(len(payload)).encode())
    return _CRLF.join(headers) + _CRLF + _CRLF + payload + _CRLF + _CRLF


def parse_warc_buffer(buf: bytes) -> tuple[list[dict], int]:
    """Split one archive's bytes into records; returns (records, errors).

    Stops at the first malformed framing (counted, not raised) — the
    same skip-don't-crash contract as the CCSDS resync scan.
    """
    records: list[dict] = []
    errors = 0
    pos = 0
    n = len(buf)
    while pos < n:
        # tolerate stray separators between records
        while buf.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        if not buf.startswith(b"WARC/", pos):
            errors += 1
            break
        hdr_end = buf.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            errors += 1
            break
        headers: dict[str, str] = {}
        lines = buf[pos:hdr_end].split(_CRLF)
        for line in lines[1:]:
            key, sep, val = line.partition(b":")
            if sep:
                headers[key.strip().decode("ascii", "replace").lower()] = (
                    val.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            errors += 1
            break
        if length < 0:
            # A negative declared length would move `pos` backwards (or
            # hold it still), looping forever on untrusted input — treat
            # it as framing corruption like any other malformed header.
            errors += 1
            break
        body_start = hdr_end + 4
        if body_start + length > n:
            errors += 1  # truncated record
            break
        records.append(
            {
                "warc_type": headers.get("warc-type"),
                "record_id": headers.get("warc-record-id"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_length": length,
                "payload": buf[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return records, errors


_GZIP_MAGIC = b"\x1f\x8b"


def read_warc(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """One row per WARC record across every archive under ``path``.

    Scale shape: ``binaryFile`` distributes whole archives (WARC members
    are not splittable mid-record without an index; Common Crawl ships
    ~1 GiB files, a good task size), the record fan-out runs inside
    Arrow-batched ``mapInPandas``, and payloads stay opaque bytes for
    the downstream multimodal/text operators.
    """
    files = spark.read.format("binaryFile").load(path)
    return _fan_out_records(files.select("path", "content"))


def read_warc_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_warc`: archives arriving under
    ``path`` become micro-batches of parsed records — the front of a
    crawl-ingest stream (``examples/11_warc_crawl_ingest.py`` composes
    it with the Gopher gate and the near-dedup ingest gate). Same
    Arrow-batched fan-out; one archive per task (WARC members are not
    splittable mid-record), which is the right granularity for Common
    Crawl's ~1 GiB files."""
    # streaming file sources require an explicit schema; binaryFile's
    # is fixed by the format
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, "
        "content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _fan_out_records(reader.load(path).select("path", "content"))


def _fan_out_records(files: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content)
                if buf[:2] == _GZIP_MAGIC:
                    buf = gzip.GzipFile(fileobj=io.BytesIO(buf)).read()
                recs, errors = parse_warc_buffer(buf)
                for i, r in enumerate(recs):
                    rows.append(
                        {
                            "path": path_,
                            "record_idx": i,
                            "n_parse_errors": errors,
                            **r,
                        }
                    )
            cols = [f.name for f in WARC_SCHEMA.fields]
            yield (
                pd.DataFrame(rows, columns=cols)
                if rows
                else pd.DataFrame({c: [] for c in cols})
            )

    return files.mapInPandas(run, schema=WARC_SCHEMA)


def warc_to_documents(records: DataFrame) -> DataFrame:
    """Project parsed records to the ``documents``-table shape:
    (doc_id, text, source) with UTF-8 decoded payloads — the bridge from
    raw archive ingest into every text/curation operator."""
    return records.select(
        F.xxhash64("record_id").alias("doc_id"),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
        F.coalesce("target_uri", "path").alias("source"),
    )

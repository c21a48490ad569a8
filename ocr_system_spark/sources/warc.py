"""WARC source: Common-Crawl-shaped ingestion into the pages table.

Real Common Crawl ships WARC/1.0 files; this reader turns a directory of
them into the canonical ``(url, warc_ts, html, text, lang)`` DataFrame:

* ``spark.read.format("binaryFile")`` lists/reads the files in parallel
  (one task per file — WARC files are the natural split unit, typically
  ~1 GB each on Common Crawl);
* record parsing runs in a ``mapInArrow`` batch kernel: split on the
  record delimiter, parse WARC headers (WARC-Target-URI, WARC-Date,
  Content-Length), keep ``response`` records, payload = the raw bytes;
* ``text``/``lang`` are left to downstream stages (the extraction pipeline
  derives text; langid fills lang) — mirroring real crawl processing where
  only the raw payload exists at ingest.

A deterministic writer (``write_synthetic_warc``) produces spec-shaped
fixture files so the parser is tested without external data.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ocr_system_spark.operators._rowmap import rows_batch

CRLF = b"\r\n"
DELIM = CRLF * 2

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def _parse_warc_bytes(blob: bytes) -> List[Tuple[str, Optional[datetime], bytes]]:
    """One WARC file's bytes → [(url, ts, payload)]. Lenient: malformed
    records are skipped, not fatal (errors-as-data at the record level)."""
    out: List[Tuple[str, Optional[datetime], bytes]] = []
    pos = 0
    n = len(blob)
    while pos < n:
        start = blob.find(b"WARC/1.0", pos)
        if start < 0:
            break
        head_end = blob.find(DELIM, start)
        if head_end < 0:
            break
        headers = {}
        for line in blob[start:head_end].split(CRLF)[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b"0"))
        except ValueError:
            length = 0
        body_start = head_end + len(DELIM)
        body = blob[body_start: body_start + length]
        pos = body_start + length
        if headers.get(b"warc-type") == b"response":
            url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
            ts = None
            raw_ts = headers.get(b"warc-date")
            if raw_ts:
                try:
                    ts = datetime.fromisoformat(
                        raw_ts.decode().replace("Z", "+00:00"))
                except ValueError:
                    ts = None
            if url:
                out.append((url, ts, body))
    return out


def read_warc(spark: SparkSession, input_glob: str) -> DataFrame:
    """Directory/glob of .warc files → pages DataFrame."""
    files = spark.read.format("binaryFile").load(input_glob)

    def run(batches):
        for batch in batches:
            rows = [(url, ts, body, None, None)
                    for blob in batch.column("content").to_pylist()
                    for url, ts, body in _parse_warc_bytes(blob)]
            yield rows_batch(rows, PAGES_SCHEMA)

    return files.select("content").mapInArrow(run, PAGES_SCHEMA)


def write_synthetic_warc(path: str, records: List[Tuple[str, datetime, bytes]]) -> None:
    """Deterministic spec-shaped WARC fixture writer."""
    chunks: List[bytes] = []
    for url, ts, body in records:
        head = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: response" + CRLF
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"WARC-Date: " + ts.astimezone(timezone.utc)
                .strftime("%Y-%m-%dT%H:%M:%SZ").encode() + CRLF
            + b"Content-Length: " + str(len(body)).encode() + CRLF
        )
        chunks.append(head + CRLF + body + CRLF + CRLF)
    with open(path, "wb") as f:
        f.write(b"".join(chunks))


__all__ = ["read_warc", "write_synthetic_warc", "PAGES_SCHEMA"]

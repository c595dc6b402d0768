"""WARC source: Common-Crawl's native container format → the authoritative
pages table shape.

The production input table ``(url, warc_ts, html, text, lang)`` is
materialized FROM WARC archives; this source closes that loop in-engine. A
WARC file is a sequence of records — ``WARC/1.0`` header block (CRLF
lines), blank line, ``Content-Length`` payload bytes, blank separator — and
Common Crawl compresses each record as its OWN gzip member so readers can
split without decompressing the whole file (the format detail this parser
relies on: ``zlib.decompressobj`` + ``unused_data`` walks member
boundaries). ``response`` records carry an HTTP response; the html payload
follows the HTTP header block.

Spark shape: ``binaryFile`` scan (one row per shard; Common-Crawl shards
are ~1 GB, the natural distribution unit — file-granular parallelism, no
shuffle) → ``mapInArrow`` record parser → pages rows. Malformed records
degrade row-wise, never task-wise: a corrupt gzip member is skipped by
resyncing to the next gzip magic, truncated tails are dropped, and all
records after a corruption are still yielded — real crawl archives contain
all of these.

Memory posture: because each Common-Crawl record is its own gzip member,
records are parsed member-by-member (never a joined decompressed stream),
and ``read_pages_warc`` emits output rows in bounded batches — resident
memory per task is the raw shard bytes (held by binaryFile regardless)
plus ONE decompressed record and one output batch, not the ~3-5 GB a
fully-decompressed 1 GB shard would occupy.

The writer exists for tests and corpus prep (seeded synthetic corpus →
valid WARC bytes → round-trip byte-identity, pinned in
``tests/test_warc.py``); it is NOT a general-purpose WARC library.

Reference analog: the raw-file image scan + robust multi-format decode
(``/root/reference/src/models/det_model/preprocess.py:6-23``,
``ocr_model/utils/helpers.py:6-26``) — here the "image file" is a crawl
shard and the "formats" are gzip-member framing + HTTP envelope.
"""

from __future__ import annotations

import datetime
import gzip
import io
import zlib
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schema import PAGES_SCHEMA

__all__ = [
    "build_warc",
    "build_wet",
    "parse_warc",
    "iter_warc_records",
    "read_pages_warc",
    "read_text_wet",
]

#: rows per emitted Arrow batch of the WARC/WET scan — bounds task-resident
#: output memory at (batch × avg record) instead of (whole shard's records)
_OUT_BATCH_ROWS = 2048

_CRLF = b"\r\n"


def build_warc(
    rows: list[tuple[str, datetime.datetime, bytes]], gzip_members: bool = True
) -> bytes:
    """Serialize (url, warc_ts, html) rows as WARC response records; each
    record its own gzip member when ``gzip_members`` (the Common-Crawl
    storage form)."""
    out = io.BytesIO()
    for url, ts, html in rows:
        http = (
            b"HTTP/1.1 200 OK" + _CRLF
            + b"Content-Type: text/html" + _CRLF
            + _CRLF
            + html
        )
        header = (
            b"WARC/1.0" + _CRLF
            + b"WARC-Type: response" + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + _CRLF
            + b"Content-Length: " + str(len(http)).encode() + _CRLF
            + _CRLF
        )
        record = header + http + _CRLF + _CRLF
        out.write(gzip.compress(record, 1) if gzip_members else record)
    return out.getvalue()


def build_wet(
    rows: list[tuple[str, datetime.datetime, str]], gzip_members: bool = True
) -> bytes:
    """Serialize (url, warc_ts, text) rows as WET ``conversion`` records —
    the Common-Crawl extracted-text sidecar format. Unlike WARC response
    records, the payload is the plain UTF-8 text with no HTTP envelope."""
    out = io.BytesIO()
    for url, ts, text in rows:
        payload = text.encode("utf-8")
        header = (
            b"WARC/1.0" + _CRLF
            + b"WARC-Type: conversion" + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + _CRLF
            + b"Content-Type: text/plain" + _CRLF
            + b"Content-Length: " + str(len(payload)).encode() + _CRLF
            + _CRLF
        )
        record = header + payload + _CRLF + _CRLF
        out.write(gzip.compress(record, 1) if gzip_members else record)
    return out.getvalue()


_GZIP_MAGIC = b"\x1f\x8b"


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Walk per-record gzip members, one decompressed member at a time.

    The buffer is walked through a memoryview — a Common-Crawl shard holds
    ~10^5 members, and slicing bytes per member would copy the remaining
    buffer each time (quadratic in shard size). A corrupt member is skipped
    by scanning forward for the next gzip magic (``\\x1f\\x8b``) and
    resuming there — row-wise degradation: every later intact member is
    still yielded. (A false magic inside corrupt compressed bytes just
    fails fast on its own ``zlib.error`` and resyncs again — the scan
    always advances.) Only a truncated FINAL member ends the walk."""
    mv = memoryview(data)
    n = len(data)
    chunk_size = 1 << 20
    pos = 0
    while pos < n:
        if bytes(mv[pos : pos + 2]) != _GZIP_MAGIC:
            nxt = data.find(_GZIP_MAGIC, pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out = []
        p = pos
        try:
            # feed ≤1 MiB chunks until the member ends: unused_data then
            # holds only the tail of the LAST chunk (O(chunk), not
            # O(remaining shard) per member)
            while not d.eof and p < n:
                piece = mv[p : p + chunk_size]
                out.append(d.decompress(piece))
                p += len(piece)
        except zlib.error:
            # corrupt member: resync at the next magic after this one
            nxt = data.find(_GZIP_MAGIC, pos + 2)
            if nxt < 0:
                return
            pos = nxt
            continue
        if not d.eof:
            return  # truncated final member
        yield b"".join(out)
        pos = p - len(d.unused_data)


def _parse_warc_date(s: str) -> datetime.datetime | None:
    """WARC-Date → naive UTC datetime (WARC dates are UTC by spec; WARC 1.1
    allows fractional seconds). Emitting naive-UTC + pinning
    ``spark.sql.session.timeZone=UTC`` in session.py makes the resulting
    timestamps host-timezone-independent."""
    if not s:
        return None
    try:
        dt = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return dt


def _parse_records(stream: bytes, record_type: str = "response") -> Iterator[dict]:
    """One WARC stream (a single decompressed gzip member, or a plain
    uncompressed concatenation) → record dicts of the requested
    ``WARC-Type``. For ``response`` records the ``html`` value is the body
    after the HTTP envelope; for ``conversion`` (WET) records the payload
    IS the plain text and is yielded raw. Malformed records are skipped,
    never raised."""
    pos = 0
    n = len(stream)
    while pos < n:
        start = stream.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = stream.find(_CRLF + _CRLF, start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in stream[start:head_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = head_end + 4
            continue
        payload = stream[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        if headers.get("warc-type") != record_type or len(payload) < length:
            continue  # skip other-typed and truncated-tail records
        url = headers.get("warc-target-uri")
        if not url:
            continue
        if record_type == "response":
            http_end = payload.find(_CRLF + _CRLF)
            body = payload[http_end + 4 :] if http_end >= 0 else payload
        else:
            body = payload
        yield {"url": url, "warc_ts": _parse_warc_date(headers.get("warc-date", "")), "html": body}


def iter_warc_records(data: bytes, record_type: str = "response") -> Iterator[dict]:
    """WARC bytes (gzip-member or plain concatenation) → lazy iterator of
    ``{url, warc_ts, html}`` records of the requested ``WARC-Type``
    (``response`` = crawl html; ``conversion`` = WET extracted text, whose
    payload is yielded raw under the same ``html`` key).

    Record-granular: in Common Crawl's storage form each gzip member IS one
    record, so members are decompressed and parsed ONE AT A TIME — peak
    memory is bounded by the largest record, never the decompressed shard
    (1 GB shards hold ~3-5 GB decompressed). Corrupt members resync (see
    ``_gzip_members``); a member holding several records still parses them
    all."""
    if data[:2] == _GZIP_MAGIC:
        for member in _gzip_members(data):
            yield from _parse_records(member, record_type)
    else:
        yield from _parse_records(data, record_type)


def parse_warc(data: bytes) -> list[dict]:
    """Eager form of :func:`iter_warc_records` (tests / small inputs)."""
    return list(iter_warc_records(data))


def _scan_records(
    spark: SparkSession, path_glob: str, record_type: str, column: str
) -> DataFrame:
    """Shards → pages rows: each ``record_type`` record's payload fills
    ``column`` (``html`` as bytes, or ``text`` decoded as UTF-8 with invalid
    bytes replaced); the other payload column and ``lang`` are null. One
    task per shard (binaryFile split = whole file); shards are parsed one at
    a time and rows leave in Arrow batches of at most ``_OUT_BATCH_ROWS``,
    so a task never holds a whole shard's records."""
    files = spark.read.format("binaryFile").load(path_glob)
    schema = to_arrow_schema(PAGES_SCHEMA)

    def batch(rows: list[dict]) -> pa.RecordBatch:
        payload = [r["html"] for r in rows]
        if column == "text":
            payload = [p.decode("utf-8", errors="replace") for p in payload]
        cols = {
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"] for r in rows],
            column: payload,
        }
        return pa.RecordBatch.from_arrays(
            [pa.array(cols.get(f.name, [None] * len(rows)), f.type) for f in schema],
            schema=schema,
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf: list[dict] = []
        for shards in batches:
            content = shards.column(0)
            for i in range(len(content)):
                for r in iter_warc_records(content[i].as_py(), record_type):
                    buf.append(r)
                    if len(buf) >= _OUT_BATCH_ROWS:
                        yield batch(buf)
                        buf = []
        if buf:
            yield batch(buf)

    return files.select("content").mapInArrow(run, schema=PAGES_SCHEMA)


def read_pages_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan ``*.warc`` / ``*.warc.gz`` shards into the authoritative pages
    shape. ``text`` and ``lang`` are unknown at scan time (null) — exactly
    what ``extract_pages`` consumes. Task and memory contract: see
    :func:`_scan_records`."""
    return _scan_records(spark, path_glob, "response", "html")


def read_text_wet(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan WET shards (``conversion`` records — Common Crawl's
    extracted-text sidecar) into the authoritative pages shape with
    ``text`` filled (UTF-8, invalid bytes replaced) and ``html`` null:
    the entry point for pipelines that start from pre-extracted text
    (dedup, quality, decontamination) and skip the html stage entirely.
    Same task/memory/degradation contract as :func:`read_pages_warc`."""
    return _scan_records(spark, path_glob, "conversion", "text")

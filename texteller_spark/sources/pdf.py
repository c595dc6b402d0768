"""Minimal deterministic PDF text extraction — the north rule's
"PDF/layout parse" surface, scoped to what a crawl pipeline needs.

A crawl corpus is mostly HTML plus a long tail of PDFs; this source lets
the same pages table carry both. Scope (deliberately narrow, like the WARC
source): text-showing operators (``Tj``, ``'``, ``"``, ``TJ``) inside
FlateDecode-compressed or plain content streams of well-formed PDFs.
NOT a general PDF library — no encryption, no CMap/Type0 font decoding
(string bytes are read as Latin-1, correct for the WinAnsi/Standard
encodings that dominate text PDFs), no xref validation. Malformed objects
degrade row-wise (yield no text), never task-wise — the same contract as
the WARC member walk.

Layout model: a ``BT``/``ET`` text object is a paragraph; ``Td``/``TD``/
``T*``/``'``/``"`` start a new line inside it; ``Tj``/``TJ`` append to the
current line (TJ kerning numbers are ignored). That is exactly the
reading-order fold the HTML path applies to blocks
(reference analog: the bbox reading-order sort + ordered assembly,
``/root/reference/src/models/utils/mix_inference.py:218-264``).

Spark shape mirrors the WARC source: ``binaryFile`` scan (one task per
file) → Arrow-batched extraction → pages-shaped rows with ``text``
already populated.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import arrow_row_udf

__all__ = ["extract_pdf_text", "extract_pdf_udf", "build_pdf", "read_pages_pdf"]

_STREAM_RE = re.compile(rb"stream\r?\n")

#: PDF escape sequences inside literal strings (Table 3, PDF 1.7 spec §7.3.4.2)
_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


#: direct /Length value; ``(?!\d)`` anchors the digit run so the R-ref
#: lookahead can't be defeated by backtracking (on «/Length 70 0 R» a bare
#: ``(\d+)(?!\s+\d+\s+R)`` would retry at «7» and emit a bogus length 7 —
#: indirect refs must yield NO match, i.e. length -1)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


def _iter_streams(data: bytes) -> Iterator[bytes]:
    """All stream payloads, Flate-decoded when their object dict says so.
    A corrupt stream is skipped (row-wise degradation).

    Payload extent comes from the dict's direct ``/Length`` when present
    (spec §7.3.8) — binary Flate output can legitimately end in ``\\r`` or
    contain ``endstream``, so the trim-to-keyword fallback below is only
    for dicts without a usable /Length."""
    pos = 0
    n_data = len(data)
    while True:
        m = _STREAM_RE.search(data, pos)
        if m is None:
            return
        # the governing dict is the << ... >> right before "stream"
        dict_start = data.rfind(b"<<", pos, m.start())
        head = data[dict_start : m.start()] if dict_start >= 0 else b""
        lm = _LENGTH_RE.search(head)
        length = int(lm.group(1)) if lm else -1
        end = (
            data.find(b"endstream", m.end() + length)
            if 0 <= length <= n_data - m.end()
            else -1
        )
        # trust /Length only when it lands cleanly: nothing but EOL
        # whitespace between payload end and the endstream keyword
        if end >= 0 and data[m.end() + length : end].strip(b"\r\n ") == b"":
            payload = data[m.end() : m.end() + length]
            pos = end + len(b"endstream")
        else:
            end = data.find(b"endstream", m.end())
            if end < 0:
                return
            payload = data[m.end() : end]
            if payload.endswith(b"\r\n"):
                payload = payload[:-2]
            elif payload.endswith((b"\n", b"\r")):
                payload = payload[:-1]
            pos = end + len(b"endstream")
        if b"/FlateDecode" in head:
            try:
                payload = zlib.decompress(payload)
            except zlib.error:
                payload = b""  # corrupt stream: no text from it
        if payload:
            yield payload


def _read_literal_string(s: bytes, i: int) -> tuple[str, int]:
    """Parse a ``(…)`` literal at s[i] == '(' → (decoded text, next index).
    Handles nesting, the escape table, and 1-3 digit octal escapes."""
    assert s[i : i + 1] == b"("
    out: list[str] = []
    depth = 1
    i += 1
    n = len(s)
    while i < n and depth > 0:
        c = s[i : i + 1]
        if c == b"\\":
            nxt = s[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, n) and s[j : j + 1].isdigit():
                    j += 1
                out.append(chr(int(s[i + 1 : j], 8) & 0xFF))
                i = j
            elif nxt in (b"\n", b"\r"):
                i += 2  # line continuation: escaped EOL vanishes
            else:
                i += 1  # stray backslash: dropped per spec
            continue
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                i += 1
                break
        if depth > 0:
            out.append(c.decode("latin-1"))
        i += 1
    return "".join(out), i


def _read_hex_string(s: bytes, i: int) -> tuple[str, int]:
    """Parse a ``<…>`` hex string at s[i] == '<' (not ``<<``)."""
    end = s.find(b">", i + 1)
    if end < 0:
        return "", len(s)
    hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", s[i + 1 : end])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii")).decode("latin-1"), end + 1


_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


def _content_text(stream: bytes) -> list[str]:
    """Decoded content stream → lines of shown text, in stream order."""
    lines: list[str] = []
    cur: list[str] = []
    pending: list[str] = []  # strings seen since the last operator

    def newline() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    i = 0
    n = len(stream)
    while i < n:
        c = stream[i : i + 1]
        if c == b"(":
            text, i = _read_literal_string(stream, i)
            pending.append(text)
            continue
        if c == b"<" and stream[i : i + 2] != b"<<":
            text, i = _read_hex_string(stream, i)
            pending.append(text)
            continue
        if c == b"<":  # dict «<<» — skip both brackets
            i += 2
            continue
        m = _OP_RE.match(stream, i)
        if m:
            op = m.group(0)
            if op in (b"Tj", b"TJ"):
                cur.extend(pending)
            elif op in (b"'", b'"'):
                newline()
                cur.extend(pending)
            elif op in (b"Td", b"TD", b"T*"):
                newline()
            elif op == b"ET":
                newline()
            pending.clear()
            i = m.end()
            continue
        i += 1
    newline()
    return lines


def extract_pdf_text(data: bytes | None) -> str:
    """PDF bytes → extracted text, lines joined with newlines. Null, non-PDF
    or malformed input yields ''."""
    if data is None or not data.startswith(b"%PDF-"):
        return ""
    lines: list[str] = []
    for stream in _iter_streams(data):
        lines.extend(_content_text(stream))
    return "\n".join(l for l in (ln.strip() for ln in lines) if l)


#: pdf binary → extracted text (Arrow-batched row UDF)
extract_pdf_udf = arrow_row_udf(extract_pdf_text, T.StringType())


# --------------------------------------------------------------------------
# writer (tests / corpus prep only — same stance as warc.build_warc)
# --------------------------------------------------------------------------

def _pdf_escape(s: str) -> bytes:
    return (
        s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        .encode("latin-1", errors="replace")
    )


def build_pdf(page_lines: list[list[str]], compress: bool = True) -> bytes:
    """Serialize pages (each a list of text lines) as a minimal valid PDF:
    one content stream per page, ``Td``-advanced lines, FlateDecode when
    ``compress``. Round-trip pinned in tests."""
    objs: list[bytes] = []
    n_pages = len(page_lines)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, lines in enumerate(page_lines):
        content = b"BT /F1 12 Tf 72 720 Td\n" + b"".join(
            b"(" + _pdf_escape(line) + b") Tj 0 -14 Td\n" for line in lines
        ) + b"ET"
        if compress:
            content = zlib.compress(content, 6)
            filt = b"/Filter /FlateDecode "
        else:
            filt = b""
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R >>".encode()
        )
        objs.append(
            b"<< " + filt + f"/Length {len(content)} >>".encode()
            + b"\nstream\n" + content + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for idx, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{idx} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def read_pages_pdf(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan ``*.pdf`` files into the authoritative pages shape: ``html``
    carries the raw PDF bytes, ``text`` the extracted reading-order text.
    One task per file (binaryFile); extraction is Arrow-batched."""
    return spark.read.format("binaryFile").load(path_glob).select(
        # file scans report every column nullable; a path never is, and
        # the coalesce restores PAGES_SCHEMA's non-null url
        F.coalesce("path", F.lit("")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("content").alias("html"),
        extract_pdf_udf("content").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )

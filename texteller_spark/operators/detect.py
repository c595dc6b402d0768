"""Span detection: raw page bytes → ordered math/text spans with exact offsets.

This is the engine's analog of the reference's two detector stages —
RT-DETR formula-region detection (``/root/reference/src/models/det_model/
inference.py:177-195``) and PaddleOCR DB text detection (``predict_det.py:
132-196``) — re-expressed as DOM/byte-stream heuristics over HTML, fused
into ONE pass so math spans are "masked out" of the text stream by
construction (the reference masks formula bboxes before text detection,
``mix_inference.py:20-24,166``; here the same disjointness is structural).

Contract
--------
* ``char_start``/``char_end`` are offsets into the *decoded* document string
  (UTF-8, falling back to latin-1 — the robust-decode analog of
  ``ocr_model/utils/helpers.py:6-26``).
* ``kind`` ∈ {isolated, embedding, text}; labels byte-compatible with the
  reference detector (``infer_cfg.yml:25-27``).
* ``block_id`` groups spans that share a visual row (the ``same_row``
  analog, ``Bbox.py:45-53``): a run of content not separated by a
  block-level tag. Exact, not fuzzy — offsets in the byte domain are exact.
* Math spans with detection confidence < 0.5 (the reference's
  ``draw_threshold``) are *not* emitted as math — their bytes remain part of
  the surrounding text run (e.g. ``$5 and $10``).
* Text-span ``raw`` is the concatenation of the run's text nodes (inline
  tags stripped); math-span ``raw`` is the exact document slice.

No Spark here: these are pure kernels. The span kernel in
``plans/pipeline.py`` runs :func:`detect_document` inside the one span UDF
and keeps the spans at confidence ≥ 0.5 (P1).
"""

from __future__ import annotations

import gzip
import re
import zlib
from typing import NamedTuple

from ..schema import DETECT_CONF_THRESHOLD

__all__ = [
    "Span",
    "decode_page",
    "detect_document",
    "safe_split_points",
    "chunk_document",
]


class Span(NamedTuple):
    span_id: int
    block_id: int
    kind: str  # isolated | embedding | text
    char_start: int
    char_end: int
    confidence: float
    raw: str


#: subtrees whose text never reaches the extraction (boilerplate strip —
#: the DB-detector analog: only main-content regions produce text boxes)
_SUPPRESS_TAGS = frozenset(
    "script style head header nav footer aside noscript svg template iframe "
    "form button select option object embed".split()
)

#: void elements — never open a subtree
_VOID_TAGS = frozenset(
    "br hr img meta link input area base col source track wbr".split()
)

#: tags that delimit a visual row / block (same_row boundary)
_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol table thead tbody tr td th br hr "
    "blockquote pre section article main figure figcaption dl dt dd "
    "address center body html".split()
)

_TAG_RE = re.compile(r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<[^>]*>", re.DOTALL)
_TAG_NAME_RE = re.compile(r"<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)")
_MATH_CLOSE_RE = re.compile(r"</\s*math\s*>", re.IGNORECASE)
_MATH_DISPLAY_RE = re.compile(r"""display\s*=\s*["']?\s*block""", re.IGNORECASE)

#: TeX math inside a text node. Display forms may span lines; the
#: single-dollar form is line-local and dollar-free inside (documented
#: limitation: no ``\$`` inside ``$…$``).
_MATH_RE = re.compile(
    r"(?<!\\)\$\$.+?(?<!\\)\$\$"
    r"|\\\[.+?\\\]"
    r"|\\\(.+?\\\)"
    r"|(?<!\\)\$(?!\$)[^$\n]+?(?<!\\)\$",
    re.DOTALL,
)

#: inner content that makes a single-dollar match look like real TeX
_TEXY_RE = re.compile(r"[\\^_={}]")

#: charset declaration in the document head (``<meta charset=…>`` or the
#: http-equiv Content-Type form) — sniffed from the leading bytes
_CHARSET_RE = re.compile(rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.IGNORECASE)


def decode_page(html: bytes | bytearray | memoryview | str | None) -> str:
    """Robust byte→str decode: transparent gzip (magic-byte sniff — WARC
    payloads are naturally gzipped, and shipping compressed bytes through
    the JVM→Python Arrow feed divides the measured per-JVM feed bottleneck
    by the compression ratio; see PLANS.md §2), then a declared
    ``<meta charset=…>`` sniffed from the leading bytes (browser-like;
    unknown/undecodable declarations are ignored), then UTF-8 falling back
    to latin-1 (which is total). Analog of the reference's multi-format
    image decode (``ocr_model/utils/helpers.py:6-26``)."""
    if html is None:
        return ""
    if isinstance(html, str):
        return html
    b = bytes(html)
    if b[:2] == b"\x1f\x8b":
        try:
            b = gzip.decompress(b)
        except (OSError, EOFError, zlib.error):
            # corrupt header (OSError), truncated stream (EOFError), or
            # corrupt deflate data (zlib.error) — real WARC archives contain
            # all three; degrade to treating the bytes as raw
            pass
    # BOM sniff (the 16-bit-image analog of the reference's multi-format
    # convert2rgb): BOMs beat any in-document declaration, per WHATWG
    if b[:3] == b"\xef\xbb\xbf":
        return b[3:].decode("utf-8", errors="replace")
    if b[:2] == b"\xff\xfe":
        return b[2:].decode("utf-16-le", errors="replace")
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", errors="replace")
    m = _CHARSET_RE.search(b[:2048])
    if m:
        try:
            return b.decode(m.group(1).decode("ascii"))
        except (LookupError, UnicodeDecodeError, ValueError):
            pass  # bogus or lying declaration: fall through to the sniff
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _classify_tex(m: re.Match) -> tuple[str, float]:
    """(kind, confidence) for a TeX math regex match."""
    s = m.group(0)
    if s.startswith("$$") or s.startswith("\\["):
        return "isolated", 1.0
    if s.startswith("\\("):
        return "embedding", 1.0
    inner = s[1:-1]
    return "embedding", (0.9 if _TEXY_RE.search(inner) else 0.3)


def detect_document(doc: str) -> list[Span]:
    """One linear pass over the decoded document: tokenize tags, suppress
    boilerplate subtrees, segment blocks, and surface math + merged text
    runs as ordered spans."""
    spans: list[Span] = []
    n = len(doc)
    block_id = 0
    suppress = 0  # depth inside suppressed subtrees

    # pending text run within the current block
    run_parts: list[str] = []
    run_start = -1
    run_end = -1

    def flush_run() -> None:
        nonlocal run_parts, run_start, run_end
        if run_parts:
            content = "".join(run_parts)
            if content.strip():
                spans.append(
                    Span(0, block_id, "text", run_start, run_end, 1.0, content)
                )
            run_parts = []
            run_start = -1
            run_end = -1

    def add_text(piece: str, start: int, end: int) -> None:
        nonlocal run_start, run_end
        if not piece:
            return
        if not run_parts:
            run_start = start
        run_parts.append(piece)
        run_end = end

    def scan_text_node(start: int, end: int) -> None:
        """Split a text node into math spans and surrounding text pieces."""
        node = doc[start:end]
        if "$" not in node and "\\(" not in node and "\\[" not in node:
            add_text(node, start, end)  # fast path: no math delimiters at all
            return
        pos = 0
        for m in _MATH_RE.finditer(node):
            kind, conf = _classify_tex(m)
            if conf < DETECT_CONF_THRESHOLD:
                continue  # stays part of the text run (mask-as-text)
            add_text(node[pos : m.start()], start + pos, start + m.start())
            flush_run()
            spans.append(
                Span(0, block_id, kind, start + m.start(), start + m.end(), conf, m.group(0))
            )
            pos = m.end()
        add_text(node[pos:], start + pos, end)

    i = 0
    while i < n:
        m = _TAG_RE.search(doc, i)
        text_end = m.start() if m else n
        if text_end > i and suppress == 0:
            scan_text_node(i, text_end)
        if m is None:
            break
        tag = m.group(0)
        i = m.end()
        if tag.startswith("<!") or tag.startswith("<?"):
            continue
        nm = _TAG_NAME_RE.match(tag)
        if nm is None:
            continue
        closing, name = nm.group(1) == "/", nm.group(2).lower()

        if name == "math" and not closing and suppress == 0:
            close = _MATH_CLOSE_RE.search(doc, m.end())
            end = close.end() if close else n
            flush_run()
            kind = "isolated" if _MATH_DISPLAY_RE.search(tag) else "embedding"
            spans.append(Span(0, block_id, kind, m.start(), end, 1.0, doc[m.start() : end]))
            i = end
            continue

        if name in _SUPPRESS_TAGS and name not in _VOID_TAGS:
            self_closing = tag.rstrip().endswith("/>")
            if closing:
                suppress = max(0, suppress - 1)
            elif not self_closing:
                suppress += 1
            continue

        if name in _BLOCK_TAGS and suppress == 0:
            flush_run()
            block_id += 1

    flush_run()
    return [s._replace(span_id=idx) for idx, s in enumerate(spans)]


def safe_split_points(doc: str, target_chars: int) -> list[int]:
    """Positions where the document may be cut without changing detection
    semantics (W5 — the byte-domain analog of the reference's sliced
    detection with overlap+rollback, ``/root/reference/src/models/
    thrid_party/paddleocr/infer/predict_det.py:198-297``).

    A safe point is the start of a BLOCK-level tag at suppress depth 0,
    outside ``<math>`` regions / comments / CDATA. At such a point the
    parser state is empty by construction: the pending text run was just
    flushed (block tags always flush), no math region is open, and no
    suppressed subtree is open — so detection restarted there produces
    exactly the spans the single-pass scan would. Because text runs flush
    at block tags and TeX math lives inside a single text node, NO span can
    straddle a safe point — which is why the pixel-domain overlap buffer
    degenerates to zero here (the reference needs overlap because image
    slices cut arbitrarily; semantic split points cut exactly).

    Points are spaced ≥ ``target_chars``; a document with no block tag in a
    stretch (e.g. plain text) simply yields no point there and the stretch
    stays one chunk — the unchunked fallback.
    """
    points: list[int] = []
    next_target = target_chars
    n = len(doc)
    suppress = 0
    i = 0
    while i < n:
        m = _TAG_RE.search(doc, i)
        if m is None:
            break
        tag = m.group(0)
        i = m.end()
        if tag.startswith("<!") or tag.startswith("<?"):
            continue
        nm = _TAG_NAME_RE.match(tag)
        if nm is None:
            continue
        closing, name = nm.group(1) == "/", nm.group(2).lower()
        if name == "math" and not closing and suppress == 0:
            close = _MATH_CLOSE_RE.search(doc, m.end())
            i = close.end() if close else n
            continue
        if name in _SUPPRESS_TAGS and name not in _VOID_TAGS:
            if closing:
                suppress = max(0, suppress - 1)
            elif not tag.rstrip().endswith("/>"):
                suppress += 1
            continue
        if name in _BLOCK_TAGS and suppress == 0 and m.start() >= next_target:
            points.append(m.start())
            next_target = m.start() + target_chars
    return points


def chunk_document(doc: str, target_chars: int) -> list[tuple[int, str]]:
    """Split a decoded document at safe points into ``(char_offset, piece)``
    chunks of ≈ ``target_chars``. Always yields at least one chunk (the
    whole document, possibly empty). ``detect_document`` over the pieces,
    with offsets re-projected, equals ``detect_document`` over the whole —
    pinned by an equivalence property test over every page class."""
    if len(doc) <= target_chars:
        return [(0, doc)]
    # int32 span/block ids are rebased by char offset downstream
    if len(doc) >= 1 << 31:
        raise ValueError("document exceeds int32 char-offset domain")
    bounds = [0] + safe_split_points(doc, target_chars) + [len(doc)]
    return [
        (bounds[k], doc[bounds[k] : bounds[k + 1]])
        for k in range(len(bounds) - 1)
        if bounds[k + 1] > bounds[k]
    ] or [(0, doc)]


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
``plans/pipeline.py`` runs :func:`detect_document` inside the one span UDF;
every span it gets already has confidence ≥ 0.5 (P1), so it filters nothing.
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

#: tags that delimit a visual row / block (same_row boundary)
_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol table thead tbody tr td th br hr "
    "blockquote pre section article main figure figcaption dl dt dd "
    "address center body html".split()
)


def _names(tags: frozenset) -> str:
    """``tags`` as an alternation, sorted: set order varies per process."""
    return "|".join(sorted(tags))


#: the one tag grammar: comments and CDATA first (their bodies are opaque),
#: then a named tag whose group says what it does — ``math``, ``sup``
#: (opens/closes a suppressed subtree; checked before ``blk``) or ``blk`` —
#: then any other ``<…>``, which only separates text nodes. Names match
#: ASCII-case-insensitively (``(?ai:…)``: plain ``(?i)`` would also fold
#: ``ſ`` into ``s`` and the Kelvin sign U+212A into ``k``) and end where
#: ``[a-zA-Z0-9]`` ends.
_TOKEN_RE = re.compile(
    r"<!--.*?-->|<!\[CDATA\[.*?\]\]>"
    r"|<\s*(?P<close>/?)\s*"
    rf"(?ai:(?P<math>math)|(?P<sup>{_names(_SUPPRESS_TAGS)})|(?P<blk>{_names(_BLOCK_TAGS)}))"
    r"(?![a-zA-Z0-9])[^>]*>"
    r"|<[^>]*>",
    re.DOTALL,
)
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


def _walk(doc: str):
    """Tokenize ``doc`` once and yield its depth-0 structure as
    ``(start, end, kind)`` in document order:

    * ``"text"`` — a text node ``doc[start:end]`` outside suppressed subtrees;
    * ``"block"`` — a block-level tag starting at ``start``;
    * ``"isolated"`` / ``"embedding"`` — a whole ``<math>…</math>`` element
      (to the end of the document when unclosed), by its ``display``.

    Suppressed subtrees nest by depth (a stray closing tag never goes
    below 0, a self-closing one opens nothing) and yield nothing; the
    tokenizer restarts only after a ``<math>`` element, whose body it skips.
    """
    n = len(doc)
    suppress = 0  # depth inside suppressed subtrees
    pos = 0
    while True:
        for m in _TOKEN_RE.finditer(doc, pos):
            start = m.start()
            if start > pos and not suppress:
                yield pos, start, "text"
            pos = m.end()
            tag = m.lastgroup
            if tag is None:
                continue
            if tag == "sup":
                if m.group("close"):
                    if suppress:
                        suppress -= 1
                elif doc[pos - 2] != "/":
                    suppress += 1
            elif suppress:
                continue
            elif tag == "blk":
                yield start, pos, "block"
            elif not m.group("close"):
                close = _MATH_CLOSE_RE.search(doc, pos)
                end = close.end() if close else n
                display = _MATH_DISPLAY_RE.search(doc, start, pos)
                yield start, end, ("isolated" if display else "embedding")
                pos = end
                break
        else:
            break
    if pos < n and not suppress:
        yield pos, n, "text"


def detect_document(doc: str) -> list[Span]:
    """One linear pass over the decoded document: tokenize tags, suppress
    boilerplate subtrees, segment blocks, and surface math + merged text
    runs as ordered spans."""
    spans: list[Span] = []
    block_id = 0

    # pending text run within the current block
    run_parts: list[str] = []
    run_start = run_end = -1

    def flush_run() -> None:
        nonlocal run_parts
        if run_parts:
            content = "".join(run_parts)
            if content.strip():
                spans.append(
                    Span(len(spans), block_id, "text", run_start, run_end, 1.0, content)
                )
            run_parts = []

    for start, end, kind in _walk(doc):
        if kind == "block":
            flush_run()
            block_id += 1
            continue
        if kind != "text":
            flush_run()
            spans.append(Span(len(spans), block_id, kind, start, end, 1.0, doc[start:end]))
            continue
        # a text node: split out its TeX math spans, the rest joins the run
        node = doc[start:end]
        if "$" in node or "\\(" in node or "\\[" in node:
            pos = 0
            for m in _MATH_RE.finditer(node):
                mkind, conf = _classify_tex(m)
                if conf < DETECT_CONF_THRESHOLD:
                    continue  # stays part of the text run (mask-as-text)
                if m.start() > pos:
                    if not run_parts:
                        run_start = start + pos
                    run_parts.append(node[pos : m.start()])
                    run_end = start + m.start()
                flush_run()
                spans.append(
                    Span(len(spans), block_id, mkind, start + m.start(), start + m.end(), conf, m.group(0))
                )
                pos = m.end()
            if pos == len(node):
                continue
            node, start = node[pos:], start + pos
        if not run_parts:
            run_start = start
        run_parts.append(node)
        run_end = end

    flush_run()
    return spans


def safe_split_points(doc: str, target_chars: int) -> list[int]:
    """Positions where the document may be cut without changing detection
    semantics (W5 — the byte-domain analog of the reference's sliced
    detection with overlap+rollback, ``/root/reference/src/models/
    thrid_party/paddleocr/infer/predict_det.py:198-297``).

    A safe point is the start of a BLOCK-level tag at suppress depth 0,
    outside ``<math>`` regions / comments / CDATA — a ``"block"`` event of
    the same tag walk :func:`detect_document` runs. At such a point the
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
    for start, _, kind in _walk(doc):
        if kind == "block" and start >= next_target:
            points.append(start)
            next_target = start + target_chars
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


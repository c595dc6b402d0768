"""Reference tag walk for ``texteller_spark.operators.detect``: the per-tag
loop that ``detect_document`` and ``safe_split_points`` ran before the
one-regex tokenizer, kept verbatim so a property test can hold the
tokenizer to it. Each tag costs a search, a name match, a ``.lower()`` and
set lookups here; it is a test oracle, not a kernel.

The tag-name sets, the ``<math>`` regexes and the TeX-math pieces are
imported, so the oracle tracks them; only the tag grammar is frozen.
"""

from __future__ import annotations

import re

from texteller_spark.operators.detect import (
    _BLOCK_TAGS,
    _MATH_CLOSE_RE,
    _MATH_DISPLAY_RE,
    _MATH_RE,
    _SUPPRESS_TAGS,
    Span,
    _classify_tex,
)
from texteller_spark.schema import DETECT_CONF_THRESHOLD

#: void elements — never open a subtree
_VOID_TAGS = frozenset(
    "br hr img meta link input area base col source track wbr".split()
)

_TAG_RE = re.compile(r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<[^>]*>", re.DOTALL)
_TAG_NAME_RE = re.compile(r"<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)")


def detect_document(doc: str) -> list[Span]:
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

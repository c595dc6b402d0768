"""Per-document ordered reassembly: recognized spans → markdown string.

Behavior-parity with the reference's assembly fold
(``/root/reference/src/models/utils/mix_inference.py:218-264``):

* spans are folded in reading order (here: ``char_start`` — exact in the
  byte domain, so the reference's fuzzy ``same_row`` reduces to
  ``block_id`` equality);
* a text span shaped ``(N)`` immediately following a display formula on the
  same row folds into ``\\tag{N}`` (multi-tag appends into the existing
  ``\\tag``), parity with ``mix_inference.py:224-240``;
* inline (``embedding``) spans are de-bolded and ``split``→``aligned``
  mapped at assembly time (``mix_inference.py:245-261``);
* rows are joined with a single space; the guard "previous" span shares the
  first span's row so no leading separator is emitted.

This fold is inherently sequential per url (it mutates the accumulated
string tail). The fused per-page kernel calls it on a page's spans; the
chunked plan calls it per url on the *sorted* collected span array —
``array_sort(collect_list(...))`` guarantees order regardless of
partitioning (SURVEY.md §7.3). The Spark UDFs live in ``plans/pipeline.py``.
"""

from __future__ import annotations

import re
from typing import Sequence

from ..functions.katex import debold_inline

__all__ = ["assemble_document"]

_TAG_TAIL_RE = re.compile(r"\\tag\{.*\}$")


def _fold_tag(md: str, tag_text: str) -> str:
    """Fold an equation number into the trailing ``$$…$$\\n\\n`` block."""
    t = tag_text.strip()
    if t.startswith("(") and t.endswith(")"):
        t = t[1:-1]
    if _TAG_TAIL_RE.search(md[:-4]) is not None:
        return md[:-5] + f", {t}" + "}" + md[-4:]
    return md[:-4] + f"\\tag{{{t}}}" + md[-4:]


def assemble_document(spans: Sequence) -> str:
    """Fold recognized spans into the final extracted string. Each span is
    read by key (``char_start``, ``block_id``, ``kind``, ``content``): a
    kernel dict or a Spark ``Row``."""
    items = sorted(
        ((s["char_start"], s["block_id"], s["kind"], s["content"]) for s in spans),
        key=lambda t: t[0],
    )
    if not items:
        return ""

    md = ""
    prev_block, prev_kind = items[0][1], "guard"
    for _, block, kind, content in items:
        same_row = block == prev_block
        if prev_kind == "isolated" and kind == "text" and same_row:
            md = _fold_tag(md, content)
            # tag text is consumed; fold target stays the display block
            continue
        if not same_row:
            md += " "
        if kind == "embedding":
            # content is ' $…$ '-wrapped; de-bold the inside, re-wrap tight
            content = debold_inline(content)
            inner = content[2:-2].strip() if (
                content.startswith(" $") and content.endswith("$ ")
            ) else content.strip().strip("$")
            content = " $" + inner + "$ "
        md += content
        prev_block, prev_kind = block, kind
    return md.strip()


"""Kernel self times, timed in this process around the program's public
per-page operators, over a sample of a workload's pages.

The composition is the fused extraction kernel's: decode, detect, drop
spans under the confidence threshold, recognize each span, assemble.
"""

from __future__ import annotations

from time import perf_counter

KINDS = ("text", "tex", "mathml")


def span_kind(kind: str, raw: str) -> str:
    if kind == "text":
        return "text"
    return "mathml" if raw.lstrip().startswith("<") else "tex"


def time_kernel(htmls: list[bytes]) -> dict:
    """Seconds per 1000 pages for each kernel layer, and span counts by
    kind per 1000 pages."""
    from texteller_spark.operators.assemble import assemble_document
    from texteller_spark.operators.detect import decode_page, detect_document
    from texteller_spark.operators.recognize import recognize_span
    from texteller_spark.schema import DETECT_CONF_THRESHOLD

    t = dict.fromkeys(("decode", "detect", "assemble", *KINDS), 0.0)
    spans = dict.fromkeys(KINDS, 0)
    for html in htmls:
        t0 = perf_counter()
        doc = decode_page(html)
        t1 = perf_counter()
        found = detect_document(doc)
        t["decode"] += t1 - t0
        t["detect"] += perf_counter() - t1
        recognized = []
        for s in found:
            if s.confidence < DETECT_CONF_THRESHOLD:
                continue
            k = span_kind(s.kind, s.raw)
            d = s._asdict()
            t0 = perf_counter()
            d["content"] = recognize_span(s.kind, s.raw)
            t[k] += perf_counter() - t0
            spans[k] += 1
            recognized.append(d)
        t0 = perf_counter()
        assemble_document(recognized)
        t["assemble"] += perf_counter() - t0
    per_k = 1000.0 / max(len(htmls), 1)
    total = sum(t.values())
    return {
        "detect.decode_s_per_kdoc": t["decode"] * per_k,
        "detect.detect_s_per_kdoc": t["detect"] * per_k,
        "detect.spans_text": spans["text"] * per_k,
        "detect.spans_tex": spans["tex"] * per_k,
        "detect.spans_mathml": spans["mathml"] * per_k,
        "recognize.text_s_per_kdoc": t["text"] * per_k,
        "recognize.tex_s_per_kdoc": t["tex"] * per_k,
        "recognize.mathml_s_per_kdoc": t["mathml"] * per_k,
        "assemble.s_per_kdoc": t["assemble"] * per_k,
        "pipeline.kernel_s_per_kdoc": total * per_k,
        "kernel.detect_pct": 100.0 * t["detect"] / total if total else 0.0,
        "kernel.recognize_math_pct": (
            100.0 * (t["tex"] + t["mathml"]) / total if total else 0.0
        ),
    }

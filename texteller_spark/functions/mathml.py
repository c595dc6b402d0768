"""Deterministic MathML → LaTeX transliteration (pure Python, Spark-free).

This is the recognition stand-in for the reference's TrOCR image→LaTeX model
(``/root/reference/src/models/ocr_model/utils/inference.py:13-49``): where
the reference recognizes pixels into LaTeX tokens, our byte-stream engine
recognizes MathML element sources into LaTeX deterministically.  TeX spans
pass through recognition unchanged (delimiters stripped) — see
``texteller_spark/operators/recognize.py``.

The transliterator is total: unparseable input degrades to its visible text
content, never raises.
"""

from __future__ import annotations

import re
from xml.etree import ElementTree

__all__ = ["mathml_to_latex"]

# frequent named entities in web MathML (beyond XML's builtin 5)
_ENTITIES = {
    "alpha": "α", "beta": "β", "gamma": "γ", "delta": "δ", "epsilon": "ε",
    "zeta": "ζ", "eta": "η", "theta": "θ", "iota": "ι", "kappa": "κ",
    "lambda": "λ", "mu": "μ", "nu": "ν", "xi": "ξ", "pi": "π", "rho": "ρ",
    "sigma": "σ", "tau": "τ", "phi": "φ", "chi": "χ", "psi": "ψ",
    "omega": "ω", "Gamma": "Γ", "Delta": "Δ", "Theta": "Θ", "Lambda": "Λ",
    "Xi": "Ξ", "Pi": "Π", "Sigma": "Σ", "Phi": "Φ", "Psi": "Ψ",
    "Omega": "Ω", "infin": "∞", "infty": "∞", "times": "×", "divide": "÷",
    "pm": "±", "plusmn": "±", "le": "≤", "leq": "≤", "ge": "≥", "geq": "≥",
    "ne": "≠", "neq": "≠", "equiv": "≡", "approx": "≈", "rarr": "→",
    "larr": "←", "harr": "↔", "rArr": "⇒", "lArr": "⇐", "sum": "∑",
    "prod": "∏", "int": "∫", "part": "∂", "partial": "∂", "nabla": "∇",
    "isin": "∈", "notin": "∉", "sub": "⊂", "sup": "⊃", "sube": "⊆",
    "supe": "⊇", "cup": "∪", "cap": "∩", "forall": "∀", "exist": "∃",
    "empty": "∅", "cdot": "⋅", "sdot": "⋅", "middot": "·", "minus": "−",
    "prime": "′", "radic": "√", "prop": "∝", "ang": "∠", "perp": "⊥",
    "oplus": "⊕", "otimes": "⊗", "nbsp": " ", "ensp": " ", "emsp": " ",
    "thinsp": " ", "ApplyFunction": "", "InvisibleTimes": "",
    "it": "⁢", "af": "⁡",
}

# unicode → TeX command for operators/symbols
_UNI2TEX = {
    "×": r"\times", "÷": r"\div", "±": r"\pm", "∓": r"\mp", "⋅": r"\cdot",
    "·": r"\cdot", "−": "-", "≤": r"\leq", "≥": r"\geq", "≠": r"\neq",
    "≡": r"\equiv", "≈": r"\approx", "∼": r"\sim", "∝": r"\propto",
    "→": r"\rightarrow", "←": r"\leftarrow", "↔": r"\leftrightarrow",
    "⇒": r"\Rightarrow", "⇐": r"\Leftarrow", "⇔": r"\Leftrightarrow",
    "↦": r"\mapsto", "∑": r"\sum", "∏": r"\prod", "∫": r"\int",
    "∮": r"\oint", "∂": r"\partial", "∇": r"\nabla", "√": r"\sqrt",
    "∞": r"\infty", "∈": r"\in", "∉": r"\notin", "⊂": r"\subset",
    "⊃": r"\supset", "⊆": r"\subseteq", "⊇": r"\supseteq", "∪": r"\cup",
    "∩": r"\cap", "∖": r"\setminus", "∀": r"\forall", "∃": r"\exists",
    "∅": r"\emptyset", "∠": r"\angle", "⊥": r"\perp", "∥": r"\parallel",
    "⊕": r"\oplus", "⊗": r"\otimes", "′": r"\prime", "…": r"\ldots",
    "⋯": r"\cdots", "α": r"\alpha", "β": r"\beta", "γ": r"\gamma",
    "δ": r"\delta", "ε": r"\epsilon", "ζ": r"\zeta", "η": r"\eta",
    "θ": r"\theta", "ι": r"\iota", "κ": r"\kappa", "λ": r"\lambda",
    "μ": r"\mu", "ν": r"\nu", "ξ": r"\xi", "π": r"\pi", "ρ": r"\rho",
    "σ": r"\sigma", "τ": r"\tau", "υ": r"\upsilon", "φ": r"\phi",
    "ϕ": r"\varphi", "χ": r"\chi", "ψ": r"\psi", "ω": r"\omega",
    "Γ": r"\Gamma", "Δ": r"\Delta", "Θ": r"\Theta", "Λ": r"\Lambda",
    "Ξ": r"\Xi", "Π": r"\Pi", "Σ": r"\Sigma", "Υ": r"\Upsilon",
    "Φ": r"\Phi", "Ψ": r"\Psi", "Ω": r"\Omega", "ℏ": r"\hbar",
    "ℓ": r"\ell", "ℜ": r"\Re", "ℑ": r"\Im", "ℵ": r"\aleph",
    "⁢": "", "⁡": "", "⁣": "", " ": " ",
}

_KNOWN_FUNCS = frozenset(
    "sin cos tan cot sec csc sinh cosh tanh coth arcsin arccos arctan "
    "log ln lg exp det dim ker deg gcd min max sup inf lim arg mod "
    "Pr hom".split()
)

_ACCENT2TEX = {
    "^": r"\hat", "ˆ": r"\hat", "¯": r"\bar", "‾": r"\overline",
    "~": r"\tilde", "˜": r"\tilde", "→": r"\vec", "⃗": r"\vec",
    "˙": r"\dot", "¨": r"\ddot", "⏞": r"\overbrace", "⏟": r"\underbrace",
}

_ENTITY_RE = re.compile(r"&([a-zA-Z][a-zA-Z0-9]*);")
_XMLNS_RE = re.compile(r'\sxmlns(:[a-zA-Z0-9]+)?\s*=\s*"[^"]*"')
_NSPREFIX_RE = re.compile(r"(</?)([a-zA-Z0-9]+):")


def _pre_clean(src: str) -> str:
    src = _XMLNS_RE.sub("", src)
    src = _NSPREFIX_RE.sub(r"\1", src)  # <m:mi> → <mi>
    src = _ENTITY_RE.sub(
        lambda m: _ENTITIES.get(m.group(1), m.group(0))
        if m.group(1) not in ("amp", "lt", "gt", "quot", "apos")
        else m.group(0),
        src,
    )
    return src


def _sym(text: str) -> str:
    """Map a leaf's character data to TeX tokens."""
    out = []
    for ch in text:
        out.append(_UNI2TEX.get(ch, ch))
    # re-join, keeping single spaces around commands
    res = ""
    for tok in out:
        if tok.startswith("\\") and res and not res.endswith(" "):
            res += tok + " "
        else:
            res += tok
    return res.strip() if res.strip() else res


def _group(s: str) -> str:
    """Brace-wrap unless a single atomic token."""
    s = s.strip()
    if len(s) == 1 or (s.startswith("\\") and " " not in s.rstrip()):
        return "{" + s + "}"
    return "{" + s + "}"


def _children_tex(el: ElementTree.Element) -> list[str]:
    return [_el_tex(c) for c in el]


def _el_tex(el: ElementTree.Element) -> str:
    tag = el.tag.lower()
    txt = (el.text or "").strip()
    kids = list(el)

    if tag in ("math", "mrow", "mstyle", "mpadded", "mphantom", "merror"):
        return " ".join(t for t in _children_tex(el) if t) if kids else _sym(txt)
    if tag == "semantics":
        return _el_tex(kids[0]) if kids else _sym(txt)
    if tag in ("annotation", "annotation-xml"):
        return ""
    if tag == "mi":
        if txt in _KNOWN_FUNCS:
            return "\\" + txt
        s = _sym(txt)
        return r"\mathrm{" + s + "}" if len(s) > 1 and not s.startswith("\\") else s
    if tag in ("mn", "mtext", "ms"):
        s = _sym(txt)
        if tag == "mtext" and s:
            return r"\text{" + s + "}"
        return s
    if tag == "mo":
        return _sym(txt)
    if tag == "mspace":
        return r"\;"
    if tag == "mfrac" and len(kids) == 2:
        a, b = _children_tex(el)
        return r"\frac" + _group(a) + _group(b)
    if tag == "msqrt":
        inner = " ".join(_children_tex(el)) if kids else _sym(txt)
        return r"\sqrt" + _group(inner)
    if tag == "mroot" and len(kids) == 2:
        base, idx = _children_tex(el)
        return r"\sqrt[" + idx + "]" + _group(base)
    if tag == "msup" and len(kids) == 2:
        base, sup = _children_tex(el)
        return base + "^" + _group(sup)
    if tag == "msub" and len(kids) == 2:
        base, sub = _children_tex(el)
        return base + "_" + _group(sub)
    if tag == "msubsup" and len(kids) == 3:
        base, sub, sup = _children_tex(el)
        return base + "_" + _group(sub) + "^" + _group(sup)
    if tag in ("mover", "munder") and len(kids) == 2:
        base, mark = _children_tex(el)
        raw_mark = "".join(kids[1].itertext()).strip()
        acc = _ACCENT2TEX.get(raw_mark)
        if acc:
            return acc + _group(base)
        op = "^" if tag == "mover" else "_"
        return base + op + _group(mark)
    if tag == "munderover" and len(kids) == 3:
        base, under, over = _children_tex(el)
        return base + "_" + _group(under) + "^" + _group(over)
    if tag == "mfenced":
        opener = el.get("open", "(")
        closer = el.get("close", ")")
        sep = el.get("separators", ",") or ","
        inner = (sep[0] + " ").join(_children_tex(el))
        return r"\left" + (opener or ".") + inner + r"\right" + (closer or ".")
    if tag == "mtable":
        rows = []
        for tr in kids:
            cells = [_el_tex(td) for td in tr]
            rows.append(" & ".join(cells))
        return r"\begin{matrix}" + r" \\ ".join(rows) + r"\end{matrix}"
    if tag in ("mtr", "mlabeledtr"):
        return " & ".join(_children_tex(el))
    if tag == "mtd":
        return " ".join(_children_tex(el)) if kids else _sym(txt)
    if tag == "mmultiscripts":
        return " ".join(t for t in _children_tex(el) if t)
    # unknown element: recurse through children / fall back to text
    if kids:
        return " ".join(t for t in _children_tex(el) if t)
    return _sym(txt)


def mathml_to_latex(src: str) -> str:
    """Transliterate a ``<math>…</math>`` element source to LaTeX.

    Total function: on parse failure, or nesting deeper than the recursive
    walk can go, returns the tag-stripped visible text.
    """
    cleaned = _pre_clean(src)
    try:
        tex = _el_tex(ElementTree.fromstring(cleaned))
    except (ElementTree.ParseError, RecursionError):
        stripped = re.sub(r"<[^>]*>?", " ", cleaned)  # also eats dangling tags
        return re.sub(r"\s+", " ", _sym(stripped)).strip()
    return re.sub(r"\s+", " ", tex).strip()

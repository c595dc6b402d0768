"""LaTeX → KaTeX canonicalization kernel (pure Python, Spark-free).

This module is the byte-identity-critical core of the extraction engine:
every math span recognized from a page is normalized through
:func:`latex_to_katex` before assembly, and the per-url output contract
("byte-identical extracted text per url") depends on these functions being
exactly reproducible and deterministic.

Semantics are behavior-parity with the reference normalizer
(``/root/reference/src/models/ocr_model/utils/to_katex.py:89-180`` and the
balanced-brace rewriter at ``to_katex.py:4-86``); the implementation here is
original.  Golden outputs for the reference's 35-formula fixture corpus are
pinned in ``tests/data/katex_goldens.json`` and enforced by
``tests/test_katex.py``.

Design notes
------------
* These are pure string functions.  On the Spark side they run inside the
  fused per-page kernel, which the Arrow UDFs in
  ``texteller_spark/plans/pipeline.py`` (``schema.arrow_row_udf``) apply to
  whole Arrow batches — never a pickled row-at-a-time ``BatchEvalPython``
  UDF.
* :func:`latex_to_katex` is an ordered program of rewrite steps kept as
  data (``_PROGRAM_HEAD``/``_PROGRAM_TAIL``).  One compiled alternation of
  every step's needle (``_GATE_RE``) runs first, so a formula no step can
  change costs one C scan instead of 55 steps.
* ``rewrite_braced`` cannot be expressed with ``regexp_replace`` because the
  argument is brace-balanced with backslash escapes and the rewrite recurses
  to a fixpoint; this is the one genuinely custom kernel the engine owns
  (SURVEY.md §7.2).
"""

from __future__ import annotations

import re

__all__ = [
    "matching_delimiter",
    "rewrite_braced",
    "rewrite_all",
    "strip_plain_dollar_wrappers",
    "latex_to_katex",
    "debold_inline",
    "wrap_span",
]


def matching_delimiter(s: str, start: int, open_ch: str, close_ch: str) -> int:
    """Index of the ``close_ch`` matching the ``open_ch`` at ``s[start]``.

    Honors backslash escapes (``\\}`` does not close, ``\\\\}`` does) and
    nesting.  Returns ``-1`` when the delimiter is never balanced.  When
    ``open_ch == close_ch`` (e.g. ``$``) the first unescaped occurrence
    closes.
    """
    depth = 1
    esc = False
    for j in range(start + 1, len(s)):
        c = s[j]
        if esc:
            esc = False
        elif c == "\\":
            esc = True
        elif c == close_ch:
            depth -= 1
            if depth == 0:
                return j
        elif c == open_ch:
            depth += 1
    return -1


def rewrite_braced(
    s: str,
    cmd: str,
    new_cmd: str,
    open_ch: str,
    close_ch: str,
    new_open: str,
    new_close: str,
) -> str:
    """Rewrite every ``cmd<open>inner<close>`` into ``new_cmd<new_open>inner<new_close>``.

    Single left-to-right pass; occurrences of ``cmd`` *not* followed by
    ``open_ch`` are left untouched (and not rescanned).  An occurrence whose
    delimiter never balances degrades to emitting ``new_cmd + new_open`` and
    resuming the scan just past the unbalanced opener (the reference's
    unbalanced-surrogate fallback).  After the pass, if the command name
    changed and the needle is still present (it may have been *inside* a
    rewritten argument), the rewrite recurses to a fixpoint.
    """
    out: list[str] = []
    i, n, k = 0, len(s), len(cmd)
    while i < n:
        if not s.startswith(cmd, i):
            out.append(s[i])
            i += 1
            continue
        arg = i + k
        if arg < n and s[arg] == open_ch:
            end = matching_delimiter(s, arg, open_ch, close_ch)
            if end != -1:
                out.append(new_cmd)
                out.append(new_open)
                out.append(s[arg + 1 : end])
                out.append(new_close)
                i = end + 1
            else:
                # unbalanced: drop the opener, keep scanning the tail
                out.append(new_cmd)
                out.append(new_open)
                i = arg + 1
        else:
            out.append(s[i:arg])
            i = arg
    res = "".join(out)
    if cmd != new_cmd and (cmd + open_ch) in res:
        return rewrite_braced(res, cmd, new_cmd, open_ch, close_ch, new_open, new_close)
    return res


def rewrite_all(
    s: str,
    cmd: str,
    new_cmd: str,
    open_ch: str,
    close_ch: str,
    new_open: str,
    new_close: str,
) -> str:
    """Apply :func:`rewrite_braced` at every occurrence, innermost-first.

    Occurrence start offsets are collected up front and processed
    right-to-left, each time rewriting the suffix beginning at that offset —
    so nested arguments are rewritten before their enclosing command sees
    them (parity with the reference's ``change_all``).  A string without
    ``cmd + open_ch`` is returned as is; that probe is the step's needle in
    :func:`latex_to_katex`'s gate.
    """
    needle = cmd + open_ch
    if needle not in s:
        return s
    starts = []
    p = s.find(needle)
    while p != -1:
        starts.append(p)
        p = s.find(needle, p + 1)
    buf = list(s)
    for p in reversed(starts):
        buf[p:] = rewrite_braced(
            "".join(buf[p:]), cmd, new_cmd, open_ch, close_ch, new_open, new_close
        )
    return "".join(buf)


_DOLLAR_RUN = re.compile(r"\\[a-zA-Z]+\$.*?\$|\$.*?\$")
_TEX_CMD_PREFIX = re.compile(r"\\[a-zA-Z]+")


def strip_plain_dollar_wrappers(content: str) -> str:
    """Drop ``$…$`` wrappers that are not glued to a TeX command.

    A match like ``\\mbox$x$`` is protected (the ``$`` belongs to the
    command's rendering); a bare ``$x$`` becomes `` x ``.  Replacement is by
    string value, so every occurrence of an unprotected match is rewritten.
    """
    for m in _DOLLAR_RUN.findall(content):
        if not _TEX_CMD_PREFIX.match(m):
            content = content.replace(m, " " + m.strip("$") + " ")
    return content


# --- the ordered normalization program ------------------------------------
# Each step below mirrors one rewrite branch of the reference chain
# (to_katex.py:92-178); order is semantically significant.

_SIZE_CMDS = (
    r"\Huge",
    r"\huge",
    r"\LARGE",
    r"\Large",
    r"\large",
    r"\normalsize",
    r"\small",
    r"\footnotesize",
    r"\tiny",
)

_DELIM_SIZERS = (
    r"\left",
    r"\middle",
    r"\right",
    r"\big",
    r"\Big",
    r"\bigg",
    r"\Bigg",
    r"\bigl",
    r"\Bigl",
    r"\biggl",
    r"\Biggl",
    r"\bigm",
    r"\Bigm",
    r"\biggm",
    r"\Biggm",
    r"\bigr",
    r"\Bigr",
    r"\biggr",
    r"\Biggr",
)

_RE_HBOX_TO = re.compile(r"\\hbox to ?-? ?\d+\.\d+(pt)?\{")
_RE_RAISE = re.compile(r"\\raise ?-? ?\d+\.\d+(pt)?")
_RE_MAKEBOX = re.compile(r"\\makebox ?\[\d+\.\d+(pt)?\]\{")
_RE_RAISEBOX = re.compile(r"\\raisebox\{-? ?\d+\.\d+(pt)?\}\{")
_RE_SCALEBOX = re.compile(r"\\scalebox\{-? ?\d+\.\d+(pt)?\}\{")
_RE_DISPLAY_BRACKETS = re.compile(r"\\\[(.*?)\\\]")
# Every step pattern starts with a literal backslash (a run is written
# ``\\,(?:\\,)*``, not ``(\\,)+``), so ``re`` factors that backslash out of
# the gate's alternation below and skips to candidate positions in C.
_RE_THIN_SPACES = [
    re.compile(r"\\,(?:\\,)*"),
    re.compile(r"\\!(?:\\!)*"),
    re.compile(r"\\;(?:\\;)*"),
    re.compile(r"\\:(?:\\:)*"),
]
_RE_VSPACE = re.compile(r"\\vspace\{.*?}")
_RE_TEXT_RUN = re.compile(r"\\text\{[^}]*\}\s*(?:\\text\{[^}]*\}\s*)+")
_RE_TEXT_ARG = re.compile(r"\\text\{([^}]*)\}")
_RE_BF = re.compile(r"\\bf ")
_RE_MULTISPACE = re.compile(r" +")


def _merge_text_run(m: re.Match) -> str:
    merged = "".join(_RE_TEXT_ARG.findall(m.group(0)))
    return "\\text{" + merged + "}"


#: the program before the trailing-``\newline`` drop, in order. A step is
#: either a braced rewrite — the arguments of :func:`rewrite_all`, ``(cmd,
#: new_cmd, open_ch, close_ch, new_open, new_close)`` — or a regex rewrite
#: ``(pattern, replacement)``.
_PROGRAM_HEAD = (
    (r"\mbox ", r" ", "{", "}", "", ""),
    (r"\mbox", r" ", "{", "}", "", ""),
    (_RE_HBOX_TO, r"\\hbox{"),
    (r"\hbox", r" ", "{", "}", "", " "),
    (_RE_RAISE, " "),
    (_RE_MAKEBOX, r"\\makebox{"),
    (r"\makebox", r" ", "{", "}", "", " "),
    (_RE_RAISEBOX, r"\\raisebox{"),
    (_RE_SCALEBOX, r"\\scalebox{"),
    (r"\scalebox", r" ", "{", "}", "", " "),
    (r"\raisebox", r" ", "{", "}", "", " "),
    (r"\vbox", r" ", "{", "}", "", " "),
    *((cmd, cmd, "$", "$", "{", "}") for cmd in _SIZE_CMDS),
    (r"\boldmath ", r"\bm", "{", "}", "{", "}"),
    (r"\boldmath", r"\bm", "{", "}", "{", "}"),
    (r"\boldmath ", r"\bm", "$", "$", "{", "}"),
    (r"\boldmath", r"\bm", "$", "$", "{", "}"),
    (r"\scriptsize", r"\scriptsize", "$", "$", "{", "}"),
    (r"\emph", r"\textit", "{", "}", "{", "}"),
    (r"\emph ", r"\textit", "{", "}", "{", "}"),
    *((cmd, cmd, "{", "}", "", "") for cmd in _DELIM_SIZERS),
    (_RE_DISPLAY_BRACKETS, r"\1\\newline"),
)

#: the program after the trailing-``\newline`` drop; plain ``$`` wrappers
#: are stripped after it (:func:`strip_plain_dollar_wrappers`)
_PROGRAM_TAIL = (
    *((pat, " ") for pat in _RE_THIN_SPACES),
    (_RE_VSPACE, ""),
    (_RE_TEXT_RUN, _merge_text_run),
    (_RE_BF, ""),
)


def _needle(step: tuple) -> str:
    """The regex that matches wherever ``step`` can change a string: the
    probe :func:`rewrite_all` makes, or the step's own pattern."""
    if len(step) == 2:
        return step[0].pattern
    cmd, _, open_ch = step[:3]
    return re.escape(cmd + open_ch)


#: one probe for the whole program: a formula it does not match, and with
#: no ``$`` for :func:`strip_plain_dollar_wrappers`, is changed by no step,
#: so only the ``\newline`` drop, space collapse and strip apply
_GATE_RE = re.compile("|".join(map(_needle, _PROGRAM_HEAD + _PROGRAM_TAIL)))


def _run(r: str, steps: tuple) -> str:
    for step in steps:
        r = step[0].sub(step[1], r) if len(step) == 2 else rewrite_all(r, *step)
    return r


def latex_to_katex(formula: str) -> str:
    """Normalize raw LaTeX to KaTeX-compatible form (reference parity).

    The rewrite program, in order: unwrap ``\\mbox``/``\\hbox``/``\\raise``/
    ``\\makebox``/``\\raisebox``/``\\scalebox``/``\\vbox``; re-surround size
    commands; ``\\boldmath``→``\\bm``; ``\\emph``→``\\textit``; strip braces
    after ``\\left``/``\\right``/``\\big…``; ``\\[…\\]``→``…\\newline``; drop a
    trailing ``\\newline``; collapse thin-space runs; drop ``\\vspace``; merge
    adjacent ``\\text{}``; drop ``\\bf``; strip plain ``$`` wrappers; collapse
    spaces. Only a formula that :data:`_GATE_RE` matches runs the rewrites.
    """
    r = formula
    gated = "$" in r or _GATE_RE.search(r) is not None
    if gated:
        r = _run(r, _PROGRAM_HEAD)
    if r.endswith(r"\newline"):
        r = r[: -len(r"\newline")]
    if gated:
        r = strip_plain_dollar_wrappers(_run(r, _PROGRAM_TAIL))
    return _RE_MULTISPACE.sub(" ", r).strip()


_INLINE_DEBOLD_CMDS = (
    r"\bm",
    r"\boldsymbol",
    r"\textit",
    r"\textbf",
    r"\textbf",  # applied twice in the reference assembly; kept for parity
    r"\mathbf",
)


def debold_inline(content: str) -> str:
    """Strip bold/italic wrappers from an inline formula's content and map
    ``split`` environments to ``aligned`` (assembly-time inline cleanup,
    parity with ``mix_inference.py:245-259``)."""
    for cmd in _INLINE_DEBOLD_CMDS:
        content = rewrite_all(content, cmd, " ", "{", "}", "", " ")
    content = content.replace(r"\begin{split}", r"\begin{aligned}")
    content = content.replace(r"\end{split}", r"\end{aligned}")
    content = _RE_MULTISPACE.sub(" ", content)
    return content


def wrap_span(kind: str, content: str) -> str:
    """Wrap normalized math for markdown assembly: inline (``embedding``)
    gets `` $…$ ``, display (``isolated``) gets ``\\n\\n$$…$$\\n\\n``
    (parity with ``mix_inference.py:210-215``)."""
    if kind == "embedding":
        return " $" + content + "$ "
    if kind == "isolated":
        return "\n\n$$" + content + "$$\n\n"
    return content

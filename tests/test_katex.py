"""Golden + property tests for the KaTeX normalization kernel.

Goldens in tests/data/katex_goldens.json were produced by running the
reference normalizer (/root/reference/src/models/ocr_model/utils/to_katex.py)
over the 35-formula fixture corpus (formulas.jsonl) plus branch-coverage
inputs via tools/gen_katex_goldens.py; byte equality here IS the per-span
identity contract.
"""

import json
from pathlib import Path

import pytest

from texteller_spark.functions import katex
from texteller_spark.functions.katex import (
    debold_inline,
    latex_to_katex,
    matching_delimiter,
    rewrite_all,
    strip_plain_dollar_wrappers,
    wrap_span,
)

GOLDENS = json.loads(
    (Path(__file__).parent / "data" / "katex_goldens.json").read_text()
)


@pytest.mark.parametrize(
    "case", GOLDENS["to_katex"], ids=[c["id"] for c in GOLDENS["to_katex"]]
)
def test_to_katex_golden(case):
    assert latex_to_katex(case["raw"]) == case["expected"]


@pytest.mark.parametrize("case", GOLDENS["debold_inline"])
def test_debold_golden(case):
    assert debold_inline(case["raw"]) == case["expected"]


@pytest.mark.parametrize("case", GOLDENS["rewrite_all"])
def test_rewrite_all_golden(case):
    assert rewrite_all(case["raw"], *case["args"]) == case["expected"]


@pytest.mark.parametrize(
    "case", GOLDENS["to_katex"], ids=[c["id"] for c in GOLDENS["to_katex"]]
)
def test_to_katex_idempotent_on_corpus(case):
    """Second application is a fixpoint on the golden corpus (SURVEY §5.2.4)."""
    once = latex_to_katex(case["raw"])
    assert latex_to_katex(once) == once


def test_matching_delimiter_basic():
    assert matching_delimiter("{ab}", 0, "{", "}") == 3
    assert matching_delimiter("{a{b}c}", 0, "{", "}") == 6
    assert matching_delimiter(r"{a\}b}", 0, "{", "}") == 5
    assert matching_delimiter(r"{a\\}", 0, "{", "}") == 4
    assert matching_delimiter("{never", 0, "{", "}") == -1
    assert matching_delimiter("$a$", 0, "$", "$") == 2


def test_rewrite_braced_not_followed_by_open():
    # cmd not followed by its opener is left verbatim, not rescanned
    assert rewrite_all(r"\cmdX \cmd{y}", r"\cmd", r"\new", "{", "}", "[", "]") == (
        r"\cmdX \new[y]"
    )


def test_strip_plain_dollar_wrappers():
    assert strip_plain_dollar_wrappers("a $x$ b") == "a  x  b"
    # command-glued dollars are protected
    assert strip_plain_dollar_wrappers(r"\mbox$x$") == r"\mbox$x$"


def test_wrap_span():
    assert wrap_span("embedding", "x") == " $x$ "
    assert wrap_span("isolated", "x") == "\n\n$$x$$\n\n"
    assert wrap_span("text", "x") == "x"


def test_hypothesis_like_fuzz_never_crashes():
    """Kernel must be total over arbitrary junk (detection can hand it
    anything a web page contains)."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis unavailable")

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="\\{}$abmox \t\n[]()^_", max_size=80))
    def run(s):
        out = latex_to_katex(s)
        assert isinstance(out, str)
        assert latex_to_katex(out) is not None

    run()


# --- the gate in front of the ordered program -------------------------------

_STEPS = katex._PROGRAM_HEAD + katex._PROGRAM_TAIL
_BRACED = [s for s in _STEPS if len(s) == 6]
_REGEX = [s[0] for s in _STEPS if len(s) == 2]


def test_gate_matches_every_braced_needle():
    """Each braced step's probe (``cmd + open_ch``, the one
    ``rewrite_all`` makes) matches the gate, read from the program itself."""
    for cmd, _, open_ch, *_ in _BRACED:
        assert katex._GATE_RE.search(cmd + open_ch), cmd + open_ch


@pytest.mark.parametrize(
    "pattern", [*_REGEX, katex._DOLLAR_RUN], ids=lambda p: p.pattern
)
def test_gate_matches_every_regex_step(pattern):
    """Every string a regex step (or the ``$``-wrapper strip) can rewrite
    passes the gate (``"$" in r`` or ``_GATE_RE``)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.from_regex(pattern))
    def run(s):
        assert "$" in s or katex._GATE_RE.search(s)

    run()


_FRAGMENTS = sorted(
    {cmd for cmd, *_ in _BRACED}
    | {"{", "}", "$", " ", "  ", "x", "1.5", "pt", "-", "\\", "[", "]", "\n"}
    | {r"\[", r"\]", r"\newline", r"\,", r"\!", r"\;", r"\:", r"\vspace"}
    | {r"\text", r"\bf ", r"\bf", r"\hbox to ", r"\raise ", r"\makebox "}
    | {r"\frac", r"\rightarrow", r"\textit", "^", "_"}
)


def test_gate_skips_only_what_the_program_leaves_alone():
    """Gated and ungated runs agree: a formula the gate turns away would
    not have been changed by any step of the ordered program."""
    import re
    from unittest import mock

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=500, deadline=None)
    @given(st.lists(st.sampled_from(_FRAGMENTS), max_size=12).map("".join))
    def run(s):
        with mock.patch.object(katex, "_GATE_RE", re.compile("")):
            ungated = latex_to_katex(s)
        assert latex_to_katex(s) == ungated

    run()

"""The one-regex tag tokenizer in ``detect.py`` against the per-tag loop it
replaced (``tests/detect_reference.py``): same spans and same safe split
points on generated tag soup."""

from hypothesis import given, settings
from hypothesis import strategies as st

import detect_reference as ref
from texteller_spark.operators.detect import (
    _BLOCK_TAGS,
    _SUPPRESS_TAGS,
    detect_document,
    safe_split_points,
)
from texteller_spark.schema import DETECT_CONF_THRESHOLD

#: every name the tokenizer classifies, plus near misses: inline tags,
#: prefixes and extensions of block names, namespaced ``math``, and names
#: that only a Unicode case fold would turn into a classified one
#: (``ſcript`` → ``script``, ``bloc\u212aquote``, U+212A being the Kelvin sign)
_NAMES = sorted(_SUPPRESS_TAGS | _BLOCK_TAGS) + [
    "math", "mathml", "m:math", "b", "em", "span", "a", "mi", "img",
    "p1", "pa", "h7", "thx", "divx", "ſcript", "ſtyle", "bloc\u212aquote", "br2",
]


def _cased(name: str, mask: int) -> str:
    return "".join(c.upper() if mask >> k & 1 else c for k, c in enumerate(name))


_NAME = st.builds(_cased, st.sampled_from(_NAMES), st.integers(0, 1 << 12))
_WS = st.sampled_from(["", " ", "\n", "\t"])
_ATTR = st.sampled_from(
    [
        "",
        ' class="x"',
        ' title="<p>"',
        " title='</script>'",
        ' display="block"',
        " display=block",
        " data-x='$a$'",
        " /",
    ]
)
_TAG = st.builds(
    lambda ws1, close, ws2, name, attr, end: f"<{ws1}{close}{ws2}{name}{attr}{end}",
    _WS, st.sampled_from(["", "/"]), _WS, _NAME, _ATTR, st.sampled_from([">", "/>", " />"]),
)
_TEXT = st.sampled_from(
    [
        "word ", "x", " ", "\n", "café ", "&amp; ", "$x^{2}$", "$$E=mc^{2}$$",
        r"\(y\)", r"\[z\]", "$5 and $10 ", "a < b ", "< 3 >", "<", ">", "$",
        "\\", "$a", "_{1}$", "$x<b>^2</b>$ ",
    ]
)
_OPAQUE = st.sampled_from(
    [
        "<!-- <p> $x$ -->", "<!-- <script> -->", "<!--", "-->",
        "<![CDATA[<div>$y$</div>]]>", "<![CDATA[", "]]>", "<!DOCTYPE html>",
        "<?xml version='1.0'?>", "</>", "<>",
    ]
)
_MATH = st.sampled_from(
    [
        "<math><mi>x</mi></math>", '<math display="block"><mi>q</mi></math>',
        "<MATH>", "</math>", "< /MATH >", "<math/>",
    ]
)
_SOUP = st.lists(
    st.one_of(_TEXT, _TEXT, _TAG, _TAG, _OPAQUE, _MATH), max_size=80
).map("".join)


@given(_SOUP)
@settings(max_examples=600, deadline=None)
def test_detect_document_matches_per_tag_loop(doc):
    spans = detect_document(doc)
    assert spans == ref.detect_document(doc)
    # detection drops sub-threshold TeX itself: the span kernel filters nothing
    assert all(s.confidence >= DETECT_CONF_THRESHOLD for s in spans)


@given(_SOUP, st.integers(1, 200))
@settings(max_examples=300, deadline=None)
def test_safe_split_points_match_per_tag_loop(doc, target):
    assert safe_split_points(doc, target) == ref.safe_split_points(doc, target)


def test_soup_reaches_the_hard_cases():
    """The named cases each change the spans somewhere: a regression in any
    one of them would show in the property above."""
    cases = [
        "<P>a<Div>b",  # case variants are block tags
        "<!-- <p> -->a<p>b",  # a block tag inside a comment is not one
        "<![CDATA[<p>]]>a<p>b",  # nor inside CDATA
        '<b title="<p>">a</b>b',  # an attribute's '<p>' is inside a tag
        "a < 3 >b<p>c",  # '< 3 >' is a nameless tag
        "<script/>a<p>b",  # a self-closing suppress tag opens nothing
        "</nav>a<p>b",  # a stray closing one never goes below depth 0
        "<nav><math><mi>x</mi></math></nav>a",  # math inside suppression
        "$x<b>^2</b>$",  # inline tags split a $…$
        "<ſcript>a</ſcript>",  # no Unicode case fold into 'script'
        "a<bloc\u212aquote>b",  # nor into 'blockquote'
    ]
    for doc in cases:
        assert detect_document(doc) == ref.detect_document(doc)
    assert [s.raw for s in detect_document("<ſcript>a</ſcript>")] == ["a"]
    assert [s.raw for s in detect_document("</nav>a<p>b")] == ["a", "b"]
    assert [s.raw for s in detect_document("a<bloc\u212aquote>b")] == ["ab"]

"""Adversarial HTML for the detection kernel: malformed markup, comments,
CDATA, case sensitivity, script-content traps."""

from texteller_spark.operators.detect import decode_page, detect_document


def kinds(doc):
    return [s.kind for s in detect_document(doc)]


def texts(doc):
    return " ".join(s.raw for s in detect_document(doc) if s.kind == "text")


def test_math_in_comment_not_detected():
    doc = "<p>before <!-- $x^{2}$ hidden --> after</p>"
    spans = detect_document(doc)
    assert all(s.kind == "text" for s in spans)
    assert "hidden" not in texts(doc)


def test_math_in_script_not_detected():
    doc = "<script>var s = '$a_{1}$';</script><p>real $b_{2}$</p>"
    spans = detect_document(doc)
    assert [s.kind for s in spans] == ["text", "embedding"]
    assert spans[1].raw == "$b_{2}$"


def test_script_containing_closing_p():
    doc = "<script>if (x</p>) {}</script><p>ok</p>"
    assert texts(doc).strip() == "ok"


def test_unclosed_tags_dont_crash():
    doc = "<p>one <b>two <p>three"
    spans = detect_document(doc)
    assert [s.raw for s in spans if s.kind == "text"] == ["one two ", "three"]


def test_uppercase_math_tag():
    doc = '<p><MATH DISPLAY="block"><mi>x</mi></MATH></p>'
    spans = detect_document(doc)
    assert [s.kind for s in spans] == ["isolated"]


def test_namespaced_math():
    doc = '<p><m:math xmlns:m="http://www.w3.org/1998/Math/MathML"><m:mi>z</m:mi></m:math>tail</p>'
    spans = detect_document(doc)
    # namespaced <m:math> is not the html5 <math> element; treated as inline
    # markup — text survives, no crash
    assert all(0 <= s.char_start < s.char_end <= len(doc) for s in spans)


def test_cdata_skipped():
    doc = "<p>a <![CDATA[ $x$ ]]> b</p>"
    spans = detect_document(doc)
    assert all(s.kind == "text" for s in spans)


def test_unterminated_math_element():
    doc = "<p><math><mi>x</mi>"
    spans = detect_document(doc)
    assert [s.kind for s in spans] == ["embedding"]
    assert spans[0].char_end == len(doc)


def test_nested_suppressed_regions():
    doc = "<nav><div><p>menu item</p><script>x</script></div></nav><p>body</p>"
    assert texts(doc).strip() == "body"


def test_double_dollar_not_confused_with_two_singles():
    doc = "<p>$$a+b$$ and $c_{1}$</p>"
    spans = detect_document(doc)
    assert [s.kind for s in spans] == ["isolated", "text", "embedding"]
    assert spans[0].raw == "$$a+b$$"
    assert spans[2].raw == "$c_{1}$"


def test_escaped_dollar_not_math():
    doc = r"<p>price \$5 and \$10 fine</p>"
    assert all(s.kind == "text" for s in detect_document(doc))


def test_crlf_and_entities_in_text_runs():
    doc = "<p>line1\r\nline2 &amp; more</p>"
    from texteller_spark.operators.recognize import recognize_text

    spans = detect_document(doc)
    assert len(spans) == 1
    assert recognize_text(spans[0].raw) == "line1 line2 & more"


def test_str_split_whitespace_is_regex_whitespace():
    """``recognize_text`` collapses whitespace with ``str.split()``; that
    equals ``re.sub(r"\\s+", " ", s).strip()`` because ``re``'s ``\\s`` and
    ``str.isspace`` agree on every code point."""
    import re
    import sys

    ws = re.compile(r"\s")
    differ = [
        hex(c)
        for c in range(sys.maxunicode + 1)
        if (ws.fullmatch(chr(c)) is not None) != chr(c).isspace()
    ]
    assert differ == []
    spaces = "".join(chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace())
    s = f"{spaces}a{spaces}b &nbsp; c{spaces}"
    from texteller_spark.operators.recognize import recognize_text

    assert recognize_text(s) == re.sub(r"\s+", " ", s.replace("&nbsp;", "\xa0")).strip()


def test_decode_page_total():
    assert decode_page(None) == ""
    assert decode_page(b"") == ""
    assert decode_page(b"\xff\xfe\x00ab") != ""
    assert decode_page(memoryview(b"<p>x</p>")) == "<p>x</p>"


def test_deep_mathml_degrades_to_text():
    """1000-deep <mrow> nesting overflows the recursive MathML walk; the
    page still extracts, with the formula's visible text."""
    from texteller_spark.plans.pipeline import extract_page_kernel

    math = "<math>" + "<mrow>" * 1000 + "<mi>x</mi>" + "</mrow>" * 1000 + "</math>"
    _, text = extract_page_kernel(f"<p>deep {math} end</p>".encode())
    assert "x" in text


def test_cli_end_to_end(tmp_path, spark):
    """The spark-submit surface: synth → extract → resume is a no-op."""
    from texteller_spark import cli

    out = str(tmp_path / "out")
    cli.main(["--synth", "50", "--output", out, "--run-id", "t1"])
    n1 = spark.read.parquet(f"{out}/extracted").count()
    assert n1 == 50
    # resume: everything done → append nothing
    cli.main(["--synth", "50", "--output", out, "--run-id", "t2", "--resume"])
    n2 = spark.read.parquet(f"{out}/extracted").count()
    assert n2 == 50
    m = spark.read.parquet(f"{out}/_metrics")
    assert m.filter("stage like 'assemble:t1%'").count() > 0


def test_decode_page_honors_declared_charset():
    # cp1252 0x80 = euro sign; latin-1 would yield U+0080 control char
    page = '<meta charset="windows-1252"><p>price \u20ac5</p>'.encode("cp1252")
    assert "\u20ac5" in decode_page(page)
    # http-equiv form
    page2 = ('<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-15">'
             "<p>caf\xe9</p>").encode("iso-8859-15")
    assert "caf\xe9" in decode_page(page2)
    # lying/bogus declarations fall back to the utf-8 -> latin-1 sniff
    bogus = '<meta charset="no-such-enc"><p>caf\xe9</p>'.encode("utf-8")
    assert "caf\xe9" in decode_page(bogus)
    lying = '<meta charset="utf-8"><p>caf\xe9</p>'.encode("latin-1")
    assert "caf" in decode_page(lying)  # declared utf-8 fails -> latin-1 fallback

def test_decode_page_gzip_corrupt_degrades():
    import gzip as _g
    good = _g.compress(b"<p>ok</p>")
    assert "ok" in decode_page(good)
    truncated = good[:-5]
    assert isinstance(decode_page(truncated), str)  # EOFError path: no crash
    corrupt = good[:10] + b"\x00\x00\x00\x00" + good[14:]
    assert isinstance(decode_page(corrupt), str)  # zlib.error path: no crash

def test_decode_page_boms():
    assert decode_page(b"\xef\xbb\xbf<p>x</p>") == "<p>x</p>"  # utf-8 BOM stripped
    assert decode_page(
        b"\xff\xfe" + "<p>caf\xe9 $x$</p>".encode("utf-16-le")
    ) == "<p>caf\xe9 $x$</p>"
    assert decode_page(b"\xfe\xff" + "<p>ok</p>".encode("utf-16-be")) == "<p>ok</p>"
    # odd-length utf-16 payload stays total (replacement, no crash)
    assert isinstance(decode_page(b"\xff\xfe\x00ab"), str)

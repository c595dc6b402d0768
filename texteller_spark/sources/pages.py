"""Deterministic synthetic page corpus (seeded; no external data).

Generates the authoritative input table ``(url, warc_ts, html, text, lang)``
(BASELINE.json ``input_hint``) together with *logical* ground truth per page
— the block/span structure the generator embedded — from which expected
pipeline outputs are derived independently of the detection code.

Every page is a pure function of its row index (seed 42 convention, matching
the reference's fixed training seed), so corpus generation runs distributed:
``pages_df(spark, n)`` builds pages inside an Arrow-batched UDF over
``spark.range(n)`` — no driver-side materialization, linear scale-out.

Page classes cover FIXTURES.md §1: text-only, inline-TeX, display-TeX,
MathML, tag-folding, adversarial normalization, currency/entity edge,
latin-1 charset edge, formula-dense skew (~1000 spans), oversized (>1 MiB).
"""

from __future__ import annotations

import datetime
import gzip
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.assemble import assemble_document
from ..operators.recognize import recognize_span, recognize_text
from ..schema import arrow_row_udf

__all__ = ["synth_page", "expected_extraction", "pages_df", "tiny_corpus", "TINY_CLASSES"]

SEED = 42
EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

_WORDS = (
    "the quick brown fox jumps over lazy dog spark engine extract page "
    "content stream table byte span block text math reading order shuffle "
    "partition cluster scale web crawl archive index token language model "
    "vector query filter join window group sort merge plan batch arrow"
).split()

_INLINE_TEX = [
    r"x^{2}+y^{2}=z^{2}",
    r"\alpha+\beta",
    r"e^{i\pi}+1=0",
    r"\frac{a}{b}",
    r"\sum_{i=0}^{n} x_{i}",
    r"\sqrt{2}",
    r"a_{n}=a_{n-1}+d",
    r"\nabla \cdot E = \rho",
]

_DISPLAY_TEX = [
    r"\int_{0}^{1} x^{2} \, dx = \frac{1}{3}",
    r"E = mc^{2}",
    r"\lim_{x \to 0} \frac{\sin x}{x} = 1",
    r"\begin{pmatrix} a & b \\ c & d \end{pmatrix}",
    r"f(x) = \sum_{k=0}^{\infty} \frac{f^{(k)}(0)}{k!} x^{k}",
]

#: (mathml_source, is_display) — handwritten, structure-known
_MATHML = [
    ('<math><mi>x</mi><mo>+</mo><mn>1</mn></math>', False),
    ('<math display="block"><mfrac><mi>a</mi><mi>b</mi></mfrac></math>', True),
    ('<math><msup><mi>x</mi><mn>2</mn></msup><mo>=</mo><mn>4</mn></math>', False),
    (
        '<math display="block"><munderover><mo>&sum;</mo><mrow><mi>i</mi>'
        "<mo>=</mo><mn>0</mn></mrow><mi>n</mi></munderover><msub><mi>x</mi>"
        "<mi>i</mi></msub></math>",
        True,
    ),
    ('<math><msqrt><mi>y</mi></msqrt></math>', False),
]

#: normalization-branch formulas (dollar-free subset of the katex branch
#: cases, embedded as display math)
_ADVERSARIAL_TEX = [
    r"\mbox {abc} + x",
    r"\hbox to 12.3pt{xyz}",
    r"\raise 1.5pt x",
    r"\makebox [3.0pt]{m}",
    r"\raisebox{-1.5pt}{r}",
    r"\vbox{v}",
    r"\emph{word} + \mathbf{M}v",
    r"\left( \frac{x}{y} \right)",
    r"\Big{(}\frac{a}{b}\Big{)}",
    r"x\,\,y\!z\;\;w",
    r"a\vspace{1em}b",
    r"\text{one} \text{two} \text{three}",
    r"{\bf bold} relation",
    r"\mbox{a \mbox{b} c}",
]

TINY_CLASSES = [
    "text_only", "text_only",
    "inline_tex", "inline_tex",
    "display_tex", "display_tex",
    "mathml", "mathml",
    "mixed_tag", "mixed_tag",
    "adversarial", "adversarial",
    "currency", "entity",
    "latin1", "latin1",
    "skew", "skew",
    "oversized", "oversized",
]


def _sentence(rng: random.Random, nwords: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(nwords))


def _class_for(i: int) -> str:
    if i % 1000 == 500:
        return "skew"
    if i % 1000 == 750:
        return "oversized"
    return [
        "text_only", "text_only", "inline_tex", "inline_tex", "display_tex",
        "mathml", "mixed_tag", "adversarial", "currency", "latin1",
    ][i % 10]


def _build_blocks(cls: str, rng: random.Random) -> list[list[tuple[str, str]]]:
    """Logical ground truth: list of blocks, each a list of
    (kind, payload) pieces. kind ∈ {text, embedding, isolated};
    payload = text-node content / math raw source exactly as embedded."""
    title = _sentence(rng, 3)
    blocks: list[list[tuple[str, str]]] = [[("text", title)]]

    if cls == "text_only":
        for _ in range(rng.randint(2, 4)):
            blocks.append([("text", _sentence(rng, rng.randint(8, 20)) + ".")])
    elif cls == "inline_tex":
        for _ in range(rng.randint(2, 3)):
            f = rng.choice(_INLINE_TEX)
            blocks.append(
                [
                    ("text", _sentence(rng, 5) + " "),
                    ("embedding", "$" + f + "$"),
                    ("text", " " + _sentence(rng, 5) + "."),
                ]
            )
        blocks.append([
            ("text", "also "),
            ("embedding", "\\(" + rng.choice(_INLINE_TEX) + "\\)"),
            ("text", " holds."),
        ])
    elif cls == "display_tex":
        f1, f2 = rng.choice(_DISPLAY_TEX), rng.choice(_DISPLAY_TEX)
        blocks.append([("text", _sentence(rng, 8))])
        blocks.append([("isolated", "$$" + f1 + "$$")])
        blocks.append([("isolated", "\\[" + f2 + "\\]")])
        blocks.append([("text", _sentence(rng, 8) + ".")])
    elif cls == "mathml":
        for src, disp in rng.sample(_MATHML, 3):
            blocks.append(
                [
                    ("text", _sentence(rng, 4) + " "),
                    ("isolated" if disp else "embedding", src),
                    ("text", " " + _sentence(rng, 4) + "."),
                ]
            )
    elif cls == "mixed_tag":
        eqno = rng.randint(1, 9)
        blocks.append([("text", _sentence(rng, 6))])
        blocks.append(
            [
                ("isolated", "\\[" + rng.choice(_DISPLAY_TEX) + "\\]"),
                ("text", f" ({eqno})"),
            ]
        )
        blocks.append(
            [
                ("text", "inline "),
                ("embedding", "$\\mathbf{M}v = \\lambda v$"),
                ("text", " case."),
            ]
        )
    elif cls == "adversarial":
        for f in rng.sample(_ADVERSARIAL_TEX, 4):
            blocks.append([("isolated", "$$" + f + "$$")])
    elif cls == "currency":
        blocks.append([("text", "pay $5 and $10 total, plus $3 fee.")])
        blocks.append([("text", _sentence(rng, 6) + " costs $99 today.")])
    elif cls == "entity":
        blocks.append([("text", "Tom &amp; Jerry &lt;3 caf&eacute; &copy; 2024")])
        blocks.append([
            ("text", "so "),
            ("embedding", "$a &lt; b$" if False else "$a_{1} &gt; b_{2}$"),
            ("text", " said."),
        ])
    elif cls == "latin1":
        blocks.append([("text", "café résumé naïve ±3°")])
        blocks.append([
            ("text", "où "),
            ("embedding", "$x^{2}$"),
            ("text", " existe."),
        ])
    elif cls == "skew":
        piece: list[tuple[str, str]] = [("text", "dense ")]
        for k in range(1000):
            piece.append(("embedding", "$x_{" + str(k) + "}$"))
        blocks.append(piece)
    elif cls == "oversized":
        para = _sentence(rng, 300) + "."
        for _ in range(600):  # ≈ 1.1 MiB of body text
            blocks.append([("text", para)])
        blocks.append([("isolated", "$$" + rng.choice(_DISPLAY_TEX) + "$$")])
    return blocks


def _render_html(title: str, blocks, rng: random.Random) -> str:
    """Blocks → full page with boilerplate. Some text pieces get inline
    <b>/<em> markup (detection must merge runs across inline tags)."""
    body = []
    for bi, blk in enumerate(blocks):
        parts = []
        for kind, payload in blk:
            if kind == "text" and len(payload) > 12 and rng.random() < 0.5:
                cut = len(payload) // 2
                sp = payload.find(" ", cut)
                if 0 < sp < len(payload) - 2:
                    tag = rng.choice(["b", "em", "span"])
                    payload = (
                        payload[:sp]
                        + f"<{tag}>"
                        + payload[sp : sp + 6]
                        + f"</{tag}>"
                        + payload[sp + 6 :]
                    )
            parts.append(payload)
        tag = "h1" if bi == 0 else "p"  # block 0 is the page title
        body.append(f"<{tag}>" + "".join(parts) + f"</{tag}>")
    return (
        "<!DOCTYPE html>\n<html><head><title>"
        + title
        + "</title>\n<style>body { margin: 0; } .x { color: #$f00; }</style>\n"
        + "<script>var price = '$9.99'; if (a && b) { $('#x').hide(); }</script>\n"
        + "</head>\n<body>\n"
        + '<nav><ul><li><a href="/">Home</a></li><li><a href="/about">About</a></li></ul></nav>\n'
        + "<header><h1>synth.test archive</h1></header>\n<main>\n"
        + "\n".join(body)
        + "\n</main>\n<footer><p>&copy; 2024 synth.test &mdash; all rights reserved</p></footer>\n"
        + "</body></html>\n"
    )


def expected_extraction(blocks) -> tuple[list[dict], str]:
    """Logical blocks → expected (spans, extracted_text), via the pure
    recognition/assembly kernels (detection-independent oracle)."""
    spans = []
    order = 0
    for bid, blk in enumerate(blocks):
        pend_text: list[str] = []

        def flush():
            nonlocal order
            if pend_text:
                content = "".join(pend_text)
                if content.strip():
                    spans.append(
                        {
                            "span_id": order, "block_id": bid, "kind": "text",
                            "char_start": order, "char_end": order + 1,
                            "confidence": 1.0, "raw": content,
                            "content": recognize_text(content),
                        }
                    )
                    order += 1
                pend_text.clear()

        for kind, payload in blk:
            if kind == "text":
                pend_text.append(payload)
            else:
                flush()
                spans.append(
                    {
                        "span_id": order, "block_id": bid, "kind": kind,
                        "char_start": order, "char_end": order + 1,
                        "confidence": 1.0, "raw": payload,
                        "content": recognize_span(kind, payload),
                    }
                )
                order += 1
        flush()
    return spans, assemble_document(spans)


def synth_page(i: int, tiny: bool = False) -> dict:
    """Pure function index → page row (+ logical ground truth)."""
    cls = TINY_CLASSES[i % len(TINY_CLASSES)] if tiny else _class_for(i)
    rng = random.Random((SEED << 32) ^ i)
    blocks = _build_blocks(cls, rng)
    title = blocks[0][0][1]
    html_str = _render_html(title, blocks, rng)
    charset = "latin-1" if cls == "latin1" else "utf-8"
    text = " ".join(
        recognize_text(p) for blk in blocks for k, p in blk if k == "text" and p.strip()
    )
    return {
        "url": f"https://synth.test/{cls}/doc{i}",
        "warc_ts": EPOCH + datetime.timedelta(seconds=3600 * i),
        "html": html_str.encode(charset, errors="replace"),
        "text": text,
        "lang": ["en", "zh", "de"][i % 3],
        "_class": cls,
        "_blocks": blocks,
    }


def tiny_corpus() -> list[dict]:
    """20-row unit/e2e corpus covering every page class."""
    return [synth_page(i, tiny=True) for i in range(len(TINY_CLASSES))]


_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _gzip(html: bytes) -> bytes:
    """gzip level-1 per payload (WARC-faithful storage form); ``mtime=0``
    keeps the member header, and so the corpus, byte-reproducible."""
    return gzip.compress(html, 1, mtime=0)


_gzip_udf = arrow_row_udf(_gzip, T.BinaryType())

#: row index → page row (the ground-truth keys are not in the schema)
_page_udf = arrow_row_udf(synth_page, _PAGE_SCHEMA)


def doc_blocks(doc_id: int, text: str) -> list[list[tuple[str, str]]]:
    """Deterministic page structure for a driver-table document: the text
    split into two paragraphs with one inline and one display formula
    injected, keyed by doc_id."""
    words = (text or "").split()
    mid = max(1, len(words) // 2)
    return [
        [("text", f"document {doc_id}")],
        [("text", " ".join(words[:mid]) or "empty")],
        [
            ("text", "see "),
            ("embedding", "$" + _INLINE_TEX[doc_id % len(_INLINE_TEX)] + "$"),
            ("text", " now."),
        ],
        [("isolated", "$$" + _DISPLAY_TEX[doc_id % len(_DISPLAY_TEX)] + "$$")],
        [("text", " ".join(words[mid:]) or "end")],
    ]


def page_from_doc(doc_id: int, text: str, lang: str) -> dict:
    blocks = doc_blocks(doc_id, text)
    rng = random.Random((SEED << 32) ^ (doc_id + 1_000_003))
    html_str = _render_html(blocks[0][0][1], blocks, rng)
    return {
        "url": f"https://synth.test/docs/{doc_id}",
        "warc_ts": EPOCH + datetime.timedelta(seconds=60 * doc_id),
        "html": html_str.encode("utf-8"),
        "text": text,
        "lang": lang or "en",
    }


_doc_page_udf = arrow_row_udf(page_from_doc, _PAGE_SCHEMA)


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, text, lang) → deterministic pages table (Arrow-batched,
    executor-side rendering; the flagship-query bridge from the driver's
    ``documents`` parquet to the authoritative input shape)."""
    return docs.select(
        _doc_page_udf(F.col("doc_id"), F.col("text"), F.col("lang")).alias("p")
    ).select("p.*")


def pages_df(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    gzip_html: bool = False,
) -> DataFrame:
    """Distributed deterministic corpus: ``spark.range(n)`` → page rows.

    Generation happens on executors (Arrow-batched), so the corpus scales
    linearly with cores and never materializes on the driver.

    ``gzip_html=True`` stores the html payload gzip-compressed — the
    WARC-faithful form (Common-Crawl payloads arrive gzipped). The
    extraction kernel sniffs the gzip magic and decompresses inside the
    Python worker (``detect.decode_page``), so compressed bytes — not
    inflated html — cross the JVM→Python Arrow feed. Measured effect at 32
    cores: ~2.5× extraction throughput and the run-to-run variance
    collapses, because the per-JVM feed bottleneck (PLANS.md §2) scales
    with bytes copied.
    """
    parts = partitions or spark.sparkContext.defaultParallelism
    rng = spark.range(0, n, 1, parts)
    pages = rng.select(_page_udf(F.col("id")).alias("p")).select("p.*")
    if gzip_html:
        pages = pages.withColumn("html", _gzip_udf(F.col("html")))
    return pages

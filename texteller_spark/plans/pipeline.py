"""The extraction plans: pages → spans → recognized → assembled.

Spark-first re-expression of the reference's mix_inference dataflow
(``src/models/utils/mix_inference.py:136-264``). One kernel,
:func:`recognize_piece_kernel`, is the only detect → recognize loop
(``detect_document`` already applies the P1 confidence ≥ 0.5 threshold). It
runs over a whole decoded page at offset 0 or over one chunk of a page at
the chunk's char offset, and every extraction path derives from it:

::

    extract_pages          pages → extract_udf(html)              # + assemble_document:
                                                                  # one fused map, no exchange
    span_table             pages → explode_outer(recognize_piece_udf(0, html))
    extract_pages_chunked  pages → explode(chunk_udf(html, n))
                             → repartition(url, chunk_id)
                             → explode_outer(recognize_piece_udf(off, piece))
                             → groupBy(url).agg(array_sort(collect_list(...)))
                             → assemble_udf(spans)
    streaming_extract, streaming_span_rates (streaming/stream.py):
                           span_table's explode over a stream

``recognize_piece_udf`` is the only span UDF. It passes its input through
``decode_page``, which returns a ``str`` unchanged, so it takes html bytes
at offset 0 or a chunk piece at its offset. In the chunked path,
``array_sort(collect_list(struct(span_id first, …)))`` makes assembly
independent of partition count and arrival order (the determinism
invariant the scaling test relies on, SURVEY.md §7.3).

Every UDF here is a pure kernel behind :func:`..schema.arrow_row_udf`, an
``F.arrow_udf``: Spark feeds it whole Arrow batches (``ArrowEvalPython``),
the kernel runs per row, and its results go straight back into one Arrow
array. Declaring them imports no pandas, and a worker loads none to
unpickle them.

At production scale the scan is an Iceberg table bucketed by ``url`` hash;
in-sandbox the same plans run over parquet. Per-partition lineage counters
and resumable checkpointing live in ``checkpoint.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.assemble import assemble_document
from ..operators.detect import chunk_document, decode_page, detect_document
from ..operators.recognize import recognize_span
from ..schema import CONTENT_SPAN_SCHEMA, arrow_row_udf

__all__ = [
    "extract_pages",
    "extract_pages_chunked",
    "span_table",
]

_SPAN_COLS = ("span_id", "block_id", "kind", "char_start", "char_end", "confidence", "raw")


_EXTRACT_RESULT = T.StructType(
    [
        T.StructField("spans", T.ArrayType(CONTENT_SPAN_SCHEMA), False),
        T.StructField("extracted_text", T.StringType(), False),
    ]
)


def extract_page_kernel(html) -> tuple[list[dict], str]:
    """The fused per-page kernel: detect → recognize → assemble, one pass.

    Fusing the stages into one UDF means ONE Arrow round trip per page
    (html in, spans+text out) instead of one round trip of the full span
    payload per stage — the dominant cost at high core counts is Arrow
    (de)serialization on JVM threads, not the Python work itself.
    """
    spans = recognize_piece_kernel(decode_page(html), 0)
    return spans, assemble_document(spans)


extract_udf = arrow_row_udf(extract_page_kernel, _EXTRACT_RESULT)


def _extract_text(html) -> str:
    return extract_page_kernel(html)[1]


#: text-only variant: the span payload (raw+content, ≈2× the document) never
#: crosses the worker→JVM Arrow feed — the output-side twin of gzip-stored
#: html for pipelines that only consume ``extracted_text``
extract_text_udf = arrow_row_udf(_extract_text, T.StringType())


_CHUNK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk_id", T.IntegerType(), False),
            T.StructField("off", T.LongType(), False),
            T.StructField("piece", T.StringType(), False),
        ]
    ),
    containsNull=False,
)


def _chunks(html, max_chunk_chars: int) -> list[tuple[int, int, str]]:
    return [(k, *c) for k, c in enumerate(chunk_document(decode_page(html), max_chunk_chars))]


#: (html, max chunk chars) → (chunk_id, char offset, decoded piece) per chunk
chunk_udf = arrow_row_udf(_chunks, _CHUNK_SCHEMA)


def recognize_piece_kernel(piece: str, off: int) -> list[dict]:
    """Detect + recognize one decoded document or chunk.

    Char offsets and span/block ids are rebased by the chunk's char offset
    ``off`` (0 for a whole page). The rebase is monotonic across chunks, so
    block-equality grouping and span ordering match the unchunked scan —
    int32-safe for documents < 2^31 chars, enforced by chunk_document."""
    out = []
    for s in detect_document(piece):
        d = s._asdict()
        d["span_id"] = s.span_id + off
        d["block_id"] = s.block_id + off
        d["char_start"] = s.char_start + off
        d["char_end"] = s.char_end + off
        d["content"] = recognize_span(s.kind, s.raw)
        out.append(d)
    return out


def _recognize_piece(off: int, piece) -> list[dict]:
    return recognize_piece_kernel(decode_page(piece), off)


#: the span UDF: (char offset, html bytes or decoded piece) → recognized spans
recognize_piece_udf = arrow_row_udf(_recognize_piece, T.ArrayType(CONTENT_SPAN_SCHEMA))


def page_spans() -> Column:
    """Recognized spans of each page's ``html``: the span UDF at offset 0."""
    return recognize_piece_udf(F.lit(0), F.col("html"))


def span_table(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """Exploded recognized spans — the persisted intermediate table analog
    of the reference's crop sink (S5): one row per span, ``(url, span
    fields…, content)``. ``explode_outer`` keeps span-less pages (empty or
    undecodable html) as one all-null span row, so they still reach the
    output. A map over the scan like :func:`extract_pages`, with the same
    rule: pass ``partitions`` to opt into a repartition(url)."""
    balanced = pages.repartition(partitions, F.col("url")) if partitions else pages
    return balanced.select(
        "url", F.explode_outer(page_spans()).alias("span")
    ).select("url", "span.*")


#: array<struct spans+content> → extracted_text
assemble_udf = arrow_row_udf(assemble_document, T.StringType())


def _assemble_by_url(recognized: DataFrame) -> DataFrame:
    """Recognized chunk spans → one row per url with ordered spans + text.

    ``span_id`` is RE-DENSIFIED to the 0-based position in the sorted array
    (a free ``transform`` — no shuffle), so the chunked output carries the
    same dense ordinal ids as the flagship: the chunk rebase leaves ids
    sparse (but order-preserving), and a mixed flagship/chunked output
    table (CLI ``--resume`` can interleave both) would otherwise break
    consumers that index by ``span_id``.
    """
    # collect_list skips nulls → span-less urls yield spans=[] and text="".
    return (
        recognized.groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("kind").isNotNull(),
                        F.struct(*_SPAN_COLS, "content"),
                    )
                )
            ).alias("spans")
        )
        .withColumn(
            "spans",
            F.transform(
                "spans",
                lambda s, i: F.struct(
                    i.cast("int").alias("span_id"),
                    *[s[c].alias(c) for c in _SPAN_COLS[1:]],
                    s["content"].alias("content"),
                ),
            ),
        )
        .withColumn("extracted_text", assemble_udf(F.col("spans")))
    )


def extract_pages_chunked(
    pages: DataFrame,
    max_chunk_chars: int = 1 << 20,
    partitions: int | None = None,
) -> DataFrame:
    """W5: oversized-document extraction with bounded per-task work.

    The flagship plan (:func:`extract_pages`) maps whole documents — one
    500 MB pathological page is one unbounded task. This variant splits
    each document at SAFE points (block-tag starts outside suppressed /
    math regions — see :func:`texteller_spark.operators.detect.
    safe_split_points`; the byte-domain analog of the reference's sliced
    detection, predict_det.py:198-297) into ≈``max_chunk_chars`` pieces,
    redistributes the pieces across tasks, runs the span UDF on each piece
    at its offset, and reassembles per url.
    Because spans cannot straddle a safe point, the pixel-domain
    overlap+boundary-dedup machinery degenerates: piece-wise detection is
    EXACT (equivalence property-tested against the unchunked kernel,
    including a ≥64 MiB page).

    Cost: one shuffle to spread chunks + the final groupBy(url) — the right
    trade only when documents are huge; the flagship stays shuffle-free for
    the common case. Documents with no safe point in a stretch (plain text)
    degrade to one chunk for that stretch.
    """
    p = partitions or int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    chunks = (
        pages.select(
            "url", F.explode(chunk_udf(F.col("html"), F.lit(max_chunk_chars))).alias("c")
        )
        .select("url", "c.*")
        .repartition(p, F.col("url"), F.col("chunk_id"))
    )
    spans = (
        chunks.select(
            "url",
            F.explode_outer(
                recognize_piece_udf(F.col("off"), F.col("piece"))
            ).alias("span"),
        )
        .select("url", "span.*")
    )
    return _assemble_by_url(spans)


def extract_pages(
    pages: DataFrame, partitions: int | None = None, include_spans: bool = True
) -> DataFrame:
    """Full pipeline: returns (url, spans, extracted_text); with
    ``include_spans=False``, (url, extracted_text) only.

    Doc-granular, SHUFFLE-FREE plan: the whole pipeline is one fused map
    over the scan — extraction needs per-page locality only, which the scan
    already provides.  Parallelism comes from input split planning
    (``spark.sql.files.maxPartitionBytes`` = 32 MB in ``session.py``), not
    from a repartition: shuffling raw html (the widest column in the table)
    costs more than the extraction itself (measured: 23 s to shuffle what
    takes 10 s to extract, at 32 cores / 3 GB).  Pass ``partitions`` to
    opt into a repartition(url) only when the upstream layout is genuinely
    skewed or has too few files.

    Two earlier revisions of this plan are cautionary tales kept in git
    history: explode → groupBy(url) re-grouping (Generate breaks hash-
    partitioning propagation → second exchange, which AQE then coalesced to
    ONE partition — AQE sizes partitions by shuffle bytes and is blind to
    per-row Python-UDF cost), and three chained span-array UDFs (3× Arrow
    round trips of the full span payload).  :func:`span_table` is the same
    kernel exploded to one row per span (the checkpointable intermediate).

    (Design echoes the public literature: UDF-pipeline operator fusion
    ["Optimizing UDF Queries in SQL Data Engines", EDBT'26; "ML Inference
    Pipeline Execution Using Operator Fusion", ICDE'25] and the
    partition-only-when-it-pays rule ["To Partition, or Not to Partition",
    SIGMOD'21] — see PAPERS.md.)
    """
    balanced = pages.repartition(partitions, F.col("url")) if partitions else pages
    if not include_spans:
        return balanced.select(
            "url", extract_text_udf(F.col("html")).alias("extracted_text")
        )
    return balanced.select(
        "url", extract_udf(F.col("html")).alias("res")
    ).select("url", "res.spans", "res.extracted_text")

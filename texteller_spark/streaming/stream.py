"""Structured Streaming lift of the extraction pipeline.

The span kernel is stateless per page, so it lifts to streaming unchanged:
``readStream`` on the pages source → the same span UDF as
:func:`texteller_spark.plans.pipeline.span_table`, exploded per page →
windowed or ``update``-mode aggregation downstream. Late pages are
governed by a ``warc_ts`` watermark.

The batch reference has no streaming counterpart (the closest is the Ray
Serve request loop, ``/root/reference/src/server.py:137-157``); this module
is the Spark-native generalization: the same plan over an unbounded source.

In-sandbox it is exercised with the ``rate`` source + ``foreachBatch`` into
memory (tests); at production the source is an Iceberg streaming read and
the sink an Iceberg table with exactly-once semantics via checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.pipeline import page_spans

__all__ = ["streaming_extract", "streaming_span_rates", "streaming_dedup_first_seen"]


def streaming_extract(pages_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming pages → recognized spans:
    :func:`~texteller_spark.plans.pipeline.span_table`'s rows plus
    ``warc_ts`` (append-mode safe: no global aggregation; per-url assembly
    happens downstream per micro-batch via ``foreachBatch`` or in update
    mode)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .select("url", "warc_ts", F.explode_outer(page_spans()).alias("span"))
        .select("url", "warc_ts", "span.*")
    )


def streaming_span_rates(pages_stream: DataFrame, watermark: str = "1 hour",
                         window: str = "10 minutes") -> DataFrame:
    """Windowed aggregate over the stream: span counts by kind per
    ``warc_ts`` window (late data beyond the watermark drops). Span-less
    pages contribute no row. The span UDF recognizes every span it counts:
    Spark cannot prune unused fields out of a Python UDF's output."""
    spans = (
        pages_stream.withWatermark("warc_ts", watermark)
        .select("warc_ts", F.explode(page_spans()).alias("span"))
        .select("warc_ts", "span.kind")
    )
    return spans.groupBy(F.window("warc_ts", window), "kind").agg(
        F.count(F.lit(1)).alias("n_spans")
    )


def streaming_dedup_first_seen(
    pages_stream: DataFrame, state_ttl_minutes: int | None = None
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): cross-batch
    first-seen dedup by url.

    A Common-Crawl-style stream re-delivers the same url across crawls; this
    emits, for each url, the min-``warc_ts`` row of the micro-batch in which
    the url FIRST ARRIVES (arrival-order semantics: append mode cannot
    retract, so an out-of-order earlier crawl delivered in a *later* batch
    only bumps the state counter — it does not replace the emitted row).
    One tiny ``(n_seen,)`` state row per url lives in the state store
    (RocksDB-backed and partitioned by key at cluster scale, so state size
    scales with distinct urls per executor, not stream length). A url is
    emitted exactly once, in its arrival micro-batch.

    ``state_ttl_minutes`` bounds total state for unbounded url spaces
    (10^12 distinct urls can't hold a row each forever): idle url state
    expires via a processing-time timeout, so a url re-crawled after the
    TTL is treated as first-seen again and RE-emitted — the standard
    bounded-state dedup tradeoff (dedup window = TTL). Default ``None``
    keeps exact forever-state semantics.
    """
    import pandas as pd  # noqa: F401  (pandas batches cross the state op)
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = pages_stream.select("url", "warc_ts", "text", "lang").schema
    state_schema = StructType([StructField("n_seen", LongType())])
    ttl_ms = state_ttl_minutes * 60_000 if state_ttl_minutes else None

    def first_seen(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()  # idle url expired — next sighting is first-seen again
            return
        n_prior = state.get[0] if state.exists else 0
        first = None
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
            if len(pdf):
                batch_first = pdf.sort_values("warc_ts").iloc[[0]]
                if first is None or batch_first.iloc[0]["warc_ts"] < first.iloc[0]["warc_ts"]:
                    first = batch_first
        state.update((n_prior + n_new,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if n_prior == 0 and first is not None:
            yield first[["url", "warc_ts", "text", "lang"]]

    return (
        pages_stream.select("url", "warc_ts", "text", "lang")
        .groupBy("url")
        .applyInPandasWithState(
            first_seen,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )

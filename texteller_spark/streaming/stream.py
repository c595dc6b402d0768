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
    One tiny ``(n_seen, last_ts_ms)`` state row per url lives in the state store
    (RocksDB-backed and partitioned by key at cluster scale, so state size
    scales with distinct urls per executor, not stream length). A url is
    emitted exactly once, in its arrival micro-batch.

    ``state_ttl_minutes`` bounds total state for unbounded url spaces
    (10^12 distinct urls can't hold a row each forever). The TTL is in
    event time, so ``availableNow`` runs terminate: a ``warc_ts`` watermark
    lags the stream's latest ``warc_ts`` by the TTL, and each url's state
    keeps its own latest ``warc_ts`` and expires once the watermark passes
    it, i.e. once the url is unseen for a TTL of event time. Rows behind the
    watermark fall outside that dedup window and are dropped as late
    (counted in the query progress as ``numRowsDroppedByWatermark``), even
    a url's first sighting: Spark filters the input of an event-time
    timeout by its watermark. A url re-crawled after its state expired is
    RE-emitted — the standard bounded-state dedup tradeoff (dedup window =
    TTL). Default ``None`` keeps exact forever-state semantics, with no
    watermark and no row dropped.
    """
    # the package's one pandas stage: this state op's Arrow successor,
    # transformWithState, needs protobuf
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = pages_stream.select("url", "warc_ts", "text", "lang").schema

    def first_seen(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()  # idle url expired — next sighting is first-seen again
            return
        n_prior, last_ts_ms = state.get if state.exists else (0, 0)
        first = None
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
            if len(pdf):
                last_ts_ms = max(last_ts_ms, int(pdf["ts_ms"].fillna(0).max()))
                batch_first = pdf.sort_values("warc_ts").iloc[[0]]
                if first is None or batch_first.iloc[0]["warc_ts"] < first.iloc[0]["warc_ts"]:
                    first = batch_first
        state.update((n_prior + n_new, last_ts_ms))
        if state_ttl_minutes:
            # a null warc_ts has no place on the event clock: it expires with
            # the next watermark advance (a timeout must be > 0 and >= it)
            state.setTimeoutTimestamp(max(last_ts_ms, state.getCurrentWatermarkMs(), 1))
        if n_prior == 0 and first is not None:
            yield first[["url", "warc_ts", "text", "lang"]]

    timeout = GroupStateTimeout.NoTimeout
    if state_ttl_minutes:
        pages_stream = pages_stream.withWatermark("warc_ts", f"{state_ttl_minutes} minutes")
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        pages_stream.select(
            "url", "warc_ts", "text", "lang", F.unix_millis("warc_ts").alias("ts_ms")
        )
        .groupBy("url")
        .applyInPandasWithState(
            first_seen,
            outputStructType=out_schema,
            stateStructType="n_seen long, last_ts_ms long",
            outputMode="append",
            timeoutConf=timeout,
        )
    )

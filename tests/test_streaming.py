"""Structured Streaming lift: same kernels over an unbounded source."""

from collections import Counter

from texteller_spark.plans.pipeline import span_table
from texteller_spark.schema import PAGES_SCHEMA
from texteller_spark.sources.pages import tiny_corpus
from texteller_spark.streaming.stream import streaming_extract, streaming_span_rates


def _stream_from_tiny(spark, tmpdir):
    rows = [
        (p["url"], p["warc_ts"].replace(tzinfo=None), p["html"], p["text"], p["lang"])
        for p in tiny_corpus()
        if p["_class"] not in ("oversized", "skew")  # keep the micro-batch small
    ]
    src = f"{tmpdir}/pages_src"
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(src)
    return spark.readStream.schema(PAGES_SCHEMA).parquet(src)


def test_streaming_extract_matches_batch(spark, tmp_path):
    stream = _stream_from_tiny(spark, tmp_path)
    q = (
        streaming_extract(stream)
        .writeStream.format("memory")
        .queryName("spans_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    batch = span_table(spark.read.parquet(f"{tmp_path}/pages_src"))
    got = spark.table("spans_out").select(*batch.columns).collect()
    want = batch.collect()
    assert {r["kind"] for r in want} >= {"text", "embedding", "isolated"}
    assert Counter(map(tuple, got)) == Counter(map(tuple, want))


def test_streaming_windowed_rates(spark, tmp_path):
    stream = _stream_from_tiny(spark, tmp_path)
    q = (
        streaming_span_rates(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("rates_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rates_out").collect()
    assert rows
    assert all(r["n_spans"] > 0 for r in rows)


def test_streaming_dedup_first_seen_across_batches(spark, tmp_path):
    """Stateful op: a url re-crawled in a later micro-batch must NOT be
    re-emitted; the single emitted row carries the earliest warc_ts."""
    import datetime

    from texteller_spark.streaming.stream import streaming_dedup_first_seen

    t0 = datetime.datetime(2024, 1, 1)
    src = f"{tmp_path}/dedup_src"

    def rows(batch):
        return [
            (u, t0 + datetime.timedelta(hours=h), b"<html></html>", f"text {u} b{batch}", "en")
            for (u, h) in batch
        ]

    # batch 1: a@0h, b@1h ; batch 2: a@2h (re-crawl, later), c@3h
    b1 = rows([("https://a.test/", 0), ("https://b.test/", 1)])
    b2 = rows([("https://a.test/", 2), ("https://c.test/", 3)])
    spark.createDataFrame(b1, PAGES_SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(b2, PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_dedup_first_seen(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r["url"]: r for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert set(got) == {"https://a.test/", "https://b.test/", "https://c.test/"}
    # exactly one row per url, and a.test kept its first-ever timestamp
    assert spark.sql("SELECT count(*) AS n FROM dedup_out").head()["n"] == 3
    assert got["https://a.test/"]["warc_ts"].hour in (0, 2)
    # the two source files may land in one micro-batch only if the reader
    # ignored maxFilesPerTrigger; state must still dedup to min ts
    assert got["https://a.test/"]["text"].endswith("b1") or got["https://a.test/"]["warc_ts"].hour == 0


def test_streaming_dedup_ttl_wiring(spark, tmp_path):
    """TTL variant: the event-time timeout dedups within the batch and lets
    the ``availableNow`` query terminate (a processing-time timeout kept it
    running until ``awaitTermination`` gave up)."""
    import datetime

    from texteller_spark.streaming.stream import streaming_dedup_first_seen

    t0 = datetime.datetime(2024, 1, 1)
    src = f"{tmp_path}/ttl_src"
    rows = [
        ("https://a.test/", t0, b"<html></html>", "ta", "en"),
        ("https://a.test/", t0 + datetime.timedelta(hours=1), b"<html></html>", "ta2", "en"),
        ("https://b.test/", t0, b"<html></html>", "tb", "en"),
    ]
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (
        streaming_dedup_first_seen(stream, state_ttl_minutes=60)
        .writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r["url"]: r["warc_ts"] for r in spark.sql("SELECT * FROM ttl_out").collect()}
    assert set(got) == {"https://a.test/", "https://b.test/"}
    assert got["https://a.test/"].hour == 0  # min warc_ts within the batch


def test_streaming_dedup_ttl_keeps_state_across_batches(spark, tmp_path):
    """TTL across micro-batches (event time, TTL 60 min): a url re-crawled
    within the TTL is not re-emitted and keeps its state through the final
    no-data batch; a url unseen for longer than the TTL expires; a row more
    than the TTL behind the latest ``warc_ts`` is dropped as late."""
    import datetime

    from texteller_spark.streaming.stream import streaming_dedup_first_seen

    t0 = datetime.datetime(2024, 1, 1)
    src = f"{tmp_path}/ttl_batches_src"

    def write(batch, tag):
        rows = [
            (u, t0 + datetime.timedelta(minutes=m), b"<html></html>", f"{u} {tag}", "en")
            for (u, m) in batch
        ]
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    write([("a", 0), ("b", 0), ("e", -30)], "b1")
    write([("c", 50)], "b2")
    # a: re-crawl 55 min after its first sighting; d: 5 h behind the stream
    write([("a", 55), ("d", -300)], "b3")
    stream = spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_dedup_first_seen(stream, state_ttl_minutes=60)
        .writeStream.format("memory")
        .queryName("ttl_batches_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted((r["url"], r["text"]) for r in spark.table("ttl_batches_out").collect())
    assert got == [("a", "a b1"), ("b", "b b1"), ("c", "c b2"), ("e", "e b1")]
    ops = [p["stateOperators"][0] for p in q.recentProgress]
    assert sum(op["numRowsDroppedByWatermark"] for op in ops) == 1  # d
    # the latest warc_ts is +55 min: a (+55), b (0) and c (+50) are within
    # the TTL of it, e (-30) is not
    assert ops[-1]["numRowsTotal"] == 3

"""Spark-level pipeline tests: byte identity e2e, partition invariance,
resumable checkpointing, plan shape."""

import datetime

import pytest
from pyspark.sql import functions as F

from texteller_spark.plans.checkpoint import resume_pending, write_extracted
from texteller_spark.plans.pipeline import extract_pages, extract_pages_chunked
from texteller_spark.schema import PAGES_SCHEMA
from texteller_spark.sources.pages import expected_extraction, pages_df, tiny_corpus


@pytest.fixture(scope="module")
def tiny_df(spark):
    rows = [
        (p["url"], p["warc_ts"].replace(tzinfo=None), p["html"], p["text"], p["lang"])
        for p in tiny_corpus()
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA).cache()


def test_extract_byte_identity(spark, tiny_df):
    got = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df).collect()}
    corpus = tiny_corpus()
    assert len(got) == len(corpus)
    for p in corpus:
        _, exp_text = expected_extraction(p["_blocks"])
        assert got[p["url"]] == exp_text, p["url"]


def test_partition_count_invariance(spark, tiny_df):
    """Output is independent of parallelism — the determinism property the
    N→4N scaling contract relies on."""
    a = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df, partitions=2).collect()}
    b = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df, partitions=16).collect()}
    assert a == b


def test_spans_schema_stable(spark, tiny_df):
    out = extract_pages(tiny_df)
    assert [f.name for f in out.schema.fields] == ["url", "spans", "extracted_text"]
    span_fields = [f.name for f in out.schema["spans"].dataType.elementType.fields]
    assert span_fields == [
        "span_id", "block_id", "kind", "char_start", "char_end",
        "confidence", "raw", "content",
    ]


def test_distributed_generator_matches_local(spark):
    df = pages_df(spark, 30, partitions=4)
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 30
    from texteller_spark.sources.pages import synth_page

    for i in (0, 7, 29):
        local = synth_page(i)
        row = rows[local["url"]]
        assert bytes(row["html"]) == local["html"]
        assert row["lang"] == local["lang"]


def test_page_rows_carry_aware_utc_warc_ts(spark):
    """The page-row functions behind ``pages_df`` and ``pages_from_documents``
    return aware UTC datetimes: the row UDF's output converter reads a naive
    one in the worker host's local zone, not the session's."""
    from texteller_spark.sources.pages import page_from_doc, pages_from_documents, synth_page

    utc = datetime.timezone.utc
    for ts in (synth_page(7)["warc_ts"], page_from_doc(7, "a b c", "en")["warc_ts"]):
        assert ts.tzinfo is not None and ts.utcoffset() == datetime.timedelta(0)
    for row in pages_df(spark, 12, partitions=3).collect():
        i = int(row["url"].rsplit("doc", 1)[1])
        assert row["warc_ts"].astimezone(utc) == synth_page(i)["warc_ts"]
    docs = spark.createDataFrame(
        [(5, "x y", "de"), (9, "z", None)], "doc_id long, text string, lang string"
    )
    for row in pages_from_documents(docs).collect():
        i = int(row["url"].rsplit("/", 1)[1])
        assert row["warc_ts"].astimezone(utc) == page_from_doc(i, "", "")["warc_ts"]


def test_gzip_corpus_is_byte_reproducible(spark):
    """``pages_df(gzip_html=True)`` stamps no wall clock into the gzip
    member headers (bytes 4-8, ``mtime``), so two collects give equal html."""

    def gzipped():
        rows = pages_df(spark, 30, partitions=3, gzip_html=True).collect()
        return sorted((r["url"], bytes(r["html"])) for r in rows)

    first = gzipped()
    assert all(html[:2] == b"\x1f\x8b" and html[4:8] == bytes(4) for _, html in first)
    assert gzipped() == first


def test_every_row_udf_is_arrow_batched():
    """Each per-row Python map of the extraction surface is an Arrow UDF
    built by ``schema.arrow_row_udf`` (``ArrowEvalPython``, Arrow arrays in
    and out): neither the pandas-converting row UDF of ``F.udf(...,
    useArrow=True)`` nor the pickled row-at-a-time one."""
    from pyspark.util import PythonEvalType

    from texteller_spark.operators import normalize
    from texteller_spark.plans import pipeline
    from texteller_spark.sources import pages, pdf

    udfs = {
        "extract_udf": pipeline.extract_udf,
        "extract_text_udf": pipeline.extract_text_udf,
        "chunk_udf": pipeline.chunk_udf,
        "recognize_piece_udf": pipeline.recognize_piece_udf,
        "assemble_udf": pipeline.assemble_udf,
        "_gzip_udf": pages._gzip_udf,
        "_page_udf": pages._page_udf,
        "_doc_page_udf": pages._doc_page_udf,
        "nfc_udf": normalize.nfc_udf,
        "extract_pdf_udf": pdf.extract_pdf_udf,
    }
    for name, udf in udfs.items():
        assert udf.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF, name


def test_resume_anti_join(spark, tiny_df, tmp_path):
    out_dir = str(tmp_path / "out")
    first = extract_pages(tiny_df.limit(5))
    write_extracted(first, out_dir, run_id="r1")
    r1_urls = {r["url"] for r in spark.read.parquet(f"{out_dir}/extracted").collect()}
    pending = resume_pending(tiny_df, out_dir)
    assert pending.count() == tiny_df.count() - 5
    # completing the run leaves nothing pending
    write_extracted(extract_pages(pending), out_dir, run_id="r2")
    assert resume_pending(tiny_df, out_dir).count() == 0
    # the metrics table holds one row of observed run totals per run
    m = spark.read.parquet(f"{out_dir}/_metrics")
    assert set(m.columns) == {"stage", "partition_id", "n_rows", "n_bytes"}
    assert m.filter(F.col("stage") == "assemble:r2").count() == 1
    # r2's totals describe exactly the rows r2 appended: they are observed
    # by the write itself, not by re-running the anti-join against the
    # table it just grew
    r2 = m.filter(F.col("stage") == "assemble:r2").agg(
        F.sum("n_rows").alias("rows"), F.sum("n_bytes").alias("bytes")
    ).first()
    r2_texts = [
        r["extracted_text"]
        for r in spark.read.parquet(f"{out_dir}/extracted").collect()
        if r["url"] not in r1_urls
    ]
    assert r2["rows"] == tiny_df.count() - 5 == len(r2_texts)
    assert r2["bytes"] == sum(len(t) for t in r2_texts)


def test_write_extracted_runs_kernel_once_per_page(spark, tiny_df, tmp_path):
    """The write and its metrics come from one kernel pass: a counting UDF
    in front of the kernel logs one line per row it sees."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    log = tmp_path / "rows.log"

    # defined in the test body so the worker unpickles it by value
    @pandas_udf("binary")
    def count_rows(html: pd.Series) -> pd.Series:
        with open(log, "a") as f:
            f.write("row\n" * len(html))
        return html

    n = tiny_df.count()
    counted = tiny_df.withColumn("html", count_rows("html"))
    write_extracted(extract_pages(counted), str(tmp_path / "whole"), run_id="w")
    assert len(log.read_text().splitlines()) == n
    log.unlink()
    write_extracted(
        extract_pages_chunked(counted, 200), str(tmp_path / "chunked"), run_id="c"
    )
    assert len(log.read_text().splitlines()) == n


def test_plan_has_single_final_shuffle(spark, tiny_df):
    """Plan shape: exactly two exchanges (salted repartition + groupBy)."""
    plan = extract_pages(tiny_df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 3  # 2 + possible AQE reuse node
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_extract_pages_text_only(spark, tiny_df):
    from texteller_spark.plans.pipeline import extract_pages

    full = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df).collect()}
    slim = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(tiny_df, include_spans=False).collect()
    }
    assert slim == full  # byte-identical text, spans simply omitted
    cols = extract_pages(tiny_df, include_spans=False).columns
    assert cols == ["url", "extracted_text"]

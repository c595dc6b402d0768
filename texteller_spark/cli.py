"""Batch job entry point — the ``spark-submit --py-files`` surface.

    spark-submit --py-files texteller_spark.zip -m texteller_spark.cli \\
        --input /data/pages --output /data/extracted --resume

Reads the pages table (parquet in-sandbox; Iceberg at production), runs the
extraction pipeline with resumable checkpointing, writes results + metrics.
"""

from __future__ import annotations

import argparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation, SparkSession

from .plans.checkpoint import read_done_urls, resume_pending, write_extracted
from .plans.pipeline import extract_pages, extract_pages_chunked
from .session import build_session, ship_package
from .sources.pages import pages_df


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="texteller_spark extraction job")
    ap.add_argument("--input", help="pages table path (parquet dir or WARC shard dir)")
    ap.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="'warc' scans *.warc/*.warc.gz shards (Common-Crawl native form)",
    )
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic pages instead")
    ap.add_argument("--output", required=True, help="output dir (extracted + _metrics)")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--resume", action="store_true", help="skip already-extracted urls")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument(
        "--chunk-chars",
        type=int,
        default=0,
        help="split oversized documents at safe points into chunks of ~N "
        "chars and spread them across tasks (W5; 0 = whole-document map)",
    )
    args = ap.parse_args(argv)

    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = build_session("texteller-extract")
    else:
        ship_package(spark)

    if args.synth:
        pages = pages_df(spark, args.synth)
    elif args.input_format == "warc":
        from .sources.warc import read_pages_warc

        pages = read_pages_warc(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)
    fresh = read_done_urls(spark, args.output) is None
    done = Observation("done")  # rows the table held before this run
    if args.resume:
        pages = resume_pending(pages, args.output, done)
    out = (
        extract_pages_chunked(pages, args.chunk_chars, partitions=args.partitions)
        if args.chunk_chars
        else extract_pages(pages, partitions=args.partitions)
    )
    written, _ = write_extracted(out, args.output, args.run_id)
    try:
        n = written + (0 if fresh else done.get["n_rows"])
    except (AssertionError, Py4JJavaError):
        # not observed: no --resume, or AQE dropped the anti-join's build
        # side (empty done-set or input) and the observation with it
        n = read_done_urls(spark, args.output).count()
    print(f"extracted table now holds {n} urls")


if __name__ == "__main__":
    main()

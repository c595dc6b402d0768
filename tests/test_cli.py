"""End-to-end test of the spark-submit job surface (cli.main)."""

import contextlib
import io
import uuid

import pytest

from texteller_spark.cli import main
from texteller_spark.sources.pages import pages_df


def test_cli_synth_extract_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    # initial run: synthesize 60 pages, extract, write results + metrics
    main(["--synth", "60", "--output", out, "--run-id", "r1"])
    extracted = spark.read.parquet(f"{out}/extracted")
    assert extracted.count() == 60
    assert set(extracted.columns) >= {"url", "spans", "extracted_text"}
    metrics = spark.read.parquet(f"{out}/_metrics")
    assert metrics.filter("stage like 'assemble:r1%'").count() > 0
    assert metrics.select("n_rows").groupBy().sum().head()[0] == 60

    # resume run over the same corpus: everything already done → no new rows
    main(["--synth", "60", "--output", out, "--run-id", "r2", "--resume"])
    assert spark.read.parquet(f"{out}/extracted").count() == 60


def test_cli_chunked_matches_whole_document(spark, tmp_path):
    """--chunk-chars (W5) through the job surface: same urls, same bytes."""
    a, b = str(tmp_path / "whole"), str(tmp_path / "chunked")
    main(["--synth", "40", "--output", a, "--run-id", "r1"])
    main(["--synth", "40", "--output", b, "--run-id", "r1", "--chunk-chars", "1500"])
    whole = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(f"{a}/extracted").collect()
    }
    chunked = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(f"{b}/extracted").collect()
    }
    assert chunked == whole


def _run(spark, argv: list[str]) -> tuple[int, int]:
    """Run ``main``; return the url total it prints and the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"cli-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "cli run")
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return int(buf.getvalue().split()[-2]), len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def page_dirs(spark, tmp_path_factory):
    """Parquet page inputs: 40 pages, a 15-page part of them, and none."""
    root = tmp_path_factory.mktemp("pages")
    pages = pages_df(spark, 40)
    pages.write.parquet(str(root / "all"))
    pages.orderBy("url").limit(15).write.parquet(str(root / "part"))
    pages.limit(0).write.parquet(str(root / "empty"))
    return {k: str(root / k) for k in ("all", "part", "empty")}


def test_cli_prints_the_table_row_count(spark, page_dirs, tmp_path):
    """The printed total is the extracted table's row count, whether it
    comes from the observed write (a fresh dir), the observed done-set plus
    the write (``--resume``) or a count (anything else)."""

    def held(out: str, argv: list[str]) -> int:
        n, _ = _run(spark, ["--output", out, "--run-id", f"r{uuid.uuid4().hex}", *argv])
        assert n == spark.read.parquet(f"{out}/extracted").count()
        return n

    out = str(tmp_path / "out")
    assert held(out, ["--input", page_dirs["part"]]) == 15  # fresh dir
    assert held(out, ["--input", page_dirs["all"], "--resume"]) == 40  # after a partial run
    assert held(out, ["--input", page_dirs["part"]]) == 55  # non-resume re-run: appends again
    # --resume over an empty input onto an empty table: the optimizer drops
    # the anti-join's empty build side with its observation, so main counts
    empty = str(tmp_path / "empty")
    assert held(empty, ["--input", page_dirs["empty"]]) == 0
    assert held(empty, ["--input", page_dirs["empty"], "--resume"]) == 0


def test_cli_run_is_one_write_job(spark, page_dirs, tmp_path):
    """A fresh-dir run is the input's schema job, the write and the metrics
    row; ``--resume`` adds the done-set broadcast. The totals ride the write
    as observations: no job re-reads the output to count it."""
    out = str(tmp_path / "out")
    assert _run(spark, ["--input", page_dirs["part"], "--output", out])[1] <= 3
    assert _run(spark, ["--input", page_dirs["all"], "--output", out, "--resume"])[1] <= 4

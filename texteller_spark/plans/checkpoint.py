"""Resumable execution: an observed append of the results + checkpointed urls.

North rule: "per-partition lineage and counters are checkpointed … for
resumable re-runs"; the counters here are per run. Declarative (no mapPartitions):

* :func:`write_extracted` — append results, then the run's row and byte
  totals, observed by the write job itself, as one ``_metrics`` row.
* :func:`resume_pending` — anti-join the input scan against already-
  checkpointed urls, so a re-run only processes the remainder. On Iceberg
  this is ``pages.join(done, 'url', 'left_anti')`` against the snapshot-
  isolated output table; parquet in-sandbox, same plan shape.

All reads/writes route through the :mod:`..plans.io` seam —
``SPARK_GRAFT_TABLE_FORMAT=iceberg`` switches the sinks to
``writeTo().append()`` catalog tables with no code change here.

The anti-join broadcasts when the done-set is small and degrades to a
shuffled join at scale — Catalyst/AQE pick the strategy; at 10^12 rows the
done-set lives in the same bucketed layout as the input so the join is
co-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .io import append_table, read_table, table_target

__all__ = ["write_extracted", "resume_pending", "read_done_urls"]


def write_extracted(extracted: DataFrame, out_dir: str, run_id: str) -> tuple[int, int]:
    """Append the extraction output, then its ``assemble:<run_id>`` metrics
    row, through the IO seam (parquet path in-sandbox; ``writeTo().append()``
    under ``SPARK_GRAFT_TABLE_FORMAT=iceberg``); return the rows written and
    their summed ``length(extracted_text)``.

    Both totals are an ``Observation`` on the written frame: the write job
    computes them once per row as it writes, and Spark merges the partial of
    each successful task of its final stage once, so a retry is not counted
    twice. An observation has no per-partition keys: ``partition_id`` is
    NULL. The row is built in the JVM; one from Python would cost Python
    tasks.
    """
    totals = Observation(f"assemble:{run_id}")
    aggs = F.count(F.lit(1)).alias("n_rows"), F.sum(F.length("extracted_text")).alias("n_bytes")
    append_table(extracted.observe(totals, *aggs), table_target(out_dir, "extracted"))
    got = totals.get
    n_rows, n_bytes = got["n_rows"], got["n_bytes"] or 0  # sum() of no rows is NULL
    row = extracted.sparkSession.range(1, numPartitions=1).select(
        F.lit(f"assemble:{run_id}").alias("stage"), F.lit(None).cast("int").alias("partition_id"),
        F.lit(n_rows).cast("long").alias("n_rows"), F.lit(n_bytes).cast("long").alias("n_bytes"),
    )
    append_table(row, table_target(out_dir, "_metrics"))
    return n_rows, n_bytes


def read_done_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    done = read_table(spark, table_target(out_dir, "extracted"), schema="url string")
    return None if done is None else done.select("url")


def resume_pending(
    pages: DataFrame, out_dir: str, done_rows: Observation | None = None
) -> DataFrame:
    """Filter the input scan down to urls not yet present in the output
    checkpoint (left_anti). Idempotent re-runs: crash → rerun → only the
    remainder is processed. ``done_rows`` observes the done-set's
    ``n_rows`` in the job that runs the join, unless nothing was written
    yet or AQE drops the join's build side; its ``get`` raises then."""
    done = read_done_urls(pages.sparkSession, out_dir)
    if done is None:
        return pages
    if done_rows is not None:
        done = done.observe(done_rows, F.count(F.lit(1)).alias("n_rows"))
    return pages.join(done, "url", "left_anti")

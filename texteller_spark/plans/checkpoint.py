"""Resumable execution: per-partition lineage counters + checkpointed urls.

North-rule requirements: "per-partition lineage and counters are checkpointed
… for resumable re-runs". The design is declarative (no mapPartitions):

* :func:`stage_metrics` — per-partition row/byte counters for any stage,
  computed with ``spark_partition_id()`` + a plain groupBy (map-side partial
  aggregation; the only shuffle is P→few rows).
* :func:`write_extracted` — append results + the per-run metrics table from
  one pass of the kernel. The frame is local-checkpointed lazily: the write
  job computes each row once and keeps its blocks on the executors, and the
  metrics job reads those blocks instead of re-running scan, resume
  anti-join and kernel. ``persist()`` cannot stand in for it. Written first,
  the append to ``extracted`` re-caches a ``--resume`` plan (it reads that
  path through the anti-join), so the metrics job would count 0 rows; with
  metrics first, AQE may not coalesce a cached plan's partitions
  (``canChangeCachedPlanOutputPartitioning`` is off), so the write would
  fan out into one file per shuffle partition.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import append_table, read_table, table_target

__all__ = ["stage_metrics", "write_extracted", "resume_pending", "read_done_urls"]


def stage_metrics(df: DataFrame, stage: str, bytes_col: str) -> DataFrame:
    """Per-partition row count and summed ``length(bytes_col)`` for ``df``
    at this point of the plan."""
    return (
        df.select(F.spark_partition_id().alias("partition_id"), bytes_col)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length(F.col(bytes_col))).alias("n_bytes"),
        )
        .select(F.lit(stage).alias("stage"), "partition_id", "n_rows", "n_bytes")
    )


def write_extracted(extracted: DataFrame, out_dir: str, run_id: str) -> None:
    """Append the extraction output, then its ``assemble:<run_id>`` metrics,
    through the IO seam (parquet path in-sandbox; ``writeTo().append()``
    under ``SPARK_GRAFT_TABLE_FORMAT=iceberg``).

    The kernel runs once per row: ``localCheckpoint(eager=False)`` cuts the
    lineage at this frame, so the metrics job reads the blocks the write
    job left on the executors and counts exactly the rows it wrote, while
    AQE still plans the write's partitions (the module docstring says why
    not ``persist()``). The blocks live in executor storage, not on a
    reliable filesystem: if an executor is lost between the two jobs, the
    metrics job fails loudly instead of recomputing. Spark frees the blocks
    when the frame is garbage-collected.
    """
    extracted = extracted.localCheckpoint(eager=False)
    append_table(extracted, table_target(out_dir, "extracted"))
    m = stage_metrics(extracted, f"assemble:{run_id}", bytes_col="extracted_text")
    append_table(m, table_target(out_dir, "_metrics"))


def read_done_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    done = read_table(spark, table_target(out_dir, "extracted"))
    return None if done is None else done.select("url")


def resume_pending(pages: DataFrame, out_dir: str) -> DataFrame:
    """Filter the input scan down to urls not yet present in the output
    checkpoint (left_anti). Idempotent re-runs: crash → rerun → only the
    remainder is processed."""
    done = read_done_urls(pages.sparkSession, out_dir)
    if done is None:
        return pages
    return pages.join(done, "url", "left_anti")

"""Table IO seam: one code path for the sink/source format.

The production posture (SURVEY.md / north rule) is Iceberg — bucketed input
table, ``writeTo().append()`` sinks, snapshot-isolated resume. The sandbox
has no Iceberg runtime jar, so everything runs on parquet projections whose
plan properties (partition pruning, co-partitioned layout, append+anti-join
resume) are pinned equivalent in ``tests/test_plan_quality.py``. This module
is the seam that makes the swap a config change instead of a code change:
every checkpoint/sink call routes through :func:`append_table` /
:func:`read_table`, and ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` switches the
whole engine to ``writeTo()`` table identifiers (skipped-if-unavailable
tested in-sandbox).

Targets are format-interpreted: a filesystem path for ``parquet``, a
catalog table identifier (``cat.db.tbl``) for ``iceberg``.
:func:`table_target` builds the child-table name for each convention.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

__all__ = ["table_format", "table_target", "append_table", "read_table"]


def table_format(fmt: str | None = None) -> str:
    """Resolve the active table format: explicit arg beats the
    ``SPARK_GRAFT_TABLE_FORMAT`` env (default ``parquet``)."""
    out = (fmt or os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")).lower()
    if out not in ("parquet", "iceberg"):
        raise ValueError(f"unsupported table format: {out!r}")
    return out


def table_target(base: str, name: str, fmt: str | None = None) -> str:
    """Child-table target under ``base``: ``base/name`` for path-addressed
    parquet, ``base.name`` for catalog-addressed Iceberg."""
    return f"{base}/{name}" if table_format(fmt) == "parquet" else f"{base}.{name}"


def append_table(df: DataFrame, target: str, fmt: str | None = None) -> None:
    """Append ``df`` to ``target`` (create on first write).

    parquet: ``write.mode('append').parquet(path)``. iceberg:
    ``writeTo(tbl).append()`` — Iceberg commits are snapshot-isolated, so a
    crashed job never leaves a half-visible append (the resume anti-join in
    ``checkpoint.resume_pending`` reads only committed snapshots; parquet
    approximates this with directory-level atomicity of the Spark commit
    protocol)."""
    if table_format(fmt) == "parquet":
        df.write.mode("append").parquet(target)
        return
    if df.sparkSession.catalog.tableExists(target):
        df.writeTo(target).append()
    else:
        df.writeTo(target).using("iceberg").create()


# read errors that mean "nothing committed yet": a directory holding only
# ``_temporary/`` (a crash before the first commit), or a path that vanished
# between the existence probe and the read
_NOT_YET_WRITTEN = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _path_exists(spark: SparkSession, target: str) -> bool:
    """Hadoop ``FileSystem.exists`` on ``target`` — a probe that logs
    nothing, unlike reading an absent path (Spark's ``FileStreamSink``
    warns with a full stack trace before the ``PATH_NOT_FOUND``)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(target)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path)


def read_table(
    spark: SparkSession, target: str, fmt: str | None = None, schema: str | None = None
) -> DataFrame | None:
    """Read ``target``; None when nothing has been committed to it yet.

    Any other failure (e.g. a corrupt file) raises: treating an unreadable
    checkpoint as empty would make a resumed run re-extract and append
    every page again. A parquet ``schema`` (DDL) skips the footer-reading
    job of schema inference; a ``_temporary/``-only directory then reads as
    empty, and a corrupt file raises on the first scan."""
    if table_format(fmt) == "parquet":
        if not _path_exists(spark, target):
            return None
        try:
            return (spark.read.schema(schema) if schema else spark.read).parquet(target)
        except AnalysisException as e:
            if e.getCondition() in _NOT_YET_WRITTEN:
                return None
            raise
    if not spark.catalog.tableExists(target):
        return None
    return spark.read.table(target)

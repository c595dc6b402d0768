"""SparkSession factory with the engine's scale discipline baked in.

These settings are the local-mode projection of the production posture
(1000-executor cluster over a 10^12-row Iceberg table): AQE on (runtime
skew-join splitting + partition coalescing), Arrow enabled with bounded
batch sizes (the memory-ceiling analog of the reference's recognition batch
size 6), and Python worker reuse (per-executor kernel warm-up amortized, the
model-session-caching analog).

Reused workers also pay a per-task import cost that no setting removes.
Spark's Python worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). Before CPython
3.13 (gh-103200 made it lazy) that makes every cached ``zipimporter`` re-read
its whole archive directory: a worker holds 22 of them on four archives,
among them ``pyspark.zip`` (1,328 entries) and the ``spark-core`` jar (5,359)
that Spark puts on the worker's path. Measured in real workers (Python 3.11,
local[4] on a 4-vCPU host, 8 ``extract_pages`` jobs), that was 22 directory
reads and 0.20-0.23 CPU s per task, paid before the UDF runs. Importing this
package installs ``guard_zipimport_invalidation``: an archive's directory is
re-read only when the archive's stat changed since the last read, so from a
worker's second task on an unchanged archive is read 0 times per task (per
worker over 9 tasks: 1.8-2.1 -> 0.26-0.33 CPU s). perfbench ``crawl_mix``
(12 alternated pairs) went from 5,437 to 6,758 docs/s and from 0.64 to 0.51
CPU s/kdoc by median.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import SparkSession

__all__ = [
    "build_session",
    "default_parallelism",
    "guard_zipimport_invalidation",
    "ship_package",
]


def _zip_stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def guard_zipimport_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed: its ``(st_mtime_ns, st_size, st_ino)``
    differs from the last read, or it left ``zipimport._zip_directory_cache``.
    Otherwise the importer rebinds to the cached directory. A changed archive
    is read once per change, not once per importer; this is the freshness
    contract CPython uses for ``.pyc`` validation. Idempotent; does nothing
    on Python >= 3.13, where the invalidation is already lazy.

    Archives already cached are read once here, with their stamp taken
    first, so the stamps never trust a directory read before the guard."""
    if sys.version_info >= (3, 13):
        return
    eager = zipimport.zipimporter.invalidate_caches
    if hasattr(eager, "__wrapped__"):
        return
    cache = zipimport._zip_directory_cache
    stamps: dict[str, tuple[int, int, int]] = {}
    for archive in list(cache):
        stamp = _zip_stamp(archive)
        try:
            cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            continue
        if stamp is not None:
            stamps[archive] = stamp

    @functools.wraps(eager)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _zip_stamp(archive)
        files = cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        # stamped before the read: a write during it shows at the next stat
        eager(self)
        if stamp is not None and archive in cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors — the in-process analog of
    ``spark-submit --py-files texteller_spark.zip`` (north rule). Makes the
    session independent of the driver's working directory."""
    sc = spark.sparkContext
    if getattr(sc, "_texteller_shipped", False):
        return
    sc._texteller_shipped = True
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    stage = tempfile.mkdtemp(prefix="texteller_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(stage, "texteller_spark"), "zip",
        root_dir=os.path.dirname(pkg_dir), base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app: str = "texteller_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    n = cpus or default_parallelism()
    shuffle = shuffle_partitions or max(2 * n, 32)
    # SPARK_GRAFT_MASTER overrides the master URL — used by the scaling
    # experiment to run the identical job under local-cluster[N,cores,mem]
    # (N separate executor JVMs on this host, each with its own Arrow feed
    # path — the closest in-sandbox approximation of a multi-executor
    # cluster; see tools/bench_scaling.py)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    builder = SparkSession.builder.master(master)
    if master.startswith("local-cluster"):
        builder = builder.config(
            "spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "4g")
        )
        # Per-executor JVM sizing — what a real cluster's cgroups/YARN give
        # each executor for free. Without it every co-hosted executor JVM
        # sizes GC/JIT/netty pools for ALL host cores (4 JVMs × 32-core
        # pools = thread storm), and cold heaps pay page-fault+usercopy
        # costs inside the measured window. Measured on the 4x8 probe:
        # steady-state 14-17k → 23-29k docs/s, kernel time 25-34% → 6-21%.
        try:
            cores = int(master.split("[")[1].split(",")[1])
        except (IndexError, ValueError):
            cores = 8
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ActiveProcessorCount={cores} -XX:+AlwaysPreTouch "
            "-XX:+UseParallelGC -XX:ParallelGCThreads=4",
        )
    spark = (
        builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # WARC-Date is UTC by spec; pinning the session tz makes every
        # timestamp derived from crawl data host-timezone-independent
        # (naive-UTC datetimes from the WARC parser land unchanged)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.worker.reuse", "true")
        # UDF-heavy scans: smaller splits → parallelism without a repartition
        # shuffle (32 MB ≈ a few thousand pages per task)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Iterative operators (the cluster-closure loop) generate a fresh
        # codegen class per round; 4096 entries keep a full multi-pass bench
        # sweep resident instead of the default 100 evicting it
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ship_package(spark)
    return spark

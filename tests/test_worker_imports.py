"""The zip-directory invalidation guard (session.guard_zipimport_invalidation).

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task; before Python 3.13 that re-read every cached zip archive's directory.
The guard re-reads an archive only when its stat changed. These tests pin
freshness (a rewritten archive is re-read and its new module imports) and
the saving (an unchanged archive is read 0 times), as read counts. The last
pins that the package's modules import without pandas.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from texteller_spark.session import guard_zipimport_invalidation

needs_eager = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy on 3.13+"
)


@pytest.fixture
def unguarded(monkeypatch):
    """The stock ``zipimporter.invalidate_caches`` for the test; whatever the
    test installs is undone at teardown."""
    inv = zipimport.zipimporter.invalidate_caches
    stock = getattr(inv, "__wrapped__", inv)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    return stock


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path`` and a writer that replaces it."""
    archive = str(tmp_path / "mods.zip")

    def write(modules):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)
        os.replace(tmp, archive)

    write({})
    monkeypatch.syspath_prepend(archive)
    yield archive, write
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    for name in [m for m in sys.modules if m.startswith("tw_")]:
        del sys.modules[name]


@needs_eager
def test_package_import_installs_the_guard():
    import texteller_spark  # noqa: F401

    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


@needs_eager
def test_rewritten_zip_is_reread_and_its_new_module_imports(
    unguarded, zip_on_path, reads
):
    archive, write = zip_on_path
    write({"tw_mod_a": "X = 1\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("tw_mod_a").X == 1
    guard_zipimport_invalidation()

    write({"tw_mod_a": "X = 1\n", "tw_mod_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("tw_mod_b").Y == 2


@needs_eager
def test_unchanged_zip_is_not_reread(unguarded, zip_on_path, reads):
    archive, write = zip_on_path
    write({"tw_mod_c": "Z = 3\n"})
    importlib.invalidate_caches()
    importlib.import_module("tw_mod_c")
    guard_zipimport_invalidation()

    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("tw_mod_c").Z == 3


@needs_eager
def test_each_change_is_read_once_not_once_per_importer(unguarded, zip_on_path, reads):
    """A package in the archive gets its own importer (``archive/pkg``) on
    the same archive, as ``pyspark.zip`` has ~22 in a worker."""
    archive, write = zip_on_path
    pkg = {"tw_pkg/__init__": "", "tw_pkg/sub/__init__": "", "tw_pkg/sub/m": "V = 1\n"}
    write(pkg)
    importlib.invalidate_caches()
    assert importlib.import_module("tw_pkg.sub.m").V == 1
    same_archive = [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    assert len(same_archive) >= 3
    guard_zipimport_invalidation()

    write({**pkg, "tw_pkg/sub/n": "W = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("tw_pkg.sub.n").W == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@needs_eager
def test_removed_zip_degrades_like_the_stock_importer(unguarded, zip_on_path):
    archive, write = zip_on_path
    write({"tw_mod_d": "Q = 4\n"})
    importlib.invalidate_caches()
    importlib.import_module("tw_mod_d")
    guard_zipimport_invalidation()

    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


def test_installing_twice_wraps_once(unguarded):
    guard_zipimport_invalidation()
    first = zipimport.zipimporter.invalidate_caches
    guard_zipimport_invalidation()
    assert zipimport.zipimporter.invalidate_caches is first
    if sys.version_info < (3, 13):
        assert first.__wrapped__ is unguarded


def test_python_313_patches_nothing(unguarded, reads, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    guard_zipimport_invalidation()
    assert zipimport.zipimporter.invalidate_caches is unguarded
    assert reads == []


@needs_eager
def test_reused_spark_worker_reads_no_zip_directory(spark):
    """After an ``extract_pages`` job, a later task in the same reused
    worker runs ``importlib.invalidate_caches()`` (what the worker does
    before every task) and reads no archive directory, with ``pyspark.zip``
    on the worker's path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from texteller_spark.plans.pipeline import extract_pages
    from texteller_spark.sources.pages import pages_df

    extract_pages(pages_df(spark, 200, partitions=4)).write.format("noop").mode(
        "overwrite"
    ).save()

    # defined in the test body so the worker unpickles it by value and
    # does not import texteller_spark for this task
    @pandas_udf("imported boolean, zips long, reads long")
    def count_reads(ids: pd.Series) -> pd.DataFrame:
        import importlib as il
        import sys as s
        import zipimport as zi

        imported = "texteller_spark" in s.modules
        zips = sum(isinstance(i, zi.zipimporter) for i in s.path_importer_cache.values())
        n = [0]
        real = zi._read_directory

        def counting(archive):
            n[0] += 1
            return real(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        return pd.DataFrame(
            {"imported": [imported] * len(ids), "zips": zips, "reads": n[0]}
        )

    rows = (
        spark.range(0, 8, 1, 8)
        .select(count_reads("id").alias("r"))
        .select("r.*")
        .collect()
    )
    warm = [r for r in rows if r["imported"]]
    assert warm, rows  # at least one task landed on a worker the job used
    assert all(r["zips"] > 0 for r in warm), rows
    assert [r["reads"] for r in warm] == [0] * len(warm), rows


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_extraction_modules_import_no_pandas():
    """Every module of the package imports without pandas: a worker that
    unpickles any of its UDFs imports that module and the package root.
    Only the streaming state operator imports pandas, inside its builder."""
    code = (
        "import pkgutil, sys, texteller_spark as t\n"
        "mods = [m.name for m in pkgutil.walk_packages(t.__path__, t.__name__ + '.')]\n"
        "for m in mods: __import__(m)\n"
        "print(' '.join(mods), 'pandas' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, capture_output=True, text=True, check=True
    )
    *mods, pandas_loaded = out.stdout.split()
    assert {"texteller_spark.operators.dedup", "texteller_spark.streaming.stream"} <= set(mods)
    assert pandas_loaded == "False", out.stderr

"""Pins on the bench harness: the env knobs the code reads, and the
summary line that bench.py prints last for a driver that keeps only a
2000-char tail of stdout."""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KNOB = re.compile(r"(SPARK_GRAFT|TEXTELLER)_[A-Z0-9_]+")

#: every env knob read in texteller_spark/, tools/ and bench.py; adding
#: one is a deliberate edit here
KNOBS = {
    "SPARK_GRAFT_BENCH_DOCS",
    "SPARK_GRAFT_BENCH_EMB_UNIFORM",
    "SPARK_GRAFT_BENCH_MINHASH_BASE",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_PASSES",
    "SPARK_GRAFT_BENCH_PDFS",
    "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_EXEC_MEM",
    "SPARK_GRAFT_LSH_RECALL_BASE",
    "SPARK_GRAFT_LSH_RECALL_CONFIGS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SKEW_PARTS",
    "SPARK_GRAFT_TABLE_FORMAT",
}


def knobs_in_code() -> set[str]:
    """Knob names used as string literals or keyword names (``dict(os.environ,
    SPARK_GRAFT_CPUS=...)``); comments and prose in docstrings do not count."""
    files = [
        ROOT / "bench.py",
        *(ROOT / "texteller_spark").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
    ]
    names = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                name = node.value
            elif isinstance(node, ast.keyword) and node.arg:
                name = node.arg
            else:
                continue
            if KNOB.fullmatch(name):
                names.add(name)
    return names


def test_env_knob_census():
    assert knobs_in_code() == KNOBS


def test_bench_summary_line_fits_the_driver_tail():
    import bench

    names = list(bench.query_builders(spark=None, corpus=None))
    # three-digit seconds with every decimal the line keeps: a long cell
    samples = {name: [100 + 7.123 * i, 200 + 7.123 * i, 300.5] for i, name in enumerate(names)}
    host = [{"steal_pct": 12.3, "busy_pct": 87.6}, {"steal_pct": 45.6, "busy_pct": 54.3}]
    line = bench.summary_line(samples, [1.234, 2.345, 3.456], host, sf=0.1)
    assert len(line) <= 1500, len(line)
    summary = json.loads(line)
    assert set(summary["queries"]) == set(names)
    assert summary["value"] > 0 and summary["extract_docs_per_sec"] > 0
    assert summary["steal_pct_max"] == 45.6
    assert summary["raw"] == bench.PASSES_FILE

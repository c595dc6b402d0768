"""Every SQL-expressible catalog entry vs its DuckDB oracle at sf0.001.

This mirrors the driver's correctness gate (row count + column names +
order-insensitive value multiset, the comparator of
tools/check_correctness.py) so a regression in either side of a
(queries(), oracle_sql()) pair fails pytest before the driver sees it.
Rows-only entries are smoke-run for schema stability and rows >= 0.
"""

from __future__ import annotations

import json
from pathlib import Path

import duckdb
import pytest

from texteller_spark.plans.queries import _CATALOG, ORACLES, QUERIES
from tools.check_correctness import TABLES, multiset

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_pair(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ORACLES[name])
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert len(srows) == len(drows)
    assert multiset(srows, sdf.columns) == multiset(drows, rel.columns)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_smoke(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    assert sdf.columns  # stable, non-empty schema
    assert sdf.count() >= 0


def test_rotation_puts_unrecorded_entries_first():
    """The external correctness check records the first ~50 QUERIES entries
    per round, so every entry the newest CORRECTNESS file skipped must sort
    before every entry it recorded, or the next round re-checks the same
    entries."""
    files = Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json")
    newest = max(files, key=lambda p: int(p.stem.removeprefix("CORRECTNESS_r")))
    recorded = set(json.loads(newest.read_text()))
    pos = {n: i for i, n in enumerate(QUERIES)}
    skipped = [pos[n] for n in _CATALOG if n not in recorded]
    kept = [pos[n] for n in _CATALOG if n in recorded]
    assert skipped and kept
    assert max(skipped) < min(kept), (newest.name, max(skipped), min(kept))

"""Seeded benchmark inputs, materialized once per (workload, seed, scale).

Every table is a pure function of the seed. Page tables reuse the program's
own synthetic page generator (``synth_page``), whose page class is a
function of the page index (``i % 10`` and ``i % 1000``). The seed shifts
the index range by a multiple of 1000, so every seed keeps the same class
mix while the pages themselves differ. The ``documents`` table follows the
schema of the repository's ``documents`` test table (``doc_id, text, lang,
source, n_chars``) and plants chains of near-copies so the dedup closure
iterates.

Inputs are generated in this process with pyarrow, before the Spark session
exists, so generating them is never part of any timed figure.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: the seed picks one of this many disjoint index windows. Each window is
#: 100,000 pages wide (a multiple of 1000) and the highest index stays
#: below 60.1M, so ``warc_ts`` (3600 s per index from 2024-01-01) stays
#: inside the ``datetime`` range (it ends before the year 8900).
SEED_WINDOWS = 600
WINDOW = 100_000

#: pages per crawl-shaped parquet file: every file holds one whole
#: 1000-page class cycle (one 1000-span page and one 1.1 MiB page)
PAGES_PER_FILE = 1000

#: math-bearing page classes by ``i % 10`` (inline, inline, display, MathML,
#: mixed tag, adversarial)
MATH_RESIDUES = (2, 3, 4, 5, 6, 7)
#: one page in this many of the math-dense mix is a 1000-span page (2%)
SKEW_EVERY = 50

#: vocabulary of the repository's ``documents`` test table
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def base_index(seed: int) -> int:
    return (seed % SEED_WINDOWS) * WINDOW


def crawl_indices(seed: int, n: int) -> list[int]:
    """``n`` consecutive page indices: the production class mix."""
    b = base_index(seed)
    return list(range(b, b + n))


def formula_indices(seed: int, n: int) -> list[int]:
    """``n`` page indices from the math-bearing classes, with every
    ``SKEW_EVERY``-th position a 1000-span page (``i % 1000 == 500``) taken
    from its own 1000-block."""
    b = base_index(seed)
    math_pages = (i for i in range(b, b + 10 * n) if i % 10 in MATH_RESIDUES)
    out, k = [], 0
    for pos in range(n):
        if pos % SKEW_EVERY == SKEW_EVERY - 1:
            out.append(b + 1000 * k + 500)
            k += 1
        else:
            out.append(next(math_pages))
    return out


def formula_pages(seed: int, n: int) -> list[bytes]:
    """gzip html of ``n`` math-dense pages (see :func:`formula_indices`)."""
    return [page_row(i)["html"] for i in formula_indices(seed, n)]


def page_row(i: int) -> dict:
    from texteller_spark.sources.pages import synth_page

    p = synth_page(i)
    return {
        "url": p["url"],
        "warc_ts": p["warc_ts"].replace(tzinfo=None),
        # gzip level 1, WARC-faithful storage (as ``pages_df(gzip_html=True)``);
        # mtime pinned so the same seed gives byte-identical files
        "html": gzip.compress(p["html"], 1, mtime=0),
        "text": p["text"],
        "lang": p["lang"],
    }


_PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(path: str, indices: list[int], per_file: int = PAGES_PER_FILE) -> None:
    os.makedirs(path)
    for f, lo in enumerate(range(0, len(indices), per_file)):
        rows = [page_row(i) for i in indices[lo : lo + per_file]]
        table = pa.Table.from_pylist(rows, schema=_PAGE_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def documents_rows(seed: int, n: int) -> list[dict]:
    """Seeded ``documents`` table. In every run of eight documents the last
    three are each a one-word mutation of the document before them, which
    plants near-duplicate chains four documents long. The chain layout is
    the same for every seed, so every seed asks the closure for the same
    number of rounds; the seed changes only the words."""
    rng = random.Random(seed)
    rows, prev = [], []
    for doc_id in range(n):
        if doc_id % 8 >= 5:
            words = list(prev)
            words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
        else:
            words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 95))]
        prev = words
        text = " ".join(words)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choice(DOC_LANGS),
                "source": f"src{doc_id % 20}",
                "n_chars": len(text),
            }
        )
    return rows


def write_documents(sf_dir: str, seed: int, n: int) -> None:
    """``<sf_dir>/documents.parquet``, the layout the query catalog reads."""
    os.makedirs(sf_dir)
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    table = pa.Table.from_pylist(documents_rows(seed, n), schema=schema)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def near_dup_oracle(sf_dir: str) -> list[list]:
    """``p9_near_dup_prep`` evaluated by its DuckDB oracle over the table."""
    import duckdb

    from texteller_spark.plans.queries import ORACLES

    con = duckdb.connect()
    try:
        docs = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
        rows = con.execute(ORACLES["p9_near_dup_prep"]).fetchall()
    finally:
        con.close()
    return sorted([list(r) for r in rows])


def materialize(root: str, key: str, build) -> str:
    """Build ``root/key`` once with ``build(tmp_dir)``; later calls reuse it.
    The directory appears under its final name only when complete."""
    final = os.path.join(root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)

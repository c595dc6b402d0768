"""The workloads: inputs, one closed-loop job, the oracle check, and the
traced run's extra per-layer legs.

Each job is one call chain through the program's public functions:

* ``crawl_mix``: ``extract_pages`` over the pages table into a noop sink;
* ``checkpoint_resume``: ``texteller_spark.cli.main`` over a seeded half of
  the pages, then over all of them with ``--resume``.

The near-dup curation chain (``q_near_dup_prep``) is not a workload of its
own: a cold start of its plans alone costs ~20 s a run. The traced run of
``DEDUP_LEG_WORKLOAD`` times it instead, on a seeded ``documents`` table,
so the dedup and closure layers stay measured. The math-dense page mix is
likewise timed in-process by the traced run rather than run as a workload
(README.md).
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import statistics
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import inputs

NAMES = ("crawl_mix", "checkpoint_resume")

#: pages per job at scale 1
SIZES = {"crawl_mix": 8000, "checkpoint_resume": 4000}

#: documents in the near-dup leg's table at scale 1
DOCUMENTS = 500
DEDUP_LEG_WORKLOAD = "crawl_mix"

#: seeded pages checked against the oracle in every run, on top of every
#: 1000-span and 1.1 MiB page of the input
ORACLE_SAMPLE = 32


@dataclass
class Inputs:
    name: str
    seed: int
    docs: int
    pages_dir: str
    half_dir: str = ""
    sample_idx: list = field(default_factory=list)
    #: html of one seeded parquet file (a whole 1000-page class cycle), for
    #: the in-process kernel timing
    kernel_htmls: list = field(default_factory=list)


@dataclass
class Documents:
    sf_dir: str
    oracle: list
    docs: int


def prepare(name: str, root: str, seed: int, scale: float) -> Inputs:
    n = max(int(SIZES[name] * scale), 20)
    idx = inputs.crawl_indices(seed, n)
    rng = random.Random(seed)
    half = sorted(rng.sample(idx, n // 2))

    def build(tmp):
        inputs.write_pages(os.path.join(tmp, "pages"), idx)
        if name == "checkpoint_resume":
            inputs.write_pages(os.path.join(tmp, "half"), half)

    d = inputs.materialize(root, f"{name}-s{seed}-n{n}", build)
    inp = Inputs(name, seed, n, os.path.join(d, "pages"))
    if name == "checkpoint_resume":
        inp.half_dir = os.path.join(d, "half")
    # the 1000-span (i % 1000 == 500) and 1.1 MiB (== 750) pages
    heavy = [i for i in idx if i % 1000 in (500, 750)]
    inp.sample_idx = sorted(set(heavy) | set(rng.sample(idx, min(ORACLE_SAMPLE, n))))
    files = sorted(os.listdir(inp.pages_dir))
    kfile = os.path.join(inp.pages_dir, files[rng.randrange(len(files))])
    inp.kernel_htmls = pq.read_table(kfile, columns=["html"]).column("html").to_pylist()
    return inp


def prepare_documents(root: str, seed: int, scale: float) -> Documents:
    n = max(int(DOCUMENTS * scale), 20)

    def build(tmp):
        sf = os.path.join(tmp, "sf")
        inputs.write_documents(sf, seed, n)
        inputs.write_json(os.path.join(tmp, "oracle.json"), inputs.near_dup_oracle(sf))

    d = inputs.materialize(root, f"documents-s{seed}-n{n}", build)
    return Documents(os.path.join(d, "sf"), inputs.read_json(os.path.join(d, "oracle.json")), n)


# ---------------------------------------------------------------- jobs


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cli(argv: list[str]) -> int:
    """Run the CLI and return the url count it reports."""
    from texteller_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(argv)
    return int(buf.getvalue().strip().split()[-2])


class Runner:
    """Runs one workload's jobs against a live session."""

    def __init__(self, spark, inp: Inputs, out_root: str, spans):
        self.spark, self.inp, self.out_root, self.spans = spark, inp, out_root, spans
        self.iteration = 0
        self.wrong = 0  # url-count mismatches reported by the CLI
        self.last_out = ""

    def before_job(self) -> None:
        """Untimed clean-up between jobs: drop the previous CLI output."""
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = os.path.join(self.out_root, f"out{self.iteration}")

    def job(self) -> None:
        name, spark = self.inp.name, self.spark
        if name == "checkpoint_resume":
            self._checkpoint_job()
        else:
            from texteller_spark.plans.pipeline import extract_pages

            with self.spans.span("extract_pages"):
                _noop(extract_pages(spark.read.parquet(self.inp.pages_dir)))
        self.iteration += 1

    def _checkpoint_job(self) -> None:
        out = self.last_out
        with self.spans.span("cli.main", mode="half"):
            _cli(["--input", self.inp.half_dir, "--output", out, "--run-id", "half"])
        with self.spans.span("cli.main", mode="resume"):
            n = _cli(["--input", self.inp.pages_dir, "--output", out,
                      "--run-id", "resume", "--resume"])
        self.wrong += abs(n - self.inp.docs)

    # ------------------------------------------------------------ checks

    def check(self, plant: bool) -> tuple[int, int]:
        """(pages checked, outputs wrong): the sampled pages against
        ``expected_extraction``, plus, for the CLI, every url of the input
        present exactly once. ``plant`` corrupts one output first, to show
        that the check counts it."""
        name = self.inp.name
        from pyspark.sql import functions as F

        from texteller_spark.plans.pipeline import extract_pages
        from texteller_spark.sources.pages import expected_extraction, synth_page

        pages = [synth_page(i) for i in self.inp.sample_idx]
        urls = [p["url"] for p in pages]
        if name == "checkpoint_resume":
            table = self.spark.read.parquet(os.path.join(self.last_out, "extracted"))
            wrong = self._url_set_errors(table)
            rows = table.filter(F.col("url").isin(urls)).collect()
        else:
            wrong = 0
            src = self.spark.read.parquet(self.inp.pages_dir)
            rows = extract_pages(src.filter(F.col("url").isin(urls))).collect()
        got = {r["url"]: r for r in rows}
        for k, p in enumerate(pages):
            spans, text = expected_extraction(p["_blocks"])
            r = got.get(p["url"])
            out_text = None if r is None else r["extracted_text"]
            if plant and k == 0:
                out_text = (out_text or "") + " planted"
            if (
                r is None
                or out_text != text
                or [(s["kind"], s["raw"], s["content"]) for s in r["spans"]]
                != [(s["kind"], s["raw"], s["content"]) for s in spans]
            ):
                wrong += 1
        return len(pages), wrong + self.wrong

    def _url_set_errors(self, table) -> int:
        """Missing, extra and repeated urls in the resumed output table."""
        from pyspark.sql import functions as F

        src = self.spark.read.parquet(self.inp.pages_dir).select("url")
        out = table.select("url")
        missing = src.join(out, "url", "left_anti").count()
        extra = out.join(src, "url", "left_anti").count()
        repeated = (
            out.groupBy("url").count().filter(F.col("count") > 1)
            .agg(F.sum(F.col("count") - 1)).collect()[0][0]
        ) or 0
        return missing + extra + repeated

    # ------------------------------------------------------------ trace legs

    def calib_scan(self) -> float:
        """Pure-JVM crc32 scan of the input: the host normalizer."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.inp.pages_dir)
        with self.spans.span("calibration_scan") as s:
            df.select(F.sum(F.crc32("html")), F.sum(F.length("html"))).collect()
        return s.seconds

    def feed_legs(self, reps: int, spans_on_s: list[float]) -> dict:
        """Identity-UDF feed leg and spans-off leg, ``reps`` jobs each."""
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        from texteller_spark.plans.pipeline import extract_pages

        # defined here so it is pickled by value: workers cannot import
        # this benchmark's modules
        @pandas_udf(T.BinaryType())
        def identity(s: pd.Series) -> pd.Series:
            return s

        sc = self.spark.sparkContext
        pages = self.spark.read.parquet(self.inp.pages_dir)
        legs: dict[str, list[float]] = {"identity": [], "spans_off": [], "spans_on": []}
        for _ in range(reps):
            sc.setJobGroup("leg.identity", "identity pandas UDF over html")
            with self.spans.span("identity_udf") as s:
                _noop(pages.select(identity("html")))
            legs["identity"].append(s.seconds)
            sc.setJobGroup("leg.spans_off", "extract_pages(include_spans=False)")
            with self.spans.span("extract_pages", include_spans=False) as s:
                _noop(extract_pages(pages, include_spans=False))
            legs["spans_off"].append(s.seconds)
            if not spans_on_s:
                sc.setJobGroup("leg.spans_on", "extract_pages")
                with self.spans.span("extract_pages") as s:
                    _noop(extract_pages(pages))
                legs["spans_on"].append(s.seconds)
        on = statistics.median(spans_on_s or legs["spans_on"])
        return {
            "identity_s": statistics.median(legs["identity"]),
            "feed_out_s": on - statistics.median(legs["spans_off"]),
        }

    def near_dup_leg(self, docs: Documents, plant: bool) -> tuple[dict, int]:
        """The near-dup curation chain on a seeded ``documents`` table: a
        cold ``q_near_dup_prep``, a warm one checked against its DuckDB
        oracle, then one pass split at the public operator calls (MinHash
        signatures, LSH pairs, transitive closure). Returns the layer
        metrics and the documents whose output was wrong."""
        from pyspark.sql import functions as F

        from texteller_spark.operators.dedup import (
            duplicate_clusters,
            minhash_lsh_pairs,
            signature_cache,
        )
        from texteller_spark.plans.queries import q_near_dup_prep

        sc = self.spark.sparkContext
        for group in ("dedup.cold", "dedup.chain"):
            sc.setJobGroup(group, "q_near_dup_prep")
            with self.spans.span("q_near_dup_prep", group=group), signature_cache():
                rows = sorted([list(r) for r in q_near_dup_prep(self.spark, docs.sf_dir).collect()])
        if plant:
            rows[0][1] += 1
        wrong = 0 if _same_rows(rows, docs.oracle) else docs.docs

        d = self.spark.read.parquet(os.path.join(docs.sf_dir, "documents.parquet"))
        d = d.select("doc_id", "text")
        # the catalog's near-dup corpus: documents plus lightly mutated copies
        corpus = d.unionByName(
            d.select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" appended mutation token")).alias("text"),
            )
        )
        with signature_cache():
            sc.setJobGroup("dedup.minhash", "minhash_lsh_pairs")
            with self.spans.span("minhash_lsh_pairs") as s_min:
                pairs = minhash_lsh_pairs(corpus, bands=16, threshold=0.5)
            sc.setJobGroup("dedup.pairs", "pairs")
            with self.spans.span("pairs") as s_pairs:
                pairs = pairs.select("id_a", "id_b").persist()
                n_pairs = pairs.count()
            sc.setJobGroup("dedup.closure", "duplicate_clusters")
            with self.spans.span("duplicate_clusters") as s_cl:
                duplicate_clusters(
                    pairs, ids=corpus.select(F.col("doc_id").alias("id"))
                ).count()
            pairs.unpersist()
        metrics = {
            "dedup.minhash_s": s_min.seconds,
            "dedup.pairs_s": s_pairs.seconds,
            "dedup.closure_s": s_cl.seconds,
            "dedup.pairs": float(n_pairs),
        }
        return metrics, wrong


def _same_rows(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[0] != w[0] or g[1] != w[1] or f"{float(g[2]):.6g}" != f"{float(w[2]):.6g}":
            return False
    return True


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total / 2**20



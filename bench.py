"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE compact JSON summary line.

Methodology (parity with the reference's warmup-skipped timing,
det_model/inference.py:117-121): a small warmup run primes the JVM, Python
workers, and code paths before any timed query. Every timed query is forced
end-to-end with a noop sink (full computation, no disk-write noise).

Drift posture (round-5 protocol — the r4 verdict's #1 item): this host
exhibits multi-hour noise regimes where identical code swings ±2× between
windows, so consecutive per-query reps sample ONE window and
round-over-round cells become unfalsifiable. The timed section therefore
runs >=SPARK_GRAFT_BENCH_PASSES (default 3) FULL INTERLEAVED PASSES over
the whole query list — the same discipline tools/bench_scaling.py already
uses for its levels — and reports the per-query MEDIAN ACROSS PASSES.
Each pass opens with a fixed pure-JVM calibration scan (crc32+length over
the whole corpus: no Python, no shuffle, constant work) so an external
reader can separate host regime from code: if round R's calibration is
1.5× round R-1's, the window was 1.5× slower — normalize before comparing
query cells.

Round-5 addition: per-pass /proc/stat deltas (steal%/busy%) — the noise
regimes were root-caused to hypervisor CPU steal, which engages under
sustained multi-core load and which a short calibration scan under-detects
(BENCH.md "Host steal"); steal% is the direct window-quality metric an
external reader should gate on.

The last stdout line is a summary (per-query medians, calibration median,
median and max steal%, docs/s) that stays under 1500 chars; the raw
per-pass samples of every query, the calibration scan and the host go to
PASSES_FILE, which the summary names.

The flagship metric is extraction docs/sec over the deterministic synthetic
corpus (SPARK_GRAFT_BENCH_DOCS pages, default 100000). The scaling protocol
(tools/bench_scaling.py) runs this file at several parallelism levels for
the N→4N efficiency figure.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.inputs import materialize  # noqa: E402
from perfbench.probe import host_cpu, host_window  # noqa: E402
from texteller_spark.session import default_parallelism  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_parallelism()
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
#: restrict to a comma-separated subset (scaling experiment runs only the
#: pipeline); empty = all
ONLY = [q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q]
#: full interleaved passes over the query list; every query's cell is the
#: median across passes. Interleaving (pass1: q1..qn, pass2: q1..qn, ...)
#: beats consecutive reps because a multi-minute host-noise storm then hits
#: every query's sample k equally instead of concentrating in whichever
#: queries were running — the defect that made BENCH_r04's untouched-query
#: cells read 2x slower than r03 on identical code
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
#: flagship extraction runs per pass (total samples = PASSES x this); the
#: headline docs/sec deserves a wider median than the query cells
FLAGSHIP_PER_PASS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
#: PDF throughput corpus size (north rule: "PDF/layout parse")
N_PDFS = int(os.environ.get("SPARK_GRAFT_BENCH_PDFS", "20000"))
#: synthetic corpora are materialized here once, untimed (production reads
#: an existing table; generating inside the timed path would measure synth)
CACHE = "/tmp"
#: raw per-pass samples; the summary line names this file
PASSES_FILE = "/tmp/texteller_bench_passes.json"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pages_corpus(spark) -> str:
    """N_DOCS synthetic pages, html stored gzip-compressed (WARC-faithful):
    the kernel decompresses worker-side, so compressed bytes cross the
    Arrow feed."""
    from texteller_spark.sources.pages import pages_df

    def build(out):
        # fixed partition count: corpus file layout must not depend on the
        # generating session's parallelism (scan splits = files here, since
        # snappy-compressed row groups are far below maxPartitionBytes)
        pages_df(spark, N_DOCS, partitions=64, gzip_html=True).write.mode(
            "overwrite"
        ).parquet(out)

    return materialize(CACHE, f"texteller_pages_{N_DOCS}_gzip", build)


def pdf_corpus(spark) -> str:
    """One PDF per page (text re-flowed to 80-char lines), FlateDecode on
    even ids — generated on executors."""
    import pandas as pd

    from texteller_spark.sources.pages import pages_df
    from texteller_spark.sources.pdf import build_pdf

    def to_pdf(batches):
        for pdf in batches:
            rows = {
                "url": pdf["url"],
                "pdf": [
                    build_pdf(
                        [[t[i : i + 80] for i in range(0, max(len(t), 1), 80)]],
                        compress=(j % 2 == 0),
                    )
                    for j, t in enumerate(pdf["text"])
                ],
            }
            yield pd.DataFrame(rows)

    def build(out):
        pages_df(spark, N_PDFS, partitions=64).select("url", "text").mapInPandas(
            to_pdf, schema="url string, pdf binary"
        ).write.mode("overwrite").parquet(out)

    return materialize(CACHE, f"texteller_pdfs_{N_PDFS}", build)


def link_corpus(spark) -> str:
    """N_DOCS pages over 1000 registrable domains, three anchors each (two
    cross-domain, one www-host variant) — page:domain ratio ~100, the shape
    of a real crawl's host graph at this scale."""
    from pyspark.sql import functions as F

    def build(out):
        d = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
        a1 = (F.col("doc_id") * 7 + 3) % 1000
        a2 = (F.col("doc_id") * 13 + 5) % 1000
        url = F.concat(
            F.lit("https://www.site"), (F.col("doc_id") % 1000).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string"),
        )
        html = F.concat(
            F.lit('<html><body><a href="https://site'), a1.cast("string"),
            F.lit('.com/x">t</a><p>y</p><a href="https://www.site'),
            a2.cast("string"), F.lit('.com/q?x=1">u</a><a href="/rel">r</a>'
                                     "</body></html>"),
        )
        d.select(url.alias("url"), html.alias("html_str")).repartition(64).write.mode(
            "overwrite"
        ).parquet(out)

    return materialize(CACHE, f"texteller_links_{N_DOCS}", build)


def query_builders(spark, corpus) -> dict:
    """Every headline query: name -> zero-argument builder of its
    DataFrame. Building the dict touches neither ``spark`` nor ``corpus``;
    a builder materializes the corpus it reads on its first call, which is
    the untimed warmup."""
    from pyspark.sql import functions as F

    from texteller_spark.operators import textops as T
    from texteller_spark.plans import queries as Q
    from texteller_spark.plans.pipeline import extract_pages, extract_pages_chunked
    from tools.bench_ann_recall import ensure_emb_corpus

    def extract_pdfs():
        from texteller_spark.sources.pdf import extract_pdf_udf

        pdfs = spark.read.parquet(pdf_corpus(spark))
        return pdfs.select("url", extract_pdf_udf(F.col("pdf")).alias("text"))

    def wide(path):
        # ~25 MB of tiny parquet files collapses to 1-2 scan partitions
        # (openCostInBytes packing) and would serialize the interpreted
        # higher-order-function math below onto two cores — the exact
        # `_widen` blind spot ADVICE flagged on dedup. Spread explicitly.
        return spark.read.parquet(path).repartition(CPUS * 2)

    def domain_rank_corpus():
        # anchor extraction at scan speed over N_DOCS pages -> domain edge
        # aggregation -> 3 PageRank rounds over the ~1000-node host graph
        from texteller_spark.operators.graph import link_edges, pagerank

        return pagerank(link_edges(wide(link_corpus(spark))), iters=3)

    def kmeans_corpus():
        # distributed Lloyd over N_DOCS x 64-dim: map-only BLAS assignment
        # against the driver's centroid matrix + one 64-key exchange per round
        from texteller_spark.operators.clustering import kmeans_fit

        return kmeans_fit(wide(ensure_emb_corpus(spark)), k=64, iters=2)

    def semantic_dedup_corpus():
        # SemDeDup at corpus scale: k=128 seed clusters bound the pair
        # space to ~(N/k)^2 * k cosine evaluations
        from texteller_spark.operators.clustering import (
            seed_centroids,
            semantic_dedup,
        )

        e = wide(ensure_emb_corpus(spark))
        return semantic_dedup(e, seed_centroids(e, 128), threshold=0.9)

    def curation_signals():
        # full crawl-curation signal pass over the corpus in ONE scan —
        # URL keys + quality + lang-id + repetition + fingerprint, all pure
        # JVM column expressions with shared subexpressions factored once
        # (the noop sink forces every column, so nothing is pruned away);
        # zero shuffles
        return T.curation_columns(corpus)

    def curation_pii_gopher():
        # PII scrub + Gopher keep-rules over the 100k-page corpus text in
        # one scan — the regex-heaviest pure-JVM pass in the catalog
        # (3 chained regexp_replace + the rule battery); zero shuffles
        return corpus.select(
            "url",
            *T.pii_counts(F.col("text")),
            T.redact_pii(F.col("text")).alias("redacted"),
            *T.gopher_flags(F.col("text")),
        )

    def vocab_topk_corpus():
        # document-frequency top-25 over the 100k-page corpus: the explode
        # fans each page into its distinct tokens (~10M rows), partial
        # map-side counts collapse them before the shuffle, global top-k
        # via TakeOrderedAndProject — the heaviest pure-agg shape in the
        # bench
        words = corpus.select(
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
            ).alias("w")
        ).filter(F.col("w") != "")
        return (
            words.groupBy("w")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .orderBy(F.desc("doc_freq"), F.asc("w"))
            .limit(25)
        )

    def pack_corpus():
        # sequence packing over the corpus: token counts at the scan, then
        # the two-level distributed prefix sum (order key = url hash — a
        # crawl has no natural doc order); exercises the packing shuffle
        # pair + broadcast prefix at 100k rows
        from texteller_spark.operators.packing import pack_sequences

        toks = corpus.select(
            F.xxhash64("url").alias("doc_key"),
            T.token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        return pack_sequences(
            toks, id_col="doc_key", seq_len=2048, bucket_size=1 << 56
        )

    def exact_substring_corpus():
        # Lee et al. EXACTSUBSTR at the published window=50: one Arrow
        # rolling-hash kernel (O(T) per doc), a (url-hash, pos, hash64)
        # counting shuffle — the heaviest narrow shuffle in the bench
        # (~1 row per corpus token) — then dup-start collection and the
        # in-row complement rebuild. The synthetic corpus is the
        # adversarial-max case (99.6% of windows duplicated — templated
        # sentences), so this entry runs a deterministic quarter of it to
        # keep the bench budget; the full-corpus measurement (26.1 s at
        # 100k pages) is recorded in BENCH.md.
        from texteller_spark.operators.dedup import remove_repeated_substrings

        docs = corpus.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0).select(
            F.xxhash64("url").alias("doc_id"), "text"
        )
        return remove_repeated_substrings(docs, window=50)

    return {
        "pipeline_extract": lambda: extract_pages(corpus),
        # secondary: text-only consumers skip the span payload on the
        # worker→JVM feed (same kernel, byte-identical extracted_text)
        "pipeline_extract_text": lambda: extract_pages(corpus, include_spans=False),
        # W5 oversized-doc path: pays one chunk-spread shuffle + the groupBy
        # — the premium over the shuffle-free flagship buys bounded per-task
        # work when single documents are huge
        "pipeline_extract_chunked": lambda: extract_pages_chunked(corpus),
        "pipeline_extract_pdf": extract_pdfs,
        "q1_pricing_summary": lambda: Q.q_pricing_summary(spark, SF_DIR),
        "q6_revenue_scalar": lambda: Q.q_revenue_scalar(spark, SF_DIR),
        "j2_region_rollup": lambda: Q.q_region_rollup(spark, SF_DIR),
        "q3_shipping_priority": lambda: Q.q_shipping_priority(spark, SF_DIR),
        "q9_profit_star": lambda: Q.q_profit_by_nation_brand(spark, SF_DIR),
        "j3_range_join": lambda: Q.q_range_join(spark, SF_DIR),
        "j4_sessionize": lambda: Q.q_sessionize(spark, SF_DIR),
        "j6_semi_anti": lambda: Q.q_semi_anti(spark, SF_DIR),
        "j7_asof_join": lambda: Q.q_asof_join(spark, SF_DIR),
        "w2_interval_merge": lambda: Q.q_interval_merge(spark, SF_DIR),
        "k1_topk_per_group": lambda: Q.q_topk_per_group(spark, SF_DIR),
        "dedup_exact": lambda: Q.q_dedup_exact(spark, SF_DIR),
        "dedup_minhash_lsh": lambda: Q.q_minhash_lsh(spark, SF_DIR),
        "dedup_clusters": lambda: Q.q_dedup_clusters(spark, SF_DIR),
        "dedup_lines": lambda: Q.q_dedup_lines(spark, SF_DIR),
        "dedup_exact_substring": exact_substring_corpus,
        "decon_ngram_overlap": lambda: Q.q_decon_ngrams(spark, SF_DIR),
        "dedup_simhash": lambda: Q.q_simhash(spark, SF_DIR),
        "dedup_embedding_lsh": lambda: Q.q_embedding_lsh(spark, SF_DIR),
        "text_quality": lambda: Q.q_quality(spark, SF_DIR),
        "text_bpe_tokens": lambda: Q.q_bpe_tokens(spark, SF_DIR),
        "sim_cosine_topk": lambda: Q.q_cosine_topk(spark, SF_DIR),
        "sim_ann_join": lambda: Q.q_ann_join(spark, SF_DIR),
        # IVF ANN: kmeans coarse quantizer + probed-list exact rerank (the
        # learned-partition complement to the LSH band join above)
        "sim_ivf_kmeans": lambda: Q.q_ivf_kmeans(spark, SF_DIR),
        "web_domain_rank": domain_rank_corpus,
        "cluster_kmeans": kmeans_corpus,
        "dedup_semantic": semantic_dedup_corpus,
        "curation_signals": curation_signals,
        "curation_pii_gopher": curation_pii_gopher,
        "text_vocab_topk": vocab_topk_corpus,
        "p10_pack_corpus": pack_corpus,
        "p8_training_prep": lambda: Q.q_training_prep(spark, SF_DIR),
        "p9_near_dup_prep": lambda: Q.q_near_dup_prep(spark, SF_DIR),
        # bucket-star edge mode: same capstones with the closure fed O(m)
        # min-id star edges per band bucket instead of verified all-pairs —
        # the templated-corpus scale mode; the delta vs the verified rows
        # is the measured cost of pair materialization
        "p9_near_dup_prep_star": lambda: Q.q_near_dup_prep_star(spark, SF_DIR),
        "p11_substring_prep": lambda: Q.q_substring_prep(spark, SF_DIR),
        "p11_substring_prep_star": lambda: Q.q_substring_prep_star(spark, SF_DIR),
        # realistic-mix companion fixture (low dup rate) so the capstone
        # trend isn't 100% closure-dominated
        "p11_substring_prep_mix": lambda: Q.q_substring_prep_mix(spark, SF_DIR),
        "mm_media_features": lambda: Q.q_media_features(spark, SF_DIR),
    }


def median(xs: list[float]) -> float:
    s = sorted(xs)
    return round(s[len(s) // 2], 3)


def summary_line(
    samples: dict, calib: list[float], host_passes: list[dict], sf: float
) -> str:
    """The last stdout line: per-query medians across passes and the
    headline figures, without the raw samples (they go to PASSES_FILE), so
    it fits a driver's 2000-char tail with every query."""
    timings = {name: median(runs) for name, runs in samples.items()}
    steal = [h["steal_pct"] for h in host_passes]
    summary = {
        "metric": "total_headline_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "passes": PASSES,
        "calibration_median_sec": median(calib),
        "steal_pct_median": median(steal),
        "steal_pct_max": max(steal),
        "extract_docs": N_DOCS,
        "extract_docs_per_sec": (
            round(N_DOCS / timings["pipeline_extract"], 1)
            if "pipeline_extract" in timings
            else None
        ),
        "extract_pdfs_per_sec": (
            round(N_PDFS / timings["pipeline_extract_pdf"], 1)
            if "pipeline_extract_pdf" in timings
            else None
        ),
        "raw": PASSES_FILE,
    }
    return json.dumps(summary, separators=(",", ":"))


def main() -> None:
    # glibc tuning inherited by Python workers (must be set before the JVM
    # starts): avoid mmap/munmap per large html string — munmap TLB-shootdown
    # IPIs scale badly with worker count (+19% at 32 cores, measured)
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")

    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import release_caches
    from texteller_spark.plans.pipeline import extract_pages
    from texteller_spark.session import build_session

    spark = build_session("bench", cpus=CPUS)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    # warmup passes before timing: each fresh executor JVM of a
    # local-cluster master JITs the whole codepath independently
    warmup = 2 if spark.sparkContext.master.startswith("local-cluster") else 1

    corpus = spark.read.parquet(pages_corpus(spark))
    builders = query_builders(spark, corpus)
    if ONLY:
        builders = {k: v for k, v in builders.items() if k in ONLY}

    # --- calibration query: fixed pure-JVM work (crc32 + length over every
    # corpus text byte; no Python workers, no shuffle, no UDF), so its time
    # moves ONLY with the host window. Its per-pass times are the
    # normalizer that makes round-over-round cells falsifiable.
    def calibration():
        return corpus.select(
            F.sum(F.crc32(F.col("text"))).alias("crc"),
            F.sum(F.length(F.col("text"))).alias("n_bytes"),
        )

    # --- warmup pass (excluded): primes JVM JIT, whole-stage-codegen cache,
    # Python workers, and the OS page cache for the whole corpus, exactly
    # like the reference's first-image skip. A FULL extraction pass is
    # needed: a partial warmup leaves most scan splits cold and the first
    # timed run then absorbs one-time costs (measured: first full pass up
    # to 3x steady state on this host).
    for _ in range(warmup):
        force(calibration())
        if "pipeline_extract" in builders:
            force(extract_pages(corpus))
    for name, b in builders.items():
        if name != "pipeline_extract":
            force(b())
            release_caches()  # signature-stage persists don't accumulate across reps

    # --- timed section (steady state): PASSES full interleaved passes, each
    # opened by the calibration scan; per-query median across passes. Each
    # pass also records the host's steal%/busy% (/proc/stat): the
    # calibration scan alone under-detects the dominant noise source on
    # this host — hypervisor CPU STEAL, which engages under sustained
    # multi-core load (measured: 32% steal and 4.5x per-vCPU skew on an
    # identical 32-process spin loop during a degraded window, while a
    # 0.2 s calibration scan stayed nominal because short bursts fit
    # between throttle periods).
    samples: dict[str, list[float]] = {name: [] for name in builders}
    calib: list[float] = []
    host_passes: list[dict] = []
    for _ in range(PASSES):
        cpu0 = host_cpu()
        t0 = time.perf_counter()
        force(calibration())
        calib.append(round(time.perf_counter() - t0, 3))
        for name, b in builders.items():
            runs = FLAGSHIP_PER_PASS if name == "pipeline_extract" else 1
            for _ in range(runs):
                t0 = time.perf_counter()
                force(b())
                samples[name].append(round(time.perf_counter() - t0, 3))
                release_caches()
        host_passes.append(
            {k: round(v, 1) for k, v in host_window(cpu0, host_cpu()).items()}
        )

    with open(PASSES_FILE, "w") as f:
        json.dump(
            {
                "protocol": {
                    "passes": PASSES,
                    "interleaved": True,
                    "flagship_runs_per_pass": FLAGSHIP_PER_PASS,
                    "warmup": warmup,
                },
                "calibration": {"name": "jvm_crc32_scan", "per_pass_sec": calib},
                "host": {"per_pass_cpu": host_passes},
                "queries_passes": samples,
            },
            f,
        )
    print(summary_line(samples, calib, host_passes, sf))
    spark.stop()


if __name__ == "__main__":
    main()

"""Hot-key skew evidence for the EXACTSUBSTR occurrence join (the r4
verdict's What's-wrong #3): on a boilerplate-heavy crawl one window hash
occurs in a large fraction of all documents, and the occurrence join
(`keyed ⋈ dup` on `_h` in `dedup.remove_repeated_substrings`) lands every
occurrence of the hottest hash on one task.

Three measured claims, all on the same hot-key fixture (HOT_FRAC of
N_DOCS are copies of ONE 50-token boilerplate block — each contributes
exactly one occurrence of the same window hash; the rest are unique-token
docs), at HIGH shuffle-partition count (emulating the 1000-executor
regime: local runs at P≈2·cores hide the skew because the per-partition
background ~W·N/P dwarfs the hot key; skew binds when P ≫ windows/doc —
exactly the cluster configuration the north rule targets):

1. UNSALTED: the straggler is real — max/median task runtime of the
   occurrence-join stage, from the status-store task summaries
   (tools/stages.py).
2. SALTED (salt_buckets=32): the hot key spreads across 32 tasks —
   same output rows, bounded max/median.
3. AQE eligibility: OptimizeSkewedJoin does NOT match the shipped shape
   (the dup side is a HashAggregate between its shuffle and the join, not
   a bare shuffle stage). Materializing `dup` first (the production
   Iceberg-seam shape) restores eligibility: with thresholds lowered to
   compensate for local compressed sizes, the final plan shows
   ShuffledHashJoin(skew=true) + an `AQEShuffleRead ... skewed` stream
   side. Detection is by COMPRESSED partition bytes, so near-identical
   20-byte hot rows hide real row skew at default thresholds — the reason
   `salt_buckets` exists as the deterministic fix.

Prints one JSON line per leg and a markdown table for BENCH.md
("EXACTSUBSTR hot-key skew").
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.inputs import materialize  # noqa: E402
from tools.stages import completed_stages  # noqa: E402

N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
HOT_FRAC = 0.3
SHUFFLE_PARTS = int(os.environ.get("SPARK_GRAFT_SKEW_PARTS", "256"))
SALT = 32


def main():
    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import (
        _materialize,
        _window_hash_udf,
        release_caches,
        remove_repeated_substrings,
    )
    from texteller_spark.session import build_session

    spark = build_session("bench-exactsubstr-skew", shuffle_partitions=SHUFFLE_PARTS)

    def build(out):
        n_hot = int(N_DOCS * HOT_FRAC)
        block = " ".join(f"hot{i}" for i in range(50))
        # block repeated 5x per hot doc (the navigation-boilerplate
        # shape): every one of the 201 windows is duplicated, period 50 =>
        # 50 distinct mega-hot hashes, ~ n_hot*201/50 occurrences each
        hot = spark.range(n_hot).select(
            F.col("id").alias("doc_id"),
            F.lit(" ".join([block] * 5)).alias("text"),
        )
        cold = spark.range(N_DOCS - n_hot).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(59)),
                    lambda i: F.concat(
                        F.lit("c"), F.col("id").cast("string"), F.lit("_"),
                        i.cast("string"),
                    ),
                ),
            ).alias("text"),
        )
        hot.unionByName(cold).repartition(64).write.mode("overwrite").parquet(out)

    docs = spark.read.parquet(materialize("/tmp", f"texteller_hotkey_{N_DOCS}", build))

    # AQE partition coalescing OFF for the salt legs: it targets COMPRESSED
    # bytes, and near-identical hot rows compress ~50x, so locally it merges
    # the hot partitions with cold ones and hides the row skew the cluster
    # regime (per-task GBs, no merge below advisory) actually exhibits.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # warmup (untimed): prime JIT/workers/page cache so leg order is fair
    release_caches()
    remove_repeated_substrings(docs, window=50).write.format("noop").mode(
        "overwrite"
    ).save()
    release_caches()
    results = {}
    rows_out = {}
    for label, salt in (("unsalted", 0), (f"salted_{SALT}", SALT)):
        release_caches()
        mark = max((s["stage"] for s in completed_stages(spark)), default=-1)
        t0 = time.perf_counter()
        out = remove_repeated_substrings(docs, window=50, salt_buckets=salt)
        rows_out[label] = out.filter(F.col("n_dropped_tokens") > 0).count()
        wall = round(time.perf_counter() - t0, 2)
        release_caches()
        # the occurrence-join stage: the new stage with the largest shuffle
        # READ volume (it consumes both the keyed and dup exchanges)
        join = max(
            (s for s in completed_stages(spark) if s["stage"] > mark),
            key=lambda s: s["shuffle_read_bytes"],
        )
        results[label] = {
            "wall_sec": wall,
            "stage": join["stage"],
            "tasks": join["tasks"],
            "shuffle_read_mb": round(join["shuffle_read_bytes"] / 1e6, 1),
            "med_task_ms": join["med_task_ms"],
            "max_task_ms": join["max_task_ms"],
        }
        print(json.dumps({"leg": label, **results[label]}))

    assert rows_out["unsalted"] == rows_out[f"salted_{SALT}"], rows_out

    # --- AQE eligibility probe: shipped shape vs materialized-dup shape,
    # thresholds lowered (compressed local partitions are tiny; at crawl
    # scale the hot partition is GBs even compressed)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    for k, v in {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
    }.items():
        spark.conf.set(k, v)
    win = _window_hash_udf(50)
    keyed = _materialize(
        docs.select(
            F.col("doc_id").alias("_id"),
            F.posexplode(win(F.col("text"))).alias("_pos", "_h"),
        )
    )
    dup = (
        keyed.groupBy("_h")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_h")
    )
    aqe = {}
    for label, build in (
        ("agg_build", dup),
        ("materialized_build", dup.localCheckpoint()),
    ):
        occ = keyed.join(build.hint("shuffle_hash"), "_h").select("_id", "_pos")
        occ.collect()
        plan = occ._jdf.queryExecution().executedPlan().toString()
        aqe[label] = len(re.findall(r"skew=true|AQEShuffleRead[^\n]*skewed", plan))
        lines = [
            ln.strip()[:120]
            for ln in plan.splitlines()
            if "skew=true" in ln or "skewed" in ln or "ShuffledHashJoin" in ln
        ]
        print(json.dumps({"leg": f"aqe_{label}", "skew_markers": aqe[label],
                          "plan_lines": lines}))
    release_caches()

    u, s = results["unsalted"], results[f"salted_{SALT}"]
    print("\n| leg | wall (s) | straggler stage tasks | med task (ms) | max task (ms) | max/med |")
    print("| --- | --- | --- | --- | --- | --- |")
    for label, r in results.items():
        ratio = round(r["max_task_ms"] / max(r["med_task_ms"], 1), 1)
        print(
            f"| {label} | {r['wall_sec']} | {r['tasks']} | {r['med_task_ms']:.0f} "
            f"| {r['max_task_ms']:.0f} | {ratio} |"
        )
    print(
        f"\nAQE skew markers: agg-build shape {aqe['agg_build']} (ineligible), "
        f"materialized-build {aqe['materialized_build']} (engages)."
    )
    spark.stop()


if __name__ == "__main__":
    main()

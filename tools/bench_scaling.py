"""N→4N scaling experiment (north rule: efficiency ≥ 0.8).

Runs the identical job on identical input (bench.py) at each parallelism
level, given as a Spark master URL:

- ``local[N]``: N task slots sharing ONE JVM — the sandbox protocol of
  BASELINE.md (local[2]/local[8]/local[32] on one 32-core host);
- ``local-cluster[n,c,mem]``: n SEPARATE executor JVMs of c cores and mem
  MB each, every one with its own Arrow feed, Python worker pool and GC —
  the closest in-sandbox approximation of n cluster executors. PLANS.md §2
  attributes the local 8→32-core droop to the single JVM's Arrow feed
  path; these levels test that attribution directly. 1x2→4x2 (2 cores per
  executor) isolates executor-count scaling from host saturation; 1x8→4x8
  saturates a 32-core host's loopback/usercopy path shared by every
  topology (BENCH.md).

The scaling metric uses INTERLEAVED rounds: each round runs the
pipeline-only bench once per level back-to-back, so every level samples
the same environmental window — this host shows multi-minute kernel-noise
drifts, and sequential whole-suite legs would compare different conditions
(observed: the same leg varying 3x between runs an hour apart). Per-level
docs/sec = median across rounds (each round's value is itself a median of
REPS flagship runs inside bench.py after its warmup). Efficiency is given
for each consecutive pair of levels: docs/sec ratio over core ratio.

A separate full-suite run per level (bench.py's own interleaved passes;
SPARK_GRAFT_BENCH_ONLY, if set, restricts it) fills the per-query table.

Usage: python tools/bench_scaling.py [n_docs] [rounds] [master ...]
(default levels: local[2] local[8] local[32]). Prints markdown tables and
a final JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
LEVELS = sys.argv[3:] or ["local[2]", "local[8]", "local[32]"]
REPS = 3


def cores(master: str) -> int:
    """Task slots of a ``local[N]`` or ``local-cluster[n,c,mem]`` URL."""
    args = [int(x) for x in master[master.index("[") + 1 : -1].split(",")]
    return args[0] * args[1] if master.startswith("local-cluster") else args[0]


def run(master: str, pipeline_only: bool) -> dict:
    # pipeline-only round samples: ONE bench.py pass of REPS flagship runs
    # (this tool interleaves across levels itself). Full-suite runs: bench.py's
    # own interleaved-passes protocol (REPS passes, one run per query per pass).
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=master,
        SPARK_GRAFT_CPUS=str(cores(master)),
        SPARK_GRAFT_BENCH_DOCS=str(N_DOCS),
        SPARK_GRAFT_BENCH_PASSES="1" if pipeline_only else str(REPS),
        SPARK_GRAFT_BENCH_REPS=str(REPS) if pipeline_only else "1",
    )
    if pipeline_only:
        env["SPARK_GRAFT_BENCH_ONLY"] = "pipeline_extract"
    if master.startswith("local-cluster"):
        # executor heap: 5/6 of each worker's memory, the rest JVM overhead
        env["SPARK_GRAFT_EXEC_MEM"] = f"{int(master[:-1].rsplit(',', 1)[1]) * 5 // 6}m"
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")],
        env=env, capture_output=True, text=True, timeout=3000,
    )
    return json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])


def main() -> None:
    samples: dict[str, list[float]] = {m: [] for m in LEVELS}
    for rnd in range(ROUNDS):
        for m in LEVELS:
            dps = run(m, pipeline_only=True)["extract_docs_per_sec"]
            samples[m].append(dps)
            print(f"round {rnd} {m}: {dps} docs/s", flush=True)
    dps = {m: sorted(v)[len(v) // 2] for m, v in samples.items()}
    eff = {
        f"{a} -> {b}": round(dps[b] / dps[a] / (cores(b) / cores(a)), 3)
        for a, b in zip(LEVELS, LEVELS[1:])
    }
    suite = {m: run(m, pipeline_only=False) for m in LEVELS}

    print("\n| level | cores | extraction docs/sec | pipeline sec | headline total sec |")
    print("| --- | --- | --- | --- | --- |")
    for m in LEVELS:
        r = suite[m]
        pipeline = r["queries"].get("pipeline_extract")
        print(f"| {m} | {cores(m)} | {dps[m]} | {pipeline} | {r['value']} |")
    print("\n| levels | scaling efficiency |\n| --- | --- |")
    for pair, e in eff.items():
        print(f"| {pair} | {e} |")
    print("\n| query | " + " | ".join(LEVELS) + " |")
    print("| --- |" + " --- |" * len(LEVELS))
    for q in suite[LEVELS[0]]["queries"]:
        print(f"| {q} | " + " | ".join(str(suite[m]["queries"][q]) for m in LEVELS) + " |")
    print(json.dumps({"docs_per_sec": dps, "samples": samples, "efficiency": eff}))


if __name__ == "__main__":
    main()

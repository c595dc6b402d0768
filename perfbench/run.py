"""Repository benchmark: the extraction and checkpoint/resume workloads,
driven through the program's public functions.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

One process builds ``build_session(cpus=nproc)`` with the session
settings unchanged and runs the workload's job in a closed loop (one job in
flight; the next starts when the previous one ends) for ``--seconds``. The
last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Raw samples and
spans go to ``.perfbench_work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: jobs that ran while the host's CPU steal exceeded this share are marked
#: invalid and left out of the medians (steal of ~30% has slowed identical
#: work 2-4x on this class of host; an idle window reads ~3%)
STEAL_BOUND_PCT = 10.0

#: untimed warm-up after the cold job, in seconds (at least one job). The
#: crawl_mix job settles within ~10 s of the cold job. The CLI's many small
#: Spark jobs keep the JIT compiler busy for ~40 s: 15 s in, its threads
#: still add ~7% to the CPU of each 4,000-page checkpoint_resume job. That
#: excess shrinks at a pace set by the host's speed, so the job is sized to
#: keep it small (workloads.SIZES)
WARMUP_S = {"crawl_mix": 12.0, "checkpoint_resume": 15.0}
#: warm-up of the traced pass, which runs in the JVM the untraced pass warmed
TRACED_WARMUP_S = 4.0

#: metric names and units, in the order the result line lists them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
E2E_UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def parse_args(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (the self-test uses 0.4)")
    ap.add_argument("--plant-error", action="store_true",
                    help="corrupt one output before the oracle check (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    started = time.perf_counter() - probe.process_age_s()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import texteller_spark  # noqa: F401  (fails where the program is absent)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        res = run(args, started, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["process_s"] = probe.process_age_s()

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    raw_path = os.path.join(
        results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    )
    with open(raw_path, "w") as f:
        json.dump(res, f, indent=1)

    if args.trace:
        # six significant digits keep the per-layer line well under 2000 chars
        metrics = {
            k: {"value": float(f"{res['layers'][k]:.6g}"), "unit": u}
            for k, u in LAYER_UNITS.items()
        }
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(
        f"{args.workload} seed={args.seed}: {res['docs_per_s']:.1f} docs/s "
        f"(median of {res['valid_jobs']} valid of {len(res['jobs'])} jobs), "
        f"cpu {res['cpu_s_per_kdoc']:.3f} s/kdoc, setup {res['setup_s']:.2f} s, "
        f"peak rss {res['peak_rss_mb']:.0f} MB, error_rate {res['error_rate']:g}, "
        f"steal {res['host']['steal_pct']:.1f}%, calib {res['calib_s']:.3f} s"
        + (
            f", traced {res['traced']['docs_per_s']:.1f} docs/s, kernel share: "
            f"detect {res['layers']['kernel.detect_pct']:.1f}%, "
            f"recognize math {res['layers']['kernel.recognize_math_pct']:.1f}% "
            f"(formula-dense mix: {res['layers']['formula_mix.detect_pct']:.1f}%, "
            f"{res['layers']['formula_mix.recognize_math_pct']:.1f}%)"
            if args.trace
            else ""
        )
        + f"; raw: {raw_path}"
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            },
            separators=(",", ":"),
        )
    )
    return 0


def spark_env(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def start_traced(spark, log_dir: str):
    """Stop the untraced session and start one with Spark's event log on.
    The log is switched on with JVM system properties, which a new
    SparkContext reads at start; the session's own settings are unchanged."""
    from pyspark import SparkContext

    from texteller_spark.session import build_session

    jvm = SparkContext._gateway.jvm
    spark.stop()
    os.makedirs(log_dir)
    for k, v in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", f"file://{log_dir}"),
        ("spark.eventLog.compress", "false"),
    ):
        jvm.java.lang.System.setProperty(k, v)
    return build_session("perfbench", cpus=len(os.sched_getaffinity(0)))


def run(args, started: float, run_dir: str) -> dict:
    """The untraced measurement; with ``--trace 1`` followed, in the same
    process, by the traced one on a fresh session."""
    import tempfile

    import workloads

    spark_env(run_dir)
    tempfile.tempdir = None  # re-read TMPDIR
    t = time.perf_counter()
    inputs_root = os.path.join(WORK, "inputs")
    inp = workloads.prepare(args.workload, inputs_root, args.seed, args.scale)
    docs = None
    if args.trace and args.workload == workloads.DEDUP_LEG_WORKLOAD:
        docs = workloads.prepare_documents(inputs_root, args.seed, args.scale)
    gen_s = time.perf_counter() - t

    from texteller_spark.session import build_session

    spans = probe.Spans(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    errors: list[str] = []
    log_dir = os.path.join(run_dir, "eventlog")
    with spans.span("run", workload=args.workload, seed=args.seed):
        spark = build_session("perfbench", cpus=len(os.sched_getaffinity(0)))
        try:
            res = measure(args, spark, inp, None, run_dir, probe.Spans("", False), errors)
            res["setup_s"] = res["cold_end"] - started - gen_s
            if args.trace:
                with spans.span("start_traced"):
                    spark = start_traced(spark, log_dir)
                res["traced"] = measure(args, spark, inp, docs, run_dir, spans, errors)
        finally:
            stop_spark(spark)
    if args.trace:
        tr = res["traced"]
        tr["layers"].update(layer_metrics(args.workload, inp, tr, log_dir))
        tr["layers"]["trace.overhead_pct"] = (
            100.0 * (res["docs_per_s"] - tr["docs_per_s"]) / res["docs_per_s"]
        )
        res["layers"] = tr["layers"]
        res["layers"]["peak_rss_mb"] = res["peak_rss_mb"]
        for k in ("attempted", "failed"):
            res[k] += tr[k]
        res["error_rate"] = res["failed"] / res["attempted"]
    res["errors"] = errors
    res["spans"] = spans.records
    res["gen_s"] = gen_s
    res["steal_bound_pct"] = STEAL_BOUND_PCT
    return res


def measure(args, spark, inp, docs, run_dir, spans, errors) -> dict:
    """Cold job, warm-up jobs, calibration scans, the closed loop of timed
    jobs and the oracle check; with tracing on, the per-layer legs (and,
    given ``docs``, the near-dup leg) in place of the check."""
    import workloads

    sc = spark.sparkContext
    out_root = os.path.join(run_dir, "out-traced" if spans.enabled else "out")
    runner = workloads.Runner(spark, inp, out_root, spans)
    failed_docs = 0

    def one_job(group: str) -> bool:
        sc.setJobGroup(group, args.workload)
        try:
            runner.job()
            return True
        except Exception:  # a failed job counts its documents as failed
            errors.append(f"{group}: {traceback.format_exc()[-2000:]}")
            return False

    runner.before_job()
    with spans.span("cold_job"):
        if not one_job("cold"):
            failed_docs += inp.docs
    cold_end = time.perf_counter()
    # untimed jobs let the JIT compiler and the Python workers settle
    warmup_s = TRACED_WARMUP_S if spans.enabled else WARMUP_S[args.workload]
    warmups = 0
    while not warmups or time.perf_counter() - cold_end < warmup_s:
        runner.before_job()
        with spans.span("warmup_job", k=warmups):
            if not one_job(f"warmup.{warmups}"):
                failed_docs += inp.docs
        warmups += 1
    sc.setJobGroup("calibration", "crc32 scan")
    calib = [runner.calib_scan() for _ in range(3)]

    jobs = []
    host0 = probe.host_cpu()
    with probe.RssSampler() as rss, spans.span("timed_loop"):
        loop0 = time.perf_counter()
        while not jobs or time.perf_counter() - loop0 < args.seconds:
            runner.before_job()
            cpu0, h0 = probe.tree_cpu_s(), probe.host_cpu()
            rss.sampling(True)
            t0 = time.perf_counter()
            with spans.span("job", k=len(jobs)):
                ok = one_job(f"timed.{len(jobs)}")
            wall = time.perf_counter() - t0
            rss.sampling(False)
            cpu = probe.tree_cpu_s() - cpu0
            jobs.append({"ok": ok, "wall_s": wall, "cpu_s": cpu,
                         **probe.host_window(h0, probe.host_cpu())})
            if not ok:
                failed_docs += inp.docs
    host = probe.host_window(host0, probe.host_cpu())

    attempted = inp.docs * (len(jobs) + 1 + warmups)
    if spans.enabled:  # the traced pass: per-layer legs; pages checked untraced
        layers, checked, wrong = trace_legs(args.workload, runner, jobs, calib), 0, 0
        if docs:
            dedup, wrong = runner.near_dup_leg(docs, args.plant_error)
            layers.update(dedup)
            checked = docs.docs
            attempted += docs.docs
    else:
        layers = {}
        checked, wrong = runner.check(args.plant_error)

    for j in jobs:
        j["valid"] = j["ok"] and j["steal_pct"] <= STEAL_BOUND_PCT
    use = [j for j in jobs if j["valid"]] or [j for j in jobs if j["ok"]] or jobs
    kdocs = inp.docs / 1000.0
    failed = failed_docs + wrong
    return {
        "workload": args.workload,
        "seed": args.seed,
        "docs_per_job": inp.docs,
        "docs_per_s": statistics.median(inp.docs / j["wall_s"] for j in use),
        "cpu_s_per_kdoc": statistics.median(j["cpu_s"] / kdocs for j in use),
        "cold_end": cold_end,
        "peak_rss_mb": rss.peak_mb,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "oracle_checked": checked,
        "oracle_wrong": wrong,
        "valid_jobs": sum(j["valid"] for j in jobs),
        "jobs": jobs,
        "host": host,
        "calib_s": statistics.median(calib),
        "calib_samples_s": calib,
        "layers": layers,
    }


def trace_legs(name: str, runner, jobs: list, calib: list) -> dict:
    """Per-layer metrics measured by extra calls after the timed loop."""
    import inputs
    import workloads
    from kernel import time_kernel

    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out["scan.calib_s"] = statistics.median(calib)
    out.update(time_kernel(runner.inp.kernel_htmls))
    # the same split on the math-dense page mix (raw file and summary only)
    formula = time_kernel(inputs.formula_pages(runner.inp.seed, 1000))
    out["formula_mix.detect_pct"] = formula["kernel.detect_pct"]
    out["formula_mix.recognize_math_pct"] = formula["kernel.recognize_math_pct"]
    on = [j["wall_s"] for j in jobs if j["ok"]] if name != "checkpoint_resume" else []
    legs = runner.feed_legs(2, on)
    out["pipeline.feed_in_s"] = legs["identity_s"] - out["scan.calib_s"]
    out["pipeline.feed_out_s"] = legs["feed_out_s"]
    if name == "checkpoint_resume":
        cli = [s for s in runner.spans.records if s.get("name") == "cli.main"]
        out["checkpoint.write_s"] = statistics.median(
            s["end"] - s["start"] for s in cli if s["mode"] == "half")
        out["checkpoint.resume_s"] = statistics.median(
            s["end"] - s["start"] for s in cli if s["mode"] == "resume")
        out["checkpoint.mb_written"] = workloads.dir_mb(runner.last_out)
    return out


def layer_metrics(name: str, inp, res: dict, log_dir: str) -> dict:
    """Stage metrics of the timed jobs and trace legs, from the event log."""
    import eventlog

    jobs = eventlog.read_jobs(log_dir)
    timed = [
        eventlog.group_totals(jobs, f"timed.{k}")
        for k, j in enumerate(res["jobs"]) if j["ok"]
    ]
    res["stage_totals"] = timed  # per timed job, spill and shuffle read too
    med = lambda key: statistics.median(t[key] for t in timed) if timed else 0.0  # noqa: E731
    out = {
        "host.steal_pct": res["host"]["steal_pct"],
        "pipeline.udf_mb_in": med("py_in_b") / 2**20,
        "pipeline.udf_mb_out": med("py_out_b") / 2**20,
        "pipeline.tasks": med("tasks"),
        "pipeline.task_skew": med("task_skew"),
        "pipeline.executor_cpu_s": med("cpu_s"),
        "pipeline.gc_s": med("gc_s"),
    }
    if name == "checkpoint_resume":
        out["checkpoint.kernel_rows_per_page"] = med("py_rows") / inp.docs
    chain = eventlog.group_totals(jobs, "dedup.chain")
    if chain["jobs"]:
        out["dedup.shuffle_mb"] = chain["shuffle_write_b"] / 2**20
        out["dedup.task_skew"] = chain["task_skew"]
        out["dedup.closure_jobs"] = float(eventlog.group_totals(jobs, "dedup.closure")["jobs"])
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, then every process of this
    tree that is still alive, and wait until each has ended."""
    from pyspark import SparkContext

    me = os.getpid()
    started = set(probe.tree_pids()) - {me}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = probe.alive(started | set(probe.tree_pids()) - {me})
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = probe.alive(left)
        if not left:
            return


if __name__ == "__main__":
    sys.exit(main())

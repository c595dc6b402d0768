"""Self-test of the benchmark: every workload at small scale, untraced and
traced, plus planted wrong outputs and a run without the program.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark driver (~20-60 s); the whole file takes a
few minutes on 4 vCPUs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
#: 0.4 keeps one 1000-span and one 1.1 MiB page in every page table
SCALE = "0.4"


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_present_and_outputs_correct(workload, trace):
    res = result(bench(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    specs = BENCH["per_layer" if trace else "end_to_end"]
    assert sorted(res["metrics"]) == sorted(m["name"] for m in specs)
    for m in specs:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0
    # error_rate = failed / attempted is 0
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    if trace:
        v = {k: m["value"] for k, m in res["metrics"].items()}
        # detect costs more than math recognition on the crawl page mix
        assert v["detect.detect_s_per_kdoc"] > (
            v["recognize.tex_s_per_kdoc"] + v["recognize.mathml_s_per_kdoc"]
        )
        if workload == "checkpoint_resume":
            # the CLI runs the extraction twice per written page today
            assert v["checkpoint.kernel_rows_per_page"] == 2.0
        else:
            assert v["dedup.pairs"] > 0 and v["dedup.closure_jobs"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_output_is_counted(workload):
    res = result(bench(workload, 0, "--plant-error"))
    assert res["correct"] is False and res["failed"] == 1


def test_planted_wrong_near_dup_output_is_counted():
    res = result(bench("crawl_mix", 1, "--plant-error"))
    # one wrong page in the untraced check, plus every document of the
    # wrong near-dup aggregate
    assert res["correct"] is False and res["failed"] > 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

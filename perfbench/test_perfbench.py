"""The benchmark's own tests, at tiny scale (1,000 simulants, 60 documents).

    python -m pytest perfbench -q

Each Spark-backed test runs the real command in a subprocess, as the
benchmark is run, and reads its last stdout line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
CORES = len(os.sched_getaffinity(0))


def bench(*args: str, cwd: str = ROOT, prelude: str = "") -> subprocess.CompletedProcess:
    """Run the benchmark command. A ``prelude`` is Python run in the same
    process, after ``import run`` and before ``run.main()``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    here = os.path.join(cwd, "perfbench")
    if prelude:
        script = f"import sys; sys.path.insert(0, {here!r}); import run; {prelude}; sys.exit(run.main())"
        cmd = [sys.executable, "-c", script]
    else:
        cmd = [sys.executable, os.path.join(here, "run.py")]
    return subprocess.run(
        cmd + list(args), cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_contract(res: dict, units: dict[str, str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1 and 0 <= res["failed"] <= res["attempted"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], name


def test_metric_names_and_units_match_the_benchmark_file():
    import layers
    import run

    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert name.fullmatch(m["name"]) and unit.fullmatch(m["unit"]), m
    assert END_TO_END == layers.END_TO_END
    assert PER_LAYER == layers.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert all(m["better"] == layers.better(m["name"]) for m in BENCH["per_layer"])


def test_wrong_golden_is_a_failed_operation_not_a_crash(tmp_path):
    goldens = tmp_path / "goldens.json"
    goldens.write_text(json.dumps({"pvs_small_sample": {f"tiny/local[{CORES}]/3": {
        "n_piked": -1, "n_records": -1, "passes": [], "pik_accuracy": -1.0,
    }}}))
    res = result(bench("--workload", "pvs_small_sample", "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny",
                       prelude=f"run.GOLDENS = {str(goldens)!r}"))
    assert_contract(res, END_TO_END)
    assert res["correct"] is False
    assert res["failed"] == 4  # n_piked, n_records, passes, pik_accuracy
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["pvs_small_sample", "catalog_python_kernels"])
def test_traced_run_reports_every_per_layer_metric(workload):
    seconds = "110" if workload == "catalog_python_kernels" else "1"
    res = result(bench("--workload", workload, "--seed", "3", "--seconds", seconds,
                       "--trace", "1", "--scale", "tiny"))
    assert_contract(res, PER_LAYER)
    assert res["correct"] is True and res["failed"] == 0
    values = {k: v["value"] for k, v in res["metrics"].items()}
    with open(os.path.join(HERE, "out", f"{workload}-seed3-trace1.json")) as f:
        detail = json.load(f)
    spans = detail["spans"]
    assert spans and all(s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans)
    if workload == "pvs_small_sample":
        assert values["plans.cascade.run_matching_pass.jobs"] > 0
        assert values["plans.cascade.run_matching_pass.task_cpu_s"] > 0
        assert values["operators.blocking.pairs"] > 0
        assert values["plans.accuracy.pik_accuracy"] >= 0.99
        assert values["dedup.minhash_near_dups.execute_s"] == 0
    else:
        # two iterations, so job and py4j counts are compared between them
        assert len(detail["counts_per_iteration"]) >= 2
        assert values["trace.count_drift"] == len(detail["count_drift"])
        assert values["multimodal.mm_media_features.task_cpu_s"] > 0
        assert values["plans.cascade.run_matching_pass.wall_s"] == 0


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = bench("--workload", "pvs_small_sample", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

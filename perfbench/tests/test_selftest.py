"""Self-test of the benchmark: the smoke configuration of every workload
prints every metric by name with its unit, runs every correctness check,
and a copy holding only the benchmark fails without printing a result.

    python -m pytest perfbench/tests -q

Takes a few minutes: each case starts its own Spark session.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())

CHECKS = {
    "lambda_lake": {"batch_serving_equals_duckdb",
                    "historical_equals_retained_landing",
                    "speed_rows_equal_duckdb_outer_join"},
    "ann_corpus": {"index_holds_each_id_once", "each_query_returns_k",
                   "topk_equals_numpy_ivf", "corpus_output_nonempty",
                   "verified_pairs_cover_exact_duplicates",
                   "survivors_at_most_input"},
}
E2E = {
    "lambda_lake": {"write_amp", "space_amp"},
    "ann_corpus": {"search_p50_s", "write_amp", "space_amp"},
}


def smoke(workload: str, trace: int, cwd: Path = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


def parse(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_benchmark_json_matches_the_program():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {
        k: run.E2E_UNITS[k] for k in run.E2E_COMMON}
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {
        k: run.unit_of(k) for k in run.layer_metric_names()}


@pytest.mark.parametrize("workload", sorted(CHECKS))
def test_smoke_prints_every_metric_and_runs_every_check(workload):
    proc = smoke(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = parse(proc)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: run.E2E_UNITS[k] for k in run.E2E_COMMON}
    want = set(run.E2E_COMMON) | {"failed_frac"} | E2E[workload]
    assert {k: v["unit"] for k, v in detail["metrics"].items()} == {
        k: run.E2E_UNITS[k] for k in want}
    assert detail["metrics"]["failed_frac"]["value"] == 0
    ran = {c["name"] for c in detail["checks"]}
    assert CHECKS[workload] | {"spans_cover_90pct_of_each_cycle"} <= ran
    assert all(c["ok"] for c in detail["checks"])
    for key in ("master", "defaultParallelism", "spark_version", "nproc",
                "load_avg_start", "load_avg_end", "seed"):
        assert key in detail["env"]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_traced_smoke_prints_every_layer_metric(workload):
    proc = smoke(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    _, result = parse(proc)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]}
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["span_coverage_min"] >= 0.9
    assert metrics["tracing_overhead"] != 0
    for span in ("warmup",) + run.workload_class(workload).spans:
        assert metrics[f"{span}.jobs"] > 0 and metrics[f"{span}.tasks"] > 0


def test_copy_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = smoke("lambda_lake", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

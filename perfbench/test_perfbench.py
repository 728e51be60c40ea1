"""The benchmark's own tests: every workload end to end at a tiny scale.

    python3 -m pytest perfbench -q

Each test runs ``run.py`` the way the benchmark is meant to run (from
the root of the tree, one process per run), so these take a few
minutes: most of it is Spark start-up and JVM warm-up.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER, writes_tier
from perfbench.run import END_TO_END
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args, cwd=ROOT, timeout=300):
    cmd = [sys.executable, "perfbench/run.py", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(
        END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(
        PER_LAYER)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_and_checks_out(workload):
    proc = bench("--workload", workload, "--seed", "3", "--trace", "0",
                 "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_traced_run_reports_every_layer():
    proc = bench("--workload", "maintain", "--seed", "4", "--trace", "1",
                 "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = result(proc)
    assert res["correct"]
    assert list(res["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in ("chunk.python_s", "catalog.files_scanned",
                  "rollup.refresh_tiers_s", "gapfill.gapfill_locf_s",
                  "retention.partitions_dropped", "compact.rows_after",
                  "spark.tasks"):
        assert m[layer] > 0, layer
    assert m["compact.rows_before"] > m["compact.rows_after"]
    assert 0.9 <= m["trace.span_coverage"] <= 1.0


def test_planted_wrong_answer_fails_the_run():
    proc = bench("--workload", "ingest", "--seed", "5", "--trace", "0",
                 "--smoke", "--plant-wrong")
    assert proc.returncode == 1
    res = result(proc)
    assert not res["correct"] and res["failed"] >= 1


def test_tree_without_mtslake_refuses_to_run(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "ingest", "--seed", "1", "--trace", "0",
                 cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_writes_tier_reads_the_output_path():
    plan = ("Execute InsertIntoHadoopFsRelationCommand file:/s/rollup_1h, "
            "false, [part_id#1], Parquet\n+- Scan parquet file:/s/rollup_1m")
    assert writes_tier(plan, "1h") and not writes_tier(plan, "1m")

"""Tests of the benchmark itself: generator determinism, the label
oracle, and the command-line contract.

    python3 -m pytest perfbench -q

The contract tests start one benchmark process per workload, and one
traced (about a minute each on a 4-core host).
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
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, GatewayRule  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("make", [
    lambda s, seed: gen.turns(s, 300, seed, partitions=3),
    lambda s, seed: gen.json_docs(s, 300, seed, partitions=3),
    lambda s, seed: gen.gateway_requests(s, 3000, seed, partitions=3),
])
def test_generator_is_deterministic_per_seed(spark, make):
    a, b, c = make(spark, 11), make(spark, 11), make(spark, 12)
    assert _rows(a) == _rows(b)
    assert gen.label_counts(a) == gen.label_counts(b)
    assert _rows(a) != _rows(c)


def test_partitioning_does_not_move_rows(spark):
    assert _rows(gen.turns(spark, 200, 5, partitions=1)) == _rows(gen.turns(spark, 200, 5, partitions=4))


def test_labels_plant_at_most_one_violation(spark):
    counts = gen.label_counts(gen.turns(spark, 2000, 3))
    assert set(counts) <= {"clean", "dup", *gen.TURN_PLANTS}
    want = gen.expect_suite(counts, drifted=False)
    assert want["schema.bad_rows"] == sum(counts[k] for k in gen.TURN_PLANTS if k in counts)
    assert want["uniqueness.extra_rows"] == counts.get("dup", 0) > 0


def test_oracle_flags_a_wrong_count(spark, tmp_path):
    class Tiny(GatewayRule):
        n_rows = 5000

    wl = Tiny(spark, str(tmp_path), seed=9, cores=2)
    wl.generate()
    n_fail = wl.op()
    assert wl.check(n_fail) == []
    assert wl.check(n_fail + 1) != []


def test_benchmark_json_lists_what_the_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: v[:2] for k, v in layers.PER_LAYER.items()
    }


def _bench(cwd, workload, seconds="1", trace="0"):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", seconds, "--trace", trace],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_one_command_prints_every_end_to_end_metric(workload):
    p = _bench(ROOT, workload)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    for name, unit in run.END_TO_END.items():
        assert any(line.split()[:1] == [name] and line.split()[-1] == unit for line in lines[:-1])


def test_traced_run_reports_every_per_layer_metric():
    p = _bench(ROOT, "gateway_rule", trace="1")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: v[0] for k, v in layers.PER_LAYER.items()
    }
    assert result["metrics"]["functions.task_cpu_s"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(str(tmp_path), "gateway_rule")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

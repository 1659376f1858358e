"""Self-test of the benchmark on a tiny configuration (sf0.001 tables,
a few hundred ETL rows), run in-process.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = {
    "catalog_mix": {"sf": 0.001},
    "etl_pipeline": {"rows": 300},
}


def _run_cli(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    import run as bench

    cfg = {**bench.WORKLOADS[workload], **TINY[workload]}
    result = bench.run_benchmark(workload, 3, 60, bool(trace), cfg=cfg)
    info = result.pop("info")
    json.dumps(result)  # the result line must serialize
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, info["errors"]
    assert result["attempted"] >= 1
    assert info["passes"] == 1 + bench.WARM_PASSES
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_broken_query_is_counted_as_failed():
    import run as bench
    from data_integration_project_spark import plans

    good = plans.REGISTRY["q1_pricing_summary"]
    broken = dataclasses.replace(
        good,
        name="perfbench_broken_q1",
        fn=lambda spark, sf_dir: good.fn(spark, sf_dir).limit(1),
    )
    plans.REGISTRY[broken.name] = broken
    try:
        result = bench.run_benchmark(
            "catalog_mix",
            seed=5,
            seconds=1,
            trace_on=False,
            cfg={
                "kind": "catalog",
                "sf": 0.001,
                "queries": [good.name, broken.name],
            },
        )
    finally:
        del plans.REGISTRY[broken.name]
    assert result["correct"] is False
    assert result["failed"] == 1, result["info"]["errors"]
    assert 0 < result["failed"] / result["attempted"] < 1
    assert "perfbench_broken_q1" in result["info"]["errors"][0]


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run_cli(["--workload", "catalog_mix", "--seed", "1", "--seconds", "1"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

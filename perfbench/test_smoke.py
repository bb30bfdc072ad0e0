"""Smoke tests of the benchmark at a tiny input scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs ``perfbench/run.py`` in a fresh process (one Spark
session per process, as the benchmark runs) from the repository root,
so it takes about a minute per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE_SF = {"etl_nightly": 0.001, "analyst_mix": 0.001,
            "dedup_serving": 0.01}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int, code: str | None = None) -> dict:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--sf", str(SMOKE_SF[workload])]
    if code is None:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    else:
        cmd = [sys.executable, "-c",
               f"import sys; sys.path.insert(0, {HERE!r}); import run\n"
               f"{code}\nsys.exit(run.main({args!r}))"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_scratch"))
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SMOKE_SF))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    out = run_bench(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(SMOKE_SF))
def test_traced_run_reports_every_per_layer_metric(workload):
    out = run_bench(workload, 1)
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["trace.spans"] > 0 and m["engine.task_s"] > 0
    if workload == "etl_nightly":
        assert m["pipeline.assets_built"] > 0
        assert m["pipeline.rebuilt_outside_cone"] == 0
        assert m["validate.checks_run"] > 0
    elif workload == "analyst_mix":
        assert m["queries.jobs"] > 0 and m["catalog.read_calls"] > 0
    else:
        assert m["dedup.probe_jobs"] > 0 and m["dedup.append_files_added"] > 0


def test_wrong_output_is_counted_as_failed():
    code = ("from pudl_spark.plans import queries as Q\n"
            "orig = Q.QUERIES['pricing_summary']\n"
            "Q.QUERIES['pricing_summary'] = lambda s, d: orig(s, d).limit(1)")
    out = run_bench("analyst_mix", 0, code)
    assert not out["correct"] and out["failed"] > 0

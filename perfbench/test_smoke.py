"""Tiny-scale smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload through the real command at a small input scale (each
invocation starts its own Spark driver, one after another), checks that
every run passes its correctness check and that every metric named in
BENCHMARK.json prints with its unit; checks that the composed
validate_full writes exactly what run_validation.main writes; and checks
that the command fails cleanly outside a repository checkout.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SCALE = "0.02"

sys.path.insert(0, str(HERE))


def bench(workload: str, trace: int, cwd: Path = ROOT, scale: str = SCALE) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_benchmarked_workload_prints_every_metric(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = result_of(bench(workload, trace))
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
        if key == "end_to_end":
            assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["dedup_corpus", "ann_batch"])
def test_other_workload_passes_its_check(workload):
    from run import per_layer_metrics, family
    from workloads import WORKLOADS

    res = result_of(bench(workload, 1))
    assert res["correct"] and res["failed"] == 0
    own = per_layer_metrics({family(s) for s in WORKLOADS[workload].spans})
    assert set(own) <= set(res["metrics"])
    spans = WORKLOADS[workload].spans
    assert all(res["metrics"][f"{s}.jobs"]["value"] > 0 for s in spans)


def test_fails_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())


def test_composed_validate_full_matches_run_validation(tmp_path):
    """The benchmark's validate_full writes the same violations and verdicts
    as the CLI entrypoint on the same input."""
    import pyarrow.parquet as pq

    import run as R
    from tracing import Spans
    from workloads import ValidateFull

    R.prepare_environment()
    import run_validation

    wl = ValidateFull(0.01)
    spark = R.start_session()
    try:
        d = tmp_path / "stage"
        d.mkdir()
        wl.stage(spark, d, seed=3)
        wl.run(spark, d, tmp_path / "bench", Spans())
        cli = tmp_path / "cli"
        assert run_validation.main(["--input", str(d / "transcripts"), "--output", str(cli), "--stats"], spark=spark) == 0
    finally:
        spark.stop()
    for out in ("violations", "verdicts"):
        a = [pq.read_table(p) for p in sorted((tmp_path / "bench" / out).glob("part-*"))]
        b = [pq.read_table(p) for p in sorted((cli / out).glob("part-*"))]
        rows = lambda ts: [r for t in ts for r in t.to_pylist()]  # noqa: E731
        assert rows(a) == rows(b) and rows(a), out

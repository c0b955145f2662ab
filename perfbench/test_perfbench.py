"""The benchmark's own tests: seeded inputs, the metric tables against
BENCHMARK.json, the smoke run and the refusal outside a checkout.

    python3 -m pytest perfbench/test_perfbench.py -q
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run as bench_run  # noqa: E402
from workloads import _tree_digest  # noqa: E402

GENERATORS = {
    "publish": lambda d, seed: gen.write_publish_inputs(d, seed, datasets=20, csv_rows=50),
    "curate": lambda d, seed: gen.write_curate_inputs(d, seed, docs=80),
    "serve": lambda d, seed: gen.write_serve_inputs(d, seed, vectors=60, probes=8),
}

# every output check each workload must run (run.Run.check names)
CHECKS = {
    "publish": {"inputs_regenerate_identically", "ckan_one_line_per_dataset",
                "ckan_lines_parse_with_id", "ckan_preserved_resources_verbatim",
                "cube_output_nonempty", "cube_hash_equal_across_passes"},
    "curate": {"inputs_regenerate_identically", "update_absorbed_delta",
               "asof_count_matches_commit", "manifest_one_row_per_commit",
               "near_duplicates_found", "contamination_found", "retracted_ids_absent",
               "compact_committed"},  # compact runs in traced runs only
    "serve": {"inputs_regenerate_identically", "save_max_id", "k_rows_per_probe",
              "no_retracted_id_served", "max_id_advances_by_delta", "vacuum_healthy"},
}


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    make = GENERATORS[workload]
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_publish_inputs_plant_live_state_and_shapes(tmp_path):
    inp = gen.write_publish_inputs(str(tmp_path), 3, datasets=90, csv_rows=40)
    live = [json.loads(x) for x in open(inp["existing"], encoding="utf-8")]
    kinds = {r["id"].rsplit("-", 1)[1] for r in live}
    assert kinds == {"a", "b", "c"}  # matched by distro_url, by url, preserved
    assert len(inp["preserved"]) == sum(r["id"].endswith("-c") for r in live)
    periods = [line.split(";")[3] for line in open(inp["csv"], encoding="utf-8")][1:]
    assert any(len(p) == 4 for p in periods) and any("T" in p for p in periods)


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(spec["workloads"])
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == bench_run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == bench_run.PER_LAYER
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in b["workloads"])


def _results(stdout: str) -> list[dict]:
    return [json.loads(line) for line in stdout.splitlines() if line.startswith('{"attempted"')]


def test_smoke_reports_every_metric_and_check():
    """Every workload, one pass at tiny sizes, traced: both metric sets
    and every output check appear, and nothing fails."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all", "--smoke",
         "--seed", "3", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=False)
    assert p.returncode == 0, p.stderr[-3000:]
    reports = [json.loads(x)["report"] for x in p.stdout.splitlines() if x.startswith('{"report"')]
    results = _results(p.stdout)
    assert [r["workload"] for r in reports] == ["publish", "curate", "serve"]
    for rep, res in zip(reports, results):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, rep.get("failures")
        assert set(res["metrics"]) == set(bench_run.END_TO_END) | set(bench_run.PER_LAYER)
        assert all(res["metrics"][m]["value"] > 0 for m in bench_run.END_TO_END)
        assert set(rep["checks"]) == CHECKS[rep["workload"]]
        ops = {f"{op}_s" for op in json.load(open(os.path.join(HERE, "workloads.json")))
               ["workloads"][rep["workload"]]["ops"]}
        assert ops <= set(rep["latency_s"])
    layer = {r["workload"]: r["metrics"] for r in [dict(res, workload=rep["workload"])
                                                  for rep, res in zip(reports, results)]}
    # each layer shows on the workload that stresses it and stays idle elsewhere
    assert layer["publish"]["dcat.ckan.jobs"]["value"] > 0
    assert layer["publish"]["cube.extract_spec.jobs"]["value"] == 0
    assert layer["publish"]["model.scans.count"]["value"] > 0
    assert layer["curate"]["incremental.update.jobs"]["value"] > 0
    assert layer["curate"]["textops.dedup_update.jobs"]["value"] > 0
    assert layer["curate"]["lease.acquire.count"]["value"] > 0
    assert layer["serve"]["vectorops.search.jobs"]["value"] > 0
    assert layer["serve"]["maintenance.vacuum.jobs"]["value"] > 0
    assert layer["publish"]["incremental.update.s"]["value"] == 0
    assert layer["curate"]["dcat.ckan.exec_s"]["value"] == 0


def test_refuses_outside_a_checkout(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files there is no
    program to measure: exit non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "publish", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, check=False)
    assert p.returncode != 0
    assert not _results(p.stdout)

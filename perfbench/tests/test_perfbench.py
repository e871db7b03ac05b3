"""Tests for the benchmark's own code: the percentile helper, metric
names, the tracer's self-time arithmetic, and a tiny-scale smoke run of
each workload with its correctness checks.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_percentiles_median_and_sample_count():
    st = harness.percentiles([5, 1, 3, 2, 4])
    assert st["n"] == 5 and st["p50"] == 3
    assert st["tail"] is None  # no percentile leaves ten samples beyond it


def test_percentiles_tail_needs_ten_samples_beyond():
    vals = list(range(1, 101))  # 100 samples: p90 leaves exactly 10 beyond
    st = harness.percentiles(vals)
    assert st["tail"] == (90.0, 90.0)
    st = harness.percentiles(list(range(1, 201)))  # 200: p95 leaves 10
    assert st["tail"] == (95.0, 190.0)
    assert harness.percentiles(list(range(1, 41)))["tail"] == (75.0, 30.0)
    assert harness.percentiles(list(range(1, 40)))["tail"] is None  # 9.75 beyond


@pytest.mark.parametrize("name,ok", [
    ("setup_s", True), ("codecs.enc_bytes.content", True), ("9x", True),
    ("a-b_c.d", True), ("_lead", False), (".lead", False), ("sp ace", False),
    ("per/slash", False), ("x" * 64, True), ("x" * 65, False), ("", False),
])
def test_metric_name_validity(name, ok):
    assert harness.valid_metric_name(name) is ok


def test_benchmark_json_names_are_valid_and_unique():
    names = [w["name"] for w in SPEC["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in SPEC[group]]
    assert all(harness.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_self_time_subtracts_the_union_of_children():
    t = harness.Tracer()
    # parent [0, 10] with children [1, 4] and [5, 7], and a grandchild
    # [2, 3] inside the first child
    t.spans = [
        [0, None, "bench", "op", "op#0", 0.0, 10.0],
        [1, 0, "engine", "a", "op#0", 1.0, 4.0],
        [2, 0, "engine", "b", "op#0", 5.0, 7.0],
        [3, 1, "spark", "c", "op#0", 2.0, 3.0],
    ]
    st = t.self_times()
    assert st["bench"] == pytest.approx(5.0)
    assert st["engine"] == pytest.approx((3 - 1) + 2)
    assert st["spark"] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)  # self times tile the op
    # overlapping children are covered once: [1, 4] and [3, 6] cover 5
    t.spans = [[0, None, "bench", "op", None, 0.0, 10.0],
               [1, 0, "engine", "a", None, 1.0, 4.0],
               [2, 0, "engine", "b", None, 3.0, 6.0]]
    assert t.self_times()["bench"] == pytest.approx(5.0)


def _run(workload: str, trace: int) -> tuple[dict, str]:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct(workload):
    res, out = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for name in want:  # the report names every metric with a sample count
        assert f"\n{name} = " in "\n" + out and "samples:" in out


def test_traced_smoke_run_reports_every_layer_metric():
    res, _ = _run("bulk_encode", 1)
    assert res["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["engine.encode.job_s"] > 0 and m["spark.tasks"] > 0
    assert m["codecs.enc_bytes.content"] > 0 and m["verify.checksum_s"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_encode", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

"""Self-tests of the benchmark: seeded inputs, metric names, the span
arithmetic, the refusal to run without the package, and a smoke run of
every workload.

    python -m pytest perfbench/tests -q
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
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
from measure import Span  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bytes(tables, out_dir) -> dict[str, bytes]:
    paths = gen.write_tables(tables, str(out_dir))
    return {k: open(p, "rb").read() for k, p in paths.items()}


@pytest.mark.parametrize("make", [
    lambda seed: {"orders": gen.orders_table(seed, 2_000)},
    lambda seed: gen.corpus_tables(seed, 120, 60),
])
def test_inputs_are_a_function_of_the_seed(tmp_path, make):
    a = _bytes(make(7), tmp_path / "a")
    b = _bytes(make(7), tmp_path / "b")
    c = _bytes(make(8), tmp_path / "c")
    assert a == b
    assert all(a[k] != c[k] for k in a)


@pytest.mark.parametrize("seed", [3, 4])
def test_corpus_plants_the_same_duplicates_for_every_seed(seed):
    docs = gen.corpus_tables(seed, 600, 300)["documents"].column("text").to_pylist()
    # 120 exact copies of distinct unique documents; near copies differ
    assert len(set(docs)) == 480


def test_metric_names_match_the_spec():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for name in [*e2e, *layers, *run.WORKLOADS]:
        assert NAME.fullmatch(name), name
    assert e2e["setup_s"] == "s"


def test_span_gap_is_wall_minus_job_union():
    sp = Span("core", "x", start=100.0, wall_s=1.0)
    sp.jobs = [
        {"start_ms": 100_100, "end_ms": 100_300, "tasks": 1, "task_ms": 150,
         "shuffle_bytes": 0},
        {"start_ms": 100_200, "end_ms": 100_400, "tasks": 2, "task_ms": 300,
         "shuffle_bytes": 10},
        {"start_ms": 100_900, "end_ms": 101_500, "tasks": 1, "task_ms": 50,
         "shuffle_bytes": 0},
    ]
    assert sp.job_union_ms == pytest.approx(400.0)
    assert sp.gap_ms == pytest.approx(600.0)
    assert (sp.tasks, sp.task_ms, sp.shuffle_bytes) == (4, 500, 10)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write_commits",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize("workload,trace", [
    ("write_commits", 0), ("dedup_pipeline", 1),
])
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["run.failed_frac"]["value"] == 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))

"""Toy-scale tests of the benchmark itself.

    python -m pytest perfbench -q

The two Spark tests each start their own JVM and run one workload at a
few thousand rows (about two minutes together).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from perfbench import harness
from perfbench.census import union_seconds
from perfbench.run import all_layer_names
from perfbench.tracing import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = harness.load_spec(ROOT)


@pytest.fixture
def bench_env(tmp_path):
    """prepare_env rewrites the process environment; undo it afterwards."""
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    work = str(tmp_path / "work")
    harness.prepare_env(work, len(os.sched_getaffinity(0)))
    yield work
    os.environ.clear()
    os.environ.update(saved_env)
    tempfile.tempdir = saved_tmp


def _parse(line: str, trace: bool) -> dict:
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], float)
    return out


def test_union_seconds():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_seconds([(5, 6), (0, 1), (0.5, 0.75)]) == 2.0


def test_self_time_subtracts_children():
    tr = Tracer(spark=None, run_id="t")
    root = Span(0, "pass", None, "t", 0.0, 10.0)
    tr.spans.append(root)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 6.0, root)
    assert tr.self_seconds(root) == pytest.approx(5.0)


def test_spec_lists_every_metric_the_code_reports():
    assert len(SPEC["per_layer"]) < 128
    assert [m["name"] for m in SPEC["per_layer"]] == all_layer_names()
    assert {m["name"] for m in SPEC["end_to_end"]} == {
        "setup_s", "first_pass_s", "pass_s", "driver_peak_rss_mb",
    }


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medallion",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_catalog_counts_a_wrong_digest_as_failed(bench_env):
    from perfbench.catalog import CatalogOperators, load_digests

    entries = ("spearman_qty_price", "kmeans_clusters")
    digests = load_digests()
    digests["kmeans_clusters"] = "0" * 64
    wl = CatalogOperators(seed=3, entries=entries, digests=digests)
    out = harness.run_workload(wl, seconds=0, trace=False, work=bench_env, run_id="toy-cat")
    checks = out["checks"]
    # first pass + one warm pass, two entries each; only kmeans is wrong
    assert checks.attempted == 4
    assert checks.failed == 2
    assert all("kmeans_clusters" in p for p in checks.problems)
    res = _parse(harness.result_line(SPEC, checks, out["metrics"], False, all_layer_names()), False)
    assert res["correct"] is False and res["failed"] == 2
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_medallion_traced_reports_every_layer(bench_env):
    from perfbench.medallion import DAG_NODES, GOLD_QUERIES, Medallion

    wl = Medallion(seed=5, yellow_pool=3000, green_pool=600)
    out = harness.run_workload(wl, seconds=0, trace=True, work=bench_env, run_id="toy-med")
    checks = out["checks"]
    # first pass + 3 warm passes; each: build, quality, 7 gold queries
    assert checks.attempted == 4 * (2 + len(GOLD_QUERIES))
    assert checks.failed == 0, checks.problems
    res = _parse(harness.result_line(SPEC, checks, out["metrics"], True, all_layer_names()), True)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert res["correct"] is True
    for node in DAG_NODES:
        assert m[f"dag.{node}.s"] > 0 and m[f"dag.{node}.jobs"] >= 1
    for q in GOLD_QUERIES:
        assert m[f"gold.{q}.exec_s"] > 0 and m[f"gold.{q}.input_bytes"] > 0
    assert m["quality.jobs"] >= 1 and m["quality.failed"] == 0
    assert m["taxi_models.construct_s"] > 0 and m["taxi_models.plan_s"] > 0
    assert m["engine.task_busy_s"] > 0
    assert m["session.start_s"] > 0 and m["inputs.s"] > 0
    # catalog layers are not run by this workload and read 0
    assert m["catalog.plan_s"] == 0
    traces = os.path.join(os.path.dirname(bench_env), "traces", "toy-med.json")
    spans = json.load(open(traces))
    assert {"id", "name", "parent", "run_id", "start_s", "end_s", "self_s"} <= set(spans[0])

"""The benchmark's own tests: a small run of every workload, untraced and
traced, emits every metric BENCHMARK.json names with its unit; a wrong
output or a crashing operation is counted as a failed operation.

    python -m pytest perfbench/tests -q     (from the repository root)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import probes, runner, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# 1000 pages; the registry's tables are fixed
SCALE = {"webkg_fused": 0.005, "registry_queries": 1.0}


@pytest.fixture(scope="module")
def spark():
    s = runner.start_session()
    yield s
    s.stop()


def _run(spark, tmp_path, name, trace=False, seed=1):
    return runner.Run(
        name, seed, 0.0, trace, str(tmp_path / name), scale=SCALE[name], spark=spark
    ).execute()


def _assert_metrics(res, expected):
    assert set(res["metrics"]) == set(expected)
    for k, m in res["metrics"].items():
        assert m["unit"] == expected[k], k
        assert isinstance(m["value"], float), k


def test_spec_lists_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert E2E["setup_s"] == "s"


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_small_run_is_correct_and_emits_every_metric(spark, tmp_path, name):
    res = _run(spark, tmp_path, name)
    assert res["correct"], res["lines"]
    assert res["failed"] == 0 and res["attempted"] >= 2
    _assert_metrics(res, E2E)
    assert all(res["metrics"][k]["value"] > 0 for k in E2E)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_traced_run_emits_every_layer_metric(spark, tmp_path, name):
    res = _run(spark, tmp_path, name, trace=True)
    assert res["correct"], res["lines"]
    _assert_metrics(res, LAYER)
    shown = {line.split()[1] for line in res["lines"] if line.startswith("layer ")}
    own = {
        "webkg_fused": {"fused.engine_share", "pipeline.components.s", "resume.triples.s",
                        "stream.batch_s", "catalog.write_s"},
        "registry_queries": {"q.host_rank.s", "q.host_rank.exchanges", "parse.s",
                             "hypernym.s", "linearize.s", "corpora.write_tsv_s"},
    }[name]
    assert own <= shown
    spans = res["spans"]
    assert all(s["end"] is not None and s["end"] >= s["start"] for s in spans)


def test_wrong_expected_output_is_a_failed_operation(spark, tmp_path, monkeypatch):
    prepare = workloads.WebKGFused.prepare_checks

    def off_by_one(self):
        prepare(self)
        key = next(iter(self.gold))
        self.gold[key] += 1

    monkeypatch.setattr(workloads.WebKGFused, "prepare_checks", off_by_one)
    res = _run(spark, tmp_path, "webkg_fused")
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 2


def test_wrong_oracle_fails_every_sweep(spark, tmp_path, monkeypatch):
    prepare = workloads.RegistryQueries.prepare_checks

    def one_row_short(self):
        prepare(self)
        cols, rows = self.want["host_rank"]
        self.want["host_rank"] = (cols, rows[1:])

    monkeypatch.setattr(workloads.RegistryQueries, "prepare_checks", one_row_short)
    res = _run(spark, tmp_path, "registry_queries")
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 2


def test_crashing_operation_is_counted_and_the_run_goes_on(spark, tmp_path, monkeypatch):
    steps = workloads.WebKGFused.steps
    calls = {"n": 0}

    def sometimes_crash(self, op_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            def boom():
                raise RuntimeError("injected crash")
            return [("fused", boom)]
        return steps(self, op_dir)

    monkeypatch.setattr(workloads.WebKGFused, "steps", sometimes_crash)
    res = _run(spark, tmp_path, "webkg_fused")
    assert res["failed"] == 1 and not res["correct"]
    assert res["attempted"] >= 3  # it kept going after the crash


def test_timeout_cancels_the_operation(spark, monkeypatch):
    import time

    def hang():
        spark.range(1).rdd.map(lambda x: time.sleep(30)).count()

    with pytest.raises(Exception):
        runner.guarded(spark, hang, 2.0)


def test_exchange_count_reads_the_final_plan():
    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   ShuffleQueryStage (4)\n   +- Exchange (3)\n      +- BroadcastExchange (2)\n"
        "+- == Initial Plan ==\n   Exchange (7)\n      +- Exchange (8)\n\n(1) Scan\n"
    )
    assert probes.exchanges_in(plan) == 2


def test_command_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "webkg_fused", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert not out.stdout.strip()

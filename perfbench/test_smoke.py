"""Smoke tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each test is one benchmark run with ``seconds=0``: the warm-up passes, then
the fewest timed passes (two, or in trace mode one untraced and traced
pair). They check that every metric named in ``BENCHMARK.json`` is
emitted with its unit, that a clean run reports no failures, and that a
corrupted expectation is caught.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import run

sys.path.insert(0, run.ROOT)  # the workload modules import the package

from diary_etl import DiaryEtl  # noqa: E402
from registry_headline import ENTRIES, RegistryHeadline, within_last_decimal  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

SMALL_DIARY = {"n_days": 200}


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def _run(workload, trace, tmp_path, **sizes):
    out = io.StringIO()
    result = run.run(workload, seed=5, seconds=0, trace=trace,
                     work=str(tmp_path / "work"), out=out, **sizes)
    assert json.loads(out.getvalue().strip().splitlines()[-1]) == result
    return result


def _emitted(result) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == ["diary_etl", "registry_headline"]
    assert len(SPEC["per_layer"]) <= 128


def test_diary_traced_emits_every_layer_metric_and_is_correct(tmp_path):
    result = _run("diary_etl", True, tmp_path, **SMALL_DIARY)
    assert _emitted(result) == _units("per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"] and result["failed"] == 0 and m["fail_ratio"] == 0
    assert m["trace.coverage"] >= 0.9
    assert m["operators.timeseries.ewma_s"] > 0 and m["pipeline.files_written"] > 0


def test_registry_untraced_emits_every_end_to_end_metric(tmp_path):
    result = _run("registry_headline", False, tmp_path)
    assert _emitted(result) == _units("end_to_end")
    assert result["correct"] and result["failed"] == 0
    passes = RegistryHeadline.warmup_passes + run.MIN_TIMED_PASSES
    assert result["attempted"] == passes * len(ENTRIES)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_perturbed_oracle_result_raises_fail_ratio(tmp_path, monkeypatch):
    generate = RegistryHeadline.generate

    def perturbed(self):
        generate(self)
        self.expected[ENTRIES[0]] = self.expected[ENTRIES[0]].iloc[1:]

    monkeypatch.setattr(RegistryHeadline, "generate", perturbed)
    result = _run("registry_headline", True, tmp_path)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["fail_ratio"] > 0 and not result["correct"]
    assert m["functions.caching.persisted_rdds"] > 0  # the top-k checkpoints


def test_a_rounding_flip_in_the_last_decimal_is_accepted():
    want = pd.DataFrame({"n": [1], "revenue": [807648.32]})
    assert within_last_decimal(want.assign(revenue=[807648.33]), want)
    assert not within_last_decimal(want.assign(revenue=[807648.35]), want)
    assert not within_last_decimal(want.assign(n=[2]), want)
    assert not within_last_decimal(want.iloc[:0], want)


def test_perturbed_numpy_reference_raises_fail_ratio(tmp_path, monkeypatch):
    generate = DiaryEtl.generate

    def perturbed(self):
        generate(self)
        self.expected["ctl"] = self.expected["ctl"] + 1e-6

    monkeypatch.setattr(DiaryEtl, "generate", perturbed)
    result = _run("diary_etl", False, tmp_path, **SMALL_DIARY)
    assert result["failed"] > 0 and not result["correct"]


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files the run must fail without printing a result."""
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "diary_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

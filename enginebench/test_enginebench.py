"""Tests of the engine benchmark itself.

Run from the repository root::

    python3 -m pytest enginebench/test_enginebench.py -q

Each workload runs once at minimum size (one cycle untraced, two
cycles traced) in a shared Spark session; the tests check the metric
names and units, that a traced run measures every layer its workload
runs, and that the correctness check both passes on the engine and
fails when the oracle disagrees.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from model import SensorModel  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


#: per-layer metrics of the layers each workload runs; none may read 0
MEASURED = {
    "ingest_mixed": [
        "spark.jobs_per_upsert",
        "storage.files_written_per_upsert",
        "pandas_edge.pdf_to_records.busy_s",
        "spark.jobs_per_http_ingest",
        "spark.jobs_per_http_binary_ingest",
        "spark.jobs_per_http_read",
        "sources.influx.parse_lines.busy_s",
        "streaming.ingest.upsert_parsed_batch.busy_s",
        "service.server.influx.self_s",
        "service.server.influx_binary.self_s",
        "service.server.read_df.self_s",
    ],
    "dashboard_read": [
        "engine.fast_read_hit_ratio",
        "engine.read_pandas.chunks_per_call",
        "spark.jobs_per_scan_read",
        "spark.jobs_per_grafana_query",
        "operators.downsample.downsample_max_datapoints.busy_s",
    ],
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_session(s)


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_minimum_run(spark, tmp_path, workload, trace):
    result, lines = run.run_workload(
        spark, workload, seed=7, seconds=0, trace=trace, work=str(tmp_path), out_dir=str(tmp_path)
    )
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and np.isfinite(v["value"]), k
    if trace:
        with open(tmp_path / f"trace-{workload}-seed7.json") as f:
            out = json.load(f)
        assert out["spans"] and all("jobs" in r for r in out["ops"] if r["traced"])
        # every operation type runs both traced and untraced, so each
        # per-layer figure and the tracing overhead have samples
        timed = [r for r in out["ops"] if r["phase"] == "timed"]
        for kind in {r["kind"] for r in timed}:
            assert {r["traced"] for r in timed if r["kind"] == kind} == {True, False}, kind
        for k in MEASURED[workload]:
            assert result["metrics"][k]["value"] > 0, k
    else:
        for k in ("setup_s", "op_p50_ms", "cells_per_s", "peak_rss_mb"):
            assert result["metrics"][k]["value"] > 0
        assert lines and all(line.startswith("# ") for line in lines)


def test_wrong_answers_count_as_failed_operations(spark, tmp_path, monkeypatch):
    real = SensorModel.window

    def off_by_one_row(self, start, end):
        ts, mat = real(self, start, end)
        return ts[1:], mat[1:]

    monkeypatch.setattr(SensorModel, "window", off_by_one_row)
    result, _ = run.run_workload(
        spark, "dashboard_read", seed=7, seconds=0, trace=False, work=str(tmp_path),
        out_dir=str(tmp_path),
    )
    assert not result["correct"]
    assert result["failed"] > 0 and result["metrics"]["ok_ops_frac"]["value"] < 1.0


def test_model_semantics():
    m = SensorModel(100, ["a", "b"])
    # duplicates resolve last-non-NaN-wins in arrival order; ts snaps down
    m.write(np.array([100.0, 101.5, 101.0, 100.25]),
            {"a": np.array([1.0, 2.0, 3.0, np.nan]), "b": np.array([np.nan] * 4)})
    ts, mat = m.window(None, None)
    assert ts.tolist() == [100, 101]
    assert np.array_equal(mat, np.array([[1, np.nan], [3, np.nan]], np.float32), equal_nan=True)
    # a later metric reads the fill value in older rows and NaN in new ones
    m.write(np.array([102.0]), {"a": np.array([4.0]), "b": np.array([5.0]), "c": np.array([np.nan])})
    ts, mat = m.window(100.9, 102)
    assert ts.tolist() == [100, 101, 102]
    assert np.array_equal(mat[:, 2], np.array([0.0, 0.0, np.nan], np.float32), equal_nan=True)


def test_bare_directory_fails_without_a_result(tmp_path):
    """Run with only BENCHMARK.json and the benchmark's files present."""
    shutil.copytree(HERE, tmp_path / "enginebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", "dashboard_read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

"""Tests of the benchmark itself; none starts a Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import harvest  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_follows_the_contract(spec):
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_declared_names_match_the_runner(spec):
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert run.END_TO_END == list(run.UNITS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


def _bench_with_records():
    """A Bench holding two passes of synthetic op records, as a traced
    run leaves them."""
    args = argparse.Namespace(workload="batch_mixed", seed=3, seconds=1, trace=1)
    bench = run.Bench(args, "/nonexistent")
    stages = {key: 1.0 for key, _ in harvest.STAGE_FIELDS.values()}
    stages["stages"] = 2
    sql = {"description": "pb0x", "jobs": 1, "python_nodes": 1,
           "bytes_sent": 10.0, "bytes_received": 20.0, "rows_received": 3.0}
    for p in range(2):
        for i in range(3):
            t0 = 10.0 * p + i
            bench.ops.append({
                "op": 3 * p + i, "query": bench.mix[i], "pass": p, "t0": t0,
                "t1": t0 + 0.25, "t2": t0 + 1.0, "plan_cache_hit": i > 0,
                "build_jobs": i == 0, "exec_jobs": 2, "exec_stages": dict(stages),
                "sql": [sql], "streams": [],
            })
        bench.passes.append({
            "pass": p, "pass_s": 3.0 + p, "done_s": [3.0 + p], "frames_created": 0,
            "call_s": 3.0, "items": 3, "items_failed": 0, "conf_drift": 0,
            "stream_sql": [], "stream_jobs": 1, "harvest_s": 0.5,
            "progress": [{"run_id": "r", "trigger_s": 1.0, "add_batch_s": 0.5,
                          "input_rows": 7, "state_rows": 5,
                          "state_memory_bytes": 100}],
        })
    bench.release_s.append(0.01)
    return bench


def _assert_payload(payload, declared):
    assert set(payload) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(payload["attempted"], int) and payload["attempted"] >= 1
    assert isinstance(payload["failed"], int)
    assert {k: v["unit"] for k, v in payload["metrics"].items()} == declared
    for v in payload["metrics"].values():
        assert set(v) == {"value", "unit"}
        assert isinstance(v["value"], (int, float)) and v["value"] == v["value"]


def test_result_line_schema_untraced(spec):
    bench = _bench_with_records()
    metrics = bench.end_to_end((2.0, 0.5), 6.0)
    payload = json.loads(json.dumps(run.result([], 9, metrics, run.UNITS)))
    _assert_payload(payload, {m["name"]: m["unit"] for m in spec["end_to_end"]})
    assert payload["correct"] is True
    assert metrics["setup_s"] == 2.0
    assert metrics["query_p50_s"] == 1.0
    assert metrics["queries_per_s"] == 1.0
    assert metrics["pass_s"] == 3.5


def test_result_line_schema_traced(spec):
    bench = _bench_with_records()
    bench.attempted = 9
    metrics = bench.per_layer((3.0, 0.5), 6.0, {q: 2 for q in bench.mix}, 1024.0)
    failures = [{"query": "x", "phase": "check", "why": "mismatch"}]
    payload = json.loads(json.dumps(run.result(failures, 9, metrics, run.PER_LAYER_UNITS)))
    _assert_payload(payload, {m["name"]: m["unit"] for m in spec["per_layer"]})
    assert payload["correct"] is False and payload["failed"] == 1
    assert metrics["entry.plan_cache_hit_ratio"] == pytest.approx(4 / 6)
    assert metrics["fit.jobs"] == 2  # one build job + one stream job per pass
    assert metrics["exec.stages"] == 6
    assert metrics["streaming.batches"] == 1
    assert metrics["trace.span_coverage"] == 1.0


def test_every_op_failed_still_gives_a_result_line(spec):
    bench = _bench_with_records()
    for o in bench.ops:
        o["error"] = "RuntimeError: boom"
    failures = [{"query": o["query"], "phase": "op", "why": o["error"]} for o in bench.ops]
    for metrics, units, declared in (
        (bench.end_to_end((2.0, 0.5), 6.0), run.UNITS, spec["end_to_end"]),
        (bench.per_layer((2.0, 0.5), 6.0, {}, 1024.0), run.PER_LAYER_UNITS,
         spec["per_layer"]),
    ):
        payload = json.loads(json.dumps(run.result(failures, 9, metrics, units)))
        _assert_payload(payload, {m["name"]: m["unit"] for m in declared})
        assert payload["failed"] == 6 and payload["attempted"] == 9
    metrics = bench.end_to_end((2.0, 0.5), 6.0)
    assert metrics["query_p50_s"] == run.OP_TIMEOUT_S
    assert metrics["queries_per_s"] == 0
    bench.ops.clear()
    assert bench.end_to_end((2.0, 0.5), 6.0)["query_p50_s"] == run.OP_TIMEOUT_S


def test_parse_sql_metric():
    assert harvest.parse_sql_metric("10,000") == 10000
    assert harvest.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n54.3 KiB (5.3 KiB, 7.5 KiB)"
    ) == pytest.approx(54.3 * 1024)
    assert harvest.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n8.8 s (375 ms, 1.7 s, 1.8 s)"
    ) == pytest.approx(8.8)
    assert harvest.parse_sql_metric(None) == 0


def test_union_of_spans():
    assert run._union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert run._union_s([]) == 0


def test_fixtures_follow_the_seed():
    a, b = fixtures.tables(5, 0.001), fixtures.tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(fixtures.tables(6, 0.001)["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".run", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""

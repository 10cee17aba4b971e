"""Self-test of the benchmark harness at a tiny corpus size.

    python3 -m pytest sbench/tests -q

Runs both workloads end to end (one traced, one not), checks the result
line against BENCHMARK.json, checks the span schema of the traced run, and
shows that a result mismatch between query paths or a leftover process is
counted as a failed operation.  Needs pyspark and Java; takes ~2 minutes.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workload  # noqa: E402
from spans import check_spans  # noqa: E402

SCALE = "0.05"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(wl: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "sbench/run.py", "--workload", wl, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workload.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


@pytest.fixture(scope="module")
def traced_head_skew():
    return _run("head_skew", 1)


def test_traced_run_reports_every_layer_metric(traced_head_skew):
    result, _ = traced_head_skew
    assert result["correct"] is True, result
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.LAYER_UNITS)
    assert result["metrics"]["local_engine.first_touch_share"]["value"] == 0


def test_traced_run_writes_well_formed_spans(traced_head_skew):
    _, lines = traced_head_skew
    path = next(line.split()[1] for line in lines if line.startswith("spans "))
    with open(os.path.join(ROOT, path)) as f:
        spans = [json.loads(line) for line in f]
    assert check_spans(spans) == []
    names = {s["name"] for s in spans}
    for layer in ("index_build.build_index", "operators.query.Searcher.search",
                  "operators.bmm.search_bmm",
                  "operators.local_engine.LocalSearcher.search",
                  "phase.spark", "phase.serve", "run"):
        assert layer in names
    roots = [s for s in spans if s["parent"] is None]
    assert [s["name"] for s in roots] == ["run"]


def test_untraced_long_tail_reports_every_end_to_end_metric():
    result, lines = _run("long_tail", 0)
    assert result["correct"] is True, result
    assert set(result["metrics"]) == set(run.E2E_UNITS)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name, unit in run.UNSTEADY_UNITS.items():
        assert any(line.startswith(f"{name} ") and f" {unit}" in line
                   for line in lines), name
    assert not any(line.startswith("spans ") for line in lines)


def _phases():
    rows = [(1, "org0/repo0:a@c", 1, 2.5), (1, "org1/repo1:b@d", 2, 1.25),
            (2, "org2/repo2:e@f", 1, 0.5)]
    spark = {"e2e": {"build_docs_per_s": 1.0}, "layers": {},
             "detail": {"searcher_open_s": 0.2,
                        "gate": {"exact": rows, "bmm": list(rows)}},
             "attempted": 10, "failed": 0, "errors": [], "spans": [],
             "rc": 0, "leftovers": []}
    serve = {"e2e": {"serve_p50_ms": 1.0}, "layers": {},
             "detail": {"local_open_s": 0.01, "serve_ms": [1.0, 2.0],
                        "gate": {"local": list(rows)}},
             "attempted": 5, "failed": 0, "errors": [], "spans": [],
             "rc": 0, "leftovers": []}
    return spark, serve


def test_agreeing_paths_pass_the_gate():
    spark, serve = _phases()
    s = run.summarize(spark, serve, [1, 2, 3], trace=False)
    assert s["failed"] == 0
    assert s["attempted"] == 10 + 5 + 2 + 3


def test_injected_mismatch_counts_as_failed():
    spark, serve = _phases()
    bad = copy.deepcopy(serve)
    qid, docno, rank, score = bad["detail"]["gate"]["local"][1]
    bad["detail"]["gate"]["local"][1] = (qid, docno, rank, score + 1e-6)
    s = run.summarize(spark, bad, [1, 2, 3], trace=False)
    assert s["failed"] == 1 and s["gate_bad"] == [1]


def test_path_that_raised_fails_every_gate_query():
    spark, serve = _phases()
    spark["detail"]["gate"].pop("bmm")
    s = run.summarize(spark, serve, [1, 2, 3], trace=False)
    assert s["failed"] == 3


def test_leftover_process_counts_as_failed():
    spark, serve = _phases()
    spark["leftovers"] = [12345]
    s = run.summarize(spark, serve, [1, 2, 3], trace=False)
    assert s["failed"] == 1


def test_run_without_the_program_exits_nonzero(tmp_path):
    bench = tmp_path / "sbench"
    bench.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(BENCH, name)).read())
    proc = subprocess.run(
        [sys.executable, "sbench/run.py", "--workload", "head_skew",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_streams_are_fixed_by_seed():
    for wl in workload.WORKLOADS:
        a = workload.serve_plan(wl, 3, 0.05)
        assert a == workload.serve_plan(wl, 3, 0.05)
        assert a != workload.serve_plan(wl, 4, 0.05)
    head = workload.serve_plan("head_skew", 3)
    flags = workload.first_touch_flags(head["stream"],
                                       head["fill"] + head["warm"])
    assert not any(flags)

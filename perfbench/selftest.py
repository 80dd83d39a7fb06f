"""Self-test of the benchmark (not part of tests/): every workload at tiny
scale, in both modes, prints every declared metric with its unit and passes
its gate; the gate rejects a perturbed run.

The file name keeps it out of pytest's default collection, so the
repository's own suite never runs it. Run it by path:

    python3 -m pytest perfbench/selftest.py -q    # from the repository root, ~10 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_what_the_code_prints():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def _run(workload: str, trace: int):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return p, p.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_every_metric(workload, trace):
    p, lines = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = layers.PER_LAYER if trace else run.END_TO_END
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == spec
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace:
        assert any(line.startswith("span file ") for line in lines)
        assert any(line.startswith("layer") for line in lines)  # self-time table
    else:
        assert all(result["metrics"][k]["value"] > 0 for k, _ in run.END_TO_END)


def test_exit_status_follows_the_gate(monkeypatch, capsys):
    bad = {"correct": False, "attempted": 2, "failed": 1, "metrics": {}}
    monkeypatch.setattr(run, "run_workload", lambda *a: (bad, []))
    assert run.main(["--workload", "bulk_build", "--seed", "1", "--seconds", "1"]) == 1
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == bad


@pytest.fixture(scope="module")
def engine_run():
    """A real search run on a tiny index, with its oracle. The process
    environment pin_environment changes is restored afterwards."""
    from perfbench import harness

    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    work = harness.make_work_dir()
    harness.pin_environment(work)
    spark = harness.start_spark(work)
    try:
        from openmatch_spark.index import load_index
        from openmatch_spark.query import search

        from perfbench import gate
        from perfbench.workloads import QUERY_SCHEMA, build, corpus, gen_queries

        pages = corpus(spark, 200, 5, 0)
        build(spark, pages, os.path.join(work, "idx"))
        idx = load_index(spark, os.path.join(work, "idx"))
        queries = dict(gen_queries(12, [5]))
        rows = search(idx, spark.createDataFrame(list(queries.items()), QUERY_SCHEMA), k=10).collect()
        yield gate.group_run([tuple(r) for r in rows]), gate.oracle_for(pages), queries
    finally:
        harness.stop_spark(spark)
        harness.remove_work_dir(work)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tmp


def test_gate_accepts_the_engine_run(engine_run):
    from perfbench import gate

    run_, oracle, queries = engine_run
    assert gate.retrieval_mismatches(run_, oracle, queries, 10) == []


def test_gate_rejects_swapped_ranks(engine_run):
    from perfbench import gate

    run_, oracle, queries = engine_run
    qid = next(q for q, hits in run_.items() if len(hits) >= 2 and hits[0][1] != hits[1][1])
    hits = run_[qid]
    swapped = [(hits[1][0], hits[1][1], 1), (hits[0][0], hits[0][1], 2)] + hits[2:]
    assert gate.retrieval_mismatches({**run_, qid: swapped}, oracle, queries, 10) == [qid]
    dropped = {**run_, qid: hits[:-1]}
    assert gate.retrieval_mismatches(dropped, oracle, queries, 10) == [qid]


def test_freshness_gate():
    from perfbench import gate

    hits = {"m1": [("u1", 1.0, 1)], "old": [("u2", 1.0, 1)], "m3": []}
    assert gate.freshness_failures(hits, {"m1": "u1"}, []) == []
    assert gate.freshness_failures(hits, {"m1": "u1"}, ["old"]) == ["old"]
    assert gate.freshness_failures(hits, {"m3": "u3"}, []) == ["m3"]
    twice = {"m1": [("u1", 1.0, 1), ("u1", 0.5, 2)]}
    assert gate.freshness_failures(twice, {"m1": "u1"}, []) == ["m1"]

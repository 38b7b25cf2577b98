"""Self-test of the benchmark at the tiny scale.

    python3 -m pytest perfbench/tests -q

For each workload it checks that the end-to-end run prints every end-to-end
metric of BENCHMARK.json with its unit and passes the correctness gate, that
the traced run prints every per-layer metric with its unit, and that a
corrupted reference answer is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_gate(workload):
    r = run_bench(workload, 0)
    assert_metrics(r, BENCH["end_to_end"])
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    assert all(r["metrics"][m["name"]]["value"] > 0 for m in BENCH["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    r = run_bench(workload, 1)
    assert_metrics(r, BENCH["per_layer"])
    assert r["metrics"]["error_rate"]["value"] == 0.0
    if workload == "search_driver":
        assert r["metrics"]["engine.jobs"]["value"] == 0.0
        assert r["metrics"]["codec.varint_decode.calls"]["value"] > 0
    else:
        assert r["metrics"]["engine_df.jobs"]["value"] > 0
    assert r["metrics"]["build.jobs"]["value"] > 0
    assert r["metrics"]["append.jobs"]["value"] > 0


def test_corrupted_reference_answer_counts_as_failure(monkeypatch, capsys):
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import reference
    import run

    honest = reference.Reference.topk

    def corrupted(self, queries, k):
        answers = honest(self, queries, k)
        for a in answers:
            if len(a):
                a.loc[0, "score"] += 1e-6
                break
        return answers

    monkeypatch.setattr(reference.Reference, "topk", corrupted)
    monkeypatch.chdir(REPO)
    monkeypatch.delenv("TMPDIR", raising=False)  # run.main points it at its work dir
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("JAVA_TOOL_OPTIONS", raising=False)
    assert run.main(["--workload", "search_driver", "--seed", "7", "--seconds", "1",
                     "--scale", "tiny"]) == 0
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["failed"] >= 1 and not r["correct"]

"""The benchmark's own tests: seeded inputs, metric layout, correctness gate.

    python3 -m pytest perfbench -q

The two end-to-end runs start Spark and take a minute or two each.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TEST_SEED = 990_001  # far from the seeds a benchmark run uses


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, ma = gen.generate(5, tmp_path / "a")
    b, mb = gen.generate(5, tmp_path / "b")
    c, mc = gen.generate(6, tmp_path / "c")
    assert ma["input_digest"] == mb["input_digest"] == gen.input_digest(a)
    assert mc["input_digest"] != ma["input_digest"]
    assert ma["rows"] == mb["rows"]
    assert ma["rows"]["orders"] == mc["rows"]["orders"]  # sizes do not depend on the seed
    for planted in ma["planted"].values():
        assert 0.1 < planted["planted_dup_rate"] < 0.25


def test_benchmark_json_matches_what_the_benchmark_emits():
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == spans.layer_metric_names()
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert len(BENCH["per_layer"]) <= 128


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", str(TEST_SEED), "--seconds", "1", "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


@pytest.fixture(scope="module")
def seeded():
    """Inputs and oracle digests for TEST_SEED, removed afterwards."""
    import oracle

    inputs, _ = gen.generate(TEST_SEED, run.WORK / "inputs")
    for w in run.WORKLOADS:
        oracle.expected(w, inputs)
    yield inputs
    shutil.rmtree(inputs, ignore_errors=True)


def test_wrong_expected_digest_counts_as_failed(seeded):
    path = seeded / "expected_warehouse.json"
    want = json.loads(path.read_text())
    want["q_date_join"][1] += 1  # one row more than the engine returns
    path.write_text(json.dumps(want))
    result, detail = _run("warehouse", trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is False
    rounds = 2 + len(detail["samples"]["round_s"])  # cold + warm-up + timed
    assert result["failed"] == rounds  # q_date_join, once per round
    assert all(f.startswith("q_date_join") for f in detail["failures"])
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_emits_every_layer_metric(seeded):
    result, _ = _run("near_dedup", trace=1)
    assert result["correct"] is True and result["failed"] == 0
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == spans.layer_metric_names()
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["dedup.lsh.jobs"] > 0 and m["dedup.lsh.shuffle_write_bytes"] > 0
    assert 0 < m["dedup.lsh.verified"] <= m["dedup.lsh.candidates"]
    assert m["data.scan.s"] == 0  # a warehouse layer: no work on near_dedup

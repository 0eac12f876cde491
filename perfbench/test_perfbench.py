"""The benchmark's own tests, on the tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

The workload tests start Spark (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, workloads  # noqa: E402
from perfbench.harness import Ctx  # noqa: E402
from perfbench.trace import Tracer, parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    detail = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench detail ")]
    return p, detail


def ctx_for(tmp_path, seed: int) -> Ctx:
    return Ctx(ROOT, str(tmp_path), seed, "tiny", False, Tracer())


def op_sequence(tmp_path, seed: int) -> list[str]:
    """Keys of the first block_ingest cycle and of two analytics passes."""
    ctx = ctx_for(tmp_path / str(seed), seed)
    w = workloads.BlockIngest()
    w.generate(ctx)
    w.make_block(ctx, 1)
    keys = [op.key for op in w.cycle(ctx, 1)]
    return keys + [n for p in range(2) for n in inputs.shuffled(seed, p, workloads.ENTRIES)]


def test_same_seed_same_op_sequence(tmp_path):
    assert op_sequence(tmp_path, 1) == op_sequence(tmp_path, 1)
    assert op_sequence(tmp_path, 1) != op_sequence(tmp_path, 2)


def test_generated_inputs_follow_seed():
    a, b, c = (inputs.analytics_tables(s, "tiny") for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)
    vocab = [{"__name__": "up", "job": "x"}, {"__name__": "x_total", "job": "x"}]
    assert inputs.block_series(1, 0, vocab, 0, 4) == inputs.block_series(1, 0, vocab, 0, 4)
    assert inputs.block_series(1, 0, vocab, 0, 4) != inputs.block_series(2, 0, vocab, 0, 4)


def test_parse_metric():
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("6 ms") == 6.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.4 s (1 ms, 2 ms, 3 ms)") == 1400.0
    assert parse_metric("2.0 KiB") == 2048.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric_and_checks_pass(workload):
    p, detail = run_bench(workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, detail
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    if workload == "analytics_mix":
        routes = json.loads(detail[-1][len("perfbench detail "):])["routes"]
        assert routes and all(len(set(r)) == 1 and len(r) >= 2 for r in routes.values())


@pytest.mark.parametrize("workload,decodes", [("block_ingest", True), ("analytics_mix", False)])
def test_traced_run_emits_layers(workload, decodes):
    p, _ = run_bench(workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = res["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert (got["tsdb_block.decode_ms"]["value"] > 0) == decodes
    assert (got["promql_api.envelope_ms"]["value"] > 0) == decodes
    assert (got["entry.plan_ms"]["value"] > 0) != decodes
    assert got["spark.jobs_per_op"]["value"] > 0
    assert os.path.exists(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-3.json"))


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p, _ = run_bench("block_ingest", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()

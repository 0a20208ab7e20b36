"""Tests of the kgbench benchmark itself.

    python3 -m pytest kgbench/tests -q

Most of them start Spark (tiny inputs, a few minutes in all), so they live
here rather than in the repository's ``tests/``.  Do not run them while a
benchmark runs: a second Spark JVM skews its timings.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

KGBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(KGBENCH)
sys.path[:0] = [KGBENCH, os.path.join(ROOT, "src")]

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

TINY = "0.05"


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "kgbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_same_seed_same_turns():
    assert gen.make_turns(5, 500, 10) == gen.make_turns(5, 500, 10)
    assert gen.make_turns(5, 500, 10) != gen.make_turns(6, 500, 10)


@pytest.mark.parametrize("workload,trace", [
    ("batch_memo", 0), ("batch_distinct", 0), ("append", 0), ("append", 1),
])
def test_prints_every_metric_with_its_unit(workload, trace):
    proc = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--scale", TINY)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_oracle_counts_a_corrupted_triple_as_a_failed_op(tmp_path):
    work = str(tmp_path)
    inputs = run.make_inputs("batch_memo", 9, float(TINY), work)
    out, result_path = os.path.join(work, "out"), os.path.join(work, "result.json")
    proc = subprocess.run(
        [sys.executable, run.WORKER, "--mode", "batch", "--input", inputs["input"],
         "--output", out, "--result", result_path, "--t0", repr(time.time())],
        env=run.bench_env(work), cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    with open(result_path) as f:
        result = json.load(f)
    assert run.op_failures("batch_memo", result, out, inputs["expected"], 1) == 0

    # corrupt one triple in a copy of the output
    bad = os.path.join(work, "bad")
    shutil.copytree(out, bad)
    path = next(p for p in sorted(glob.glob(os.path.join(bad, "triples", "*.parquet")))
                if pq.ParquetFile(p).metadata.num_rows)
    table = pq.read_table(path)
    obj = table.column("obj").to_pylist()
    obj[0] = "concept:0"
    column = pa.array(obj, table.schema.field("obj").type)
    pq.write_table(table.set_column(table.schema.get_field_index("obj"), "obj", column), path)
    failed = run.op_failures("batch_memo", result, bad, inputs["expected"], 1)
    assert failed == 1   # error_rate = failed / attempted = 1.0


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(KGBENCH, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = bench("--workload", "batch_memo", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

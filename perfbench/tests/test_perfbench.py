"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

* One seed generates byte-identical input files twice (no Spark).
* A tiny-size smoke pass of each workload, traced and untraced, emits
  every metric named in ``BENCHMARK.json`` with its unit, checks its
  outputs and reports no failed operation.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.gen import KafkaFiles, write_tables  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _same_tree(a: str, b: str) -> None:
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and names
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors, (mismatch, errors)


def test_tables_are_byte_identical_per_seed(tmp_path):
    write_tables(str(tmp_path / "a"), 7, 0.001)
    write_tables(str(tmp_path / "b"), 7, 0.001)
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    write_tables(str(tmp_path / "c"), 8, 0.001)
    assert not filecmp.cmp(tmp_path / "a" / "events.parquet", tmp_path / "c" / "events.parquet", shallow=False)


def test_kafka_files_are_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        g = KafkaFiles(str(tmp_path / d), 7)
        for i in range(3):
            g.write(1000, due_ms=200 * i)
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_kafka_offsets_are_contiguous_per_partition(tmp_path):
    import pyarrow.parquet as pq

    g = KafkaFiles(str(tmp_path), 3)
    for _ in range(3):
        g.write(2000)
    t = pq.read_table(str(tmp_path)).to_pandas()
    for _key, grp in t.groupby(["topic", "partition"]):
        offs = sorted(grp["offset"])
        assert offs == list(range(len(offs)))


# control_plane is runnable but not among BENCHMARK.json's workloads
# (its run time does not fit the benchmark's budget); it keeps the same
# output contract
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["control_plane"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "5", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, out
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

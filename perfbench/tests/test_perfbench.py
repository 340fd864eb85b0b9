"""Tests for the benchmark's own code: seeded inputs, metric names, and a
short end-to-end run of each workload.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
The smoke runs start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import ingest_gen  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.workloads import RELATIONAL_QUERIES, Relational  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _snapshot(root: str) -> dict[str, tuple[bytes, int]]:
    """Relative path -> (bytes, mtime) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = (f.read(), int(os.stat(p).st_mtime))
    return out


def test_same_seed_gives_identical_ingest_tree(tmp_path):
    a = ingest_gen.generate(str(tmp_path / "a"), seed=7, n_plain=40)
    b = ingest_gen.generate(str(tmp_path / "b"), seed=7, n_plain=40)
    c = ingest_gen.generate(str(tmp_path / "c"), seed=8, n_plain=40)
    assert _snapshot(a.root) == _snapshot(b.root)
    assert _snapshot(a.root) != _snapshot(c.root)
    assert a.manifest == b.manifest
    assert (a.records, a.sink_state, a.declared_sizes) == (
        b.records, b.sink_state, b.declared_sizes
    )


def test_ingest_tree_injects_every_fault(tmp_path):
    tree = ingest_gen.generate(str(tmp_path), seed=3, n_plain=100)
    missing = [e for e in tree.manifest if "/gone_" in e[1]]
    assert tree.quarantined == len(missing) + len(tree.declared_sizes) > 0
    assert tree.dedup_skipped == len(tree.sink_state) > 0
    assert {r[2] for r in tree.records}.isdisjoint(s[0] for s in tree.sink_state)
    assert any(r[5] for r in tree.records)  # zip members
    assert any(r[5] == "" for r in tree.records)  # plain files


def test_same_seed_gives_same_query_order(tmp_path):
    a, b, c = (Relational(str(tmp_path), seed).ops() for seed in (5, 5, 6))
    assert a == b
    assert a != c
    assert sorted(a) == sorted(RELATIONAL_QUERIES)


def test_end_to_end_names_match_benchmark_json():
    assert list(END_TO_END) == [m["name"] for m in BENCH["end_to_end"]]
    assert {w["name"] for w in BENCH["workloads"]} == {"relational", "ingest_files"}


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    ("workload", "trace"), [("relational", "0"), ("ingest_files", "1")]
)
def test_smoke_run(workload, trace):
    proc = _run(["--workload", workload, "--seed", "0", "--seconds", "1",
                 "--trace", trace])
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail = json.loads(proc.stdout.splitlines()[-2])["detail"]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["failed_frac"] == 0, detail["failures"]
    declared = BENCH["per_layer"] if trace == "1" else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if trace == "1":
        assert detail["trace_overhead"]["ops_compared"] >= 1
        layers = detail["layers"]
        assert layers["ingest.records_out"] > 0 and layers["ingest.quarantined"] > 0
        assert layers["ingest.dedup_skipped"] > 0
    assert not os.listdir(os.path.join(ROOT, "perfbench", ".work"))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    proc = _run(["--workload", "relational", "--seed", "0", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

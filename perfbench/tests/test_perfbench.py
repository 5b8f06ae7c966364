"""The benchmark's own tests: seeded inputs, metric names, smoke runs.

Run from the repository root:

    python -m pytest perfbench/tests -q

The smoke runs start one Spark process each on the tiny input size.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracles  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.generate(5, str(tmp_path / "a"), "tiny")
    b = gen.generate(5, str(tmp_path / "b"), "tiny")
    c = gen.generate(6, str(tmp_path / "c"), "tiny")
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert a["doc_pairs"] != c["doc_pairs"]


def test_planted_pairs_are_what_they_claim(tmp_path):
    import pandas as pd

    truth = gen.generate(5, str(tmp_path), "tiny")
    docs = pd.read_parquet(tmp_path / "sf" / "documents.parquet").set_index("doc_id")
    for a, b, kind in truth["doc_pairs"]:
        same = docs.at[a, "text"] == docs.at[b, "text"]
        assert same == (kind == "exact")


def test_go_tokenizer_replay_and_fnv_bucket():
    counts = oracles.go_wordcount(['The "cat", (THE) dog... ', "-- the!?"])
    assert counts == {"the": 3, "cat": 1, "dog": 1, "--": 1}
    # FNV-1a 32 of "a" is 0xe40c292c; & 0x7fffffff = 0x640c292c
    assert oracles.fnv1a_bucket("a", 7) == 0x640C292C % 7


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_exactly_the_end_to_end_metrics(workload):
    p = _run(ROOT, workload, 0)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name in want:
        assert result["metrics"][name]["value"] > 0, name
    summary = p.stdout.strip().splitlines()[-2]
    assert summary.startswith("perfbench: ")
    assert json.loads(summary[len("perfbench: "):])["wall_s"] > 0


def test_traced_smoke_run_emits_exactly_the_per_layer_metrics():
    p = _run(ROOT, "text_dedup", 1)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert values["dedup.minhash_s"] > 0 and values["spark.jobs"] > 0
    assert values["spark.executor_cpu_s"] > 0  # the event log was read
    assert values["dedup.self_s"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), WORKLOADS[0], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

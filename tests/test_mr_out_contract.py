"""The paper's output contract on seeded WordCount input.

``mr-out-<n>`` parity with the reference (worker.go:217-243): every count
equals the Go mapper/reducer's, every key sits in its FNV-1a bucket, and
keys are sorted within each bucket file. Input and references come from
the benchmark's generator and oracles, so nothing here depends on a
fixture that can be absent.
"""

from __future__ import annotations

import glob
import os

import pytest

from map_reduce_in_go_spark.cli import main
from perfbench import gen, oracles

N_REDUCE = 5


@pytest.fixture(scope="module")
def seeded_text(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("seeded"))
    gen.generate(7, root, size="tiny")
    files = sorted(glob.glob(os.path.join(root, "text", "pg-*.txt")))
    texts = []
    for p in files:
        with open(p, encoding="ascii") as fh:
            texts.append(fh.read())
    return files, oracles.go_wordcount(texts)


@pytest.mark.parametrize("form", ["native", "generic"])
def test_mr_out_counts_buckets_and_key_order(spark, tmp_path, seeded_text, form):
    files, want = seeded_text
    out = str(tmp_path / form)
    args = ["--input", ",".join(files), "--output", out, "--reduce", str(N_REDUCE)]
    if form == "generic":
        args.append("--generic")
    assert main(args) == 0

    got: dict[str, str] = {}
    bucket_files = sorted(glob.glob(os.path.join(out, "bucket=*", "*.csv")))
    assert bucket_files
    for f in bucket_files:
        bucket = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        with open(f, encoding="utf-8") as fh:
            keys = []
            for line in fh.read().splitlines():
                key, _tab, value = line.partition("\t")
                assert key not in got, f"key {key!r} written twice"
                assert oracles.fnv1a_bucket(key, N_REDUCE) == bucket, key
                got[key] = value
                keys.append(key)
        assert keys == sorted(keys), f"keys out of order in {f}"
    assert got == {k: str(v) for k, v in want.items()}

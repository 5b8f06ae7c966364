"""Generic Mapper/Reducer engine: end-to-end parity with native wordcount,
FNV-1a bucket bit-parity with the Go implementation, output layout."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from map_reduce_in_go_spark.engine import (
    WordCountMapper,
    WordCountReducer,
    run_mapreduce,
    write_output,
)
from map_reduce_in_go_spark.functions.hashing import fnv1a_32, reduce_bucket
from map_reduce_in_go_spark.sources.text import read_text_files
from perfbench import gen


def _fnv1a_py(s: str) -> int:
    # independent re-implementation of Go's fnv.New32a (hash/fnv)
    h = 2166136261
    for b in s.encode():
        h ^= b
        h = (h * 16777619) % (1 << 32)
    return h


def test_fnv1a_bit_parity(spark):
    # includes multi-byte UTF-8 (Go's ihash hashes []byte, not codepoints)
    words = ["the", "quick", "brown", "fox", "a", "spark", "zebra!",
             "café", "naïve", "Åland", "źdźbło", "日本語", "", "résumé"]
    df = spark.createDataFrame([Row(w=w) for w in words])
    got = {r["w"]: r["h"] for r in df.select("w", fnv1a_32(F.col("w")).alias("h")).collect()}
    for w in words:
        assert got[w] == _fnv1a_py(w), w


def test_reduce_bucket_range(spark):
    df = spark.createDataFrame([Row(w=f"word{i}") for i in range(50)])
    buckets = [
        r["b"] for r in df.select(reduce_bucket(F.col("w"), 5).alias("b")).collect()
    ]
    assert set(buckets) <= set(range(5))
    assert len(set(buckets)) > 1


def test_generic_mapreduce_matches_native(spark, sf_dir):
    from map_reduce_in_go_spark.operators.wordcount import mapreduce_generic, wordcount

    generic = {
        (r["word"], int(r["cnt_str"])) for r in mapreduce_generic(spark, sf_dir).collect()
    }
    native = {(r["word"], r["cnt"]) for r in wordcount(spark, sf_dir).collect()}
    assert generic == native


@pytest.mark.parametrize("batch_rows", ["1", "2", None], ids=["1", "2", "default"])
def test_run_mapreduce_small(spark, batch_rows):
    """The reducer sees every value of its key exactly once, also when the
    key's sorted run spans Arrow batches ("fox" has 4 values, more than a
    1- or 2-row batch holds)."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    if batch_rows is not None:
        spark.conf.set(conf, batch_rows)
    try:
        files = spark.createDataFrame(
            [
                Row(filename="a.txt", contents="The fox. THE FOX!"),
                Row(filename="b.txt", contents="fox? fox"),
            ]
        )
        out = run_mapreduce(files, WordCountMapper(), WordCountReducer())
        got = sorted((r["key"], r["value"]) for r in out.collect())
    finally:
        spark.conf.set(conf, saved)
    assert got == [("fox", "4"), ("the", "2")]


def test_write_output_layout(spark, tmp_path):
    files = spark.createDataFrame(
        [Row(filename="a.txt", contents="apple banana cherry apple")]
    )
    out = run_mapreduce(files, WordCountMapper(), WordCountReducer())
    path = str(tmp_path / "mr-out")
    write_output(out, path, n_reduce=3)
    bucket_dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "bucket=*"))
    )
    assert bucket_dirs  # at least one bucket materialized
    # every key is in the bucket FNV-1a says it should be in
    expected = {
        "apple": (_fnv1a_py("apple") & 0x7FFFFFFF) % 3,
        "banana": (_fnv1a_py("banana") & 0x7FFFFFFF) % 3,
        "cherry": (_fnv1a_py("cherry") & 0x7FFFFFFF) % 3,
    }
    for word, bucket in expected.items():
        hits = []
        for f in glob.glob(os.path.join(path, "bucket=*", "*.csv")):
            with open(f) as fh:
                if any(line.split("\t")[0] == word for line in fh):
                    hits.append(os.path.basename(os.path.dirname(f)))
        assert hits == [f"bucket={bucket}"], (word, hits)


@pytest.mark.parametrize("n_reduce", [5, 8])
def test_bucket_n_written_by_reduce_task_n(spark, tmp_path, n_reduce):
    """Reference parity (worker.go:154,170-174): reduce task n writes
    bucket n, so every file under ``bucket=b/`` is write partition b's
    ``part-0000b-*`` and no two buckets share a task."""
    from map_reduce_in_go_spark.cli import main

    src = tmp_path / "in.txt"
    src.write_text(" ".join(f"w{i}" for i in range(2000)))
    out = str(tmp_path / "out")
    assert main(["--input", str(src), "--output", out, "--reduce", str(n_reduce)]) == 0
    buckets = sorted(glob.glob(os.path.join(out, "bucket=*")))
    assert len(buckets) == n_reduce
    for d in buckets:
        b = int(os.path.basename(d).split("=")[1])
        names = [os.path.basename(f) for f in glob.glob(os.path.join(d, "*.csv"))]
        assert names, d
        assert all(n.startswith(f"part-{b:05d}-") for n in names), (b, names)


def test_small_text_files_read_as_one_partition(spark, tmp_path):
    """The contract test's two seeded files (a few KB, under one open cost)
    are one map task, so a small generic job starts one Python worker."""
    gen.generate(7, str(tmp_path), size="tiny")
    files = sorted(glob.glob(os.path.join(tmp_path, "text", "pg-*.txt")))
    assert len(files) == 2
    assert read_text_files(spark, files).rdd.getNumPartitions() == 1


@pytest.mark.parametrize("kb", [1, 2, 3, 6])
def test_text_file_partitions_follow_input_bytes(spark, tmp_path, kb):
    """Files totalling ``kb`` open costs read as ``min(kb, defaultParallelism)``
    partitions: 4 files of 256 bytes per KB, with the open cost at 1 KB."""
    conf = "spark.sql.files.openCostInBytes"
    saved = spark.conf.get(conf)
    files = []
    for i in range(4 * kb):
        f = tmp_path / f"f{i}.txt"
        f.write_text("x" * 255 + "\n")
        files.append(str(f))
    spark.conf.set(conf, "1024")
    try:
        n = read_text_files(spark, files).rdd.getNumPartitions()
    finally:
        spark.conf.set(conf, saved)
    assert n == min(kb, spark.sparkContext.defaultParallelism)


def test_fault_tolerance_confs(spark):
    """Reference parity (task.go:11,13,264-304): retry cap + straggler
    speculation must both be SET — a multiplier without the enable flag is
    a no-op."""
    assert spark.conf.get("spark.task.maxFailures") == "3"
    assert spark.conf.get("spark.speculation") == "true"
    assert spark.conf.get("spark.speculation.multiplier") == "1.5"

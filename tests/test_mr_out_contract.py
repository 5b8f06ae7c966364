"""The paper's output contract on seeded WordCount input.

``mr-out-<n>`` parity with the reference (worker.go:217-243): every count
equals the Go mapper/reducer's, every key sits in its FNV-1a bucket, and
keys are sorted within each bucket file. The CLI writes each job in one
pass (no cached result, no stage at the static shuffle width) and prints
the number of keys it wrote, zero included. Input and references come from
the benchmark's generator and oracles, so nothing here depends on a
fixture that can be absent.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from map_reduce_in_go_spark.cli import main
from perfbench import gen, oracles

N_REDUCE = 5
FORMS = ["native", "generic", "grep"]


@pytest.fixture(scope="module")
def seeded_text(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("seeded"))
    truth = gen.generate(7, root, size="tiny")
    files = sorted(glob.glob(os.path.join(root, "text", "pg-*.txt")))
    texts = []
    for p in files:
        with open(p, encoding="ascii") as fh:
            texts.append(fh.read())
    return files, oracles.go_wordcount(texts), truth["grep_pattern"]


def _run(files, out: str, form: str, pattern: str) -> int:
    """Run one CLI form; return its exit code."""
    args = ["--input", ",".join(files), "--output", out, "--reduce", str(N_REDUCE)]
    if form == "generic":
        args.append("--generic")
    elif form == "grep":
        args += ["--app", "grep", "--pattern", pattern]
    return main(args)


def _printed_keys(capsys) -> int:
    m = re.search(r"wrote (\d+) keys", capsys.readouterr().out)
    assert m, "the CLI printed no key count"
    return int(m.group(1))


def _written_lines(out: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(out, "bucket=*", "*.csv")):
        with open(f, encoding="utf-8") as fh:
            n += len(fh.read().splitlines())
    return n


@pytest.mark.parametrize("form", FORMS)
def test_mr_out_counts_buckets_and_key_order(spark, tmp_path, seeded_text, form, capsys):
    files, want, pattern = seeded_text
    out = str(tmp_path / form)
    assert _run(files, out, form, pattern) == 0

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
    assert _printed_keys(capsys) == len(got)
    if form == "grep":  # keys are file paths; the oracle keys by basename
        got = {os.path.basename(k): v for k, v in got.items()}
        want = oracles.grep_counts(files, pattern)
    assert got == {k: str(v) for k, v in want.items()}


@pytest.mark.parametrize("form", FORMS)
def test_empty_output_counts_zero(spark, tmp_path, form, capsys):
    """Input with no word and no match writes no key, and the CLI says so."""
    src = tmp_path / "punct.txt"
    src.write_text(" ... !? ;:\n\t(\"')\n\n  ,,\n")
    out = str(tmp_path / form)
    assert _run([str(src)], out, form, "no-such-word") == 0
    assert _printed_keys(capsys) == _written_lines(out) == 0


def test_cli_job_runs_no_stage_at_static_shuffle_width(spark, tmp_path, seeded_text):
    """Every stage of a CLI job is sized by AQE or by ``--reduce``: none
    runs at ``spark.sql.shuffle.partitions``, which a cached result would
    pin, and the job leaves no RDD persisted."""
    files, _want, pattern = seeded_text
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    for form in FORMS:
        group = f"mr-out-width-{form}"
        sc.setJobGroup(group, f"cli.main[{form}]")
        try:
            assert _run(files, str(tmp_path / form), form, pattern) == 0
        finally:
            sc._jsc.clearJobGroup()
        assert set(sc._jsc.getPersistentRDDs().keys()) == persisted, form
        job_ids = tracker.getJobIdsForGroup(group)
        assert job_ids, form
        for jid in job_ids:
            for sid in tracker.getJobInfo(jid).stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    assert stage.numTasks < width, (form, stage)

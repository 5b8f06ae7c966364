"""Served-artifact registry: memoized identity and one build under
concurrency. No Spark needed — the registry is pure lifecycle."""

from __future__ import annotations

import os
import threading

from map_reduce_in_go_spark.sources.artifacts import memo, served_artifact


def _builder(calls):
    def build(path):
        calls.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "model.txt"), "w") as fh:
            fh.write(f"build-{len(calls)}")

    return build


def test_memoized_identity_and_kind_isolation(tmp_path):
    calls_a, calls_b = [], []
    sf = str(tmp_path)
    p1 = served_artifact("t-kind-a", sf, _builder(calls_a))
    p2 = served_artifact("t-kind-a", sf, _builder(calls_a))
    assert p1 == p2 and len(calls_a) == 1  # built once, served twice
    p3 = served_artifact("t-kind-b", sf, _builder(calls_b))
    assert p3 != p1 and len(calls_b) == 1  # kinds don't share artifacts
    assert memo("t-kind-a")[os.path.realpath(sf)] == p1


def test_concurrent_first_calls_build_once(tmp_path):
    calls, paths = [], []
    sf = str(tmp_path)
    gate = threading.Barrier(8)

    def race():
        gate.wait()
        paths.append(served_artifact("t-conc", sf, _builder(calls)))

    threads = [threading.Thread(target=race) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1 and len(set(paths)) == 1

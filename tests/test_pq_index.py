"""Served IVF-PQ artifact: probe == in-flight ann_ivf_pq bit-for-bit,
and probing reads ONLY the probed cells' code tables."""

from __future__ import annotations

import pytest

from map_reduce_in_go_spark.functions.caching import release_persisted
from map_reduce_in_go_spark.operators.pq import ann_ivf_pq
from map_reduce_in_go_spark.operators.pq_index import (
    CENTROIDS,
    CODEBOOKS,
    PqIvfIndex,
)


@pytest.fixture(scope="module")
def built_index(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pqivf") / "index")
    idx = PqIvfIndex(root)
    idx.build(spark, sf_dir)
    release_persisted()
    return idx


def _rows(df):
    return {
        (r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in df.collect()
    }


def test_served_probe_equals_inflight(spark, sf_dir, built_index):
    """The serving contract: the persisted codes + codebooks answer
    EXACTLY what the train-per-call pipeline answers (same model recipe,
    same pair set, same shared ADC kernel, same deterministic cuts)."""
    try:
        served = _rows(built_index.probe(spark, sf_dir))
    finally:
        release_persisted()
    try:
        inflight = _rows(ann_ivf_pq(spark, sf_dir))
    finally:
        release_persisted()
    assert served == inflight and served


def test_probe_reads_only_probed_cells(spark, sf_dir, built_index, monkeypatch):
    """ADC probing must open only the probed cells' code tables — the
    byte-budget argument for PQ at scale. Spy on ManifestTable.read and
    assert no unprobed cell table is ever scanned."""
    from map_reduce_in_go_spark.operators import pq_index as mod
    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable

    _, cells = built_index.snapshot(spark, None)
    all_cells = {path for _, _, path, _ in cells}
    assert len(all_cells) > 2  # multi-cell index, or the pin is vacuous

    reads: list[str] = []
    orig = ManifestTable.read

    def spy(self, spark_, version=None):
        reads.append(self.root)
        return orig(self, spark_, version)

    monkeypatch.setattr(ManifestTable, "read", spy)
    try:
        # nprobe=1: the query subset's probe union is a strict subset of
        # the cells (at full NPROBE every cell is legitimately probed at
        # this SF, which would make the pin vacuous)
        got = built_index.probe(spark, sf_dir, nprobe=1)
        got.write.format("noop").mode("overwrite").save()
    finally:
        release_persisted()

    read_cells = {
        r.split(built_index.root + "/", 1)[1]
        for r in reads
        if "/cells/" in r
    }
    assert read_cells  # some cells were read
    assert read_cells < all_cells, "probe scanned every cell — no pruning"


def test_snapshot_consistency(spark, built_index):
    """Codebooks and centroid map come back from one catalog snapshot
    with the published shapes."""
    books, cells = built_index.snapshot(spark, None)
    from map_reduce_in_go_spark.operators.pq import PQ_K, PQ_M

    assert books.shape[0] == PQ_M and books.shape[1] == PQ_K
    names = {path for _, _, path, _ in cells}
    assert CODEBOOKS not in names and CENTROIDS not in names
    assert len(names) == len(cells)  # one table per cell

"""Size-adaptive spread sizing (r16, r15 verdict #4).

``spread_partitions`` sizes the pre-kernel repartition by the input's
parquet-footer row count instead of unconditionally using
defaultParallelism: tiny corpora get few fat tasks (Python-worker startup
amortizes), large ones get every core, unknown layouts fall back to full
width. These tests pin the sizing arithmetic and the fallbacks — the
query results themselves are partitioning-invariant and stay covered by
the oracle gate.
"""

from __future__ import annotations

import os

from map_reduce_in_go_spark.sources import tables
from map_reduce_in_go_spark.sources.tables import (
    _parquet_rows,
    load_documents_parallel,
    spread_partitions,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_parquet_rows_reads_footer_exactly(spark):
    rows = _parquet_rows(os.path.join(SF_DIR, "documents.parquet"))
    assert rows == spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).count()


def test_parquet_rows_unknown_layout_returns_none(tmp_path):
    assert _parquet_rows(str(tmp_path / "nope.parquet")) is None
    # a directory with no parquet files is 0 rows, not unknown
    assert _parquet_rows(str(tmp_path)) == 0


def test_spread_is_row_bounded_and_capped(spark, monkeypatch):
    p = spark.sparkContext.defaultParallelism
    rows = _parquet_rows(os.path.join(SF_DIR, "documents.parquet"))
    # tiny target -> every row its own task, capped at parallelism
    monkeypatch.setattr(tables, "SPREAD_ROWS_PER_TASK", 1)
    assert spread_partitions(spark, SF_DIR, "documents") == min(p, rows)
    # huge target -> one partition, never zero
    monkeypatch.setattr(tables, "SPREAD_ROWS_PER_TASK", 10 * rows)
    assert spread_partitions(spark, SF_DIR, "documents") == 1
    # ceil division: rows-1 per task needs 2 tasks
    monkeypatch.setattr(tables, "SPREAD_ROWS_PER_TASK", rows - 1)
    assert spread_partitions(spark, SF_DIR, "documents") == min(p, 2)


def test_spread_falls_back_to_full_width_on_unknown_layout(spark):
    p = spark.sparkContext.defaultParallelism
    assert spread_partitions(spark, "/definitely/not/a/dir", "documents") == p


def test_load_documents_parallel_partition_counts(spark):
    adaptive = load_documents_parallel(spark, SF_DIR)
    full = load_documents_parallel(spark, SF_DIR, full_width=True)
    n_adaptive = adaptive.rdd.getNumPartitions()
    n_full = full.rdd.getNumPartitions()
    assert n_full == spark.sparkContext.defaultParallelism
    assert 1 <= n_adaptive <= n_full
    assert n_adaptive == spread_partitions(spark, SF_DIR, "documents")
    # same rows either way — the spread never changes what is computed
    assert adaptive.count() == full.count()

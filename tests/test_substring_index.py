"""Served substring and gram indexes: point probes actually prune files,
and served gram counts answer exactly what the in-flight path answers."""

from __future__ import annotations

import pytest

from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
from map_reduce_in_go_spark.sources.substring_index import (
    ANCHOR_W,
    build_substring_index,
)
from map_reduce_in_go_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ssidx") / "index")
    build_substring_index(spark, sf_dir, root)
    return root


def test_substring_search_prunes_files(spark, sf_dir, index_dir):
    """Point probes must open strictly fewer files than the index holds —
    the whole reason for the hash-clustered layout."""
    from pyspark.sql import functions as F

    tbl = ManifestTable(index_dir, stats_cols=["h"])
    probe = (
        spark.createDataFrame([("x" * ANCHOR_W,)], "p string")
        .select(F.xxhash64(F.substring("p", 1, ANCHOR_W)).alias("h"))
        .collect()[0]["h"]
    )
    files, total = tbl.files_pruned_in("h", [probe], tbl.version())
    assert total > 1  # the index really is multi-file
    assert len(files) < total


# ---------------------------------------------------------------- gram index


def test_gram_index_full_path_equals_inflight(spark, sf_dir, tmp_path):
    """The served-count path answers EXACTLY what the in-flight corpus
    aggregation answers (the dedup_substring_indexed oracle's pytest twin,
    runnable without DuckDB)."""
    from map_reduce_in_go_spark.operators.dedup import substring_spans
    from map_reduce_in_go_spark.sources.substring_index import (
        build_gram_index,
        duplicated_grams,
    )

    root = str(tmp_path / "gram")
    build_gram_index(spark, sf_dir, root)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inflight = {
        tuple(r) for r in substring_spans(docs).collect()
    }
    served = {
        tuple(r)
        for r in substring_spans(
            docs, dup_grams=duplicated_grams(spark, root)
        ).collect()
    }
    assert served == inflight and inflight  # non-vacuous: spans exist


def test_gram_index_batch_probe_prunes_files(spark, sf_dir, tmp_path):
    """A small arriving batch must open fewer index files than the index
    holds — the point-set pruning that makes incremental substring dedup
    O(batch), not O(corpus)."""
    from pyspark.sql import functions as F

    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
    from map_reduce_in_go_spark.sources.substring_index import (
        _token_gram_counts,
        build_gram_index,
    )

    root = str(tmp_path / "gram")
    # many files so a short doc's probe set cannot cover them all
    build_gram_index(spark, sf_dir, root, num_files=64)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    one = docs.limit(1).withColumn(
        "text", F.expr("array_join(slice(split(text, ' '), 1, 20), ' ')")
    )
    probes = [r["g"] for r in _token_gram_counts(one).collect()]
    assert 0 < len(probes) <= 13
    tbl = ManifestTable(root, stats_cols=["g"])
    files, total = tbl.files_pruned_in("g", probes, tbl.version())
    assert total > len(probes)  # non-vacuous: more files than probes
    assert len(files) <= len(probes) < total

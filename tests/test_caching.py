"""Persist hygiene: scoped caches release cleanly, and the distributed
connected-components rounds keep a bounded physical plan (localCheckpoint
per round) instead of geometric lineage growth."""

from __future__ import annotations

from map_reduce_in_go_spark.functions.caching import (
    n_persistent_rdds,
    release_persisted,
)
from map_reduce_in_go_spark.operators import dedup, tfidf


def test_release_persisted_clears_scoped_caches(spark, sf_dir):
    release_persisted()
    base = n_persistent_rdds(spark)
    dedup.dedup_minhash(spark, sf_dir).count()
    tfidf.tfidf_top_terms(spark, sf_dir).count()
    dedup.dedup_ngram_jaccard(spark, sf_dir).count()
    assert n_persistent_rdds(spark) > base  # caches were in use
    released = release_persisted()
    assert released >= 3
    assert n_persistent_rdds(spark) == base  # and all of them came back


def test_dedup_clusters_plan_is_bounded_and_blocks_freed(spark, sf_dir, monkeypatch):
    # force star_components onto its distributed contraction rounds
    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    release_persisted()
    base = n_persistent_rdds(spark)
    labels = dedup.dedup_clusters(spark, sf_dir)
    # the returned frame reads one checkpointed RDD — lineage does not grow
    # with the round count
    plan = labels._jdf.queryExecution().toString()
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan
    assert len(plan) < 4000, len(plan)
    assert labels.count() > 0
    release_persisted()
    # everything except the single result checkpoint is freed: superseded
    # edge rounds were unpersisted inside the loop
    assert n_persistent_rdds(spark) <= base + 1

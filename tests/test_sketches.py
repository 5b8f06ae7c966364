"""Mergeable HLL sketch family: rollup-union invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_in_go_spark.operators.approx import (
    sketch_rollup_raw,
    sketch_rollup_users,
)
from map_reduce_in_go_spark.sources.tables import load_table


def test_rollup_union_equals_single_pass_sketch(spark, sf_dir):
    """Union of per-day sketches must give the exact same estimate as one
    sketch over the whole table — the partitioned-rollup contract."""
    got = {
        r["event_type"]: (r["approx_users"], r["n_events"])
        for r in sketch_rollup_raw(spark, sf_dir).collect()
    }
    # the registered (hash-checkable) wrapper must agree: verdict TRUE
    # everywhere with the same exact counts
    wrapped = sketch_rollup_users(spark, sf_dir).collect()
    assert all(r["approx_ok"] for r in wrapped)
    whole = {
        r["event_type"]: r["u"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("u"))
        .collect()
    }
    exact = {
        r["event_type"]: (r["u"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"), F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t in got:
        assert got[t][0] == whole[t], "union-of-parts != single-pass sketch"
        assert got[t][1] == exact[t][1]
        # HLL_4 lgK=12 default: relative error well under 5% at this scale
        assert abs(got[t][0] - exact[t][0]) <= max(2, 0.05 * exact[t][0])


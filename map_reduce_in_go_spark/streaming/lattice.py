"""Rollup LATTICE with subsumption-based query answering (r11).

One additive GROUP BY kept as a ledgered materialized view answers one
granularity. Real serving layers keep a *lattice* of them — the
same stream pre-aggregated at several granularities — and route each
query to the cheapest view that can still answer it exactly. This module
adds both halves:

- :class:`RollupLattice` maintains every level in **one catalog CAS per
  batch** (the ``corpus_pipeline`` discipline): the batch is scanned
  ONCE for the apex partial (the union of all level keys); every coarser
  level's partial derives from that apex partial by re-aggregation, so
  per-batch cost is one scan + k tiny folds, and a reader can never
  observe one level advanced past another. Replays are ledger-detected
  before any recompute (exactly-once per batch id).
- :meth:`RollupLattice.answer` performs the MV-rewrite step: a query is
  ``(dims, measures[, filter over dims])``; the navigator picks the
  maintained level with the fewest keys whose key set ⊇ dims ∪ filter
  columns, folds its stored partials, and never touches the base data.
  Additivity makes the rewrite EXACT — counts and sums fold, averages
  derive as sum/count. A query no level subsumes refuses loudly (the
  caller owns the raw data; silently scanning it would hide a lattice
  design gap).

This is the aggregate-navigation contract of OLAP engines (Harinarayan
et al., "Implementing Data Cubes Efficiently", SIGMOD'96 — level choice
by subsumption; here the cost proxy is key-set size since additive folds
make every subsuming level exact). Reference parity: the reference
engine (map_reduce/*.go) has no materialized views at all — this is
part of the Spark-first serving layer built beyond it.

At 100 TB: each level's stored state is O(distinct key tuples), batches
land partials of their own size only, ``compact()`` keeps logs flat,
and serving folds O(batches × keys-per-batch) partial rows — the corpus
itself is read exactly once, at ingest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import CommitConflict, TableCatalog

__all__ = [
    "RollupLattice",
    "events_cube_nav",
    "events_cube_minmax",
    "events_cube_erased",
    "events_cube_overlap",
]


def _level_member(keys: tuple[str, ...]) -> str:
    return "rollup_" + ("_".join(keys) if keys else "total")


class RollupLattice:
    """A set of additive rollups over one stream, advanced atomically.

    ``levels`` maps level name → key columns (possibly empty for the
    grand total). ``sum_cols`` maps measure name → SQL expression summed
    over the raw rows (``"1"`` for count). The APEX level (union of all
    level keys) is maintained implicitly and used to derive the others.

    Non-additive measures (r13, r12 verdict #1):

    - ``minmax_cols`` maps measure name → ``"min:<expr>"`` / ``"max:<expr>"``.
      MIN/MAX are semilattice-re-aggregable (min of mins IS the min), so
      partials fold exactly at every level and serving stays exact.
    - ``distinct_cols`` maps measure name → raw expression whose DISTINCT
      count the lattice tracks as a mergeable Datasketches HLL sketch
      (the ``sketch_rollup_users`` recipe, operators/approx.py): the apex
      stores one sketch per key per batch, coarser levels fold by
      ``hll_union_agg`` — register-state merging makes the union-of-parts
      sketch IDENTICAL to the single-pass sketch, so serving estimates
      carry the standard HLL error (rsd ≈ 1.6% at default lgK=12) and
      nothing more.

    Retraction honesty, pinned (r12 verdict #1): neither family is
    UN-mergeable — knowing a batch's min (or its sketch) does not let you
    recompute the min without it. :meth:`retract_keys` (key-predicate
    erasure) therefore stays exact by switching from negative appends to
    a REBUILD when non-additive measures are maintained: fold the apex,
    drop the matched keys, re-derive every coarser level from the
    surviving apex partials — O(apex keys), one CAS, correct for every
    measure family because each level is a pure re-aggregation of the
    apex.
    """

    def __init__(
        self,
        cat: TableCatalog,
        levels: dict[str, tuple[str, ...]],
        sum_cols: dict[str, str],
        minmax_cols: dict[str, str] | None = None,
        distinct_cols: dict[str, str] | None = None,
    ) -> None:
        if not levels:
            raise ValueError("a lattice needs at least one level")
        self.cat = cat
        # canonical (sorted) key tuples: levels are key SETS — two specs
        # naming the same columns in different orders are one level, one
        # member table
        self.levels = {n: tuple(sorted(k)) for n, k in levels.items()}
        self.sum_cols = dict(sum_cols)
        self.minmax_cols = dict(minmax_cols or {})
        for n, spec in self.minmax_cols.items():
            if not (spec.startswith("min:") or spec.startswith("max:")):
                raise ValueError(
                    f"minmax_cols[{n!r}] must be 'min:<expr>' or "
                    f"'max:<expr>', got {spec!r}"
                )
        self.distinct_cols = dict(distinct_cols or {})
        overlap = (
            set(self.sum_cols) & set(self.minmax_cols)
            | set(self.sum_cols) & set(self.distinct_cols)
            | set(self.minmax_cols) & set(self.distinct_cols)
        )
        if overlap:
            raise ValueError(f"measure names overlap across families: {overlap}")
        apex = sorted({c for ks in self.levels.values() for c in ks})
        self.apex_keys = tuple(apex)
        if self.apex_keys not in self.levels.values():
            self.levels["_apex"] = self.apex_keys

    @property
    def _non_additive(self) -> bool:
        return bool(self.minmax_cols) or bool(self.distinct_cols)

    def _batch_aggs(self) -> list[Column]:
        """Raw rows → apex partial."""
        aggs: list[Column] = [
            F.sum(F.expr(e)).alias(n) for n, e in self.sum_cols.items()
        ]
        for n, spec in self.minmax_cols.items():
            kind, expr = spec.split(":", 1)
            fn = F.min if kind == "min" else F.max
            aggs.append(fn(F.expr(expr)).alias(n))
        for n, e in self.distinct_cols.items():
            aggs.append(F.hll_sketch_agg(F.expr(e)).alias(n))
        return aggs

    def _fold_aggs(self) -> list[Column]:
        """Partial rows → partial rows (level derivation / compaction /
        serving fold): sum for sums, min-of-mins / max-of-maxes, HLL
        register-union for sketches — each family's exact re-aggregation."""
        aggs: list[Column] = [F.sum(n).alias(n) for n in self.sum_cols]
        for n, spec in self.minmax_cols.items():
            fn = F.min if spec.startswith("min:") else F.max
            aggs.append(fn(n).alias(n))
        for n in self.distinct_cols:
            aggs.append(F.hll_union_agg(n).alias(n))
        return aggs

    # ------------------------------------------------------------- ingest

    def ingest_batch(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        batch_id: int,
        app_id: str = "lattice",
        max_retries: int = 10,
    ) -> bool:
        """Land one batch's partials on EVERY level in one catalog CAS.

        The batch is aggregated once at apex granularity; coarser levels
        re-aggregate that (usually tiny) partial, not the batch. False on
        ledger replay — no level sees a duplicate contribution.
        """
        op = f"{app_id}-batch-{batch_id}"
        if op in self.cat.committed_ops():
            return False
        from ..functions.caching import (
            persisted_count,
            release_persisted_since,
            scoped_persist,
        )

        for _ in range(max_retries):
            txn = self.cat.transaction(spark)
            if op in self.cat.committed_ops():  # linearizable replay check
                return False
            mark = persisted_count()
            try:
                apex = scoped_persist(
                    batch_df.groupBy(*self.apex_keys).agg(*self._batch_aggs())
                )
                for keys in sorted(set(self.levels.values())):
                    part = apex.groupBy(*keys).agg(*self._fold_aggs())
                    txn.append(
                        _level_member(keys),
                        part,
                        op=op,
                        stats_cols=list(keys) or None,
                    )
                try:
                    txn.commit(op=op)
                    return True
                except CommitConflict:
                    continue  # racing batch landed; re-plan on new base
            finally:
                release_persisted_since(mark)
        raise CommitConflict(
            f"lattice batch {batch_id} lost the catalog race "
            f"{max_retries} times at {self.cat.root}"
        )

    def retract_keys(
        self,
        spark: SparkSession,
        where: Column,
        op: str,
        max_retries: int = 10,
    ) -> bool:
        """Erase EVERYTHING for apex keys matching ``where``, one CAS —
        the DELETE-WHERE of the lattice ("drop event_type='bot_click'
        entirely"). The lattice stores partials, not raw rows, so a
        predicate erasure is expressible exactly when it is a KEY
        predicate: the matched apex keys' FOLDED totals are negated and
        re-derived down every coarser level — the same shape as
        :meth:`ingest_batch` with the sign-flipped folded match standing
        in for the batch partial, so all levels move consistently in the
        one commit.
        The predicate is validated against the apex key columns (the
        :meth:`answer` rule: a measure reference is a loud analysis
        error, not a silent wrong answer). Exactly-once per ``op``;
        raises when nothing matches (a silent no-op would mask an
        erasure failure, the ``retract_docs`` discipline).

        With non-additive measures (min/max/HLL) the negative-append
        trick is unavailable, but key erasure stays EXACT by a rebuild
        (r13): fold the apex, drop the matched keys, overwrite the apex
        member with the survivors, and overwrite every coarser level
        re-derived from them — every level is a pure re-aggregation of
        the apex, for every measure family. Cost O(apex keys) instead of
        the additive path's O(matched keys); the additive-only lattice
        keeps the cheaper append path."""
        if op in self.cat.committed_ops():
            return False
        from ..functions.caching import (
            persisted_count,
            release_persisted_since,
            scoped_persist,
        )

        for _ in range(max_retries):
            txn = self.cat.transaction(spark)
            if op in self.cat.committed_ops():  # linearizable replay check
                return False
            mark = persisted_count()
            try:
                apex_df = txn.read(_level_member(self.apex_keys))
                probe = spark.createDataFrame(
                    [], apex_df.select(*self.apex_keys).schema
                )
                try:
                    probe.filter(where)
                except Exception as e:  # noqa: BLE001 — analysis error
                    raise ValueError(
                        f"lattice retract_keys `where` must reference only "
                        f"apex key columns {list(self.apex_keys)}: {e}"
                    ) from e
                if self._non_additive:
                    # rebuild path: survivors of the folded apex re-derive
                    # every level exactly (min/max/HLL fold, sums sum)
                    matched = apex_df.filter(where).limit(1).count()
                    if not matched:
                        raise ValueError(
                            f"lattice retract_keys matched no stored key at "
                            f"{self.cat.root}; nothing to erase"
                        )
                    survivors = scoped_persist(
                        apex_df.filter(~F.coalesce(where, F.lit(False)))
                        .groupBy(*self.apex_keys)
                        .agg(*self._fold_aggs())
                    )
                    for keys in sorted(set(self.levels.values())):
                        part = survivors.groupBy(*keys).agg(
                            *self._fold_aggs()
                        )
                        txn.overwrite(
                            _level_member(keys),
                            part,
                            op=op,
                            stats_cols=list(keys) or None,
                        )
                    try:
                        txn.commit(op=op)
                        return True
                    except CommitConflict:
                        continue  # racing batch landed; re-plan on new base
                neg = scoped_persist(
                    apex_df.filter(where)
                    .groupBy(*self.apex_keys)
                    .agg(
                        *[
                            (-F.sum(n)).alias(n)
                            for n in self.sum_cols
                        ]
                    )
                )
                if not neg.limit(1).count():
                    raise ValueError(
                        f"lattice retract_keys matched no stored key at "
                        f"{self.cat.root}; nothing to erase"
                    )
                for keys in sorted(set(self.levels.values())):
                    part = neg.groupBy(*keys).agg(
                        *[F.sum(n).alias(n) for n in self.sum_cols]
                    )
                    txn.append(
                        _level_member(keys),
                        part,
                        op=op,
                        stats_cols=list(keys) or None,
                    )
                try:
                    txn.commit(op=op)
                    return True
                except CommitConflict:
                    continue  # racing batch landed; re-plan on new base
            finally:
                release_persisted_since(mark)
        raise CommitConflict(
            f"lattice retract_keys {op!r} lost the catalog race "
            f"{max_retries} times at {self.cat.root}"
        )

    # -------------------------------------------------------------- serve

    def choose_level(
        self, dims: tuple[str, ...], filter_cols: tuple[str, ...] = ()
    ) -> tuple[str, ...]:
        """Key set of the cheapest maintained level subsuming the query.

        Exactness needs keys ⊇ dims ∪ filter columns (a filter on a
        non-key column would have been pre-aggregated away); among the
        subsumers the fewest-keys level folds the fewest rows. Raises
        ``KeyError`` when nothing subsumes — never silently falls back
        to raw data this class does not own.
        """
        need = set(dims) | set(filter_cols)
        fits = [ks for ks in set(self.levels.values()) if need <= set(ks)]
        if not fits:
            raise KeyError(
                f"no lattice level subsumes dims={sorted(need)}; "
                f"maintained: {sorted(set(self.levels.values()))}"
            )
        return min(fits, key=lambda ks: (len(ks), ks))

    def answer(
        self,
        spark: SparkSession,
        dims: tuple[str, ...],
        measures: dict[str, str],
        where: Column | None = None,
        filter_cols: tuple[str, ...] = (),
        version: int | None = None,
    ) -> DataFrame:
        """Serve GROUP BY ``dims`` from the cheapest subsuming level.

        ``version`` (r13) serves AS OF one catalog snapshot — the lattice
        is a :class:`TableCatalog`, so time travel comes free: a batch
        ingested after that snapshot is invisible even though its partial
        rows are already committed in newer versions of the same member
        files (the dashboard-at-yesterday / audit-replay read).

        ``measures`` maps output column → either a maintained sum name
        (folded as sum) or ``"avg:<sum>/<cnt>"`` for a derived ratio.
        ``where`` (with its ``filter_cols`` named for routing) applies to
        key columns BEFORE the fold — partial rows are additive, so
        key-column filters commute with re-aggregation. The predicate is
        VALIDATED against the chosen level's key columns: a ``where``
        touching a measure column would filter partial sums (not raw
        rows) and silently return wrong exact aggregates, because
        ``filter_cols`` is used only for routing (r11 advice, low) —
        resolving it against a keys-only projection makes that a loud
        analysis error instead.
        """
        keys = self.choose_level(dims, filter_cols)
        df = self.cat.read(spark, _level_member(keys), version=version)
        if where is not None:
            try:
                # resolve the predicate against a LINEAGE-FREE relation
                # holding only the key columns: analysis is eager, so a
                # reference to anything else (a measure column, a typo)
                # raises here. A plain df.select(keys).filter(where)
                # would NOT catch it — Catalyst's ResolveMissingReferences
                # silently re-adds projected-away child columns under a
                # Filter, which is exactly the hole being closed.
                probe = spark.createDataFrame(
                    [], df.select(*[F.col(k) for k in keys]).schema
                )
                probe.filter(where)
            except Exception as exc:
                raise ValueError(
                    f"lattice `where` must reference only the chosen "
                    f"level's key columns {sorted(keys)}; it does not "
                    f"resolve against them ({exc})"
                ) from None
            df = df.filter(where)
        aggs = []
        for out, spec in measures.items():
            if spec.startswith("avg:"):
                num, den = spec[4:].split("/")
                aggs.append((F.sum(num) / F.sum(den)).alias(out))
            elif spec in self.minmax_cols:
                fn = F.min if self.minmax_cols[spec].startswith("min:") else F.max
                aggs.append(fn(spec).alias(out))
            elif spec in self.distinct_cols:
                # estimate at the END of the fold — unioning register
                # state, never estimates, keeps the answer identical to a
                # single-pass sketch over the matching raw rows
                aggs.append(
                    F.hll_sketch_estimate(F.hll_union_agg(spec)).alias(out)
                )
            elif spec in self.sum_cols:
                aggs.append(F.sum(spec).alias(out))
            else:
                raise KeyError(
                    f"measure spec {spec!r} names no maintained measure "
                    f"(sums {sorted(self.sum_cols)}, minmax "
                    f"{sorted(self.minmax_cols)}, distinct "
                    f"{sorted(self.distinct_cols)})"
                )
        return df.groupBy(*dims).agg(*aggs)

    def distinct_overlap_many(
        self,
        spark: SparkSession,
        measure: str,
        key_col: str,
        pairs,
        version: int | None = None,
    ) -> list[dict]:
        """Overlap of one HLL distinct measure between key groups — the
        "how many users did BOTH X and Y" dashboard question (r13,
        declared r14 (a)), answered from stored sketches alone, for ALL
        ``(group_a, group_b)`` pairs from ONE apex scan (r15).

        HLL sketches union exactly (register max) but do not intersect;
        the standard estimator is inclusion-exclusion over three
        DISTINCT-COUNT estimates: |A∩B| = |A| + |B| − |A∪B|, each term a
        conditional register-union of the apex level's stored sketches
        for the matching keys; every pair's unions stack into one
        aggregate over one (version-pinned, so mutually consistent) apex
        read — raw data never read. Honesty is part of the contract: the
        three absolute errors COMPOUND, so each returned dict carries
        ``rel_err_bound`` = 3σ·(|A|+|B|+|A∪B|) / max(|A∩B|, 1) — tight
        overlaps of large sets are where sketch-based intersection goes
        bad, and a caller seeing a bound near/over 1.0 should fall back to
        an exact distinct-pairs query. ``group_a``/``group_b`` are values
        (or value lists) of ``key_col``, which must be an apex key
        column; groups may overlap arbitrarily. Negative
        inclusion-exclusion results clamp to 0 (a pure noise regime the
        bound already flags). Returns one result dict per pair."""
        if measure not in self.distinct_cols:
            raise KeyError(
                f"{measure!r} is not a maintained HLL distinct measure "
                f"(have {sorted(self.distinct_cols)})"
            )
        if key_col not in self.apex_keys:
            raise ValueError(
                f"key_col {key_col!r} must be an apex key column "
                f"{list(self.apex_keys)}"
            )
        apex = self.cat.read(
            spark, _level_member(self.apex_keys), version=version
        )
        # one scan, three conditional register-unions PER PAIR (sketches
        # for keys in A, in B, in A∪B), estimates taken at the very end
        aggs = []
        for i, (group_a, group_b) in enumerate(pairs):
            a_vals = group_a if isinstance(group_a, (list, tuple)) else [group_a]
            b_vals = group_b if isinstance(group_b, (list, tuple)) else [group_b]
            in_a = F.col(key_col).isin(list(a_vals))
            in_b = F.col(key_col).isin(list(b_vals))
            aggs.extend(
                [
                    F.hll_sketch_estimate(
                        F.hll_union_agg(F.when(in_a, F.col(measure)))
                    ).alias(f"a{i}"),
                    F.hll_sketch_estimate(
                        F.hll_union_agg(F.when(in_b, F.col(measure)))
                    ).alias(f"b{i}"),
                    F.hll_sketch_estimate(
                        F.hll_union_agg(F.when(in_a | in_b, F.col(measure)))
                    ).alias(f"u{i}"),
                ]
            )
        row = apex.agg(*aggs).first()
        rsd3 = 3 * 0.016  # Datasketches HLL default lgK=12: rsd ≈ 1.6%
        out = []
        for i in range(len(pairs)):
            est_a = int(row[f"a{i}"] or 0)
            est_b = int(row[f"b{i}"] or 0)
            est_u = int(row[f"u{i}"] or 0)
            inter = max(0, est_a + est_b - est_u)
            out.append(
                {
                    "distinct_a": est_a,
                    "distinct_b": est_b,
                    "distinct_union": est_u,
                    "distinct_intersection": inter,
                    "rel_err_bound": round(
                        rsd3 * (est_a + est_b + est_u) / max(inter, 1), 4
                    ),
                }
            )
        return out

    # ------------------------------------------------------------ maintenance

    def compact(self, spark: SparkSession) -> None:
        """Fold every level's partial log to O(distinct keys) rows in one
        maintenance transaction (the ``compact_pipeline`` discipline).
        Keys whose measures all folded to zero — erased by the additive
        :meth:`retract_keys` path — are dropped, the same dead-row rule
        the gram/token members apply. The dead-key drop applies only to
        the additive-only lattice: with min/max/HLL measures maintained,
        key erasure rebuilds the levels (no dead keys can arise) and an
        all-zero-sums key can still carry a live extreme or sketch."""
        import functools
        import operator

        for _ in range(10):
            txn = self.cat.transaction(spark)
            try:
                for keys in sorted(set(self.levels.values())):
                    name = _level_member(keys)
                    folded = txn.read(name).groupBy(*keys).agg(
                        *self._fold_aggs()
                    )
                    if not self._non_additive:
                        folded = folded.filter(
                            functools.reduce(
                                operator.or_,
                                [F.col(n) != 0 for n in self.sum_cols],
                            )
                        )
                    folded = folded.coalesce(1)
                    txn.overwrite(name, folded, stats_cols=list(keys) or None)
                txn.commit(op=f"lattice-compact-v{txn.base_version}")
                return
            except CommitConflict:
                continue
        raise CommitConflict(f"lattice compact lost the race at {self.cat.root}")


# ------------------------------------------------------- registered query

CUBE_LEVELS = {
    "by_day_type": ("day", "event_type"),
    "by_type": ("event_type",),
    "by_day": ("day",),
}
# value sums in exact DECIMAL: partials fold by addition in any order, so
# the served answer is bit-deterministic (functions/money.py discipline)
CUBE_SUMS = {"cnt": "1", "val": "CAST(value AS DECIMAL(18,2))"}
# non-additive measures (r13): exact DECIMAL extremes fold as semilattice
# partials; distinct users as a mergeable Datasketches HLL sketch per key
CUBE_MINMAX = {
    "val_min": "min:CAST(value AS DECIMAL(18,2))",
    "val_max": "max:CAST(value AS DECIMAL(18,2))",
}
CUBE_DISTINCT = {"users_hll": "user_id"}
CUBE_BATCHES = 3
CUBE_FROM = "2024-01-08"
CUBE_TO = "2024-01-21"


def _pin_routing(got: tuple[str, ...], want: tuple[str, ...]) -> None:
    """Serving-contract guard (r14, r13 advice): the level the router
    chose is part of what the registered query's hash validates — a
    silent routing change must fail loudly, including under ``python
    -O`` (which strips bare asserts)."""
    if got != want:
        raise RuntimeError(
            f"lattice routing drifted: choose_level picked {got!r}, the "
            f"serving contract pins {want!r}"
        )


def _cube_lattice(root: str) -> RollupLattice:
    """The events lattice (levels and all four measure families) over the
    catalog at ``root``."""
    return RollupLattice(
        TableCatalog(root),
        CUBE_LEVELS,
        CUBE_SUMS,
        minmax_cols=CUBE_MINMAX,
        distinct_cols=CUBE_DISTINCT,
    )


def _ingest_cube(spark: SparkSession, sf_dir: str, root: str) -> RollupLattice:
    """A new events lattice at ``root`` with the events table ingested as
    ``CUBE_BATCHES`` ``event_id % CUBE_BATCHES`` batches through
    :meth:`RollupLattice.ingest_batch`, one catalog CAS each."""
    from ..sources.tables import load_table

    lat = _cube_lattice(root)
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        "value",
        "event_id",
        "user_id",
    )
    for i in range(CUBE_BATCHES):
        lat.ingest_batch(
            spark, ev.filter(F.pmod("event_id", F.lit(CUBE_BATCHES)) == i), i
        )
    return lat


def _events_cube(spark: SparkSession, sf_dir: str) -> RollupLattice:
    """The served events lattice for ``sf_dir`` — built once per corpus
    behind the shared served-artifact latch (three ``event_id % 3``
    batches through :meth:`RollupLattice.ingest_batch`, one catalog CAS
    each); every later call is read-only. ONE lattice carries all four
    measure families (count, decimal sum, decimal min/max, HLL distinct)
    — the batch is still scanned once, so adding measure columns costs a
    wider partial row, not another pass (artifact name bumped to _v2 for
    the r13 schema)."""
    from ..sources.artifacts import served_artifact

    def _build(path: str) -> None:
        # steady-state serving posture: fold the per-batch partial logs to
        # O(distinct keys) rows per level — the serve-side fold then reads
        # one file per level instead of one per (batch, level)
        _ingest_cube(spark, sf_dir, path).compact(spark)

    return _cube_lattice(served_artifact("events_cube_v2", sf_dir, _build))


def events_cube_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type totals over a two-week day window, served from the rollup
    LATTICE — the raw events table is never re-read (r12, declared r11).

    The first registered query through the MV-rewrite path: events are
    ingested as three exactly-once batch transactions into the lattice
    (each advancing every level in one catalog CAS), and the answer is
    :meth:`RollupLattice.answer` with ``dims=(event_type,)`` plus a day
    filter — the navigator must route PAST the cheaper ``(event_type,)``
    level (its partials pre-aggregated the day away) to the
    ``(day, event_type)`` level, apply the key-column filter to stored
    partials, and fold. The oracle is the direct GROUP BY over raw
    events, so the driver's hash gate crosses batch ingestion,
    subsumption routing, filter-before-fold commutation, and decimal
    additivity end-to-end. At 100 TB the fold reads O(days × types)
    partial rows — the corpus was read once, at ingest.
    """
    lat = _events_cube(spark, sf_dir)
    keys = lat.choose_level(("event_type",), ("day",))
    _pin_routing(keys, ("day", "event_type"))
    ans = lat.answer(
        spark,
        ("event_type",),
        {"cnt": "cnt", "val": "val"},
        where=F.col("day").between(F.lit(CUBE_FROM), F.lit(CUBE_TO)),
        filter_cols=("day",),
    )
    return ans.select(
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("val").cast("double").alias("val_sum"),
    )


def events_cube_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-additive lattice serving (r13, r12 verdict #1): per-type
    MIN/MAX of value and approximate distinct users over the same
    two-week day window, from the SAME served lattice as
    :func:`events_cube_nav` — one ingest maintains every measure family.

    What the hash gate crosses: min-of-mins / max-of-maxes folding
    through batch partials, level derivation, compaction, and the
    filter-before-fold commutation (all EXACT — min/max are semilattice
    re-aggregations, emitted as hash-checked columns), plus the HLL
    distinct path under the repo's sketch-verdict recipe (r8): the
    served estimate is compared against the exact windowed distinct-user
    count and emitted as a pinned-TRUE 3σ verdict (Datasketches HLL at
    default lgK=12: rsd ≈ 1.6%, 3σ ≈ 5%), alongside the exact count the
    oracle can replay. The exact count is computed from raw events FOR
    THE VERDICT ONLY — the served answer itself never re-reads the
    corpus; at 100 TB you'd ship the estimate and skip the audit column.
    """
    lat = _events_cube(spark, sf_dir)
    keys = lat.choose_level(("event_type",), ("day",))
    _pin_routing(keys, ("day", "event_type"))
    ans = lat.answer(
        spark,
        ("event_type",),
        {
            "cnt": "cnt",
            "val_min": "val_min",
            "val_max": "val_max",
            "approx_users": "users_hll",
        },
        where=F.col("day").between(F.lit(CUBE_FROM), F.lit(CUBE_TO)),
        filter_cols=("day",),
    )
    from ..sources.tables import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.to_date("ts").between(F.lit(CUBE_FROM), F.lit(CUBE_TO))
        )
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    ok = (
        F.abs(F.col("approx_users") - F.col("n_users"))
        <= 0.05 * F.col("n_users")
    )
    return ans.join(exact, "event_type").select(
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("val_min").cast("double").alias("val_min"),
        F.col("val_max").cast("double").alias("val_max"),
        F.col("n_users").cast("long").alias("n_users"),
        ok.alias("users_ok"),
    )


CUBE_ERASE_TYPE = "error"  # the type the erased twin drops (bot traffic)


def _events_cube_erased(spark: SparkSession, sf_dir: str) -> RollupLattice:
    """The served cube AFTER a key-predicate erasure: a SECOND lattice
    artifact built by the same three-batch ingest, then
    ``retract_keys(event_type == CUBE_ERASE_TYPE)`` — which, because the
    lattice carries min/max + HLL measures, exercises the non-additive
    REBUILD path (every level re-derived from the surviving apex
    partials in one CAS). Built once per corpus behind its own latch;
    the nav/minmax artifact is untouched."""
    from ..sources.artifacts import served_artifact

    def _build(path: str) -> None:
        lat = _ingest_cube(spark, sf_dir, path)
        lat.retract_keys(
            spark,
            F.col("event_type") == CUBE_ERASE_TYPE,
            op=f"drop-{CUBE_ERASE_TYPE}",
        )
        lat.compact(spark)

    return _cube_lattice(served_artifact("events_cube_erased", sf_dir, _build))


def events_cube_erased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lattice DELETE-WHERE under the driver's hash (r13): per-DAY totals
    and exact extremes served from a cube whose ``event_type =
    '{CUBE_ERASE_TYPE}'`` keys were erased by ``retract_keys`` — the
    bot-traffic takedown an analytics lattice actually runs.

    What the hash gate crosses: the non-additive REBUILD path (min/max +
    HLL lattices cannot negative-append, so the erasure re-derives every
    level from the surviving apex partials — a rebuild that leaked an
    erased key's contribution into any coarser level's sums or extremes
    hash-mismatches against the oracle's direct filtered GROUP BY), plus
    compaction over the rebuilt state and day-level routing (dims=(day,)
    routes to the `(day,)` level, whose rows were themselves rebuilt).
    The oracle excludes the type from raw events; sums/extremes are
    exact DECIMAL, the distinct-user column follows the r8
    sketch-verdict recipe (exact n_users + pinned-TRUE 3σ verdict).
    """
    lat = _events_cube_erased(spark, sf_dir)
    _pin_routing(lat.choose_level(("day",)), ("day",))
    ans = lat.answer(
        spark,
        ("day",),
        {
            "cnt": "cnt",
            "val_sum": "val",
            "val_max": "val_max",
            "approx_users": "users_hll",
        },
    )
    from ..sources.tables import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") != CUBE_ERASE_TYPE)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    ok = (
        F.abs(F.col("approx_users") - F.col("n_users"))
        <= 0.05 * F.col("n_users")
    )
    return ans.join(exact, "day").select(
        F.col("day").cast("string").alias("day"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("val_sum").cast("double").alias("val_sum"),
        F.col("val_max").cast("double").alias("val_max"),
        F.col("n_users").cast("long").alias("n_users"),
        ok.alias("users_ok"),
    )


# Day pairs the registered overlap query answers: adjacent days, a
# week-apart pair, and a far pair — single days are the grain where the
# testdata's user sets genuinely differ (whole weeks saturate to all users).
OVERLAP_DAY_PAIRS = (
    ("2024-01-08", "2024-01-09"),
    ("2024-01-08", "2024-01-15"),
    ("2024-01-10", "2024-01-20"),
)


def events_cube_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-served distinct-user OVERLAP between day groups under the
    driver's hash (r14, r13 verdict #2): "how many users were active on
    BOTH day X and day Y", answered by :meth:`RollupLattice.
    distinct_overlap_many` from the SAME served cube artifact as
    ``events_cube_nav`` — inclusion-exclusion over three conditional HLL
    register-unions in one apex scan; raw events are never read by the
    served answer.

    Registered under the r8 sketch-verdict recipe: the hash-checked
    columns are the EXACT per-pair distinct counts (n_a, n_b, n_union,
    n_inter — replayed by the oracle from raw events, computed here for
    the AUDIT only), plus a pinned-TRUE verdict that the sketch-served
    intersection landed within its own self-reported compound error
    bound (``rel_err_bound`` × the estimate — the honesty contract of
    the overlap API: three estimates compound, and the bound says so).
    This completes driver-hash coverage of every lattice verb: serve
    (#233), non-additive measures (#242), erasure (#246), overlap here.
    """
    from datetime import date

    from ..sources.tables import load_table

    lat = _events_cube(spark, sf_dir)
    # one batched apex scan for every pair (r15): the per-pair loop paid
    # one catalog read + one fold job per pair for the same snapshot
    overlaps = lat.distinct_overlap_many(
        spark,
        "users_hll",
        "day",
        [
            (date.fromisoformat(a), date.fromisoformat(b))
            for a, b in OVERLAP_DAY_PAIRS
        ],
    )
    est_rows = []
    for (a, b), o in zip(OVERLAP_DAY_PAIRS, overlaps):
        bound = o["rel_err_bound"] * max(o["distinct_intersection"], 1)
        est_rows.append((a, b, o["distinct_intersection"], float(bound)))
    est = spark.createDataFrame(
        est_rows, "day_a string, day_b string, est_inter long, bound double"
    )
    pairs = spark.createDataFrame(
        list(OVERLAP_DAY_PAIRS), "day_a string, day_b string"
    )
    # r15 (guide §2.4): the former (d, user_id) .distinct() shuffled the
    # WHOLE events table before the 6-day probe; countDistinct dedups on
    # its own, so the probe joins raw day rows and the only wide exchange
    # carries the matched days' partial aggregates.
    ud = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    # equijoin form: each pair contributes its two day rows, so the
    # probe is a broadcast HASH join on d (an OR-of-equalities join
    # would compile to a nested-loop probe — avoided by construction)
    sides = pairs.select(
        "day_a",
        "day_b",
        F.explode(
            F.array(F.to_date("day_a"), F.to_date("day_b"))
        ).alias("d"),
    )
    ex = (
        ud.join(F.broadcast(sides), "d")
        .groupBy("day_a", "day_b")
        .agg(
            F.countDistinct(
                F.when(F.col("d") == F.to_date("day_a"), F.col("user_id"))
            ).alias("n_a"),
            F.countDistinct(
                F.when(F.col("d") == F.to_date("day_b"), F.col("user_id"))
            ).alias("n_b"),
            F.countDistinct("user_id").alias("n_union"),
        )
    )
    n_inter = F.col("n_a") + F.col("n_b") - F.col("n_union")
    ok = F.abs(F.col("est_inter") - n_inter) <= F.col("bound")
    return ex.join(F.broadcast(est), ["day_a", "day_b"]).select(
        "day_a",
        "day_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_union").cast("long").alias("n_union"),
        n_inter.cast("long").alias("n_inter"),
        ok.alias("overlap_ok"),
    )


ORACLES = {
    "events_cube_nav": f"""
SELECT event_type,
       count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{CUBE_FROM}' AND DATE '{CUBE_TO}'
GROUP BY event_type
""",
    "events_cube_minmax": f"""
SELECT event_type,
       count(*) AS cnt,
       CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_min,
       CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_max,
       count(DISTINCT user_id) AS n_users,
       TRUE AS users_ok
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{CUBE_FROM}' AND DATE '{CUBE_TO}'
GROUP BY event_type
""",
    "events_cube_erased": f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
       CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_max,
       count(DISTINCT user_id) AS n_users,
       TRUE AS users_ok
FROM events
WHERE event_type <> '{CUBE_ERASE_TYPE}'
GROUP BY CAST(ts AS DATE)
""",
    "events_cube_overlap": f"""
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), pairs(day_a, day_b) AS (
  VALUES {", ".join(f"('{a}', '{b}')" for a, b in OVERLAP_DAY_PAIRS)}
), agg AS (
  SELECT p.day_a, p.day_b,
         count(DISTINCT CASE WHEN ud.d = CAST(p.day_a AS DATE)
                             THEN ud.user_id END) AS n_a,
         count(DISTINCT CASE WHEN ud.d = CAST(p.day_b AS DATE)
                             THEN ud.user_id END) AS n_b,
         count(DISTINCT ud.user_id) AS n_union
  FROM pairs p
  JOIN ud ON ud.d = CAST(p.day_a AS DATE) OR ud.d = CAST(p.day_b AS DATE)
  GROUP BY p.day_a, p.day_b
)
SELECT day_a, day_b,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_union AS BIGINT) AS n_union,
       CAST(n_a + n_b - n_union AS BIGINT) AS n_inter,
       TRUE AS overlap_ok
FROM agg
""",
}

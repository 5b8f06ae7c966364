"""Rollup-lattice maintenance + subsumption answering pins.

The lattice must (a) answer every routed query EXACTLY equal to the
direct GROUP BY over the raw stream, (b) route to the cheapest subsuming
level and refuse unsubsumed queries, (c) serve WITHOUT reading the raw
data or any other level (input-file proof), (d) advance every level in
one atomic catalog commit with ledger-exact replays, and (e) stay
consistent through compaction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.catalog import TableCatalog
from map_reduce_in_go_spark.sources.tables import load_table
from map_reduce_in_go_spark.streaming.lattice import RollupLattice, _level_member

LEVELS = {
    "by_type_day": ("event_type", "day"),
    "by_type": ("event_type",),
    "by_day": ("day",),
    "total": (),
}
SUMS = {"cnt": "1", "val": "value"}


def _events(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .select("day", "event_type", "value", "user_id")
    )


def _feed(spark, sf_dir, tmp_path, n_batches=3):
    ev = _events(spark, sf_dir)
    lat = RollupLattice(TableCatalog(str(tmp_path / "lat")), LEVELS, SUMS)
    for i in range(n_batches):
        assert lat.ingest_batch(
            spark, ev.filter(F.pmod("user_id", F.lit(n_batches)) == i), i
        )
    return lat, ev


def _rows(df, dims):
    return {
        tuple(r[d] for d in dims): (r["cnt"], round(r["val"] or 0.0, 6))
        for r in df.collect()
    }


def test_lattice_answers_equal_direct_groupby(spark, sf_dir, tmp_path):
    lat, ev = _feed(spark, sf_dir, tmp_path)
    for dims in (("event_type", "day"), ("event_type",), ("day",), ()):
        got = lat.answer(spark, dims, {"cnt": "cnt", "val": "val"})
        want = ev.groupBy(*dims).agg(
            F.sum(F.expr("1")).alias("cnt"), F.sum("value").alias("val")
        )
        assert _rows(got, dims) == _rows(want, dims), dims

    # derived ratio measure: avg = sum/count, exact through the fold
    got = lat.answer(spark, ("event_type",), {"avg_val": "avg:val/cnt"})
    want = ev.groupBy("event_type").agg(F.avg("value").alias("avg_val"))
    g = {r["event_type"]: round(r["avg_val"], 9) for r in got.collect()}
    w = {r["event_type"]: round(r["avg_val"], 9) for r in want.collect()}
    assert g == w

    # key-column filter commutes with the fold
    got = lat.answer(
        spark,
        ("day",),
        {"cnt": "cnt"},
        where=F.col("event_type") == "click",
        filter_cols=("event_type",),
    )
    want = ev.filter(F.col("event_type") == "click").groupBy("day").agg(
        F.count("*").alias("cnt")
    )
    assert {r["day"]: r["cnt"] for r in got.collect()} == {
        r["day"]: r["cnt"] for r in want.collect()
    }


def test_lattice_routing_and_refusal(spark, sf_dir, tmp_path):
    lat, _ = _feed(spark, sf_dir, tmp_path, n_batches=2)
    assert lat.choose_level(("event_type",)) == ("event_type",)
    assert lat.choose_level(("day",)) == ("day",)
    assert lat.choose_level(()) == ()
    # a filter column forces a level that still carries it
    assert lat.choose_level(("day",), ("event_type",)) == ("day", "event_type") or \
        lat.choose_level(("day",), ("event_type",)) == ("event_type", "day")
    with pytest.raises(KeyError):
        lat.choose_level(("user_id",))  # nothing subsumes → loud refusal


def test_lattice_where_must_touch_only_key_columns(spark, sf_dir, tmp_path):
    """A `where` referencing a measure column would filter PARTIAL SUMS,
    not raw rows — silently wrong exact answers. The navigator validates
    the predicate against the chosen level's keys and refuses loudly
    (r11 advice, low); the equivalent key-column filter still serves."""
    lat, ev = _feed(spark, sf_dir, tmp_path, n_batches=2)
    with pytest.raises(ValueError, match="key columns"):
        lat.answer(
            spark,
            ("event_type",),
            {"cnt": "cnt"},
            where=F.col("val") > 100,  # measure column: partials, not rows
            filter_cols=("event_type",),
        )
    # a typo'd/unknown column refuses the same way
    with pytest.raises(ValueError, match="key columns"):
        lat.answer(
            spark,
            ("event_type",),
            {"cnt": "cnt"},
            where=F.col("event_typ") == "click",
            filter_cols=("event_type",),
        )
    # the legitimate key-column filter still matches the direct GROUP BY
    got = _rows(
        lat.answer(
            spark,
            ("event_type",),
            {"cnt": "cnt", "val": "val"},
            where=F.col("event_type") != "error",
            filter_cols=("event_type",),
        ),
        ("event_type",),
    )
    want = _rows(
        ev.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("val")),
        ("event_type",),
    )
    assert got == want


def test_lattice_serves_only_from_chosen_level(spark, sf_dir, tmp_path):
    """Input-file proof: answering ('event_type',) reads ONLY that level's
    member files — not the raw events, not the apex, not any other level."""
    lat, _ = _feed(spark, sf_dir, tmp_path, n_batches=2)
    df = lat.answer(spark, ("event_type",), {"cnt": "cnt"})
    files = df.inputFiles()
    assert files
    want = _level_member(("event_type",))
    assert all(f"/{want}/" in f for f in files), files


def test_lattice_atomic_advance_and_replay(spark, sf_dir, tmp_path):
    lat, ev = _feed(spark, sf_dir, tmp_path)
    v = lat.cat.version()
    # replay: ledger no-op, no level double-counts, catalog doesn't move
    assert not lat.ingest_batch(
        spark, ev.filter(F.pmod("user_id", F.lit(3)) == 0), 0
    )
    assert lat.cat.version() == v
    # every level agrees on the grand totals — no level drifted
    totals = []
    for dims in (("event_type", "day"), ("event_type",), ("day",), ()):
        r = (
            lat.answer(spark, dims, {"cnt": "cnt", "val": "val"})
            .agg(F.sum("cnt"), F.sum("val"))
            .collect()[0]
        )
        totals.append((r[0], round(r[1], 6)))
    assert len(set(totals)) == 1

    # compaction folds logs without changing any answer
    before = _rows(
        lat.answer(spark, ("event_type", "day"), {"cnt": "cnt", "val": "val"}),
        ("event_type", "day"),
    )
    lat.compact(spark)
    after = _rows(
        lat.answer(spark, ("event_type", "day"), {"cnt": "cnt", "val": "val"}),
        ("event_type", "day"),
    )
    assert before == after
    # compacted level is O(distinct keys): one file, folded rows
    n_keys = len(after)
    assert (
        lat.cat.read(spark, _level_member(("day", "event_type"))).count()
        >= n_keys
    )
    assert lat.cat.read(spark, _level_member(("event_type",))).count() == len(
        {k[0] for k in after}
    )


def test_lattice_stream_equals_batch(spark, sf_dir, tmp_path):
    """Micro-batch lattice ingestion: two batches land one atomic lattice
    advance each; every answer equals the batch-built twin's, and
    replaying the same batch ids contributes nothing twice."""
    from pyspark.sql import functions as SF

    rows1 = [("2024-01-01", "click", 1.0), ("2024-01-01", "view", 2.0),
             ("2024-01-02", "click", 3.0)]
    rows2 = [("2024-01-02", "view", 4.0), ("2024-01-03", "click", 5.0)]

    def _df(rows):
        return spark.createDataFrame(
            rows, "day string, event_type string, value double"
        ).withColumn("day", SF.to_date("day"))

    lat = RollupLattice(
        TableCatalog(str(tmp_path / "lat")),
        {"td": ("event_type", "day"), "t": ("event_type",)},
        SUMS,
    )
    for bid, rows in enumerate((rows1, rows2)):
        assert lat.ingest_batch(spark, _df(rows), bid)

    batch_lat = RollupLattice(
        TableCatalog(str(tmp_path / "batch")),
        {"td": ("event_type", "day"), "t": ("event_type",)},
        SUMS,
    )
    batch_lat.ingest_batch(spark, _df(rows1 + rows2), 0)

    for dims in (("event_type", "day"), ("event_type",)):
        s = _rows(lat.answer(spark, dims, {"cnt": "cnt", "val": "val"}), dims)
        b = _rows(batch_lat.answer(spark, dims, {"cnt": "cnt", "val": "val"}), dims)
        assert s == b, dims

    # an at-least-once source re-delivering both batches: the ledger keys
    # on batch id, so the replays are no-ops
    for bid, rows in enumerate((rows1, rows2)):
        assert not lat.ingest_batch(spark, _df(rows), bid)
    s = {
        r["event_type"]: r["cnt"]
        for r in lat.answer(spark, ("event_type",), {"cnt": "cnt"}).collect()
    }
    b = {
        r["event_type"]: r["cnt"]
        for r in batch_lat.answer(spark, ("event_type",), {"cnt": "cnt"}).collect()
    }
    assert s == b


def test_lattice_retract_keys(spark, sf_dir, tmp_path):
    """Predicate erasure over the lattice: zeroing one event_type equals
    a lattice that never ingested those rows; measure-column predicates
    refuse loudly; no-match refuses; replay no-ops; consistent across
    every level in the one commit."""
    dsums = {"cnt": "1", "val": "CAST(value AS DECIMAL(18,2))"}
    ev = _events(spark, sf_dir)
    lat = RollupLattice(TableCatalog(str(tmp_path / "lat")), LEVELS, dsums)
    for i in range(3):
        assert lat.ingest_batch(
            spark, ev.filter(F.pmod("user_id", F.lit(3)) == i), i
        )
    target = ev.select("event_type").first()["event_type"]

    with pytest.raises(ValueError, match="apex key columns"):
        lat.retract_keys(spark, F.col("cnt") > 0, op="bad-pred")

    assert lat.retract_keys(
        spark, F.col("event_type") == target, op="drop-type"
    )
    assert (
        lat.retract_keys(spark, F.col("event_type") == target, op="drop-type")
        is False
    )

    never = RollupLattice(TableCatalog(str(tmp_path / "never")), LEVELS, dsums)
    for i in range(3):
        assert never.ingest_batch(
            spark,
            ev.filter(
                (F.pmod("user_id", F.lit(3)) == i)
                & (F.col("event_type") != target)
            ),
            i,
        )
    for dims in (("event_type",), ("day",), ("event_type", "day"), ()):
        got = _rows(lat.answer(spark, dims, {"cnt": "cnt", "val": "val"}), dims)
        want = _rows(
            never.answer(spark, dims, {"cnt": "cnt", "val": "val"}), dims
        )
        got = {k: v for k, v in got.items() if v[0] != 0 or v[1] != 0}
        want = {k: v for k, v in want.items() if v[0] != 0 or v[1] != 0}
        assert got == want

    # the erased type's keys fold to zero and compact drops them
    lat.compact(spark)
    from map_reduce_in_go_spark.streaming.corpus_pipeline import member

    assert (
        member(spark, lat.cat, _level_member(("event_type",)))
        .filter(F.col("event_type") == target)
        .count()
        == 0
    )

    with pytest.raises(ValueError, match="matched no stored key"):
        lat.retract_keys(
            spark, F.col("event_type") == "no-such-type", op="drop-none"
        )


MM = {
    "val_min": "min:CAST(value AS DECIMAL(18,2))",
    "val_max": "max:CAST(value AS DECIMAL(18,2))",
}
DIST = {"users": "user_id"}


def _feed_mm(spark, sf_dir, tmp_path, name="mm"):
    dsums = {"cnt": "1", "val": "CAST(value AS DECIMAL(18,2))"}
    ev = _events(spark, sf_dir)
    lat = RollupLattice(
        TableCatalog(str(tmp_path / name)),
        LEVELS,
        dsums,
        minmax_cols=MM,
        distinct_cols=DIST,
    )
    for i in range(3):
        assert lat.ingest_batch(
            spark, ev.filter(F.pmod("user_id", F.lit(3)) == i), i
        )
    return lat, ev


def test_lattice_minmax_answers_exact_at_every_level(
    spark, sf_dir, tmp_path
):
    """MIN/MAX are semilattice re-aggregations: the served extremes at
    EVERY level equal the direct GROUP BY over raw rows exactly — through
    batch partials, level derivation, filters, and compaction (r13)."""
    lat, ev = _feed_mm(spark, sf_dir, tmp_path)

    def direct(dims, flt=None):
        base = ev if flt is None else ev.filter(flt)
        return {
            tuple(r[d] for d in dims): (
                float(r["val_min"]),
                float(r["val_max"]),
            )
            for r in base.groupBy(*dims)
            .agg(
                F.min(F.expr("CAST(value AS DECIMAL(18,2))")).alias("val_min"),
                F.max(F.expr("CAST(value AS DECIMAL(18,2))")).alias("val_max"),
            )
            .collect()
        }

    def served(dims, where=None, filter_cols=()):
        return {
            tuple(r[d] for d in dims): (
                float(r["val_min"]),
                float(r["val_max"]),
            )
            for r in lat.answer(
                spark,
                dims,
                {"val_min": "val_min", "val_max": "val_max"},
                where=where,
                filter_cols=filter_cols,
            ).collect()
        }

    for dims in (("event_type", "day"), ("event_type",), ("day",), ()):
        assert served(dims) == direct(dims), dims
    # key filter commutes with the min/max fold too
    assert served(
        ("day",), where=F.col("event_type") == "click",
        filter_cols=("event_type",),
    ) == direct(("day",), F.col("event_type") == "click")
    # compaction folds partial logs without changing any answer
    lat.compact(spark)
    for dims in (("event_type",), ()):
        assert served(dims) == direct(dims), ("post-compact", dims)


def test_lattice_hll_distinct_matches_single_pass_sketch(
    spark, sf_dir, tmp_path
):
    """The served distinct estimate equals the SINGLE-PASS sketch over
    the matching raw rows exactly (register-state union is partition- and
    order-invariant — the sketch_rollup_users property, now through the
    lattice's batch/level/compaction machinery), and lands within 3σ of
    the exact count."""
    lat, ev = _feed_mm(spark, sf_dir, tmp_path)
    lat.compact(spark)
    for dims in (("event_type",), ("day",), ()):
        got = {
            tuple(r[d] for d in dims): int(r["users"])
            for r in lat.answer(
                spark, dims, {"users": "users"}
            ).collect()
        }
        one_pass = {
            tuple(r[d] for d in dims): int(r["users"])
            for r in ev.groupBy(*dims)
            .agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                    "users"
                )
            )
            .collect()
        }
        assert got == one_pass, dims
        exact = {
            tuple(r[d] for d in dims): int(r["users"])
            for r in ev.groupBy(*dims)
            .agg(F.countDistinct("user_id").alias("users"))
            .collect()
        }
        for k, est in got.items():
            assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (dims, k)


def test_lattice_non_additive_retraction_posture(spark, sf_dir, tmp_path):
    """Pinned honesty (r12 verdict #1): min/max/HLL partials cannot be
    un-merged, so key erasure on such a lattice stays exact via the
    rebuild path — equal to a lattice that never ingested the erased
    keys, for every measure family, with replay no-op and unknown-measure
    specs refused."""
    lat, ev = _feed_mm(spark, sf_dir, tmp_path)

    target = ev.select("event_type").first()["event_type"]
    assert lat.retract_keys(spark, F.col("event_type") == target, op="drop-t")
    assert (
        lat.retract_keys(spark, F.col("event_type") == target, op="drop-t")
        is False
    )
    never_ev = ev.filter(F.col("event_type") != target)
    never = RollupLattice(
        TableCatalog(str(tmp_path / "never")),
        LEVELS,
        {"cnt": "1", "val": "CAST(value AS DECIMAL(18,2))"},
        minmax_cols=MM,
        distinct_cols=DIST,
    )
    for i in range(3):
        assert never.ingest_batch(
            spark, never_ev.filter(F.pmod("user_id", F.lit(3)) == i), i
        )
    for dims in (("event_type",), ("day",), ()):
        got = {
            tuple(r[d] for d in dims): (
                r["cnt"],
                float(r["val_min"]),
                float(r["val_max"]),
                int(r["users"]),
            )
            for r in lat.answer(
                spark,
                dims,
                {
                    "cnt": "cnt",
                    "val_min": "val_min",
                    "val_max": "val_max",
                    "users": "users",
                },
            ).collect()
        }
        want = {
            tuple(r[d] for d in dims): (
                r["cnt"],
                float(r["val_min"]),
                float(r["val_max"]),
                int(r["users"]),
            )
            for r in never.answer(
                spark,
                dims,
                {
                    "cnt": "cnt",
                    "val_min": "val_min",
                    "val_max": "val_max",
                    "users": "users",
                },
            ).collect()
        }
        assert got == want, dims

    with pytest.raises(ValueError, match="matched no stored key"):
        lat.retract_keys(spark, F.col("event_type") == "no-such", op="none")
    with pytest.raises(KeyError, match="no maintained measure"):
        lat.answer(spark, ("event_type",), {"x": "nope"})


def test_lattice_time_travel_and_replication(spark, sf_dir, tmp_path):
    """The lattice IS a TableCatalog, so the lakehouse verbs compose for
    free (r13): `answer(version=v)` serves AS OF a snapshot (a batch
    ingested after v is invisible even though newer member versions are
    committed), and both replication modes ship a lattice — the replica
    answers identically, and the verbatim backup preserves member file
    basenames."""
    import os

    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )

    dsums = {"cnt": "1", "val": "CAST(value AS DECIMAL(18,2))"}
    ev = _events(spark, sf_dir)
    lat = RollupLattice(
        TableCatalog(str(tmp_path / "lat")),
        LEVELS,
        dsums,
        minmax_cols=MM,
        distinct_cols=DIST,
    )
    assert lat.ingest_batch(spark, ev.filter(F.pmod("user_id", F.lit(2)) == 0), 0)
    v_after_0 = lat.cat.version()
    assert lat.ingest_batch(spark, ev.filter(F.pmod("user_id", F.lit(2)) == 1), 1)

    def served(lt, **kw):
        return {
            r["event_type"]: (r["cnt"], float(r["val_min"]))
            for r in lt.answer(
                spark,
                ("event_type",),
                {"cnt": "cnt", "val_min": "val_min"},
                **kw,
            ).collect()
        }

    # time travel: AS OF v_after_0 equals a direct GROUP BY over batch 0
    want0 = {
        r["event_type"]: (r["cnt"], float(r["val_min"]))
        for r in ev.filter(F.pmod("user_id", F.lit(2)) == 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.expr("CAST(value AS DECIMAL(18,2))")).alias("val_min"),
        )
        .collect()
    }
    assert served(lat, version=v_after_0) == want0
    assert served(lat) != want0  # newest snapshot sees batch 1 too

    # replication, both modes: the replica lattice answers identically
    for mode, name in ((False, "rep"), (True, "bak")):
        dst = TableCatalog(str(tmp_path / name))
        assert replicate_catalog(spark, lat.cat, dst, verbatim=mode) > 0
        rlat = RollupLattice(
            dst, LEVELS, dsums, minmax_cols=MM, distinct_cols=DIST
        )
        assert served(rlat) == served(lat), mode
        assert catalog_divergence(spark, lat.cat, dst) == {}
    # the verbatim backup preserved file identity member-for-member
    bak = TableCatalog(str(tmp_path / "bak"))
    for name, (p, v) in lat.cat.snapshot(spark).items():
        bp, bv = bak.snapshot(spark)[name]
        assert sorted(
            os.path.basename(f) for f in lat.cat.table(p).files(v)
        ) == sorted(os.path.basename(f) for f in bak.table(bp).files(bv)), name


def test_lattice_model_randomized_program(spark, tmp_path):
    """Seeded random program over the non-additive lattice's verb algebra
    — ingest / retract_keys / compact — checked after every step against
    a dict model recomputed from the surviving raw rows (exact for cnt /
    decimal sum / min / max; HLL within 3σ of exact). Hunts interplay
    bugs (a rebuild leaking erased keys into a coarser level, compaction
    after a rebuild, a retraction mid-sequence) that the single-scenario
    pins miss."""
    import random
    from decimal import Decimal

    rng = random.Random(0xB0BA)
    TYPES = ["alpha", "beta", "gamma", "delta"]
    DAYS = ["2024-02-0%d" % d for d in range(1, 4)]

    lat = RollupLattice(
        TableCatalog(str(tmp_path / "lat")),
        {"by_t_d": ("event_type", "day"), "by_t": ("event_type",), "tot": ()},
        {"cnt": "1", "val": "CAST(value AS DECIMAL(18,2))"},
        minmax_cols={
            "val_min": "min:CAST(value AS DECIMAL(18,2))",
            "val_max": "max:CAST(value AS DECIMAL(18,2))",
        },
        distinct_cols={"users": "user_id"},
    )
    live_rows: list[tuple] = []  # (day, event_type, value, user_id)
    bid = 0
    op_n = 0

    def check():
        from collections import defaultdict

        agg = defaultdict(lambda: [0, Decimal(0), None, None, set()])
        for d, t, v, u in live_rows:
            a = agg[t]
            dv = Decimal(str(v)).quantize(Decimal("0.01"))
            a[0] += 1
            a[1] += dv
            a[2] = dv if a[2] is None else min(a[2], dv)
            a[3] = dv if a[3] is None else max(a[3], dv)
            a[4].add(u)
        got = {
            r["event_type"]: (
                r["cnt"],
                Decimal(str(r["val"])),
                Decimal(str(r["val_min"])),
                Decimal(str(r["val_max"])),
                int(r["users"]),
            )
            for r in lat.answer(
                spark,
                ("event_type",),
                {
                    "cnt": "cnt",
                    "val": "val",
                    "val_min": "val_min",
                    "val_max": "val_max",
                    "users": "users",
                },
            ).collect()
        }
        assert set(got) == set(agg), (sorted(got), sorted(agg))
        for t, (cnt, s, lo, hi, users) in agg.items():
            g = got[t]
            assert g[0] == cnt and g[1] == s and g[2] == lo and g[3] == hi, t
            assert abs(g[4] - len(users)) <= max(1, 0.05 * len(users)), t

    for step in range(8):
        verb = rng.choice(["ingest", "ingest", "ingest", "erase", "compact"])
        if verb == "ingest":
            rows = [
                (
                    rng.choice(DAYS),
                    rng.choice(TYPES),
                    round(rng.uniform(1, 500), 2),
                    rng.randrange(40),
                )
                for _ in range(rng.randrange(5, 40))
            ]
            assert lat.ingest_batch(
                spark,
                spark.createDataFrame(
                    rows, "day string, event_type string, value double, user_id long"
                ),
                bid,
            )
            live_rows.extend(rows)  # re-ingest of an erased type revives it
            bid += 1
        elif verb == "erase":
            present = {r[1] for r in live_rows}
            if not present:
                continue
            t = rng.choice(sorted(present))
            op_n += 1
            assert lat.retract_keys(
                spark, F.col("event_type") == t, op=f"erase-{op_n}"
            )
            live_rows = [r for r in live_rows if r[1] != t]
        else:
            lat.compact(spark)
        if live_rows:
            check()


def test_lattice_distinct_overlap(spark, sf_dir, tmp_path):
    """HLL overlap between two key groups (r13): inclusion-exclusion over
    three sketch folds lands within its own self-reported compounded
    error bound of the exact intersection; empty groups answer zero; bad
    measure/key refuse loudly."""
    lat, ev = _feed_mm(spark, sf_dir, tmp_path)

    def overlap(measure, key_col, group_a, group_b):
        return lat.distinct_overlap_many(
            spark, measure, key_col, [(group_a, group_b)]
        )[0]

    got = overlap("users", "event_type", "click", "purchase")

    def exact_users(pred):
        return {
            r["user_id"]
            for r in ev.filter(pred).select("user_id").distinct().collect()
        }

    a = exact_users(F.col("event_type") == "click")
    b = exact_users(F.col("event_type") == "purchase")
    inter = len(a & b)
    union = len(a | b)
    # each single-set estimate is a plain HLL estimate (3-sigma each);
    # the intersection must sit inside ITS OWN reported compound bound
    assert abs(got["distinct_a"] - len(a)) <= max(1, 0.05 * len(a))
    assert abs(got["distinct_b"] - len(b)) <= max(1, 0.05 * len(b))
    assert abs(got["distinct_union"] - union) <= max(1, 0.05 * union)
    assert (
        abs(got["distinct_intersection"] - inter)
        <= max(2, got["rel_err_bound"] * max(inter, 1))
    )

    # group lists work; disjoint-with-itself sanity: A vs A intersects ≈ A
    same = overlap("users", "event_type", ["click"], ["click"])
    assert same["distinct_intersection"] == same["distinct_a"]

    # empty group: zero everywhere, bound degenerate but finite
    empty = overlap("users", "event_type", "no-such-type", "click")
    assert empty["distinct_a"] == 0
    assert empty["distinct_intersection"] <= empty["distinct_b"]

    with pytest.raises(KeyError, match="HLL distinct measure"):
        overlap("cnt", "event_type", "click", "view")
    with pytest.raises(ValueError, match="apex key column"):
        overlap("users", "value", "click", "view")


def test_events_cube_overlap_registered_shape(spark, sf_dir):
    """The registered overlap query (r14): three day-pair rows, exact
    counts internally consistent (inclusion-exclusion), and every
    sketch-served intersection inside its self-reported bound (the
    pinned-TRUE verdict the driver hashes)."""
    from map_reduce_in_go_spark.streaming.lattice import (
        OVERLAP_DAY_PAIRS, events_cube_overlap,
    )

    rows = events_cube_overlap(spark, sf_dir).collect()
    assert len(rows) == len(OVERLAP_DAY_PAIRS)
    got_pairs = {(r["day_a"], r["day_b"]) for r in rows}
    assert got_pairs == set(OVERLAP_DAY_PAIRS)
    for r in rows:
        assert r["n_inter"] == r["n_a"] + r["n_b"] - r["n_union"]
        assert 0 <= r["n_inter"] <= min(r["n_a"], r["n_b"])
        assert r["overlap_ok"] is True, r

"""Manifest per-file stats + Z-order layout: the file-skipping story.

Properties under test:
- stats are recorded at commit and survive append/compaction;
- read_pruned_in is a strict superset (never loses a matching row);
- a Z-ordered layout actually PRUNES on both clustered dimensions,
  while a single-column sort prunes only its own column;
- files without stats are conservatively kept.

Pruning is read through the point-probe form the package serves
(``files_pruned_in``/``read_pruned_in``): a probe set holding every
stored value at or below a bound keeps exactly the files a one-sided
range would keep, since a kept file's minimum is itself a probe. A
conjunctive box keeps the files every one of its columns keeps.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.layout import zorder_layout
from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
from map_reduce_in_go_spark.sources.tables import load_table

N_FILES = 16


def _li(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )


def _values_upto(df, col, hi):
    """Every stored ``col`` value <= ``hi``: the probe set of a range."""
    return [
        r[0] for r in df.filter(F.col(col) <= hi).select(col).distinct().collect()
    ]


def _box_kept(tbl, df, ok_hi, pk_hi, version=None):
    """(kept files, total) for the box l_orderkey <= ok_hi, l_partkey <= pk_hi."""
    ok, total = tbl.files_pruned_in(
        "l_orderkey", _values_upto(df, "l_orderkey", ok_hi), version
    )
    pk, _ = tbl.files_pruned_in(
        "l_partkey", _values_upto(df, "l_partkey", pk_hi), version
    )
    return set(ok) & set(pk), total


def test_stats_recorded_and_pruning_is_lossless(spark, sf_dir, tmp_path):
    tbl = ManifestTable(
        str(tmp_path / "t"), stats_cols=["l_orderkey", "l_partkey"]
    )
    df = zorder_layout(_li(spark, sf_dir), ["l_orderkey", "l_partkey"], N_FILES)
    tbl.overwrite(df)

    man = json.load(
        open(os.path.join(tbl.root, "_manifests", "v0.json"))
    )
    assert "stats" in man and len(man["stats"]) == len(man["files"])
    some = next(iter(man["stats"].values()))
    assert set(some) == {"l_orderkey", "l_partkey"}

    full = tbl.read(spark)
    pk_hi = full.agg(F.expr("percentile(l_partkey, 0.25)")).first()[0]
    probes = _values_upto(full, "l_partkey", pk_hi)

    pruned = tbl.read_pruned_in(spark, "l_partkey", probes)
    hit = F.col("l_partkey").isin(probes)
    want = sorted(map(tuple, full.filter(hit).collect()))
    got = sorted(map(tuple, pruned.filter(hit).collect()))
    assert got == want  # pruning only skips files that cannot match


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The layout claim itself: each clustered column ALONE must skip
    files under Z-order, while a linear sort's secondary column cannot
    prune."""
    li = _li(spark, sf_dir)
    ok_hi = li.agg(F.expr("percentile(l_orderkey, 0.25)")).first()[0]
    pk_hi = li.agg(F.expr("percentile(l_partkey, 0.25)")).first()[0]

    z = ManifestTable(str(tmp_path / "z"), stats_cols=["l_orderkey", "l_partkey"])
    z.overwrite(zorder_layout(li, ["l_orderkey", "l_partkey"], N_FILES))

    lin = ManifestTable(
        str(tmp_path / "lin"), stats_cols=["l_orderkey", "l_partkey"]
    )
    lin.overwrite(
        li.repartitionByRange(N_FILES, "l_orderkey").sortWithinPartitions(
            "l_orderkey"
        )
    )

    # the leading column: z-order prunes it
    kept_ok, total = z.files_pruned_in(
        "l_orderkey", _values_upto(li, "l_orderkey", ok_hi)
    )
    assert total == N_FILES
    assert len(kept_ok) < total

    # the 2-D box: z-order must never prune WORSE than the linear sort.
    # `<=`, not `<` (r11 verdict #6): under a contended box the linear
    # control's repartitionByRange boundary SAMPLING shifts, and its
    # orderkey dimension alone can occasionally match the box as tightly
    # as z-order does — a tie is a property of the sampled control, not a
    # layout regression. The strict claim z-order actually makes is the
    # SECONDARY dimension, asserted strictly below.
    zk, _ = _box_kept(z, li, ok_hi, pk_hi)
    lk, _ = _box_kept(lin, li, ok_hi, pk_hi)
    assert len(zk) <= len(lk), (len(zk), len(lk))
    # the actual claim, deterministically: partkey ALONE prunes under
    # z-order (secondary-dimension locality exists) and cannot prune
    # under the orderkey sort (every file's partkey range spans the
    # domain) — boundary sampling can't change either fact
    pk_probes = _values_upto(li, "l_partkey", pk_hi)
    zp, _ = z.files_pruned_in("l_partkey", pk_probes)
    lp, lt = lin.files_pruned_in("l_partkey", pk_probes)
    assert lt == N_FILES
    assert len(zp) < N_FILES
    assert len(lp) == N_FILES


def test_stats_survive_append_and_compact(spark, sf_dir, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), stats_cols=["l_orderkey"])
    li = _li(spark, sf_dir)
    half = li.filter(F.col("l_orderkey") % 2 == 0)
    other = li.filter(F.col("l_orderkey") % 2 == 1)
    tbl.overwrite(half.repartition(4))
    tbl.append(other.repartition(4))

    man = json.load(
        open(os.path.join(tbl.root, "_manifests", f"v{tbl.version()}.json"))
    )
    # every file in the snapshot carries stats (carried-forward + new)
    assert set(man["stats"]) == set(man["files"])

    tbl.compact(spark, num_files=2)
    man2 = json.load(
        open(os.path.join(tbl.root, "_manifests", f"v{tbl.version()}.json"))
    )
    assert set(man2["stats"]) == set(man2["files"])
    assert tbl.read(spark).count() == li.count()


def test_files_without_stats_are_kept(spark, sf_dir, tmp_path):
    """A table whose earlier commits predate stats_cols must stay
    readable and conservatively unpruned."""
    plain = ManifestTable(str(tmp_path / "t"))  # no stats recorded
    li = _li(spark, sf_dir)
    plain.overwrite(li.repartition(4))

    statted = ManifestTable(str(tmp_path / "t"), stats_cols=["l_orderkey"])
    kept, total = statted.files_pruned_in("l_orderkey", [1])
    assert total > 0 and len(kept) == total  # nothing skipped blindly
    # ...and a later append records stats for ITS files only
    statted.append(li.limit(100))
    man = json.load(
        open(os.path.join(statted.root, "_manifests", f"v{statted.version()}.json"))
    )
    assert 0 < len(man.get("stats", {})) < len(man["files"])


def test_zorder_compaction_restores_skipping(spark, sf_dir, tmp_path):
    """OPTIMIZE-ZORDER verb: arrival-order appends erode pruning; a
    z-ordered compaction restores it atomically."""
    li = _li(spark, sf_dir)
    tbl = ManifestTable(
        str(tmp_path / "t"), stats_cols=["l_orderkey", "l_partkey"]
    )
    # arrival-order ingestion: random-ish splits, no clustering
    tbl.overwrite(li.filter(F.col("l_quantity") <= 25).repartition(8))
    tbl.append(li.filter(F.col("l_quantity") > 25).repartition(8))

    ok_hi = li.agg(F.expr("percentile(l_orderkey, 0.25)")).first()[0]
    pk_hi = li.agg(F.expr("percentile(l_partkey, 0.25)")).first()[0]

    before_kept, before_total = _box_kept(tbl, li, ok_hi, pk_hi)
    assert len(before_kept) == before_total  # arrival order: nothing prunes

    v = tbl.compact(
        spark, num_files=N_FILES, zorder_cols=["l_orderkey", "l_partkey"]
    )
    after_kept, after_total = _box_kept(tbl, li, ok_hi, pk_hi, version=v)
    assert after_total == N_FILES
    assert len(after_kept) < after_total // 2, (len(after_kept), after_total)
    # and the rewrite lost nothing
    assert tbl.read(spark).count() == li.count()


def test_point_set_pruning_is_lossless_and_skips(spark, sf_dir, tmp_path):
    """files_pruned_in: a clustered probe set over a sorted layout reads a
    strict subset of files; an empty-range probe reads none; results are
    identical to the full snapshot either way."""
    from map_reduce_in_go_spark.operators.dedup import bands_of_docs
    from map_reduce_in_go_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tbl = ManifestTable(str(tmp_path / "bands"), stats_cols=["band_hash"])
    tbl.overwrite(bands_of_docs(docs))
    tbl.compact(spark, num_files=16, zorder_cols=["band_hash"])

    all_hashes = sorted(
        r["band_hash"]
        for r in tbl.read(spark).select("band_hash").distinct().collect()
    )
    # probes clustered at the bottom of the hash space → few files match
    probes = all_hashes[: max(4, len(all_hashes) // 50)]
    kept, total = tbl.files_pruned_in("band_hash", probes)
    assert total == 16
    assert 0 < len(kept) < total, f"no skipping: kept {len(kept)}/{total}"
    # losslessness: the pruned read contains every row matching a probe
    full = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in tbl.read(spark)
        .filter(F.col("band_hash").isin(probes))
        .collect()
    }
    pruned = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in tbl.read_pruned_in(spark, "band_hash", probes)
        .filter(F.col("band_hash").isin(probes))
        .collect()
    }
    assert pruned == full and full
    # probe keys outside every file range → zero files, empty same-schema frame
    none = tbl.read_pruned_in(spark, "band_hash", ["zzzz_no_such_hash"])
    assert none.count() == 0
    assert none.columns == tbl.read(spark).columns


def test_stats_probe_dedup_matches_full_probe(spark, sf_dir, tmp_path):
    """The pruned probe path must return bit-identical survivors to the
    full-snapshot probe."""
    from map_reduce_in_go_spark.operators.dedup import (
        bands_of_docs,
        dedup_batch_against_bands,
        dedup_batch_against_stats_index,
    )
    from map_reduce_in_go_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 1)
    tbl = ManifestTable(str(tmp_path / "idx"), stats_cols=["band_hash"])
    tbl.overwrite(bands_of_docs(corpus))
    tbl.compact(spark, num_files=8, zorder_cols=["band_hash"])
    full = {
        r["doc_id"] for r in dedup_batch_against_bands(batch, tbl.read(spark)).collect()
    }
    pruned = {
        r["doc_id"]
        for r in dedup_batch_against_stats_index(spark, batch, tbl).collect()
    }
    assert pruned == full and full

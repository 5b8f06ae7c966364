"""Cross-catalog replication (r11 (b)): the replica equals the primary
member-for-member, ships deltas exactly-once from the ledger alone,
survives re-runs, follows overwrite-heavy maintenance commits, and
base-syncs across a checkpoint-truncated history horizon."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.catalog import TableCatalog
from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
from map_reduce_in_go_spark.sources.replicate import replicate_catalog
from map_reduce_in_go_spark.sources.tables import load_table
from map_reduce_in_go_spark.streaming.corpus_pipeline import (
    BANDS,
    CMS,
    CORPUS,
    GRAMS,
    QUANTS,
    REJECTS,
    TOKENS,
    compact_pipeline,
    corpus_batch_txn,
    member,
    retract_docs,
)

MEMBERS = (CORPUS, BANDS, GRAMS, TOKENS, CMS, QUANTS, REJECTS)


def _feed(spark, sf_dir, cat, batches=(0, 1, 2), n=3):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in batches:
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(n)) == i), cat, i
        )
    return docs


def _state(spark, cat):
    """Member-for-member content: row multisets of every member."""
    out = {}
    for name in sorted(cat.snapshot(spark)):
        rows = member(spark, cat, name).collect()
        out[name] = sorted(
            tuple(
                tuple(v) if isinstance(v, (list, np.ndarray)) else v
                for v in r
            )
            for r in rows
        )
    return out


def test_replica_matches_primary_and_reruns_noop(spark, sf_dir, tmp_path):
    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src)
    dst = TableCatalog(str(tmp_path / "replica"))

    assert replicate_catalog(spark, src, dst) == 3  # one per batch commit
    assert set(dst.snapshot(spark)) == set(MEMBERS)
    assert _state(spark, dst) == _state(spark, src)
    # the primary's transaction ledger is mirrored op-for-op
    assert {op for _, op in src.history()} <= dst.committed_ops()

    # exactly-once: a re-run ships nothing and moves nothing
    before = dst.snapshot(spark)
    assert replicate_catalog(spark, src, dst) == 0
    assert dst.snapshot(spark) == before


@pytest.mark.slow
def test_incremental_ship_moves_only_new_commits(spark, sf_dir, tmp_path):
    src = TableCatalog(str(tmp_path / "primary"))
    docs = _feed(spark, sf_dir, src)
    dst = TableCatalog(str(tmp_path / "replica"))
    assert replicate_catalog(spark, src, dst) == 3

    # steady state: one new batch → exactly one shipped commit, and the
    # replica's corpus member grows by APPEND (no history rewrite)
    corpus_v_before = dst.snapshot(spark)[CORPUS][1]
    fresh = spark.createDataFrame(
        [
            (
                30_000_000,
                "zephyr quill ombre lattice crescent fable glint harrow "
                "indigo jasper kiln lumen mosaic nectar onyx prism",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, fresh, src, 7)
    assert replicate_catalog(spark, src, dst) == 1
    assert _state(spark, dst) == _state(spark, src)
    # append, not overwrite: the prior replica corpus files are still live
    dpath, dver = dst.snapshot(spark)[CORPUS]
    dtbl = ManifestTable(os.path.join(dst.root, dpath))
    old_files = set(dtbl.files(corpus_v_before))
    assert old_files and old_files <= set(dtbl.files(dver))

    # a retraction (negative-row appends + member overwrites) follows too
    assert retract_docs(spark, src, [30_000_000], op="retract-30M")
    assert replicate_catalog(spark, src, dst) == 1
    assert _state(spark, dst) == _state(spark, src)


@pytest.mark.slow
def test_replication_follows_compaction_and_keeps_pruning(
    spark, sf_dir, tmp_path
):
    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src)
    dst = TableCatalog(str(tmp_path / "replica"))
    assert replicate_catalog(spark, src, dst) == 3

    compact_pipeline(spark, src, num_files=4)
    assert replicate_catalog(spark, src, dst) == 1
    assert _state(spark, dst) == _state(spark, src)

    # stats_cols recovered from the primary manifests: point probes on
    # the replica's compacted gram member still prune files
    gpath, gver = dst.snapshot(spark)[GRAMS]
    gtbl = ManifestTable(os.path.join(dst.root, gpath), stats_cols=["g"])
    files_all = gtbl.files(gver)
    assert len(files_all) > 1
    probe = member(spark, dst, GRAMS).select("g").first()["g"]
    assert len(gtbl.files_pruned_in("g", [probe], version=gver)) < len(files_all)


@pytest.mark.slow
def test_base_sync_across_truncated_history(spark, sf_dir, tmp_path):
    """After the primary's catalog checkpoints (per-version manifests
    below the horizon truncated), a FRESH replica still converges: the
    horizon commit base-syncs, everything after diffs normally."""
    src = TableCatalog(str(tmp_path / "primary"))
    docs = _feed(spark, sf_dir, src)
    src._catalog.checkpoint()  # truncate manifests below the newest version
    assert len(src.history()) == 1  # only the horizon survives

    dst = TableCatalog(str(tmp_path / "replica"))
    assert replicate_catalog(spark, src, dst) == 1  # one base-sync commit
    assert _state(spark, dst) == _state(spark, src)

    # and the pipeline keeps diffing incrementally past the horizon
    fresh = spark.createDataFrame(
        [
            (
                31_000_000,
                "umber vellum wicker xylem yonder zenith arbor breccia "
                "cairn delta ember flume grotto heath islet jetty",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, fresh, src, 9)
    assert replicate_catalog(spark, src, dst) == 1
    assert _state(spark, dst) == _state(spark, src)


def test_duplicate_op_labels_refused(spark, tmp_path):
    src = TableCatalog(str(tmp_path / "primary"))
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    for _ in range(2):
        txn = src.transaction(spark)
        txn.append("t", df)
        txn.commit(op="txn")  # ambiguous label, twice
    dst = TableCatalog(str(tmp_path / "replica"))
    with pytest.raises(ValueError, match="duplicate op labels"):
        replicate_catalog(spark, src, dst)


@pytest.mark.slow
def test_chaining_and_divergence_detector(spark, sf_dir, tmp_path):
    """r12 (b): a replica's ledger carries the primary's op labels
    verbatim, so it is itself a valid primary (replica-of-replica
    converges), and catalog_divergence names exactly the member a
    non-replication write drifted."""
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence

    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src)
    r1 = TableCatalog(str(tmp_path / "hop1"))
    r2 = TableCatalog(str(tmp_path / "hop2"))

    assert replicate_catalog(spark, src, r1) == 3
    assert replicate_catalog(spark, r1, r2) == 3  # second hop, free
    assert _state(spark, r2) == _state(spark, src)
    assert catalog_divergence(spark, src, r1) == {}
    assert catalog_divergence(spark, src, r2) == {}

    # fan-out stays incremental across hops
    fresh = spark.createDataFrame(
        [
            (
                32_000_000,
                "quartzite fathom gable hollow inlet knoll ledger mirth "
                "nimbus orchard pewter quince rushes saline tarn upland",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, fresh, src, 11)
    assert replicate_catalog(spark, src, r1) == 1
    assert replicate_catalog(spark, r1, r2) == 1
    assert catalog_divergence(spark, src, r2) == {}

    # a direct (non-replication) write on the follower: the detector
    # names the drifted member and only it
    junk = spark.createDataFrame([("zzzdrift", 7)], "word string, n long")
    txn = r1.transaction(spark)
    txn.append(TOKENS, junk, op="tamper")
    txn.commit(op="tamper")
    div = catalog_divergence(spark, src, r1)
    assert list(div) == [TOKENS]
    assert "content mismatch" in div[TOKENS]
    # and replication re-runs do NOT mask it (nothing new to ship)
    assert replicate_catalog(spark, src, r1) == 0
    assert list(catalog_divergence(spark, src, r1)) == [TOKENS]


@pytest.mark.slow
def test_clone_catalog_pitr(spark, sf_dir, tmp_path):
    """r12 (b): clone_catalog materializes one historical catalog version
    into a new catalog — restore-to-before-a-bad-batch — equal to the
    time-travel reads member-for-member, refusing non-empty destinations
    and GC'd versions loudly."""
    from map_reduce_in_go_spark.sources.replicate import clone_catalog
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        compact_pipeline,
    )

    src = TableCatalog(str(tmp_path / "primary"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    versions = []
    for i in range(3):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), src, i
        )
        versions.append(src.version())

    # restore AS OF the second commit (pretend batch 2 was bad)
    v1 = versions[1]
    restored = TableCatalog(str(tmp_path / "restored"))
    clone_catalog(spark, src, restored, version=v1)
    assert set(restored.snapshot(spark)) == set(MEMBERS)
    for name in MEMBERS:
        assert sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in member(spark, restored, name).collect()
        ) == sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in member(spark, src, name, version=v1).collect()
        )
    # a current-version clone equals the live state
    full = TableCatalog(str(tmp_path / "full"))
    clone_catalog(spark, src, full)
    assert _state(spark, full) == _state(spark, src)

    # refusals: non-empty destination; GC'd snapshot
    with pytest.raises(ValueError, match="already has members"):
        clone_catalog(spark, src, restored)
    compact_pipeline(spark, src, num_files=2)
    assert src.vacuum(spark, retain_seconds=0.0) > 0
    with pytest.raises(FileNotFoundError, match="GC horizon"):
        clone_catalog(spark, src, TableCatalog(str(tmp_path / "late")), version=v1)


def test_selective_member_replication(spark, sf_dir, tmp_path):
    """r12 (c): a serving replica follows only corpus+token_counts —
    member-identical on the subset, a fraction of the bytes, trending
    answer identical — and the divergence detector scopes to it."""
    from map_reduce_in_go_spark.operators.approx import HH_K
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence

    src = TableCatalog(str(tmp_path / "primary"))
    docs = _feed(spark, sf_dir, src)
    serving = TableCatalog(str(tmp_path / "serving"))
    subset = {CORPUS, TOKENS}

    assert replicate_catalog(spark, src, serving, members=subset) == 3
    assert set(serving.snapshot(spark)) == subset
    full_state = _state(spark, src)
    assert _state(spark, serving) == {n: full_state[n] for n in sorted(subset)}

    def trending(cat):
        counts = (
            member(spark, cat, TOKENS)
            .groupBy("word")
            .agg(F.sum("n").alias("cnt"))
        )
        total = counts.agg(F.sum("cnt").alias("t"))
        return {
            (r["word"], r["cnt"])
            for r in counts.crossJoin(F.broadcast(total))
            .filter(F.col("cnt") * F.lit(HH_K) > F.col("t"))
            .select("word", "cnt")
            .collect()
        }

    got = trending(serving)
    assert got and got == trending(src)

    # scoped health check passes; unscoped honestly reports the members
    # the serving replica does not follow
    assert catalog_divergence(spark, src, serving, members=subset) == {}
    unscoped = catalog_divergence(spark, src, serving)
    assert set(unscoped) == set(MEMBERS) - subset
    assert all("absent from second" in v for v in unscoped.values())

    # selective follower stays incremental, including commits that touch
    # only non-followed members (ledgered as content no-ops)
    assert corpus_batch_txn(
        spark,
        docs.filter(F.pmod("doc_id", F.lit(3)) == 0).limit(0),
        src,
        77,
    )
    assert replicate_catalog(spark, src, serving, members=subset) == 1
    assert catalog_divergence(spark, src, serving, members=subset) == {}


def test_racing_replicators_converge(spark, sf_dir, tmp_path):
    """Two replicators racing the same primary→replica pair: the loser
    detects each already-shipped commit inside the staging step (after
    pinning its transaction base), so content lands once and the replica
    ledger carries each op label exactly once."""
    from map_reduce_in_go_spark.sources.catalog import TableCatalog as TC

    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0, 1))
    dst = TableCatalog(str(tmp_path / "replica"))

    orig = TC.committed_ops
    state = {"fired": False}

    def with_race(self):
        out = orig(self)
        if not state["fired"] and self.root == dst.root:
            state["fired"] = True
            # a second replicator ships EVERYTHING inside the window
            # between the loser's ledger snapshot and its first commit
            assert (
                replicate_catalog(
                    spark, TableCatalog(src.root), TableCatalog(dst.root)
                )
                == 2
            )
        return out

    TC.committed_ops = with_race
    try:
        replicate_catalog(spark, src, dst)
    finally:
        TC.committed_ops = orig

    labels = [op for _, op in dst.history()]
    assert sorted(labels) == ["corpus-batch-0", "corpus-batch-1"]
    assert _state(spark, dst) == _state(spark, src)


def test_replication_random_transaction_sequences(spark, tmp_path):
    """Property: for ANY sequence of multi-op transactions (appends,
    overwrites, drops, re-creates, multi-append single txn), a replica
    built by one final walk AND a replica shipped incrementally after
    every commit both equal the primary member-for-member."""
    import random

    rng = random.Random(20260815)
    src = TableCatalog(str(tmp_path / "primary"))
    lagged = TableCatalog(str(tmp_path / "lagged"))   # one walk at the end
    live = TableCatalog(str(tmp_path / "live"))       # ship after every commit

    def rand_df(step, j):
        rows = [
            (step * 100 + j * 10 + k, f"v{rng.randrange(1000)}")
            for k in range(rng.randrange(1, 4))
        ]
        return spark.createDataFrame(rows, "id long, s string")

    member_names = [f"m{c}" for c in "abcd"]
    for step in range(8):
        txn = src.transaction(spark)
        existing = set(src.snapshot(spark, txn.base_version))
        for j in range(rng.randrange(1, 4)):
            name = rng.choice(member_names)
            verb = rng.choice(["append", "append", "overwrite", "drop"])
            if verb == "drop":
                if name in existing or name in txn._staged:
                    txn.drop(name)
                    existing.discard(name)
                else:
                    txn.append(name, rand_df(step, j))  # create instead
                    existing.add(name)
            elif verb == "overwrite":
                txn.overwrite(name, rand_df(step, j))
                existing.add(name)
            else:
                txn.append(name, rand_df(step, j))
                existing.add(name)
        txn.commit(op=f"step-{step}", force=True)
        assert replicate_catalog(spark, src, live) == 1
        assert _state(spark, live) == _state(spark, src)

    assert replicate_catalog(spark, src, lagged) == 8
    assert _state(spark, lagged) == _state(spark, src)
    assert _state(spark, lagged) == _state(spark, live)
    # both replicas are no-op current
    assert replicate_catalog(spark, src, lagged) == 0
    assert replicate_catalog(spark, src, live) == 0


@pytest.mark.slow
def test_member_log_truncation_falls_back_to_base_sync(spark, sf_dir, tmp_path):
    """r10 advice (high): when a member-log checkpoint on the primary has
    truncated the PREDECESSOR manifest a delta diff needs, _stage_commit
    must fall back to base-syncing that commit instead of stalling the
    follower with a raw FileNotFoundError."""
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence

    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0, 1))
    dst = TableCatalog(str(tmp_path / "replica"))
    assert replicate_catalog(spark, src, dst) == 2  # replica current

    _feed(spark, sf_dir, src, batches=(2,))
    # maintenance truncates every member's log below its newest entry
    # (the current pins) — the predecessor pins batch 2's diff would
    # read are now gone
    for name in src.snapshot(spark):
        src.table(name).checkpoint()
    corpus_tbl = src.table(CORPUS)
    assert len(corpus_tbl._versions()) == 1  # history really truncated

    assert replicate_catalog(spark, src, dst) == 1  # base-synced, not stalled
    assert _state(spark, dst) == _state(spark, src)
    assert catalog_divergence(spark, src, dst) == {}


@pytest.mark.slow
def test_overwrite_replay_preserves_evolved_columns(spark, sf_dir, tmp_path):
    """r10 advice (medium/low): a member whose LAST append pinned a
    narrower schema than earlier batches (additive evolution, then a
    narrow batch) must replicate with the evolved columns' data intact —
    both on the append path and through an overwrite replay (retraction
    rewrite), and the divergence check must compare what is actually
    stored, not the pinned schemas."""
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence

    src = TableCatalog(str(tmp_path / "primary"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wide = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).withColumn(
        "url", F.concat(F.lit("https://example.org/doc/"), F.col("doc_id"))
    )
    assert corpus_batch_txn(spark, wide, src, 0)
    # the NARROWER batch lands last: the corpus member's pinned schema
    # no longer carries `url`
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 1), src, 1
    )
    # an overwrite rewrite of the corpus member (retraction anti-join)
    victim = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).limit(1).collect()
    retract_docs(spark, src, [victim[0]["doc_id"]], op="retract-evolved")

    dst = TableCatalog(str(tmp_path / "replica"))
    assert replicate_catalog(spark, src, dst) == 3

    rep = member(spark, dst, CORPUS, merge_schema=True)
    assert "url" in rep.columns
    urls = {
        r["doc_id"]: r["url"]
        for r in rep.filter(F.col("url").isNotNull()).collect()
    }
    assert urls  # evolved values survived the overwrite replay
    assert all(
        u == f"https://example.org/doc/{d}" for d, u in urls.items()
    )
    assert catalog_divergence(spark, src, dst) == {}


def test_replication_ships_merge_sidecars(spark, sf_dir, tmp_path):
    """A merged primary's exactly-once payload rides its merge_ops
    sidecar (r12): the replica must treat the branch's merged batches as
    committed — a batch replayed against a PROMOTED replica is a ledger
    no-op, not a double-apply."""
    from map_reduce_in_go_spark.sources.branches import (
        create_branch,
        merge_branch,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0,))
    br = create_branch(spark, src, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    merge_branch(spark, src, "exp")

    dst = TableCatalog(str(tmp_path / "replica"))
    replicate_catalog(spark, src, dst)
    assert _state(spark, dst) == _state(spark, src)
    assert "corpus-batch-1" in dst.committed_ops()
    # the promoted-replica scenario: the merged batch re-delivered
    n = _state(spark, dst)
    assert not corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), dst, 1
    )
    assert _state(spark, dst) == n


@pytest.mark.slow
def test_clone_carries_ledger_and_promotes_to_follower(spark, sf_dir, tmp_path):
    """A PITR clone carries the op-label view AS OF its version (r12):
    pre-restore batches re-delivered by an at-least-once source no-op,
    post-restore-point batches re-APPLY (that is what restoring to before
    a bad batch means), and a current-version clone resumes as a follower
    without a base-sync."""
    from map_reduce_in_go_spark.sources.replicate import clone_catalog

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    src = TableCatalog(str(tmp_path / "primary"))
    versions = []
    for i in range(3):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), src, i
        )
        versions.append(src.version())

    # PITR at batch 1 (pretend batch 2 was bad)
    restored = TableCatalog(str(tmp_path / "restored"))
    clone_catalog(spark, src, restored, version=versions[1])
    # pre-restore batches are remembered: re-delivery no-ops
    assert not corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), restored, 0
    )
    # the rolled-back batch is NOT remembered: resubmission re-applies
    before = _state(spark, restored)
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 2), restored, 2
    )
    assert _state(spark, restored) != before

    # clone-to-follower promotion: a current-version clone + later
    # primary commits = replication resumes from the clone point
    follower = TableCatalog(str(tmp_path / "follower"))
    clone_catalog(spark, src, follower)
    victim = min(
        r["doc_id"] for r in member(spark, src, CORPUS).select("doc_id").collect()
    )
    assert retract_docs(spark, src, [int(victim)], op="takedown-1")
    applied = replicate_catalog(spark, src, follower)
    assert applied == 1, "promotion must ship only the post-clone commit"
    assert _state(spark, follower) == _state(spark, src)


def test_base_sync_carries_behind_horizon_ops(spark, sf_dir, tmp_path):
    """When replication base-syncs across the primary's checkpoint
    horizon, the op labels consolidated below it must still reach the
    replica's ledger view (gated on the base-sync commit) — a batch
    behind the horizon re-delivered to a PROMOTED replica is a replay
    no-op, not a double-apply (r12 review finding)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    src = TableCatalog(str(tmp_path / "primary"))
    for i in range(3):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), src, i
        )
    # the primary's catalog ledger checkpoints: v0/v1 manifests truncated,
    # so a fresh follower can only base-sync the surviving snapshot
    src._catalog.checkpoint()
    assert len(src.history()) == 1

    dst = TableCatalog(str(tmp_path / "replica"))
    replicate_catalog(spark, src, dst)
    assert _state(spark, dst) == _state(spark, src)
    # the behind-horizon batches are remembered on the replica
    assert {"corpus-batch-0", "corpus-batch-1"} <= dst.committed_ops()
    n = _state(spark, dst)
    for i in range(3):
        assert not corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), dst, i
        )
    assert _state(spark, dst) == n


def test_crashed_clone_leaves_destination_truly_empty(spark, sf_dir, tmp_path):
    """A clone that crashed between its gated sidecar and its commit must
    look like a genuinely empty catalog: no phantom committed ops, and a
    follower stood up there base-syncs everything (r12 review finding)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    src = TableCatalog(str(tmp_path / "primary"))
    for i in range(2):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), src, i
        )
    dst = TableCatalog(str(tmp_path / "replica"))
    # simulate the crash: sidecar durably written, commit never landed
    dst.publish_gated_ops(f"clone-v{src.version()}", src.ops_as_of(src.version()))
    assert dst.committed_ops() == set(), "phantom ops on an empty catalog"
    applied = replicate_catalog(spark, src, dst)
    assert applied == 2, "leftover sidecar suppressed the base content"
    assert _state(spark, dst) == _state(spark, src)


def test_base_sync_survives_hostile_op_labels(spark, sf_dir, tmp_path):
    """Gate-op sidecar filenames are ENCODED: an ad-hoc commit label with
    a path separator (or spaces) must neither crash replication's
    base-sync sidecar write nor escape the merge_ops dir (r12 review)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    src = TableCatalog(str(tmp_path / "primary"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), src, 0
    )
    txn = src.transaction(spark)
    txn.append("notes", spark.createDataFrame([(1, "x")], "id long, s string"))
    txn.commit(op="backfill 2026/08 (../adhoc)")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), src, 1
    )
    src._catalog.checkpoint()  # force the base-sync path

    dst = TableCatalog(str(tmp_path / "replica"))
    replicate_catalog(spark, src, dst)
    assert _state(spark, dst) == _state(spark, src)
    assert "backfill 2026/08 (../adhoc)" in dst.committed_ops()
    # nothing escaped the sidecar dir
    merge_dir = os.path.join(dst.root, dst.ledger, "merge_ops")
    assert all(
        "/" not in f and ".." not in f for f in os.listdir(merge_dir)
    )
    n = _state(spark, dst)
    assert not corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), dst, 0
    )
    assert _state(spark, dst) == n


def test_ops_as_of_refuses_consolidated_horizon(spark, sf_dir, tmp_path):
    """ops_as_of(v) refuses when the catalog checkpoint consolidated op
    labels PAST v: any reconstruction would be wrong in one direction
    (over-approx suppresses post-v re-delivery → data loss; under-approx
    double-applies)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    src = TableCatalog(str(tmp_path / "primary"))
    for i in range(3):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), src, i
        )
    v_old = 0
    src._catalog.checkpoint()  # consolidates ops up to the newest version
    with pytest.raises(ValueError, match="unrecoverable"):
        src.ops_as_of(v_old)
    # the newest version is still reconstructable
    assert "corpus-batch-2" in src.ops_as_of(src.version())


@pytest.mark.slow
def test_verbatim_backup_preserves_mor_vector_and_folds_identically(
    spark, sf_dir, tmp_path
):
    """Verbatim shipping (r13, r12 verdict #3): the backup carries the
    UNFOLDED merge-on-read state byte-faithfully — same member file
    basenames, the delete vector shipped as metadata with its pairs still
    valid — serves the live view identically to the primary, reports no
    divergence (vector compared when both sides carry one), and a LOCAL
    apply_deletes folds it to the primary's own post-fold physical state."""
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        DELETES,
        apply_deletes,
        retract_docs_mor,
    )

    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0, 1))
    victims = sorted(
        r["doc_id"]
        for r in member(spark, src, CORPUS).select("doc_id").limit(4).collect()
    )
    assert retract_docs_mor(spark, src, victims, op="erase-v")

    dst = TableCatalog(str(tmp_path / "backup"))
    assert replicate_catalog(spark, src, dst, verbatim=True) > 0
    # rerun no-ops (exactly-once from the ledger, same as materializing)
    assert replicate_catalog(spark, src, dst, verbatim=True) == 0

    # the vector member SHIPPED (not materialized away) ...
    assert DELETES in dst.snapshot(spark)
    # ... byte-faithfully: identical file basenames for every member
    for name in sorted(src.snapshot(spark)):
        sp, sv = src.snapshot(spark)[name]
        dp, dv = dst.snapshot(spark)[name]
        src_files = sorted(os.path.basename(f) for f in src.table(sp).files(sv))
        dst_files = sorted(os.path.basename(f) for f in dst.table(dp).files(dv))
        assert src_files == dst_files, name
    # the unfolded live view serves identically (pairs valid on the copy)
    assert _state(spark, dst) == _state(spark, src)
    assert not any(
        d in victims
        for d in [r["doc_id"] for r in member(spark, dst, CORPUS).collect()]
    )
    assert catalog_divergence(spark, src, dst) == {}

    # local fold on the backup == the primary's own fold
    n_dst = apply_deletes(spark, dst)
    n_src = apply_deletes(spark, src)
    assert n_dst == n_src > 0
    assert DELETES not in dst.snapshot(spark)
    assert _state(spark, dst) == _state(spark, src)


@pytest.mark.slow
def test_verbatim_ships_incremental_commits_and_detects_vector_drift(
    spark, sf_dir, tmp_path
):
    """Incremental verbatim passes ship only moved pins; divergence names
    the vector member when the two sides' pending-delete state drifts
    (a backup that would fold differently is not a backup)."""
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        DELETES,
        retract_docs_mor,
    )

    src = TableCatalog(str(tmp_path / "primary"))
    docs = _feed(spark, sf_dir, src, batches=(0,))
    dst = TableCatalog(str(tmp_path / "backup"))
    replicate_catalog(spark, src, dst, verbatim=True)
    assert _state(spark, dst) == _state(spark, src)

    # two more primary commits: one batch, one MOR retraction
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), src, 1
    )
    victim = member(spark, src, CORPUS).select("doc_id").first()["doc_id"]
    assert retract_docs_mor(spark, src, [int(victim)], op="erase-one")
    assert replicate_catalog(spark, src, dst, verbatim=True) == 2
    assert _state(spark, dst) == _state(spark, src)
    assert catalog_divergence(spark, src, dst) == {}

    # drift the backup's vector (a direct write no follower should take)
    extra = member(spark, dst, DELETES).limit(1)
    txn = dst.transaction(spark)
    txn.append(
        DELETES,
        extra.withColumn("doc_id", F.lit(999_999_999).cast("long")),
    )
    txn.commit(op="rogue-write")
    div = catalog_divergence(spark, src, dst)
    assert DELETES in div and "delete-vector mismatch" in div[DELETES]


@pytest.mark.slow
def test_verbatim_backup_promotes_to_primary(spark, sf_dir, tmp_path):
    """The DR drill (r13): after the primary dies, the verbatim backup
    IS the primary — its ledger carries the shipped op labels, so a
    replayed upstream batch no-ops (exactly-once survives promotion),
    fresh batches land normally, its shipped MOR vector folds locally,
    and the promoted timeline ends member-identical to a primary that
    never failed."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        DELETES,
        apply_deletes,
        retract_docs_mor,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )

    def batch(cat, i):
        return corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), cat, i
        )

    # primary takes batches 0,1 and a MOR retraction, then "dies"
    src = TableCatalog(str(tmp_path / "primary"))
    assert batch(src, 0) and batch(src, 1)
    victims = sorted(
        r["doc_id"]
        for r in member(spark, src, CORPUS).select("doc_id").limit(3).collect()
    )
    assert retract_docs_mor(spark, src, victims, op="erase-v")
    bak = TableCatalog(str(tmp_path / "backup"))
    replicate_catalog(spark, src, bak, verbatim=True)

    # the control: a primary that never failed, same history continued
    ctl = TableCatalog(str(tmp_path / "control"))
    assert batch(ctl, 0) and batch(ctl, 1)
    assert retract_docs_mor(spark, ctl, victims, op="erase-v")

    # PROMOTION: upstream replays batch 1 (at-least-once), then sends 2
    assert batch(bak, 1) is False  # ledger no-op — no double ingest
    assert batch(bak, 2)
    assert batch(ctl, 2)
    assert retract_docs_mor(spark, bak, victims, op="erase-v") is False

    # the shipped vector folds ON the promoted catalog
    assert apply_deletes(spark, bak) > 0
    assert apply_deletes(spark, ctl) > 0
    assert DELETES not in bak.snapshot(spark)

    state_b = _state(spark, bak)
    state_c = _state(spark, ctl)
    # CMS audit rows carry the retraction batch tag; compare content-
    # bearing members (identical admission chain => identical members)
    assert state_b.keys() == state_c.keys()
    for name in state_c:
        assert state_b[name] == state_c[name], name


def test_replication_mode_is_a_lifetime_property(spark, sf_dir, tmp_path):
    """r14 (r13 advice): verbatim-vs-materializing is a LIFETIME property
    of the replica — one mode-mismatched pass onto an existing replica
    would re-lay-out files under the shipped delete vector's
    file-name-scoped pairs. The marker persisted on first ship makes the
    mismatch a loud refusal (both directions), while same-mode passes
    keep flowing."""
    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0,))

    backup = TableCatalog(str(tmp_path / "backup"))
    assert replicate_catalog(spark, src, backup, verbatim=True) > 0
    _feed(spark, sf_dir, src, batches=(1,))
    with pytest.raises(ValueError, match="lifetime property"):
        replicate_catalog(spark, src, backup)  # materializing onto verbatim
    # nothing shipped by the refused pass; the same-mode pass resumes
    assert replicate_catalog(spark, src, backup, verbatim=True) == 1

    serving = TableCatalog(str(tmp_path / "serving"))
    assert replicate_catalog(spark, src, serving) > 0
    with pytest.raises(ValueError, match="lifetime property"):
        replicate_catalog(spark, src, serving, verbatim=True)
    assert replicate_catalog(spark, src, serving) == 0  # already current


def test_verbatim_truncated_pins_surface_actionable_error(
    spark, sf_dir, tmp_path
):
    """r14 (r13 advice): a primary member-log truncation below a pending
    commit's pins must surface as the actionable 'pins truncated' message
    on the verbatim path (its materializing twin already had one), not a
    raw FileNotFoundError from the manifest read."""
    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0,))
    dst = TableCatalog(str(tmp_path / "backup"))
    assert replicate_catalog(spark, src, dst, verbatim=True) == 1

    # two more primary commits, then member-log maintenance: batch 1's
    # pinned member versions are now below the truncation horizon
    _feed(spark, sf_dir, src, batches=(1, 2))
    for name in src.snapshot(spark):
        src.table(name).checkpoint()
    assert len(src.table(CORPUS)._versions()) == 1

    with pytest.raises(FileNotFoundError, match="pins"):
        replicate_catalog(spark, src, dst, verbatim=True)


def test_mode_pinned_only_after_first_shipped_commit(spark, sf_dir, tmp_path):
    """r14 advice (low): the mode marker lands atomically AFTER the first
    commit ships — a pass that ships nothing (empty primary, or all ops
    already current) must NOT pin the replica's lifetime mode, so the
    replica is still free to be established in either mode by the pass
    that actually ships its first commit."""
    import json

    src = TableCatalog(str(tmp_path / "primary"))
    _feed(spark, sf_dir, src, batches=(0,))
    dst = TableCatalog(str(tmp_path / "replica"))
    marker = os.path.join(dst.root, dst.ledger, "replication_mode.json")

    # first ship pins the mode; the marker is the committed-state record
    assert replicate_catalog(spark, src, dst, verbatim=True) == 1
    assert json.load(open(marker))["mode"] == "verbatim"

    # a zero-commit pass onto a FRESH replica pins nothing…
    done = TableCatalog(str(tmp_path / "fresh"))
    marker2 = os.path.join(done.root, done.ledger, "replication_mode.json")
    assert replicate_catalog(spark, src, done) == 1
    assert json.load(open(marker2))["mode"] == "materializing"
    # …and an already-current same-mode pass ships 0 and changes nothing
    assert replicate_catalog(spark, src, done) == 0
    assert json.load(open(marker2))["mode"] == "materializing"

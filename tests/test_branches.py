"""Zero-copy catalog branching: isolation, exactly-once across the fork,
fast-forward merge, divergence refusal, and branch-aware GC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.branches import (
    branch,
    branch_divergence,
    create_branch,
    fork_point,
    merge_branch,
)
from map_reduce_in_go_spark.sources.catalog import CommitConflict, TableCatalog
from map_reduce_in_go_spark.sources.tables import load_table
from map_reduce_in_go_spark.streaming.corpus_pipeline import (
    CORPUS,
    corpus_batch_txn,
    member,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")


def _corpus_ids(spark, cat):
    return {r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()}


@pytest.mark.slow
def test_branch_isolation_and_fast_forward(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    for i in range(2):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), cat, i
        )
    main_ids = _corpus_ids(spark, cat)
    v_fork = cat.version()

    # fork: one metadata commit, zero data files written
    data_files_before = {
        f
        for base, _dirs, files in os.walk(tmp_path / "cat")
        for f in files
        if f.endswith(".parquet") and "_catalog" not in base
    }
    br = create_branch(spark, cat, "exp")
    data_files_after = {
        f
        for base, _dirs, files in os.walk(tmp_path / "cat")
        for f in files
        if f.endswith(".parquet") and "_catalog" not in base
    }
    assert data_files_before == data_files_after, "branch copied data"
    assert fork_point(br) == v_fork
    assert _corpus_ids(spark, br) == main_ids

    # exactly-once survives the fork: a pre-fork batch replayed onto the
    # branch is a ledger no-op, not a double-apply
    assert not corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), br, 0
    )
    assert _corpus_ids(spark, br) == main_ids

    # experiment on the branch: batch 2 lands THERE only
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 2), br, 2
    )
    br_ids = _corpus_ids(spark, br)
    assert br_ids > main_ids
    assert _corpus_ids(spark, cat) == main_ids, "branch write leaked to main"

    # fast-forward: main's pointer becomes the branch snapshot in one CAS
    div = branch_divergence(spark, cat, "exp")
    assert div["main"] == [] and div["branch"]
    merge_branch(spark, cat, "exp")
    assert _corpus_ids(spark, cat) == br_ids
    assert any(op.startswith("merge-exp-") for _v, op in cat.history())


@pytest.mark.slow
def test_branch_divergence_refusal_and_gc(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    # both sides advance with different batches → no fast-forward
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), cat, 1
    )
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 2), br, 2
    )
    with pytest.raises(CommitConflict, match="fast-forward"):
        merge_branch(spark, cat, "exp")
    div = branch_divergence(spark, cat, "exp")
    assert CORPUS in div["main"] and CORPUS in div["branch"]

    # branch-aware GC: main compacts (corpus rewritten), vacuum must keep
    # the old files the branch still pins
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    br_ids = _corpus_ids(spark, br)
    compact_pipeline(spark, cat, num_files=4)
    cat.vacuum(spark, retain_seconds=0.0)
    assert _corpus_ids(spark, br) == br_ids, "vacuum ate branch-pinned files"

    # validation
    with pytest.raises(ValueError, match="invalid branch name"):
        create_branch(spark, cat, "bad/name")
    b2 = create_branch(spark, cat, "exp2")
    with pytest.raises(ValueError, match="already exists"):
        create_branch(spark, cat, "exp2")
    with pytest.raises(ValueError, match="main timeline"):
        create_branch(spark, b2, "nested")


def test_replication_ignores_branches(spark, sf_dir, tmp_path):
    """Replication walks the MAIN ledger only: a follower of a root that
    has diverged branches matches main exactly (branch content never
    ships), and the divergence detector stays clean."""
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    dst = TableCatalog(str(tmp_path / "replica"))
    replicate_catalog(spark, cat, dst)
    assert _corpus_ids(spark, dst) == _corpus_ids(spark, cat)
    assert _corpus_ids(spark, dst) != _corpus_ids(spark, br)
    assert not catalog_divergence(spark, cat, dst)


def test_merged_batch_replay_noops_on_main(spark, sf_dir, tmp_path):
    """The mirror image of fork inheritance: after a fast-forward merge,
    the branch's batch op labels are in MAIN's ledger view, so replaying
    a merged batch against main is a no-op — and correction verbs run on
    a branch merge cleanly too."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import retract_docs

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    victim = min(_corpus_ids(spark, br))
    assert retract_docs(spark, br, [int(victim)], op="branch-retract")
    br_ids = _corpus_ids(spark, br)
    assert victim not in br_ids

    merge_branch(spark, cat, "exp")
    assert _corpus_ids(spark, cat) == br_ids
    # replaying the merged batch AND the merged retraction on main: no-ops
    n = len(_corpus_ids(spark, cat))
    assert not corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), cat, 1
    )
    assert not retract_docs(spark, cat, [int(victim)], op="branch-retract")
    assert len(_corpus_ids(spark, cat)) == n


def test_merge_crash_injection_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    """The merge-ops sidecar is ledger-gated (r12): durably written BEFORE
    the CAS and counted only once the merge op label is published. A crash
    between the two leaves the sidecar inert — main neither double-applies
    nor falsely suppresses — and the retried merge lands exactly-once."""
    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    br_ids = _corpus_ids(spark, br)

    # inject a crash AFTER the sidecar write, BEFORE the CAS publishes
    real_publish = TableCatalog._publish

    def _crash(self, *a, **k):
        if (k.get("op") or (a[3] if len(a) > 3 else "")).startswith("merge-"):
            raise RuntimeError("injected crash between sidecar and CAS")
        return real_publish(self, *a, **k)

    monkeypatch.setattr(TableCatalog, "_publish", _crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_branch(spark, cat, "exp")
    monkeypatch.undo()

    # the orphaned sidecar exists but is INERT: its op label never
    # published, so main must not treat the branch's batch as committed
    merge_dir = os.path.join(cat.root, cat.ledger, "merge_ops")
    assert os.path.isdir(merge_dir) and os.listdir(merge_dir)
    assert "corpus-batch-1" not in cat.committed_ops(), (
        "a lost merge suppressed main's future batches"
    )
    assert _corpus_ids(spark, cat) != br_ids  # merge really didn't land

    # retry (recovery path): merge lands, sidecar now counted, replays no-op
    merge_branch(spark, cat, "exp")
    assert _corpus_ids(spark, cat) == br_ids
    assert "corpus-batch-1" in cat.committed_ops()
    assert not corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), cat, 1
    )
    assert _corpus_ids(spark, cat) == br_ids


def test_divergence_below_retention_horizon(spark, sf_dir, tmp_path):
    """A branch whose fork version fell below main's ledger checkpoint
    horizon refuses merge with CommitConflict (naming the horizon), not a
    leaked FileNotFoundError (r11 advice, low)."""
    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    create_branch(spark, cat, "old")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), cat, 1
    )
    # main's ledger checkpoints: the fork-version manifest is truncated
    cat._catalog.checkpoint()
    with pytest.raises(CommitConflict, match="retention horizon"):
        merge_branch(spark, cat, "old")
    with pytest.raises(CommitConflict, match="retention horizon"):
        branch_divergence(spark, cat, "old")


def test_vacuum_skips_member_with_unresolvable_peer_pin(spark, sf_dir, tmp_path):
    """If a peer ledger pins a member version whose manifest is gone (the
    member log truncated by hand), vacuum must NOT silently treat
    that branch's files as dead — it skips the member and warns (r11
    advice, low)."""
    docs = _docs(spark, sf_dir).limit(30)
    cat = TableCatalog(str(tmp_path / "cat"))
    txn = cat.transaction(spark)
    txn.append("m", docs)
    txn.commit(op="seed")
    create_branch(spark, cat, "exp")
    # main rewrites the member, then the member log is truncated by hand
    # (simulating external/buggy maintenance) so the branch's pinned
    # manifest is unenumerable
    txn2 = cat.transaction(spark)
    txn2.overwrite("m", docs.withColumn("doc_id", F.col("doc_id") + 1_000))
    txn2.commit(op="rewrite")
    cat.table("m").checkpoint()
    with pytest.warns(RuntimeWarning, match="vacuum skipped member 'm'"):
        removed = cat.vacuum(spark, retain_seconds=0.0)
    assert removed == 0
    assert cat.read(spark, "m").count() == 30  # main still serves


def test_fork_witness_disagreement_is_loud(spark, sf_dir, tmp_path):
    """fork.json and the branch-from ledger op are cross-checked: a
    tampered/raced sidecar raises instead of merging at the wrong fork."""
    import json

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    sidecar = os.path.join(cat.root, br.ledger, "fork.json")
    with open(sidecar, "w") as f:
        json.dump({"fork_version": 99}, f)
    with pytest.raises(RuntimeError, match="conflicting fork witnesses"):
        fork_point(br)
    with pytest.raises(RuntimeError, match="conflicting fork witnesses"):
        merge_branch(spark, cat, "exp")


@pytest.mark.slow
def test_rebase_merge_replays_onto_moved_main(spark, sf_dir, tmp_path):
    """merge-as-replay (r12): when main moved past the fork, the branch's
    batches replay through ORDINARY admission from the batch-input WAL —
    member-identical to running the experiment on the new main directly,
    with ledger-exact replay no-ops afterwards."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        WAL,
        rebase_merge_branch,
    )

    docs = _docs(spark, sf_dir)
    b = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(spark, b[0], cat, 0)
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(spark, b[1], br, 1)  # experiment
    assert corpus_batch_txn(spark, b[2], cat, 2)  # main moves concurrently
    assert WAL in br.snapshot(spark) and WAL not in cat.snapshot(spark)

    with pytest.raises(CommitConflict, match="fast-forward"):
        merge_branch(spark, cat, "exp")
    rebase_merge_branch(spark, cat, "exp", docs)

    # member-identical to re-running the experiment on the new main:
    # a fresh catalog ingesting the same batches in main's arrival order
    ref = TableCatalog(str(tmp_path / "ref"))
    for order, batch in ((0, b[0]), (2, b[2]), (1, b[1])):
        assert corpus_batch_txn(spark, batch, ref, order)
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, ref)

    # the replayed batch is ledger-committed on main: replays no-op, and
    # re-running the whole rebase is idempotent
    n = _corpus_ids(spark, cat)
    assert not corpus_batch_txn(spark, b[1], cat, 1)
    rebase_merge_branch(spark, cat, "exp", docs)
    assert _corpus_ids(spark, cat) == n


@pytest.mark.slow
def test_rebase_refusals_and_fast_forward_delegation(spark, sf_dir, tmp_path):
    """Rebase refuses non-replayable branch commits (corrections carry
    semantics a batch replay would misstate) and delegates to the plain
    fast-forward when main never moved."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        rebase_merge_branch,
        retract_docs,
    )

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    # main never moved → rebase IS the fast-forward
    rebase_merge_branch(spark, cat, "exp", docs)
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, br)

    # a branch carrying a retraction refuses once main moves
    br2 = create_branch(spark, cat, "exp2")
    victim = int(min(_corpus_ids(spark, br2)))
    assert retract_docs(spark, br2, [victim], op="exp2-retract")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 2), cat, 2
    )
    with pytest.raises(CommitConflict, match="not a replayable"):
        rebase_merge_branch(spark, cat, "exp2", docs)


def test_retraction_purges_branch_wal(spark, sf_dir, tmp_path):
    """The branch input WAL is part of the erasure surface: retracting a
    doc on a branch purges its (op, doc_id) submission trace, so a later
    replay resubmits without it."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        WAL,
        member,
        retract_docs,
    )

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    # the WAL records only the BRANCH batch's inputs (ids ≡ 1 mod 3);
    # a batch-0 doc lives in the corpus but was never WAL'd
    victim = int(min(i for i in _corpus_ids(spark, br) if i % 3 == 1))
    wal_ids = {r["doc_id"] for r in member(spark, br, WAL).collect()}
    assert victim in wal_ids
    assert retract_docs(spark, br, [victim], op="erase-1")
    wal_after = {r["doc_id"] for r in member(spark, br, WAL).collect()}
    assert victim not in wal_after
    assert wal_after == wal_ids - {victim}


@pytest.mark.slow
def test_branch_model_random_interleaving(spark, sf_dir, tmp_path):
    """Model test (the replace_files random-op discipline applied to
    timelines): a seeded random interleaving of main batches, branch
    batches, fast-forward merges, and rebase-merges must leave main
    member-identical to a FRESH catalog ingesting the same batches in
    main-ledger-equivalent order — the order each batch actually landed
    on main (branch batches land at their merge/rebase point, in branch
    order). Exactly-once must hold throughout: no batch applies twice no
    matter which timeline carried it."""
    import random

    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        rebase_merge_branch,
    )

    rng = random.Random(12)
    docs = _docs(spark, sf_dir)
    n_mod = 8
    batches = {
        i: docs.filter(F.pmod("doc_id", F.lit(n_mod)) == i) for i in range(n_mod)
    }
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(spark, batches[0], cat, 0)
    landed = [0]  # main-ledger-equivalent batch order
    next_batch = 1
    branch_state: tuple[str, list[int]] | None = None  # (name, its batches)
    n_branches = 0

    for _step in range(n_mod - 1):
        choice = rng.random()
        if branch_state is None and choice < 0.5:
            n_branches += 1
            create_branch(spark, cat, f"exp{n_branches}")
            branch_state = (f"exp{n_branches}", [])
        if branch_state is not None and rng.random() < 0.6:
            name, blist = branch_state
            assert corpus_batch_txn(
                spark, batches[next_batch], branch(cat, name), next_batch
            )
            blist.append(next_batch)
        else:
            assert corpus_batch_txn(spark, batches[next_batch], cat, next_batch)
            landed.append(next_batch)
        next_batch += 1
        # sometimes close the branch out (merge or rebase as divergence allows)
        if branch_state is not None and rng.random() < 0.5:
            name, blist = branch_state
            try:
                merge_branch(spark, cat, name)
            except CommitConflict:
                rebase_merge_branch(spark, cat, name, docs)
            landed.extend(blist)
            branch_state = None
    if branch_state is not None:
        name, blist = branch_state
        try:
            merge_branch(spark, cat, name)
        except CommitConflict:
            rebase_merge_branch(spark, cat, name, docs)
        landed.extend(blist)

    assert sorted(landed) == list(range(next_batch)), landed
    ref = TableCatalog(str(tmp_path / "ref"))
    for bid in landed:
        assert corpus_batch_txn(spark, batches[bid], ref, bid)
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, ref)
    # exactly-once across every timeline: every batch now no-ops on main
    for bid in landed:
        assert not corpus_batch_txn(spark, batches[bid], cat, bid)


@pytest.mark.slow
def test_two_branch_rebase_convergence(spark, sf_dir, tmp_path):
    """Two experiments diverge CONCURRENTLY from the same fork; the first
    merges fast-forward, the second (now behind) rebases — main converges
    to the sequential ingest, batch replays no-op for both."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        rebase_merge_branch,
    )

    docs = _docs(spark, sf_dir)
    b = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(spark, b[0], cat, 0)
    brA = create_branch(spark, cat, "expA")
    brB = create_branch(spark, cat, "expB")
    assert corpus_batch_txn(spark, b[1], brA, 1)
    assert corpus_batch_txn(spark, b[2], brB, 2)

    merge_branch(spark, cat, "expA")  # fast-forward: main never moved
    with pytest.raises(CommitConflict, match="fast-forward"):
        merge_branch(spark, cat, "expB")  # A's merge moved main
    rebase_merge_branch(spark, cat, "expB", docs)

    ref = TableCatalog(str(tmp_path / "ref"))
    for i in range(3):
        assert corpus_batch_txn(spark, b[i], ref, i)
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, ref)
    for i in range(3):
        assert not corpus_batch_txn(spark, b[i], cat, i)


def test_vacuum_reclaims_stale_merge_sidecars(spark, sf_dir, tmp_path):
    """A CAS-losing merge's inert sidecar ages out of vacuum past the
    retention horizon; ledgered sidecars (real merged state) never do."""
    import json
    import os as _os

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0)
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1)
    merge_branch(spark, cat, "exp")
    merge_dir = _os.path.join(cat.root, cat.ledger, "merge_ops")
    (ledgered,) = _os.listdir(merge_dir)
    # simulate a crashed/raced merge's orphan — backdated past the
    # sidecar age floor (an hour: a live merge's sidecar→CAS gap is
    # milliseconds, so anything younger is presumed in-flight and kept
    # even at retain_seconds=0)
    ghost = _os.path.join(merge_dir, "merge-ghost-v9-from-v9.json")
    with open(ghost, "w") as f:
        json.dump(["ghost-batch-1"], f)
    cat.vacuum(spark, retain_seconds=0.0)
    assert _os.path.exists(ghost), "young orphan presumed in-flight"
    _os.utime(ghost, (1.0, 1.0))
    cat.vacuum(spark, retain_seconds=0.0)
    assert sorted(_os.listdir(merge_dir)) == [ledgered]
    assert "corpus-batch-1" in cat.committed_ops()  # merged state intact


@pytest.mark.slow
def test_rebase_survives_branch_ledger_checkpoint(spark, sf_dir, tmp_path):
    """Long experiments outlive their own ledger: after the branch ledger
    checkpoints (per-version manifests truncated, op labels consolidated),
    rebase recovers the replay ORDER from the WAL's seq column and still
    converges to the sequential ingest."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        rebase_merge_branch,
    )

    docs = _docs(spark, sf_dir)
    b = [docs.filter(F.pmod("doc_id", F.lit(4)) == i) for i in range(4)]
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(spark, b[0], cat, 0)
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(spark, b[1], br, 1)
    assert corpus_batch_txn(spark, b[2], br, 2)
    # the branch ledger checkpoints: branch-from and batch manifests gone
    br._catalog.checkpoint()
    assert br.history()[0][1] != "branch-from-v0"
    assert corpus_batch_txn(spark, b[3], cat, 3)  # main moves

    rebase_merge_branch(spark, cat, "exp", docs)
    ref = TableCatalog(str(tmp_path / "ref"))
    for order in (0, 3, 1, 2):
        assert corpus_batch_txn(spark, b[order], ref, order)
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, ref)
    for i in range(4):
        assert not corpus_batch_txn(spark, b[i], cat, i)


def test_rebase_carries_admission_config(spark, sf_dir, tmp_path):
    """The WAL stores inputs, not code: a rebase must be handed the
    experiment's admission configuration, and then enforces it — rows the
    branch quarantined stay quarantined on main (r12 review finding)."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        QUAR,
        member,
        rebase_merge_branch,
    )

    rules = [("text_min_len", "length(text) >= 50")]
    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0,
        expectations=rules,
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1,
        expectations=rules,
    )
    br_quar = {r["doc_id"] for r in member(spark, br, QUAR).collect()}
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 2), cat, 2,
        expectations=rules,
    )  # main moves
    rebase_merge_branch(spark, cat, "exp", docs, expectations=rules)
    main_quar = {r["doc_id"] for r in member(spark, cat, QUAR).collect()}
    assert br_quar <= main_quar, "replay dropped the branch's quarantines"
    assert not (br_quar & _corpus_ids(spark, cat)), (
        "a quarantined row was admitted into main's corpus by the replay"
    )


def test_rebase_refuses_zero_wal_row_batch_even_with_intact_ledger(
    spark, sf_dir, tmp_path
):
    """A branch batch with NO WAL rows (empty input, or its inputs fully
    erased) must refuse on BOTH order paths — the ledger-intact path
    previously replayed it as an empty commit, permanently minting the op
    label on main (r12 review finding). (A branch that ran an explicit
    retraction refuses even earlier, on the non-replayable commit.)"""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        rebase_merge_branch,
    )

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    # an empty-input batch commits its op label but zero WAL rows
    assert corpus_batch_txn(spark, docs.filter(F.lit(False)), br, 5)
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 2), cat, 2
    )  # main moves
    with pytest.raises(CommitConflict, match="no WAL rows"):
        rebase_merge_branch(spark, cat, "exp", docs)
    # the refusal must not have minted any branch op label on main
    assert "corpus-batch-1" not in cat.committed_ops()
    assert "corpus-batch-5" not in cat.committed_ops()


def test_streaming_ingest_into_branch(spark, tmp_path):
    """Ingest experiments on a timeline (r12): micro-batch transactions
    target a BRANCH ledger, WAL their inputs, stay invisible to main, and
    fast-forward merge with exactly-once intact — the branch batch
    replays as a no-op on main afterwards."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import WAL

    cat = TableCatalog(str(tmp_path / "cat"))
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta", "en")],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, seed, cat, 0)
    main_ids = _corpus_ids(spark, cat)
    br = create_branch(spark, cat, "exp")

    b1 = spark.createDataFrame(
        [
            (2, "one two three four five six seven eight", "en"),
            (3, "alpha beta gamma delta epsilon zeta eta theta", "en"),  # dup
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, b1, br, 0, app_id="exp")

    # the experiment landed on the branch (dup 3 rejected), WAL'd, and
    # main never saw it
    assert _corpus_ids(spark, br) == {1, 2}
    assert _corpus_ids(spark, cat) == main_ids
    assert WAL in br.snapshot(spark)
    assert "exp-batch-0" in br.committed_ops()

    merge_branch(spark, cat, "exp")
    assert _corpus_ids(spark, cat) == {1, 2}
    # the branch batch is exactly-once across the merge
    replay = spark.createDataFrame(
        [(2, "one two three four five six seven eight", "en")],
        "doc_id long, text string, lang string",
    )
    assert not corpus_batch_txn(spark, replay, cat, 0, app_id="exp")


def test_racing_mergers(spark, sf_dir, tmp_path):
    """Two racing fast-forward mergers: exactly one wins the CAS, the
    loser refuses."""
    from concurrent.futures import ThreadPoolExecutor

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(merge_branch, spark, cat, "exp") for _ in range(2)]
        results = []
        for f in futs:
            try:
                results.append(("ok", f.result()))
            except CommitConflict:
                results.append(("conflict", None))
    kinds = sorted(k for k, _ in results)
    assert kinds == ["conflict", "ok"], results
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, br)


@pytest.mark.slow
def test_racing_rebasers_converge_exactly_once(spark, sf_dir, tmp_path):
    """Two concurrent rebase_merge_branch calls on the same branch: both
    complete (replays are ledger-idempotent, CAS conflicts retry), the
    batch lands exactly once, and main equals the sequential reference."""
    from concurrent.futures import ThreadPoolExecutor

    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        rebase_merge_branch,
    )

    docs = _docs(spark, sf_dir)
    b = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(spark, b[0], cat, 0)
    br = create_branch(spark, cat, "exp")
    assert corpus_batch_txn(spark, b[1], br, 1)
    assert corpus_batch_txn(spark, b[2], cat, 2)  # main moves

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(rebase_merge_branch, spark, cat, "exp", docs)
            for _ in range(2)
        ]
        for f in futs:
            f.result()  # neither racer may error

    ref = TableCatalog(str(tmp_path / "ref"))
    for order in (0, 2, 1):
        assert corpus_batch_txn(spark, b[order], ref, order)
    assert _corpus_ids(spark, cat) == _corpus_ids(spark, ref)
    assert not corpus_batch_txn(spark, b[1], cat, 1)


@pytest.mark.slow
def test_branch_content_divergence_fingerprint(spark, sf_dir, tmp_path):
    """`catalog_divergence` works main-vs-branch out of the box (both are
    TableCatalogs over the same member tables): the row-level "what did
    the experiment actually change" verb, sharper than the pin-level
    `branch_divergence` — a maintenance commit that rewrites a member's
    files WITHOUT changing its content moves the pin but fingerprints
    clean."""
    from map_reduce_in_go_spark.sources.replicate import catalog_divergence
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        WAL,
        compact_pipeline,
    )

    docs = _docs(spark, sf_dir)
    cat = TableCatalog(str(tmp_path / "cat"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    br = create_branch(spark, cat, "exp")
    # freshly forked: zero content divergence
    assert catalog_divergence(spark, cat, br) == {}

    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 1), br, 1
    )
    div = catalog_divergence(spark, cat, br)
    assert CORPUS in div and WAL in div  # the experiment's actual footprint
    # pin-level divergence would ALSO flag a content-preserving compaction;
    # the fingerprint must not
    compact_pipeline(spark, cat, num_files=2)
    div2 = catalog_divergence(
        spark, cat, branch(cat, "exp"), members={CORPUS}
    )
    assert CORPUS in div2  # branch really has more corpus rows
    cat2 = TableCatalog(str(tmp_path / "cat2"))
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat2, 0
    )
    compact_pipeline(spark, cat2, num_files=2)
    # same content, different file layout/pins: fingerprints agree
    assert catalog_divergence(spark, cat, cat2, members={CORPUS}) == {}

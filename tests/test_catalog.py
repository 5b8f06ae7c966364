"""Multi-table transaction semantics of sources/catalog.py.

The properties under test are the catalog pattern's contract:
atomic cross-table publication, snapshot isolation across tables,
read-your-writes inside a transaction, CAS conflict on racing
transactions, and no content leak from a racing stager's member commits.
"""

from __future__ import annotations

import threading

import pytest

from map_reduce_in_go_spark.sources.catalog import CommitConflict, TableCatalog


def _df(spark, rows, schema="id long, val string"):
    return spark.createDataFrame(rows, schema=schema)


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_transaction_atomic_publication(spark, tmp_path):
    """Two member tables move together: readers see both writes or neither."""
    cat = TableCatalog(str(tmp_path / "cat"))
    txn = cat.transaction(spark)
    txn.overwrite("docs", _df(spark, [(1, "a"), (2, "b")]))
    txn.overwrite("index", _df(spark, [(10, "x")]))
    # Before commit: catalog has NO snapshot — neither table is visible.
    assert cat.version() == -1
    assert cat.snapshot(spark) == {}
    v = txn.commit()
    assert v == 0
    assert _ids(cat.read(spark, "docs")) == [1, 2]
    assert _ids(cat.read(spark, "index")) == [10]


def test_crash_mid_transaction_leaves_old_snapshot(spark, tmp_path):
    """Staged member commits without a catalog commit are invisible."""
    cat = TableCatalog(str(tmp_path / "cat"))
    txn0 = cat.transaction(spark)
    txn0.overwrite("docs", _df(spark, [(1, "a")]))
    txn0.overwrite("index", _df(spark, [(10, "x")]))
    txn0.commit()

    # Simulate a crash: stage writes to both tables, never commit.
    txn1 = cat.transaction(spark)
    txn1.append("docs", _df(spark, [(2, "b")]))
    txn1.overwrite("index", _df(spark, [(20, "y")]))
    del txn1

    # Catalog readers still see the v0 world, consistently.
    assert cat.version() == 0
    assert _ids(cat.read(spark, "docs")) == [1]
    assert _ids(cat.read(spark, "index")) == [10]
    # The member tables' chains DID advance (durable staging) — the
    # orphan versions are simply unreferenced by any catalog snapshot.
    assert cat.table("docs").version() == 1


def test_snapshot_isolation_across_tables(spark, tmp_path):
    """A reader holding catalog v0 sees v0 pins for every member, even
    after a later transaction rewrites both tables."""
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(1, "a")]))
    t0.overwrite("index", _df(spark, [(10, "x")]))
    v0 = t0.commit()

    t1 = cat.transaction(spark)
    t1.append("docs", _df(spark, [(2, "b")]))
    t1.overwrite("index", _df(spark, [(20, "y")]))
    v1 = t1.commit()

    assert (v0, v1) == (0, 1)
    assert _ids(cat.read(spark, "docs", version=v0)) == [1]
    assert _ids(cat.read(spark, "index", version=v0)) == [10]
    assert _ids(cat.read(spark, "docs", version=v1)) == [1, 2]
    assert _ids(cat.read(spark, "index", version=v1)) == [20]


def test_read_your_writes_not_others(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(1, "a")]))
    t0.commit()

    ta = cat.transaction(spark)
    tb = cat.transaction(spark)
    ta.append("docs", _df(spark, [(2, "b")]))
    # ta sees its own staged append; tb sees only the base snapshot.
    assert _ids(ta.read("docs")) == [1, 2]
    assert _ids(tb.read("docs")) == [1]


def test_racing_transactions_cas_conflict_and_no_leak(spark, tmp_path):
    """Loser raises CommitConflict; winner's content excludes loser's rows."""
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(1, "a")]))
    t0.commit()

    ta = cat.transaction(spark)
    tb = cat.transaction(spark)
    # Both stage appends to the SAME member table.
    ta.append("docs", _df(spark, [(2, "ta")]))
    tb.append("docs", _df(spark, [(3, "tb")]))
    assert ta.commit() == 1
    # tb must conflict — and ta's committed snapshot must not contain tb's
    # staged row even though tb's member commit landed on the same chain.
    with pytest.raises(CommitConflict):
        tb.commit()
    assert _ids(cat.read(spark, "docs")) == [1, 2]

    # tb re-plans against the new snapshot and succeeds.
    tb2 = cat.transaction(spark)
    tb2.append("docs", _df(spark, [(3, "tb")]))
    tb2.commit()
    assert _ids(cat.read(spark, "docs")) == [1, 2, 3]


def test_concurrent_threads_exactly_one_winner(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(0, "base")]))
    t0.commit()

    results: dict[str, object] = {}

    def run(tag: str, row_id: int) -> None:
        try:
            txn = cat.transaction(spark)
            txn.append("docs", _df(spark, [(row_id, tag)]))
            results[tag] = txn.commit()
        except CommitConflict:
            results[tag] = "conflict"

    threads = [
        threading.Thread(target=run, args=(f"w{i}", 100 + i)) for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    wins = [v for v in results.values() if isinstance(v, int)]
    conflicts = [v for v in results.values() if v == "conflict"]
    assert len(wins) >= 1 and len(wins) + len(conflicts) == 4
    # Every committed snapshot is internally consistent: the final docs
    # content equals base + exactly the winners' rows.
    final = _ids(cat.read(spark, "docs"))
    assert final[0] == 0 and len(final) == 1 + len(wins)


def test_transaction_with_no_writes_is_noop(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(1, "a")]))
    t0.commit()
    t1 = cat.transaction(spark)
    assert t1.commit() == 0
    assert cat.version() == 0


def test_member_table_standalone_access(spark, tmp_path):
    """Members stay plain ManifestTables — maintenance works beneath the
    catalog, and the catalog pin is unaffected until a txn republishes."""
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(1, "a"), (1, "a"), (2, "b")]))
    t0.commit()

    tbl = cat.table("docs")
    tbl.compact(spark, dedup_cols=["id"])  # standalone maintenance commit
    # Catalog still pins the pre-compaction version (3 rows).
    assert cat.read(spark, "docs").count() == 3
    # A transaction that re-reads and republishes picks up fresh state.
    txn = cat.transaction(spark)
    txn.overwrite("docs", tbl.read(spark))
    txn.commit()
    assert cat.read(spark, "docs").count() == 2


def test_catalog_vacuum_protects_published_snapshot(spark, tmp_path):
    """The hazard: a staged-but-unpublished OVERWRITE becomes the member's
    newest chain entry, so a bare member vacuum would delete the files the
    published catalog snapshot still serves. Catalog.vacuum must not."""
    cat = TableCatalog(str(tmp_path / "cat"))
    t0 = cat.transaction(spark)
    t0.overwrite("docs", _df(spark, [(1, "a"), (2, "b")]))
    t0.commit()
    published = _ids(cat.read(spark, "docs"))

    # crash mid-transaction AFTER staging an overwrite
    t1 = cat.transaction(spark)
    t1.overwrite("docs", _df(spark, [(9, "z")]))
    del t1

    # the member's newest manifest now references ONLY the orphan files —
    # exactly the state where a bare vacuum(0) would destroy the snapshot
    assert cat.table("docs").version() > cat.snapshot(spark)["docs"][1]

    removed = cat.vacuum(spark, retain_seconds=0)
    # published snapshot fully readable afterwards
    assert _ids(cat.read(spark, "docs")) == published
    # and nothing the orphan references was removed either (it is the
    # newest member manifest, hence live by the member's own rule)
    assert removed == 0

    # a later committed transaction supersedes the orphan; the orphan's
    # files then become genuinely unreferenced and reclaimable
    t2 = cat.transaction(spark)
    t2.overwrite("docs", _df(spark, [(3, "c")]))
    t2.commit()
    assert cat.vacuum(spark, retain_seconds=0) >= 0
    assert _ids(cat.read(spark, "docs")) == [3]


def test_drop_member_in_transaction(spark, tmp_path):
    """DROP TABLE inside a transaction: gone from the new snapshot, intact
    in older snapshots, and un-stages a same-transaction write."""
    cat = TableCatalog(str(tmp_path / "cat"))
    txn = cat.transaction(spark)
    txn.overwrite("docs", _df(spark, [(1, "a")]))
    txn.overwrite("index", _df(spark, [(10, "x")]))
    v0 = txn.commit()

    txn2 = cat.transaction(spark)
    txn2.drop("index")
    with pytest.raises(KeyError):
        txn2.read("index")  # dropped within this txn
    v1 = txn2.commit()
    assert v1 == v0 + 1
    assert set(cat.snapshot(spark)) == {"docs"}
    with pytest.raises(KeyError):
        cat.read(spark, "index")
    # snapshot isolation: the old catalog version still serves the member
    assert _ids(cat.read(spark, "index", version=v0)) == [10]

    # dropping an unknown member is an error, not a silent no-op
    txn3 = cat.transaction(spark)
    with pytest.raises(KeyError):
        txn3.drop("nope")
    # staging a write then dropping it leaves the member absent
    txn3.overwrite("tmp", _df(spark, [(5, "t")]))
    txn3.drop("tmp")
    txn3.commit()
    assert "tmp" not in cat.snapshot(spark)


def test_append_after_drop_recreates_fresh(spark, tmp_path):
    """DROP then INSERT within one transaction must not resurrect the
    dropped member's base content."""
    cat = TableCatalog(str(tmp_path / "cat"))
    txn = cat.transaction(spark)
    txn.overwrite("t", _df(spark, [(1, "a"), (2, "b")]))
    txn.commit()

    txn2 = cat.transaction(spark)
    txn2.drop("t")
    txn2.append("t", _df(spark, [(9, "z")]))
    txn2.commit()
    assert _ids(cat.read(spark, "t")) == [9]  # fresh, not [1, 2, 9]


def test_member_log_never_self_truncates_published_pin(spark, tmp_path):
    """r10 advice (high): a staged (unpublished) transaction stacking a
    member past the default checkpoint interval must NOT auto-checkpoint
    the member log — that would delete the manifest version the PUBLISHED
    catalog snapshot pins, breaking every published read and any pinned
    append planned against the base snapshot."""
    import os

    cat = TableCatalog(str(tmp_path / "cat"))
    txn = cat.transaction(spark)
    txn.append("t", _df(spark, [(1, "a")]))
    txn.commit()
    pin = cat.snapshot(spark)["t"][1]

    # a crashing/conflicting writer stages 17 orphan member commits —
    # enough to cross ManifestTable's default checkpoint_interval=16
    stager = cat.transaction(spark)
    for i in range(17):
        stager.append("t", _df(spark, [(100 + i, "orphan")]))
    member_tbl = cat.table("t")
    assert member_tbl.version() >= 16  # the chain really did pass v16

    # the pinned manifest must still exist and the published read work
    assert os.path.exists(
        os.path.join(member_tbl.root, "_manifests", f"v{pin}.json")
    )
    assert _ids(cat.read(spark, "t")) == [1]

    # a new transaction planning against the published pin still appends
    txn2 = cat.transaction(spark)
    txn2.append("t", _df(spark, [(2, "b")]))
    txn2.commit()
    assert _ids(cat.read(spark, "t")) == [1, 2]


def test_app_id_lease_collision_refused(spark, tmp_path):
    """r10 verdict #4: two writer processes sharing an app_id must be a
    LOUD refusal, not a silent batch-id aliasing; the same writer
    reacquires with its token after a restart."""
    cat = TableCatalog(str(tmp_path / "cat"))
    tok_a = cat.acquire_app_id("corpus")
    # restart of writer A: same token reacquires
    assert cat.acquire_app_id("corpus", token=tok_a) == tok_a
    # writer B colliding on the app_id refuses loudly
    with pytest.raises(RuntimeError, match="already leased"):
        cat.acquire_app_id("corpus")
    # distinct app_ids coexist
    tok_b = cat.acquire_app_id("backfill")
    assert tok_b != tok_a
    # checks
    cat.check_app_id("corpus", tok_a)
    with pytest.raises(RuntimeError, match="leased by another"):
        cat.check_app_id("corpus", "not-the-token")
    with pytest.raises(RuntimeError, match="no lease"):
        cat.check_app_id("unleased", tok_a)


def test_app_id_lease_concurrent_acquire_one_winner(spark, tmp_path):
    """O_EXCL semantics: exactly one of N racing writers gets the lease."""
    import threading

    cat = TableCatalog(str(tmp_path / "cat"))
    results: list[str | None] = []

    def claim():
        try:
            results.append(cat.acquire_app_id("corpus"))
        except RuntimeError:
            results.append(None)

    threads = [threading.Thread(target=claim) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [r for r in results if r is not None]
    assert len(winners) == 1

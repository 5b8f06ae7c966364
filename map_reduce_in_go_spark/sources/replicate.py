"""Cross-catalog replication: ship committed transactions to a replica,
exactly-once, from the catalog ledger alone (r11 (b)).

The disaster-recovery / multi-region posture for the incremental-corpus
pipeline (streaming/corpus_pipeline.py) — and for any
:class:`~.catalog.TableCatalog`: the primary's catalog log already IS a
totally-ordered ledger of multi-table transactions (one op-labelled
catalog version per commit, each pinning every member's exact version),
so replication needs no side channel, no CDC stream, and no coordination
with writers. :func:`replicate_catalog` walks that ledger and re-applies
each not-yet-shipped commit to the replica as ONE transaction carrying
the SAME op label:

- **Exactly-once from the ledger alone.** A commit ships only if its op
  label is absent from the replica's own ledger; re-running replication
  (or racing two replicators — the loser's CAS conflicts and re-walks)
  never double-applies. This is the same replay discipline the
  pipeline's batches use, pointed across catalogs.
- **Deltas, not snapshots.** For each member the primary's manifest diff
  between the commit and its predecessor decides the replay verb: only
  added files → read just those files and APPEND; any removed file (an
  overwrite/rewrite) → read the member at its pinned version and
  OVERWRITE; member gone from the snapshot → DROP. Steady-state batch
  replication therefore moves O(batch) bytes, not O(corpus).
- **Transactionality preserved.** All member changes of one primary
  commit land in one replica catalog CAS — a replica reader sees the
  same consistent multi-member snapshots the primary's readers saw,
  never a corpus row whose bands haven't arrived.
- **Data-skipping stats preserved.** Each member's ``stats_cols`` are
  recovered from the primary's manifest stats, so pruned point probes
  (band/gram/word lookups) keep working on the replica.

Truncation horizon: catalog checkpoints (ManifestTable.checkpoint)
truncate per-version manifests below the newest checkpoint — op labels
survive, per-commit pins do not. A commit whose PREDECESSOR manifest is
gone can't be diffed; it is replayed as a BASE SYNC (every member
overwritten from that snapshot — correct from any replica state, just
not incremental). Replicate at least every ``checkpoint_interval``
commits (default 16), or build the catalog with
``checkpoint_interval=None``, to stay on the delta path.

Because the replica's ledger carries the primary's op labels verbatim,
replication CHAINS: a replica is itself a valid primary for a second
hop (fan-out topologies), and :func:`catalog_divergence` is the health
check — a distributed member-content fingerprint comparison that names
exactly which member drifted. The ledger decides which commits a pass
applies, so a repeated or duplicate pass converges identically.

Out of scope, honestly: the replica is a FOLLOWER (replication is its
only writer). Active-active catalogs need op-label namespacing across
writers — the pipeline's ``<app_id>-batch-<id>`` labels provide the
namespace and ``TableCatalog.acquire_app_id`` (r11) makes a shared
``app_id`` a loud refusal on the PRIMARY; this verb itself still
assumes a single replicator per replica (racers converge via CAS).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .catalog import CommitConflict, TableCatalog
from .manifest_table import ManifestTable

__all__ = [
    "replicate_catalog",
    "catalog_divergence",
    "clone_catalog",
]


# Merge-on-read delete vector (streaming/corpus_pipeline.py DELETES): its
# (member, file, doc_id) pairs are scoped to the OWNING catalog's physical
# file names, which shipping does not preserve (content moves through
# Spark reads into fresh destination files). Shipping the member verbatim
# would leave an inert vector on the replica — serving erased documents
# back. Replication and clones therefore materialize the LOGICAL view:
# the vector member itself is never shipped; snapshot materializations
# (clone, base-sync) read corpus/bands through the vector, and the
# incremental walker applies each retraction commit's NEW pairs to the
# replica as copy-on-write at walk order — by induction the replica's
# state equals the primary's live view at every shipped version.
# (A replica that shipped a vector VERBATIM — possible only in the brief
# window before this module learned MOR — cannot be healed incrementally,
# because its pairs name primary files; re-stand it up or base-sync.)
# The names are THE pipeline's own constants: extending _MOR_MEMBERS there
# (e.g. to PQ cells, SURVEY r13 candidate (b)) extends shipping fidelity
# here automatically. Module-level import is cycle-safe: corpus_pipeline
# imports this module only inside function bodies.
from ..streaming.corpus_pipeline import (  # noqa: E402
    _MOR_MEMBERS,
    DELETES as _MOR_VECTOR,
)


def _live_view(
    spark: SparkSession,
    cat: TableCatalog,
    snap: dict[str, tuple[str, int]],
    name: str,
    df: DataFrame,
) -> DataFrame:
    """Apply ``snap``'s MOR delete vector (if any) to a member read —
    the logical content a ship/compare must reason over. The pairs match
    because ``df`` still scans the OWNING catalog's files here."""
    if name not in _MOR_MEMBERS or _MOR_VECTOR not in snap:
        return df
    from ..streaming.corpus_pipeline import _apply_delete_vector

    dpath, dpin = snap[_MOR_VECTOR]
    return _apply_delete_vector(df, cat.table(dpath).read(spark, dpin), name)


def _member_stats_cols(manifest: dict) -> list[str] | None:
    """Stats columns the primary recorded for this member version —
    the union of per-file stats keys in its manifest."""
    cols = sorted({c for st in manifest.get("stats", {}).values() for c in st})
    return cols or None


def _read_member(
    spark: SparkSession, tbl: ManifestTable, pin: int
) -> DataFrame:
    """Full member content at ``pin`` (empty-but-typed when no files).

    merge_schema: an overwrite replay materializes the replica from this
    read, and the pinned (latest-commit) schema can be NARROWER than the
    columns present across the version's files (additive evolution).
    Reading pinned-schema here would silently drop the evolved columns
    from the replica for good (r10 advice, low).
    """
    if tbl.files(pin):
        return tbl.read(spark, pin, merge_schema=True)
    schema_json = tbl._manifest(pin).get("schema")
    if schema_json is None:
        raise FileNotFoundError(
            f"member at {tbl.root} v{pin} has neither files nor a pinned schema"
        )
    return spark.createDataFrame(
        [], StructType.fromJson(json.loads(schema_json))
    )


def _resync_mor_ids(
    spark: SparkSession,
    src: TableCatalog,
    txn,
    cur_all: dict[str, tuple[str, int]],
    name: str,
    vec: DataFrame,
    op: str,
) -> None:
    """Bring the replica's member ``name`` to the primary's live state for
    every doc_id the vector delta ``vec`` touches: remove the ids, then
    re-append the primary's LIVE rows for them (MOR vector applied).

    Plain retraction commits leave no live rows, so this is exactly the
    old removal. The resync form exists because bare-id removal is WRONG
    for a consolidated commit (a fast-forward merge whose branch history
    MOR-retracted doc X and then re-inserted X via a plain batch): the
    pair (F, X) still names a LIVE file — MOR never rewrites F — so a
    live-file filter cannot reject it, and bare-id erase would delete the
    re-inserted row the same commit just shipped (r12 advice, medium).
    Removing-then-re-appending the primary's live rows is correct in both
    cases by construction: after it, the replica's content for each
    affected id EQUALS the primary's live view at this commit.

    Driver-bounded (r12 advice, low): nothing collects the raw pair delta
    (up to ids × N_BANDS rows). Pairs naming dead files are dropped first
    (inert — a COW correction already replaced their file), then only the
    DISTINCT affected doc_ids come to the driver, capped at
    ``MERGE_MAX_IDS``; past the cap the resync runs as one DataFrame-only
    anti-join overwrite + live re-append with no driver id list at all.
    Primary-side live-row reads scan only files whose [min,max] doc_id
    stats admit an affected id (point-set skipping), so a retraction
    commit's replication stays O(touched files), never O(corpus).
    """
    from pyspark.sql import functions as F

    from ..streaming.corpus_pipeline import (
        MERGE_MAX_IDS,
        _apply_delete_vector,
        _remove_ids_cow,
    )

    mpath, mpin = cur_all[name]
    mtbl = src.table(mpath)
    live_names = sorted(
        os.path.basename(p) for p in mtbl.files(mpin)
    )
    if not live_names:
        ids_df = vec.filter(F.col("member") == F.lit(name)).select(
            "doc_id"
        ).distinct()
    else:
        names_df = spark.createDataFrame(
            [(n,) for n in live_names], "file string"
        )
        ids_df = (
            vec.filter(F.col("member") == F.lit(name))
            .join(names_df, "file", "left_semi")
            .select("doc_id")
            .distinct()
        )
    id_rows = ids_df.limit(MERGE_MAX_IDS + 1).collect()
    if not id_rows:
        return
    stats_cols = _member_stats_cols(mtbl._manifest(mpin))
    dpath, dpin = cur_all[_MOR_VECTOR]
    dels = src.table(dpath).read(spark, dpin)

    def _live_rows(member_files: list[str]) -> DataFrame:
        if not member_files:
            return _read_member(spark, mtbl, mpin).limit(0)
        raw = spark.read.option("mergeSchema", "true").parquet(*member_files)
        return _apply_delete_vector(raw, dels, name)

    if len(id_rows) > MERGE_MAX_IDS:
        # past the driver probe bound: one DataFrame-only resync
        live_rows = _live_rows(mtbl.files(mpin)).join(
            ids_df, "doc_id", "left_semi"
        )
        txn.overwrite(
            name,
            txn.read(name, merge_schema=True)
            .join(ids_df, "doc_id", "left_anti")
            .unionByName(live_rows, allowMissingColumns=True),
            op=op,
            stats_cols=stats_cols,
        )
        return
    id_vals = sorted(int(r["doc_id"]) for r in id_rows)
    ids = spark.createDataFrame([(d,) for d in id_vals], "doc_id long")
    _remove_ids_cow(
        spark, txn, name, ids, id_vals, op, stats_cols=stats_cols
    )
    pruned, _total = mtbl.files_pruned_in("doc_id", id_vals, mpin)
    live_rows = _live_rows(pruned).join(ids, "doc_id", "left_semi")
    if live_rows.limit(1).count():
        txn.append(name, live_rows, op=op, stats_cols=stats_cols)


def _stage_commit(
    spark: SparkSession,
    src: TableCatalog,
    dst: TableCatalog,
    prev: dict[str, tuple[str, int]] | None,
    cur: dict[str, tuple[str, int]],
    op: str,
    max_retries: int,
    members: set[str] | None = None,
) -> None:
    """Re-apply one primary commit (prev→cur pin diff; prev=None means
    base sync: overwrite everything) as one replica transaction.
    ``members`` restricts the replayed member set (selective follower).

    MOR handling (see module constants): the delete-vector member never
    ships; snapshot reads go through :func:`_live_view`; a commit whose
    vector pin MOVED applies its new pairs' doc_ids to the replica's
    corpus/bands as copy-on-write (file-granular via the pipeline's own
    helper) — at walk order, which is exactly the primary's logical
    removal at that commit."""
    cur_all = dict(cur)
    prev_all = None if prev is None else dict(prev)
    cur = {n: v for n, v in cur.items() if n != _MOR_VECTOR}
    prev = (
        None
        if prev is None
        else {n: v for n, v in prev.items() if n != _MOR_VECTOR}
    )
    if members is not None:
        cur = {n: v for n, v in cur.items() if n in members}
        prev = (
            None
            if prev is None
            else {n: v for n, v in prev.items() if n in members}
        )
    for _ in range(max_retries):
        txn = dst.transaction(spark)
        # Linearizable replay check: the caller's `done` snapshot was read
        # once at walk start, so a RACING replicator shipping this same
        # commit in the meantime must be detected here — after pinning the
        # transaction base — or the loser would double-apply content and
        # mint a duplicate op label. Absent from a ledger ≥ base + CAS
        # success at base ⇒ genuinely not shipped.
        if op in dst.committed_ops():
            return
        dst_names = set(dst.snapshot(spark, txn.base_version))
        try:
            for name, (path, pin) in sorted(cur.items()):
                old = None if prev is None else prev.get(name)
                if old == (path, pin):
                    continue  # member untouched by this commit
                tbl = src.table(path)
                man = tbl._manifest(pin)
                stats_cols = _member_stats_cols(man)
                new_files = tbl.files(pin)
                old_files = (
                    set(tbl.files(old[1]))
                    if old is not None and old[0] == path
                    else set()
                )
                removed = old_files.difference(new_files)
                delta = [f for f in new_files if f not in old_files]
                if old is None or removed or old[0] != path:
                    # creation, rewrite, or relocation: full content replace
                    txn.overwrite(
                        name,
                        _live_view(
                            spark, src, cur_all, name,
                            _read_member(spark, tbl, pin),
                        ),
                        op=op,
                        stats_cols=stats_cols,
                    )
                elif delta:
                    # pure append: ship only the commit's own files.
                    # mergeSchema: a txn may stack appends with evolved schemas
                    txn.append(
                        name,
                        _live_view(
                            spark, src, cur_all, name,
                            spark.read.option("mergeSchema", "true").parquet(
                                *delta
                            ),
                        ),
                        op=op,
                        stats_cols=stats_cols,
                    )
            # a commit that MOVED the vector pin is a MOR retraction:
            # resync its pairs' doc_ids on the replica to the primary's
            # live state at this commit. Base syncs (prev_all None) skip
            # this — their overwrites above already materialized the view.
            if prev_all is not None and _MOR_VECTOR in cur_all:
                cur_pin = cur_all[_MOR_VECTOR]
                old_pin = prev_all.get(_MOR_VECTOR)
                if old_pin != cur_pin:
                    vec = src.table(cur_pin[0]).read(spark, cur_pin[1])
                    if old_pin is not None and old_pin[0] == cur_pin[0]:
                        # re-retraction of a re-inserted id can
                        # legitimately duplicate an old pair: exceptAll
                        # keeps the delta multiset exact
                        vec = vec.exceptAll(
                            src.table(old_pin[0]).read(spark, old_pin[1])
                        )
                    for name in _MOR_MEMBERS:
                        if members is not None and name not in members:
                            continue
                        if name not in cur_all:
                            continue
                        try:
                            txn.read(name)
                        except KeyError:
                            continue  # replica without this member
                        _resync_mor_ids(
                            spark, src, txn, cur_all, name, vec, op
                        )
        except FileNotFoundError as exc:
            # A member manifest this diff needs was truncated (a member-log
            # checkpoint on the primary between our catalog walk and this
            # read). The diff is unreconstructable, but the COMMIT's state
            # is: retry this same commit as a base sync (prev=None →
            # overwrite every member from its pinned version). Only if the
            # pinned versions themselves are unreadable — this commit's
            # state is truly gone — do we surface the error (r10 advice,
            # high: previously any truncation stalled the follower).
            if prev is not None:
                prev = None
                prev_all = None  # base sync materializes live; no pair pass
                continue
            raise FileNotFoundError(
                f"replication of {op!r} cannot read the primary's pinned "
                f"member state at {src.root} (manifest truncated below the "
                f"commit's pins); re-replicate after the primary publishes "
                f"a newer commit"
            ) from exc
        for name in dst_names.difference(cur):
            txn.drop(name)
        try:
            # force: a content-no-op commit still records `op` in the
            # replica ledger, keeping exactly-once exact
            txn.commit(op=op, force=True)
            return
        except CommitConflict:
            continue  # racing replicator/writer on the replica; re-walk
    raise CommitConflict(
        f"replication of {op!r} lost the replica catalog race "
        f"{max_retries} times at {dst.root}"
    )


def _stage_commit_verbatim(
    spark: SparkSession,
    src: TableCatalog,
    dst: TableCatalog,
    prev: dict[str, tuple[str, int]] | None,
    cur: dict[str, tuple[str, int]],
    op: str,
    max_retries: int,
    members: set[str] | None = None,
) -> None:
    """Re-apply one primary commit as a VERBATIM physical ship (r13,
    r12 verdict #3): every member whose pin moved is adopted byte-for-byte
    (:meth:`~.catalog.Transaction.adopt_snapshot` — same file basenames,
    source schema/stats carried), INCLUDING the merge-on-read delete
    vector, whose file-name-scoped pairs therefore stay valid on the
    replica. The backup replica serves the UNFOLDED view identically to
    the primary (vector applied against the same physical files), and a
    local ``apply_deletes`` folds it to the same physical state the
    primary's own fold would produce.

    Steady-state cost is O(commit delta) byte copies + O(member files)
    manifest listing — no Spark job reads a row, so verbatim shipping is
    strictly cheaper than materializing replication AND layout-preserving
    (Z-order, file-granular stats, bucketing all survive). Requirements,
    honestly: source and destination must share a filesystem namespace
    the driver can copy across (same-host/NFS/object-store posture), and
    a replica is verbatim for its LIFETIME — mixing materializing passes
    onto a verbatim replica (or vice versa) breaks the file-identity
    invariant the vector pairs rely on. ``members`` keeps its selective-
    follower meaning; the delete vector rides along automatically
    whenever the commit carries one (a corpus-only backup without its
    vector would resurrect logically-erased rows)."""
    if members is not None:
        cur = {
            n: v
            for n, v in cur.items()
            if n in members or n == _MOR_VECTOR
        }
        prev = (
            None
            if prev is None
            else {
                n: v
                for n, v in prev.items()
                if n in members or n == _MOR_VECTOR
            }
        )
    for _ in range(max_retries):
        txn = dst.transaction(spark)
        if op in dst.committed_ops():  # linearizable replay check
            return
        dst_names = set(dst.snapshot(spark, txn.base_version))
        try:
            for name, (path, pin) in sorted(cur.items()):
                old = None if prev is None else prev.get(name)
                if old == (path, pin):
                    continue  # member untouched by this commit
                txn.adopt_snapshot(name, src.table(path), pin, op=op)
        except FileNotFoundError as exc:
            # r14 (r13 advice): the materializing twin surfaces a primary
            # member-log truncation with actionable guidance; mirror it.
            # Verbatim shipping reads each member at its PINNED version —
            # a base-sync retry (prev=None) would re-read the same pins,
            # so if they are gone the commit's physical state is gone.
            raise FileNotFoundError(
                f"verbatim replication of {op!r} cannot read the primary's "
                f"pinned member state at {src.root} (member log truncated "
                f"below the commit's pins — deep-history backfill is "
                f"unavailable in verbatim mode); re-replicate after the "
                f"primary publishes a newer commit, which ships the "
                f"current physical state directly"
            ) from exc
        for name in dst_names.difference(cur):
            txn.drop(name)
        try:
            txn.commit(op=op, force=True)
            return
        except CommitConflict:
            continue  # racing replicator/writer on the replica; re-walk
    raise CommitConflict(
        f"verbatim replication of {op!r} lost the replica catalog race "
        f"{max_retries} times at {dst.root}"
    )


def _content_fingerprint(df: DataFrame) -> tuple[int, int, object]:
    """Order-insensitive content fingerprint: (row count, distinct row
    count, sum of per-row xxhash64 over name-sorted columns).

    Fully distributed — one scan, one scalar aggregate; no rows reach the
    driver. The sum is commutative so partitioning/order never matters,
    and the distinct count guards the (astronomically unlikely) case of
    hash sums colliding under different duplicate multiplicities.
    """
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    hashed = df.select(F.xxhash64(*cols).alias("h"))
    row = hashed.agg(
        F.count("*").alias("c"),
        F.count_distinct("h").alias("d"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).first()
    return int(row["c"]), int(row["d"]), row["s"]


def catalog_divergence(
    spark: SparkSession,
    a: TableCatalog,
    b: TableCatalog,
    members: set[str] | None = None,
) -> dict[str, str]:
    """Members whose content differs between two catalogs → reason.

    The replication health check (r12 (b)): after :func:`replicate_
    catalog`, this must be empty; a non-empty result names exactly which
    member drifted (a follower that took direct writes, a half-restored
    backup, bit rot). Comparison is schema (name-sorted field names +
    types) then a distributed content fingerprint — O(members) scans,
    zero driver-side row movement, so it is runnable as a routine
    maintenance verb at fleet scale. ``members`` scopes the check — the
    contract for a SELECTIVE follower, which legitimately lacks the rest.
    """
    out: dict[str, str] = {}
    snap_a, snap_b = a.snapshot(spark), b.snapshot(spark)
    # the MOR delete vector is physical layout, not logical content: a
    # primary with a pending vector and its replica (which materializes
    # the live view — see module constants) must fingerprint EQUAL, so
    # the vector member is excluded from the live comparison and both
    # sides compare live reads. When BOTH sides carry a vector (primary
    # vs verbatim backup, or two verbatim replicas — r13), the vectors'
    # own content IS comparable state and drift there means the backup
    # would fold differently: compare it like any member, raw.
    names = (set(snap_a) | set(snap_b)) - {_MOR_VECTOR}
    if members is not None:
        names &= members
    # the vector comparison respects the caller's scope like any member
    # (r13 self-review): a scoped health check names what it covers
    if (
        (members is None or _MOR_VECTOR in members)
        and _MOR_VECTOR in snap_a
        and _MOR_VECTOR in snap_b
    ):
        fp_a = _content_fingerprint(a.read(spark, _MOR_VECTOR))
        fp_b = _content_fingerprint(b.read(spark, _MOR_VECTOR))
        if fp_a != fp_b:
            out[_MOR_VECTOR] = (
                f"delete-vector mismatch: (rows, distinct, hashsum) "
                f"{fp_a} != {fp_b}"
            )
    for name in sorted(names):
        if name not in snap_a:
            out[name] = "member absent from first catalog"
            continue
        if name not in snap_b:
            out[name] = "member absent from second catalog"
            continue
        # merge-schema reads: the comparison must see every column present
        # across each member's files. Pinned-schema reads can AGREE while
        # the actual stored columns differ (an overwrite replay that
        # dropped evolved columns would fingerprint clean), and can
        # DISAGREE spuriously (primary's pin = last append's narrow
        # schema, replica materialized wide) — r10 advice, low.
        df_a = _live_view(
            spark, a, snap_a, name, a.read(spark, name, merge_schema=True)
        )
        df_b = _live_view(
            spark, b, snap_b, name, b.read(spark, name, merge_schema=True)
        )
        sig_a = sorted((f.name, f.dataType.simpleString()) for f in df_a.schema)
        sig_b = sorted((f.name, f.dataType.simpleString()) for f in df_b.schema)
        if sig_a != sig_b:
            out[name] = f"schema mismatch: {sig_a} != {sig_b}"
            continue
        fp_a, fp_b = _content_fingerprint(df_a), _content_fingerprint(df_b)
        if fp_a != fp_b:
            out[name] = (
                f"content mismatch: (rows, distinct, hashsum) {fp_a} != {fp_b}"
            )
    return out


def replicate_catalog(
    spark: SparkSession,
    src: TableCatalog,
    dst: TableCatalog,
    max_retries: int = 10,
    members: set[str] | None = None,
    verbatim: bool = False,
) -> int:
    """Ship every not-yet-replicated primary commit to ``dst``, in order.

    Returns the number of commits applied (0 when the replica is already
    current). Raises :class:`ValueError` if the primary ledger carries
    duplicate op labels — replication's exactly-once contract needs one
    label per transaction (the pipeline verbs all tag uniquely; pass
    distinct ``op=`` to ad-hoc transactions you want replicated).

    ``members`` makes this a SELECTIVE follower (r12 (c)): only the named
    members are replayed — a serving replica that needs just
    ``corpus``+``token_counts`` ships a fraction of each commit's bytes.
    The subset is a property of the replica for its LIFETIME: shipped
    commits are ledgered whole, so widening the subset later will NOT
    backfill members those commits carried — stand up a new replica (or
    base-sync) to widen. The replica still advances commit-by-commit, so
    its members stay mutually consistent at every snapshot.

    ``verbatim=True`` (r13) switches to BACKUP-fidelity physical
    shipping: byte-copied data files under their original basenames,
    schema/stats/layout carried unchanged, and the merge-on-read delete
    vector shipped AS METADATA instead of being materialized away —
    the replica serves the unfolded view identically and folds locally
    to the primary's own physical state. Like ``members``, the mode is
    a LIFETIME property of the replica; see :func:`_stage_commit_verbatim`
    for the honest requirements (shared copyable namespace, no mixing
    with materializing passes).
    """
    hist = src.history()
    labels = [op for _, op in hist]
    dups = sorted({o for o in labels if labels.count(o) > 1})
    if dups:
        raise ValueError(
            f"primary catalog at {src.root} has duplicate op labels "
            f"{dups[:5]}; replication needs one unique label per commit"
        )
    done = dst.committed_ops()
    avail = {v for v, _ in hist}
    applied = 0
    # r14 (r13 advice): the verbatim-vs-materializing mode is a LIFETIME
    # property of the replica — one mode-mismatched pass onto an existing
    # replica silently breaks the file-identity invariant the shipped
    # delete-vector pairs rely on. Enforce it: a marker persisted in the
    # replica's ledger dir on first ship, checked on every later call.
    mode_name = "verbatim" if verbatim else "materializing"
    marker = os.path.join(dst.root, dst.ledger, "replication_mode.json")

    def _check_mode() -> None:
        """Raise if the replica's pinned mode contradicts this pass."""
        try:
            with open(marker) as f:
                recorded = json.load(f).get("mode")
        except FileNotFoundError:
            return
        if recorded != mode_name:
            raise ValueError(
                f"replica at {dst.root} was established with "
                f"{recorded!r} replication and cannot accept a "
                f"{mode_name!r} pass: the mode is a lifetime property of "
                f"the replica (mixing modes re-lays-out files under the "
                f"shipped delete vector's file-name-scoped pairs). Stand "
                f"up a new replica to switch modes."
            )

    def _pin_mode() -> None:
        """Atomically pin the mode (O_EXCL via link) AFTER the first
        commit lands (r14 advice: a crashed first ship must not pin the
        mode with zero shipped commits). Exactly one of two racing first
        passes creates the marker; the loser's next _check_mode raises."""
        import tempfile

        if os.path.exists(marker):
            return
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(marker), prefix=".replication_mode-"
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"mode": mode_name}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, marker)
            except FileExistsError:
                pass  # a racer pinned it; _check_mode judges next round
        finally:
            os.unlink(tmp)

    _check_mode()
    for v, op in hist:
        if op in done:
            continue
        if v > 0 and (v - 1) in avail:
            prev = src.snapshot(spark, v - 1)
        elif v == 0:
            prev = {}
        else:
            # predecessor truncated by a catalog checkpoint: diff is
            # impossible — base-sync this snapshot (correct from any
            # replica state), then continue diffing from here
            prev = None
        # Exactly-once payloads ride in ledger-gated sidecars, not in
        # member content — ship them BEFORE staging the commit (inert
        # until the replica's own ledger publishes the op); idempotent,
        # a resumed replication rewrites them. Two cases:
        # - a MERGE commit's sidecar carries the branch's op labels
        #   (sources/branches.py) — copied verbatim;
        # - a BASE-SYNC (prev=None) crosses the primary's truncation
        #   horizon, so every op label consolidated below it would
        #   otherwise never reach the replica ledger at all — a batch
        #   behind the horizon would then double-apply on a promoted
        #   replica. Ship the primary's full consolidated view as of
        #   this commit, gated on this commit's own op.
        payload: set[str] | None = None
        src_sidecar = os.path.join(
            src.root, src.ledger, "merge_ops", f"{op}.json"
        )
        if os.path.exists(src_sidecar):
            with open(src_sidecar) as f:
                payload = set(json.load(f))
        if prev is None:
            payload = (payload or set()) | src.ops_as_of(v)
        if payload is not None:
            dst.publish_gated_ops(op, payload)
        # re-check before EVERY stage (r14 advice): a racing pass in the
        # other mode that pinned the marker mid-loop must stop this one
        # before it stages another commit, not after the pass completes
        _check_mode()
        stage = _stage_commit_verbatim if verbatim else _stage_commit
        stage(
            spark,
            src,
            dst,
            prev,
            src.snapshot(spark, v),
            op,
            max_retries,
            members=members,
        )
        _pin_mode()  # first COMPLETED ship pins the replica's mode
        applied += 1
        done.add(op)
    return applied


def clone_catalog(
    spark: SparkSession,
    src: TableCatalog,
    dst: TableCatalog,
    version: int | None = None,
) -> int:
    """Materialize ``src`` AS OF one catalog version into a NEW catalog.

    The PITR / backup-restore verb (r12 (b)): one destination transaction
    overwrites every member from the versions the chosen catalog snapshot
    pins, so the clone is exactly the multi-table state a time-travel
    reader would see — restore-to-before-a-bad-batch without touching the
    primary. The clone starts a FRESH ledger (one ``clone-…`` commit) but
    CARRIES the primary's op-label view as of the cloned version (below),
    so :func:`replicate_catalog` sees commits ≤ v as already applied and
    resumes shipping from v+1 — a backup restore can be PROMOTED to a
    follower without a full base-sync (pinned). Replicating into a clone
    that took its OWN post-restore writes mixes timelines — keep
    restored-and-diverged catalogs off replication (that divergence is
    what branches are for).

    The clone CARRIES the exactly-once ledger view as of the cloned
    version (r12): ``TableCatalog.ops_as_of(v)`` lands in a sidecar
    GATED on the clone commit's own op label (written atomically before
    the commit; inert until the commit publishes — a crashed clone
    leaves a destination that still reads as truly empty, so a retried
    clone or a fresh follower base-sync cannot be silently poisoned by
    leftover labels). A restored catalog that forgot its op history
    would double-apply every pre-restore batch when the upstream
    at-least-once source resumes — while ops committed AFTER the
    restore point are deliberately NOT inherited, so re-delivering them
    re-applies them: that re-application is exactly what restoring to
    before a bad batch means.

    Refuses a non-empty destination loudly, and inherits the GC-horizon
    contract: if vacuum already reclaimed files the pinned snapshot
    needs, the clone refuses UP FRONT (member + version named) instead
    of dying mid-copy. Returns the destination catalog version.
    """
    v = src.version() if version is None else version
    pins = src.snapshot(spark, v)
    if not pins:
        raise ValueError(f"catalog at {src.root} has no snapshot v{v} to clone")
    if dst.snapshot(spark):
        raise ValueError(
            f"clone destination {dst.root} already has members; clones "
            "only materialize into an empty catalog"
        )
    carried_ops = src.ops_as_of(v)
    for name, (path, pin) in sorted(pins.items()):
        tbl = src.table(path)
        missing = [f for f in tbl.files(pin) if not os.path.exists(f)]
        if missing:
            raise FileNotFoundError(
                f"clone of member {name!r} at catalog v{v} needs "
                f"{len(missing)} data file(s) already reclaimed by vacuum "
                f"(below the GC horizon), e.g. {missing[0]}"
            )
    op = f"clone-v{v}"
    dst.publish_gated_ops(op, carried_ops)
    txn = dst.transaction(spark)
    for name, (path, pin) in sorted(pins.items()):
        if name == _MOR_VECTOR:
            # a clone materializes the LIVE view (below), so the vector
            # is already folded into what ships — and its file-name-
            # scoped pairs would be inert against the clone's fresh
            # files anyway (see module constants)
            continue
        man = src.table(path)._manifest(pin)
        txn.overwrite(
            name,
            _live_view(
                spark, src, pins, name, _read_member(spark, src.table(path), pin)
            ),
            op=op,
            stats_cols=_member_stats_cols(man),
        )
    return txn.commit(op=op)

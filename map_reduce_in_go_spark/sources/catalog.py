"""Multi-table ACID transactions over the manifest-log catalog pattern.

:class:`~.manifest_table.ManifestTable` gives single-table ACID commits.
This module layers reusable **multi-table transactions** on top of it —
member tables plus one *catalog* table whose snapshot pins exact member
versions. A real training-data pipeline needs them whenever two tables
must move together
(corpus + its band index, documents + their drop-list, inverted file +
centroids): a reader must never observe the corpus from commit N next to
an index from commit N-1.

Design (the public lakehouse recipe — Delta-paper log protocol underneath,
Iceberg/Nessie-style catalog pointer on top):

- **Member tables are plain ManifestTables.** Each keeps its own data
  files, manifest log, checkpoints, vacuum. Nothing about a member table
  changes; it can still be read/written standalone.
- **The catalog snapshot IS the transaction boundary.** The catalog is
  itself a ManifestTable whose rows are ``(name, path, version)`` — one
  row per member, pinning the exact member version belonging to this
  catalog snapshot. Readers resolve ONE catalog snapshot and then read
  each member **at its pinned version**, so every multi-table read is
  consistent by construction.
- **Transactions stage first, publish once.** ``Transaction.append/
  overwrite`` commit to the member tables immediately (those commits are
  real, durable, and per-table atomic) but the new versions stay
  *unreferenced* by the catalog until ``commit()`` CAS-publishes one new
  catalog snapshot pinning all of them. A crash mid-transaction leaves
  orphan member versions — invisible to catalog readers, reclaimable —
  and the catalog still points at the last fully-committed snapshot.
  This is exactly how an Iceberg catalog swap makes N table commits
  appear atomically.
- **Optimistic cross-table concurrency.** ``commit()`` uses the catalog's
  ``expected_version`` CAS: two racing transactions both stage, one wins
  the catalog swap, the loser raises :class:`CommitConflict` and must
  re-plan against the new snapshot (its staged member versions are
  orphans). Serializability across tables reduces to the single catalog
  version chain — the same reduction the IVF maintenance ops rely on.

Scale posture: the catalog holds O(#tables) metadata rows; member data
operations are distributed Spark jobs; the only driver-side critical
section is the one catalog log-file link. Snapshot readers pin versions,
so long jobs survive concurrent transactions untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .manifest_table import CommitConflict, ManifestTable

__all__ = ["TableCatalog", "Transaction", "CommitConflict"]


def atomic_json(path: str, obj) -> None:
    """Durably publish a JSON sidecar: temp file + fsync + ``os.replace``.

    Readers see the old content or the new content, never a truncated
    write. The ONE publisher for every sidecar in this package (fork /
    merge / clone / base-sync inheritance, fork.json) — the temp name
    keeps the ``.json`` suffix so a crash-orphaned temp inside a
    ``merge_ops`` dir is still listed by the readers (inert — its stem
    is never a ledgered op) and reclaimed by vacuum's sidecar GC once
    stale, instead of leaking forever."""
    import json as _json
    import uuid as _uuid

    tmp = os.path.join(
        os.path.dirname(path), f"_tmp_{_uuid.uuid4().hex}.json"
    )
    with open(tmp, "w") as f:
        _json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _sidecar_name(gate_op: str) -> str:
    """Filesystem-safe sidecar filename for an arbitrary op label.

    Gate ops come from USER-CHOSEN commit labels (any ``txn.commit(op=
    ...)`` can end up a base-sync gate on a replica), so the label must
    be encoded, not trusted: a '/' would escape the merge_ops dir or
    crash the rename, wedging the follower on every retry. URL-quoting
    with no safe chars beyond the default alnum+``_.-~`` is identity
    for every label this package mints (merge-*/branch-from-*/clone-*),
    so existing sidecars keep their names."""
    from urllib.parse import quote

    return quote(gate_op, safe="") + ".json"


def _sidecar_op(fname: str) -> str:
    from urllib.parse import unquote

    return unquote(fname[: -len(".json")])


class TableCatalog:
    """A set of ManifestTables published atomically via one catalog table."""

    def __init__(self, root: str, ledger: str = "_catalog") -> None:
        """``ledger`` names the catalog table's directory under ``root``.
        The default is the main timeline; zero-copy BRANCHES
        (sources/branches.py) are sibling ledgers (``_catalog@<name>``)
        over the SAME member tables — member data files are shared, only
        the (name, path, version) pin rows differ per timeline."""
        self.root = root
        self.ledger = ledger
        self._catalog = ManifestTable(os.path.join(root, ledger))

    def branch_ledgers(self) -> list[str]:
        """Ledger directory names of every branch in this root (not the
        main ``_catalog``). Maintenance verbs that delete member files or
        truncate member manifests must account for THEIR pins too."""
        import glob as _glob

        return sorted(
            os.path.basename(p)
            for p in _glob.glob(os.path.join(self.root, "_catalog@*"))
            if os.path.isdir(p)
        )

    # ------------------------------------------------------------ snapshots

    def version(self) -> int:
        """Newest catalog snapshot version; -1 if never committed."""
        return self._catalog.version()

    def snapshot(self, spark: SparkSession, version: int | None = None) -> dict[str, tuple[str, int]]:
        """``name -> (path, pinned member version)`` for one catalog snapshot.

        Loaded driver-side via pyarrow (O(#tables) rows) — resolving a
        snapshot is a metadata operation and must not cost a cluster job;
        a busy transaction resolves several per commit. ``spark`` is kept
        in the signature for API stability (member reads still need it).
        """
        v = self._catalog.version() if version is None else version
        if v < 0:
            return {}
        rows = self._catalog.read_arrow_rows(v)
        return {r["name"]: (r["path"], int(r["version"])) for r in rows}

    def table(self, name: str) -> ManifestTable:
        """The member table handle (standalone reads/maintenance).

        Member handles are built with ``checkpoint_interval=None``: a
        member's manifest log must never self-truncate, because the
        version a PUBLISHED catalog snapshot pins is often older than the
        member's newest chain entry (a racing transaction's staged commit,
        or orphans from conflict retries) — an auto-checkpoint landing on
        a member's 16th commit would delete the pinned manifest and break
        every published-snapshot read (r10 advice, high). The package
        never truncates a member log; :meth:`vacuum` skips a member whose
        log was truncated below a ledger's pin.
        """
        return ManifestTable(os.path.join(self.root, name), checkpoint_interval=None)

    def history(self) -> list[tuple[int, str]]:
        """Available ``(catalog version, op label)`` pairs, ascending.

        The transaction ledger as a WALKABLE sequence — what cross-catalog
        replication consumes. Only versions whose per-version manifest
        still exists are returned: catalog checkpoints truncate older
        manifests (op labels survive in the checkpoint, order and pins do
        not), so a replica that has fallen behind the truncation horizon
        must base-sync instead of diffing (sources/replicate.py).
        """
        out = []
        for v in self._catalog._versions():
            try:
                out.append((v, self._catalog._manifest(v)["op"]))
            except FileNotFoundError:
                continue  # concurrent checkpoint truncated it mid-walk
        return out

    def committed_ops(self) -> set[str]:
        """Op labels of every published catalog commit — the multi-table
        transaction ledger. A writer that tags ``commit(op=...)`` with its
        unit of work (e.g. a streaming batch id) checks membership here for
        replay detection; member-table ops don't count, because a staged
        member commit whose catalog publication never landed is an orphan,
        not a completed transaction.

        A BRANCH ledger additionally inherits the op labels its fork
        point had already committed (``inherited_ops.json``, written by
        ``create_branch``): exactly-once must survive the fork — a main
        batch replayed onto the branch is still a replay, or forking
        mid-stream would double-apply every pre-fork batch.

        The mirror image — a MERGE flowing the branch's op labels into
        main — is ledger-gated (r11 advice, medium): ``merge_branch``
        durably writes ``merge_ops/<merge-op>.json`` BEFORE its CAS, and
        this reader counts a sidecar only when its op label actually
        appears in the published ledger. A crash after the sidecar but
        before the CAS leaves the sidecar inert (never counted); a crash
        after the CAS finds it already durable — there is no ordering in
        which a merged batch can double-apply or an unmerged branch's
        labels can suppress main's own batches. Op labels survive the
        catalog's own checkpoints (the checkpoint consolidates them), so
        gated sidecars stay counted forever.

        The same gated mechanism carries the ledger view across EVERY
        timeline boundary (r12): fork (``branch-from-v*`` sidecar),
        merge (``merge-*``), PITR clone (``clone-v*``), and a
        replication base-sync across a truncated history horizon — one
        publication rule, one reader."""
        ledger_ops: set[str] = (
            self._catalog.committed_ops()
            if self._catalog.version() >= 0
            else set()
        )
        return self._legacy_inherited() | self._gated_ops(ledger_ops) | ledger_ops

    def _legacy_inherited(self) -> set[str]:
        """Pre-r12 ``inherited_ops.json`` (ungated) — read for backward
        compatibility with catalogs written before the gated sidecars."""
        import json as _json

        sidecar = os.path.join(self.root, self.ledger, "inherited_ops.json")
        if not os.path.exists(sidecar):
            return set()
        with open(sidecar) as f:
            return set(_json.load(f))

    def _gated_ops(self, ledger_ops: set[str]) -> set[str]:
        """Union of op-label sidecars whose gate op is actually in
        ``ledger_ops`` — pending/lost sidecars stay inert."""
        import json as _json

        out: set[str] = set()
        merge_dir = os.path.join(self.root, self.ledger, "merge_ops")
        if os.path.isdir(merge_dir):
            for fn in sorted(os.listdir(merge_dir)):
                if not fn.endswith(".json"):
                    continue
                if _sidecar_op(fn) not in ledger_ops:
                    continue
                try:
                    with open(os.path.join(merge_dir, fn)) as f:
                        out |= set(_json.load(f))
                except FileNotFoundError:
                    continue  # concurrent vacuum reclaimed a stale one
        return out

    def publish_gated_ops(self, gate_op: str, ops) -> None:
        """Durably stage an op-label inheritance sidecar for ``gate_op``
        (atomic temp+fsync+rename, filename-encoded for arbitrary op
        labels). Write BEFORE publishing the gating commit: the sidecar
        is inert until ``gate_op`` is in the ledger, so no crash
        ordering can double-apply or falsely suppress."""
        merge_dir = os.path.join(self.root, self.ledger, "merge_ops")
        os.makedirs(merge_dir, exist_ok=True)
        atomic_json(
            os.path.join(merge_dir, _sidecar_name(gate_op)), sorted(ops)
        )

    def ops_as_of(self, version: int) -> set[str]:
        """The exactly-once ledger view AS OF one catalog version: every
        op label committed at or before ``version``, plus inherited and
        ledger-gated merged labels (which are all ≤ the fork/merge point
        and therefore ≤ any version that can see them).

        This is what a PITR clone must carry (sources/replicate.py): a
        restored catalog that forgot its op history would double-apply
        every pre-restore batch the upstream at-least-once source
        re-delivers. Raises ``ValueError`` when the ledger's own
        checkpoint consolidated op labels PAST ``version`` — the set
        "ops ≤ version" is then unrecoverable (the checkpoint mixes
        later labels in), and both an over-approximation (suppresses
        re-delivery of post-restore batches → data loss) and an
        under-approximation (double-applies) are wrong. In practice the
        snapshot manifest for such a version is usually truncated too,
        so the read refuses first.
        """
        ledger_ops = {op for ver, op in self.history() if ver <= version}
        cv, cdata = self._catalog._latest_checkpoint()
        if cdata is not None:
            if cv > version:
                raise ValueError(
                    f"op history at {self.root} was consolidated at "
                    f"v{cv} > v{version}; the exactly-once ledger as of "
                    f"v{version} is unrecoverable — clone/restore at "
                    f"v{cv} or newer, or retain more history"
                )
            ledger_ops |= set(cdata["ops"])
        return self._legacy_inherited() | self._gated_ops(ledger_ops) | ledger_ops

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read member ``name`` at the version pinned by a catalog snapshot.

        ``version`` is the CATALOG snapshot version (default newest) — two
        ``read`` calls against the same snapshot are mutually consistent
        even while transactions land concurrently.
        """
        snap = self.snapshot(spark, version)
        if name not in snap:
            raise KeyError(f"table {name!r} not in catalog snapshot at {self.root}")
        path, pinned = snap[name]
        return ManifestTable(
            os.path.join(self.root, path), checkpoint_interval=None
        ).read(spark, version=pinned, merge_schema=merge_schema)

    # ---------------------------------------------------------- maintenance

    def vacuum(self, spark: SparkSession, retain_seconds: float = 3600.0) -> int:
        """Vacuum every member with the published snapshot's files protected.

        A member's newest chain entry can be a racing transaction's staged
        (unpublished) commit — after a staged OVERWRITE, the files the
        catalog actually serves are absent from the member's newest
        manifest, and a bare ``ManifestTable.vacuum`` would delete them.
        This verb passes each member's catalog-pinned file set as
        ``extra_live``, so published snapshots stay intact while true
        orphans (failed transactions past the retention horizon) are
        reclaimed. Returns total files removed.
        """
        removed = 0
        # BRANCH pins are live too: sibling ledgers share these member
        # tables, so their pinned files must survive main's GC (and vice
        # versa) — a branch is zero-copy precisely because the data files
        # have one owner, the root
        peer_pins: dict[str, set[int]] = {}
        for led in self.branch_ledgers() + (
            ["_catalog"] if self.ledger != "_catalog" else []
        ):
            if led == self.ledger:
                continue
            peer = TableCatalog(self.root, ledger=led)
            for _n, (p, v) in peer.snapshot(spark).items():
                peer_pins.setdefault(p, set()).add(v)
        snap = self.snapshot(spark)
        for name, (path, pinned) in snap.items():
            tbl = ManifestTable(
                os.path.join(self.root, path), checkpoint_interval=None
            )
            pinned_files = {os.path.basename(p) for p in tbl.files(pinned)}
            unresolvable = []
            for v in peer_pins.get(path, ()):
                try:
                    pinned_files |= {os.path.basename(p) for p in tbl.files(v)}
                except FileNotFoundError:
                    unresolvable.append(v)
            if unresolvable:
                # a peer ledger (branch or main) pins a version whose
                # manifest this member's log no longer holds, so its file
                # set CANNOT be added to the live set — vacuuming anyway
                # could delete data that branch still serves, breaking its
                # reads with no warning (r11 advice, low). Skip this
                # member and say so; the package never truncates member
                # logs, so this state means one was truncated by hand —
                # worth a human look, not a silent data loss.
                import warnings

                warnings.warn(
                    f"vacuum skipped member {name!r} at {self.root}: peer "
                    f"ledger pin(s) v{sorted(unresolvable)} have no "
                    "manifest in the member log, so their live file set "
                    "cannot be protected",
                    RuntimeWarning,
                    stacklevel=2,
                )
                continue
            removed += tbl.vacuum(retain_seconds, extra_live=pinned_files)
        # stale op-inheritance sidecars: a CAS-losing (or crashed) merge/
        # clone/base-sync leaves an inert merge_ops/<op>.json (never
        # counted — its gate op never published). Reclaim old ones;
        # LEDGERED sidecars are permanent (they ARE the inherited
        # exactly-once state). Two guards against an IN-FLIGHT publisher
        # (sidecar written, CAS landing concurrently): the age floor —
        # a publisher's sidecar→CAS gap is milliseconds, never an hour,
        # so even retain_seconds=0.0 keeps anything younger — and a
        # ledger re-read AFTER the candidate listing, so a CAS that
        # landed while we walked is seen before any unlink.
        import time as _time

        merge_dir = os.path.join(self.root, self.ledger, "merge_ops")
        if os.path.isdir(merge_dir):
            cutoff = _time.time() - max(retain_seconds, 3600.0)
            candidates = []
            for fn in os.listdir(merge_dir):
                if not fn.endswith(".json"):
                    continue
                path = os.path.join(merge_dir, fn)
                try:
                    if os.path.getmtime(path) <= cutoff:
                        candidates.append((_sidecar_op(fn), path))
                except FileNotFoundError:
                    pass  # a concurrent vacuum got it
            if candidates:
                ledgered = (
                    self._catalog.committed_ops()
                    if self._catalog.version() >= 0
                    else set()
                )
                for op, path in candidates:
                    if op in ledgered:
                        continue
                    try:
                        os.unlink(path)
                        removed += 1
                    except FileNotFoundError:
                        pass
        return removed

    # ------------------------------------------------------- writer leases

    def acquire_app_id(self, app_id: str, token: str | None = None) -> str:
        """Claim exclusive ownership of ``app_id``'s op-label namespace.

        The exactly-once ledger keys on op labels like
        ``<app_id>-batch-<id>``; two writer PROCESSES that accidentally
        share an ``app_id`` would silently alias each other's batch ids
        as replays (writer B's batch 3 reads as a replay of writer A's
        batch 3 and is dropped). This verb makes that collision LOUD:
        the first acquirer publishes ``_writers/<app_id>.json`` holding a
        per-writer token (atomically — ``O_EXCL`` + link, the same
        exactly-one-winner rule as log commits); a second writer with a
        DIFFERENT token gets a :class:`RuntimeError` naming the holder
        instead of a silent replay-drop. Passing the stored token back
        reacquires after a restart (the token is the writer's durable
        identity — persist it next to the stream checkpoint). Returns
        the token. (r10 verdict #4 — multi-writer namespacing.)
        """
        import uuid

        token = token or uuid.uuid4().hex
        lease_dir = os.path.join(self.root, "_writers")
        os.makedirs(lease_dir, exist_ok=True)
        path = os.path.join(lease_dir, f"{app_id}.json")
        import json

        payload = json.dumps({"app_id": app_id, "token": token})
        tmp = os.path.join(lease_dir, f"_tmp_{uuid.uuid4().hex}")
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)
                return token
            except FileExistsError:
                pass
        finally:
            os.unlink(tmp)
        with open(path) as f:
            held = json.load(f)["token"]
        if held == token:
            return token  # same writer reacquiring (restart)
        raise RuntimeError(
            f"app_id {app_id!r} at {self.root} is already leased by another "
            f"writer; two writers sharing an app_id would alias each "
            f"other's batch op labels as replays. Pick a distinct app_id, "
            f"or pass the original writer's token to take over."
        )

    def check_app_id(self, app_id: str, token: str) -> None:
        """Raise unless ``token`` currently holds ``app_id``'s lease."""
        import json

        path = os.path.join(self.root, "_writers", f"{app_id}.json")
        try:
            with open(path) as f:
                held = json.load(f)["token"]
        except FileNotFoundError:
            raise RuntimeError(
                f"app_id {app_id!r} at {self.root} has no lease; call "
                f"acquire_app_id before committing under it"
            ) from None
        if held != token:
            raise RuntimeError(
                f"app_id {app_id!r} at {self.root} is leased by another "
                f"writer; refusing to mint op labels under it"
            )

    # --------------------------------------------------------- transactions

    def transaction(self, spark: SparkSession) -> "Transaction":
        """Start a transaction against the CURRENT catalog snapshot."""
        return Transaction(self, spark)

    _CATALOG_SCHEMA_JSON = StructType(
        [
            StructField("name", StringType(), True),
            StructField("path", StringType(), True),
            StructField("version", LongType(), True),
        ]
    ).json()

    def _publish(
        self,
        spark: SparkSession,
        pins: dict[str, tuple[str, int]],
        expected_version: int,
        op: str,
    ) -> int:
        # driver-side publish (no Spark job): the catalog pointer is
        # O(#tables) rows, and the commit critical section should be
        # milliseconds — member DATA moves through Spark, the log doesn't
        import pyarrow as pa

        items = sorted(pins.items())
        table = pa.table(
            {
                "name": [n for n, _ in items],
                "path": [p for _, (p, _v) in items],
                "version": [int(v) for _, (_p, v) in items],
            },
            schema=pa.schema(
                [
                    ("name", pa.string()),
                    ("path", pa.string()),
                    ("version", pa.int64()),
                ]
            ),
        )
        return self._catalog.overwrite_arrow(
            table,
            self._CATALOG_SCHEMA_JSON,
            op=op,
            expected_version=expected_version,
        )


class Transaction:
    """Stage member-table writes; publish them in one catalog CAS commit.

    Usage::

        txn = catalog.transaction(spark)
        txn.append("documents", new_docs)
        txn.overwrite("band_index", rebuilt_index)
        txn.commit()          # all-or-nothing at the catalog level

    Reads inside the transaction (:meth:`read`) see the base snapshot plus
    this transaction's own staged writes (read-your-writes), never another
    in-flight transaction's.
    """

    def __init__(self, catalog: TableCatalog, spark: SparkSession) -> None:
        self._cat = catalog
        self._spark = spark
        self.base_version = catalog.version()
        self._base = catalog.snapshot(spark, self.base_version)
        # name -> (path, staged member version) overriding the base pins
        self._staged: dict[str, tuple[str, int]] = {}
        self._dropped: set[str] = set()
        self._committed: int | None = None

    # ------------------------------------------------------------- staging

    def _member(
        self, name: str, stats_cols: list[str] | None = None
    ) -> tuple[ManifestTable, str, int]:
        path, pinned = self._staged.get(name, self._base.get(name, (name, -1)))
        # checkpoint_interval=None: a staged commit landing a member's
        # auto-checkpoint boundary would truncate the manifest the
        # PUBLISHED catalog pins (staged chain entries sit above the pin),
        # breaking published reads — the package never truncates member
        # logs (r10 advice, high)
        return (
            ManifestTable(
                os.path.join(self._cat.root, path),
                checkpoint_interval=None,
                stats_cols=stats_cols,
            ),
            path,
            pinned,
        )

    def append(
        self,
        name: str,
        df: DataFrame,
        op: str = "txn-stage-append",
        stats_cols: list[str] | None = None,
    ) -> int:
        """Stage an append to member ``name`` (created if new).

        The member-table commit happens now (durable, per-table atomic);
        catalog visibility waits for :meth:`commit`. ``op`` labels the
        member commit for :meth:`ManifestTable.committed_ops` replay checks.
        The append unions with this transaction's pinned view of the member
        (``base_version``), NOT the member's latest chain entry — so a
        racing transaction's staged-but-unpublished files can never leak
        into this transaction's committed content. Appending to a member
        DROPPED earlier in this transaction re-creates it fresh (DROP then
        INSERT semantics) rather than resurrecting the base content.
        ``stats_cols`` records per-file [min, max] for those columns in
        the member manifest at commit time (data skipping for later
        pruned probes — a per-write choice, like Delta's indexed cols).
        """
        self._check_open()
        if name in self._dropped:
            self._dropped.discard(name)
            tbl = ManifestTable(
                os.path.join(self._cat.root, name),
                checkpoint_interval=None,
                stats_cols=stats_cols,
            )
            v = tbl.append(df, op=op, base_version=-1)
            self._staged[name] = (name, v)
            return v
        tbl, path, pinned = self._member(name, stats_cols)
        # pinned == -1 (member new in this txn) unions with nothing — a
        # concurrent creator's staged files must not leak in either.
        v = tbl.append(df, op=op, base_version=pinned)
        self._staged[name] = (path, v)
        return v

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        op: str = "txn-stage-overwrite",
        stats_cols: list[str] | None = None,
    ) -> int:
        """Stage a full replace of member ``name`` (created if new)."""
        self._check_open()
        self._dropped.discard(name)
        tbl, path, _pinned = self._member(name, stats_cols)
        v = tbl.overwrite(df, op=op)
        self._staged[name] = (path, v)
        return v

    def adopt_snapshot(
        self,
        name: str,
        src_tbl: "ManifestTable",
        src_version: int,
        op: str = "txn-stage-adopt",
    ) -> int:
        """Stage a VERBATIM physical replace of member ``name`` from one
        source-table snapshot (:meth:`ManifestTable.adopt_snapshot`):
        byte-copied files under their original basenames, source schema
        and stats carried unchanged. The backup-replication staging verb
        (r13) — file identity survives, so file-name-scoped metadata
        (MOR delete-vector pairs) stays valid on this catalog."""
        self._check_open()
        self._dropped.discard(name)
        tbl, path, _pinned = self._member(name)
        v = tbl.adopt_snapshot(
            src_tbl._data_dir, src_tbl._manifest(src_version), op=op
        )
        self._staged[name] = (path, v)
        return v

    def files_pruned_in(
        self, name: str, col: str, values
    ) -> tuple[list[str], int]:
        """(files possibly holding a probe value, total files) for member
        ``name`` at this transaction's pinned view — the targeting half of
        a file-granular rewrite (:meth:`replace_files`)."""
        self._check_open()
        tbl, _path, pinned = self._member(name)
        if pinned < 0:
            raise KeyError(f"member {name!r} not in this transaction's view")
        return tbl.files_pruned_in(col, values, version=pinned)

    def files(self, name: str) -> list[str]:
        """Full data-file paths of member ``name`` at this transaction's
        read-your-writes view (staged version if written, else base pin) —
        the targeting companion to :meth:`replace_files` when the caller
        already knows WHICH file names it must rewrite (e.g. a merge-on-
        read delete vector's recorded files) rather than probing by key."""
        self._check_open()
        tbl, _path, pinned = self._member(name)
        if pinned < 0:
            raise KeyError(f"member {name!r} not in this transaction's view")
        return tbl.files(pinned)

    def replace_files(
        self,
        name: str,
        remove: list[str],
        df: DataFrame | None,
        op: str = "txn-stage-replace",
        stats_cols: list[str] | None = None,
    ) -> int:
        """Stage a copy-on-write rewrite of a file subset of ``name``:
        pinned content − ``remove`` + files written from ``df`` (None =
        pure delete). Untouched files survive by reference — the MERGE/
        DELETE file-granularity verb; pair with :meth:`files_pruned_in`
        to target only the files whose stats admit the affected keys."""
        self._check_open()
        tbl, path, pinned = self._member(name, stats_cols)
        if pinned < 0:
            raise KeyError(
                f"member {name!r} not in this transaction's view; "
                "replace_files rewrites existing content only"
            )
        v = tbl.replace_files(remove, df, op=op, base_version=pinned)
        self._staged[name] = (path, v)
        return v

    def drop(self, name: str) -> None:
        """Stage removal of member ``name`` from the catalog (DROP TABLE).

        The member's data and manifest log stay on disk — snapshot readers
        holding an older catalog keep reading it; the files age out of
        :meth:`TableCatalog.vacuum`'s protection once no published snapshot
        pins them. Dropping a member staged in this same transaction
        un-stages it (its staged commit becomes an orphan).
        """
        self._check_open()
        if name not in self._staged and name not in self._base:
            raise KeyError(f"table {name!r} in neither base snapshot nor staged writes")
        self._staged.pop(name, None)
        self._dropped.add(name)

    def read(self, name: str, merge_schema: bool = False) -> DataFrame:
        """Read-your-writes view: staged version if written, else base pin.

        ``merge_schema=True`` unions schemas across the version's files.
        Any FULL-MEMBER REWRITE (compaction, retraction's anti-join, an
        upsert) must read this way: the default pinned schema is the
        NEWEST append's, and when an earlier batch carried more columns
        (additive evolution) a pinned-schema rewrite would silently drop
        those columns' data for good (r10 advice, medium).
        """
        self._check_open()
        if name in self._dropped:
            raise KeyError(f"table {name!r} dropped in this transaction")
        if name in self._staged:
            path, v = self._staged[name]
        elif name in self._base:
            path, v = self._base[name]
        else:
            raise KeyError(f"table {name!r} in neither base snapshot nor staged writes")
        return ManifestTable(
            os.path.join(self._cat.root, path), checkpoint_interval=None
        ).read(self._spark, version=v, merge_schema=merge_schema)

    # ------------------------------------------------------------- publish

    def commit(self, op: str = "txn", force: bool = False) -> int:
        """CAS-publish one catalog snapshot pinning base + staged versions.

        Raises :class:`CommitConflict` if another transaction advanced the
        catalog since this one started — the staged member versions become
        orphans (invisible to catalog readers; their data files age out of
        member vacuums), and the caller re-plans against the new snapshot.
        Returns the new catalog version.

        A transaction with nothing staged normally short-circuits WITHOUT
        publishing (no ledger entry). ``force=True`` publishes the base
        pins anyway so ``op`` lands in the ledger — replication uses this
        to record a shipped commit whose member content happened to be a
        no-op, keeping replay detection exact.
        """
        self._check_open()
        if not self._staged and not self._dropped and not force:
            self._committed = self.base_version
            return self.base_version
        pins = dict(self._base)
        pins.update(self._staged)
        for name in self._dropped:
            pins.pop(name, None)
        v = self._cat._publish(
            self._spark, pins, expected_version=self.base_version, op=op
        )
        self._committed = v
        return v

    def _check_open(self) -> None:
        if self._committed is not None:
            raise RuntimeError("transaction already committed")

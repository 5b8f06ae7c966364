"""Zero-copy catalog branches with fast-forward merge (r11).

The Nessie/Iceberg-branch posture over :class:`~.catalog.TableCatalog`:
a BRANCH is a sibling catalog LEDGER (``_catalog@<name>`` under the same
root) whose first commit copies the main timeline's pin rows — O(#tables)
metadata, zero data movement. Branch writers run ordinary transactions:
member tables are shared append-only manifest logs, so branch commits
mint new member versions that main simply never references (and vice
versa); isolation falls out of version pinning, the same way racing
transactions already isolate. GC was taught to protect EVERY ledger's
pins (catalog.py vacuum), and member logs are never truncated, which is
what makes the zero-copy share safe.

Merge is FAST-FORWARD ONLY and says so: if main has not moved past the
fork point, one CAS republishes the branch's pins onto main; if main
moved, :func:`merge_branch` refuses with the per-member divergence
(which members each side touched) rather than inventing a 3-way member
merge — for additive members a union-merge is plausible future work, but
a wrong merge is worse than a loud refusal.

Writer identity: ``acquire_app_id`` leases are ROOT-scoped on purpose.
Op labels cross timelines (a branch inherits main's committed ops; a
merge flows the branch's back), so a main writer and a branch writer
sharing an ``app_id`` could silently alias each other's batch ids as
replays across the fork — give each experiment its own ``app_id`` and
the root-level lease makes any collision loud.

Reference parity: none — the reference engine has no catalogs. This
extends the repo's lakehouse arc (transactions → replication → PITR
clone → time travel → branches).

At 100 TB: creating a branch writes one parquet file of pin rows;
experiments write only their own deltas; merge publishes one manifest.
Nothing is ever copied because a timeline is just a pointer table.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import SparkSession

from .catalog import CommitConflict, TableCatalog, atomic_json

__all__ = [
    "branch",
    "branch_divergence",
    "create_branch",
    "fork_point",
    "merge_branch",
]

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")
_FORK_RE = re.compile(r"^branch-from-v(\d+)$")


# one atomic sidecar publisher for the whole package (catalog.py) —
# two drifting copies of a durability-critical write protocol is how
# the r12 review's tmp-leak finding happened
_atomic_json = atomic_json


def _ledger(name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(
            f"invalid branch name {name!r}: use [A-Za-z0-9._-], start "
            "alphanumeric, max 64 chars"
        )
    return f"_catalog@{name}"


def branch(cat: TableCatalog, name: str) -> TableCatalog:
    """Handle for branch ``name`` of ``cat``'s root (same member tables,
    its own ledger). Works for reads and ordinary transactions alike."""
    return TableCatalog(cat.root, ledger=_ledger(name))


def create_branch(
    spark: SparkSession, cat: TableCatalog, name: str
) -> TableCatalog:
    """Fork the CURRENT snapshot of ``cat`` into a new branch — one
    metadata commit, zero data copied.

    The fork point (main's catalog version) is recorded in the branch's
    first op label; :func:`merge_branch` uses it for the fast-forward
    check. Refuses an existing branch and an empty main (there is no
    snapshot to fork)."""
    if cat.ledger != "_catalog":
        raise ValueError(
            "branches fork from the main timeline only; nested branching "
            f"from {cat.ledger!r} would make merge provenance ambiguous"
        )
    v = cat.version()
    if v < 0:
        raise ValueError(f"catalog at {cat.root} has no snapshot to branch")
    br = branch(cat, name)
    if br.version() >= 0:
        raise ValueError(f"branch {name!r} already exists at {cat.root}")
    pins = cat.snapshot(spark, v)
    # exactly-once must survive the fork: the branch inherits every op
    # label main had committed, so a pre-fork batch replayed onto the
    # branch is detected as a replay (see TableCatalog.committed_ops).
    # The inheritance is a LEDGER-GATED sidecar on the branch-from op,
    # published atomically BEFORE the CAS: a crashed create leaves an
    # unpublished ledger whose sidecars are inert (the branch does not
    # exist, and committed_ops counts nothing), and a re-create simply
    # overwrites them; racing creators are decided by the
    # expected_version=-1 CAS below, exactly one wins.
    os.makedirs(os.path.join(cat.root, br.ledger), exist_ok=True)
    op = f"branch-from-v{v}"
    br.publish_gated_ops(op, cat.committed_ops())
    # the fork version also lives in a sidecar: the branch ledger's own
    # checkpoints may truncate the branch-from manifest's op label
    _atomic_json(
        os.path.join(cat.root, br.ledger, "fork.json"), {"fork_version": v}
    )
    br._publish(spark, pins, expected_version=-1, op=op)
    return br


def fork_point(br: TableCatalog) -> int:
    """Main-catalog version this branch forked from (the ``fork.json``
    sidecar, falling back to the first commit's op label for ledgers
    predating it).

    When BOTH witnesses are resolvable they are cross-checked: the
    sidecar is a mutable file, the ledger op label is CAS-published —
    a disagreement (e.g. two racing ``create_branch`` calls where the
    sidecar loser won the ledger) means the branch's provenance is
    ambiguous, and a merge keyed on the wrong fork version could
    fast-forward over main commits the branch never saw. Loud beats
    wrong."""
    sidecar = os.path.join(br.root, br.ledger, "fork.json")
    sidecar_v: int | None = None
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            sidecar_v = int(json.load(f)["fork_version"])
    # the ledger witness is the OLDEST surviving manifest's op — read
    # just that one file, not the whole history (a long-lived branch has
    # hundreds of manifests and this verb is on every merge/list path)
    first_op: str | None = None
    versions = br._catalog._versions()
    for v0 in versions:  # ascending; tolerate a concurrent checkpoint
        try:
            first_op = br._catalog._manifest(v0)["op"]
            break
        except FileNotFoundError:
            continue
    ledger_v: int | None = None
    if first_op is not None:
        m = _FORK_RE.match(first_op)
        # after a branch-ledger checkpoint the branch-from commit's
        # manifest may be truncated — then only the sidecar witnesses
        # the fork point, which is why it exists
        if m:
            ledger_v = int(m.group(1))
    if sidecar_v is not None and ledger_v is not None and sidecar_v != ledger_v:
        raise RuntimeError(
            f"branch {br.ledger!r} at {br.root} has conflicting fork "
            f"witnesses: fork.json says v{sidecar_v}, ledger op "
            f"{first_op!r} says v{ledger_v}; refusing to merge an "
            "ambiguous fork point (racing create_branch calls?)"
        )
    if sidecar_v is not None:
        return sidecar_v
    if first_op is None:
        raise ValueError(f"no branch ledger at {br.root}/{br.ledger}")
    if ledger_v is None:
        raise ValueError(
            f"ledger {br.ledger!r} does not start with a branch-from "
            f"commit (op {first_op!r}); not a branch?"
        )
    return ledger_v


def branch_divergence(
    spark: SparkSession, cat: TableCatalog, name: str
) -> dict[str, list[str]]:
    """Which members each side changed since the fork point.

    ``{"main": [...], "branch": [...]}`` — empty "main" means the merge
    can fast-forward. Comparison is by PIN (path, version), the same
    identity the catalog itself serves by."""
    br = branch(cat, name)
    fork_v = fork_point(br)
    try:
        base = cat.snapshot(spark, fork_v)
    except FileNotFoundError:
        # main's ledger auto-checkpoints every 16 commits and truncates
        # older manifests; a branch older than that horizon has no
        # fork-version snapshot to diff against. Refuse with the verb's
        # own contract exception instead of leaking a FileNotFoundError
        # out of merge_branch's refusal path (r11 advice, low).
        raise CommitConflict(
            f"branch {name!r} forked at main v{fork_v}, which is below "
            f"the catalog ledger's retention horizon (its manifest was "
            "truncated by a checkpoint); per-member divergence cannot be "
            "computed. Re-branch from current main and replay the "
            "experiment."
        ) from None
    main_now = cat.snapshot(spark)
    br_now = br.snapshot(spark)

    def _changed(now: dict) -> list[str]:
        names = set(base) | set(now)
        return sorted(n for n in names if base.get(n) != now.get(n))

    return {"main": _changed(main_now), "branch": _changed(br_now)}


def merge_branch(
    spark: SparkSession, cat: TableCatalog, name: str
) -> int:
    """Fast-forward ``cat`` (main) to branch ``name``'s snapshot.

    One CAS at the fork version: if main has not committed since the
    fork, its pointer table simply becomes the branch's pins (all of the
    branch's member versions are already durable — merge publishes, it
    does not move data). If main moved, refuses with the per-member
    divergence on BOTH sides; re-branch from the new main and replay the
    experiment, or resolve main's commits first. Returns the new main
    version. The branch ledger is left intact (it keeps working as a
    read handle; drop it explicitly).

    Exactly-once survives the merge CRASH-SAFELY (r11 advice, medium):
    the branch's batch op labels are durably published to
    ``merge_ops/<merge-op>.json`` in main's ledger dir — atomic
    temp+fsync+rename — BEFORE the CAS, and ``committed_ops`` counts
    that sidecar only once the merge op label is actually in the
    published ledger. Crash between sidecar and CAS: the merge never
    happened and the sidecar is inert. Crash after the CAS: the sidecar
    is already durable, so a merged batch replayed on main is a ledger
    no-op, never a double-apply. A racing CAS loser's sidecar stays
    inert the same way (its op label never publishes)."""
    br = branch(cat, name)
    fork_v = fork_point(br)
    if cat.version() != fork_v:
        div = branch_divergence(spark, cat, name)
        raise CommitConflict(
            f"cannot fast-forward: main advanced v{fork_v} → "
            f"v{cat.version()} since branch {name!r} forked; members "
            f"touched — main: {div['main'] or '[]'}, branch: "
            f"{div['branch'] or '[]'}. Re-branch from the new main and "
            "replay, or resolve main's commits first."
        )
    pins = br.snapshot(spark)
    # the fork version makes the label unique across drop/re-create of the
    # same branch name: a successful merge always advances main, so a
    # later namesake branch forks at a strictly newer version — without
    # it, "merge-exp-v1" could mint twice and break replication's
    # one-unique-label-per-commit contract (the gated sidecar itself is
    # safe either way: inheritance is transitive, so a re-written sidecar
    # always contains the earlier merge's op set)
    op = f"merge-{name}-v{br.version()}-from-v{fork_v}"
    cat.publish_gated_ops(op, br.committed_ops())
    return cat._publish(spark, pins, expected_version=fork_v, op=op)

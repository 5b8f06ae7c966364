"""A minimal manifest-log parquet table: ACID appends without Delta/Iceberg.

The durable band index (operators/dedup.py ``build_band_index``) ships as
plain ``mode("append")`` parquet, which is the right layout but the wrong
commit protocol at 100 TB: directory-listing readers see half-written
files, two writers clobber each other's part files, and nothing ever
compacts or dedups re-appended rows. Real deployments reach for
Delta/Iceberg; this module implements the *public* core of that protocol —
the transaction-log design described in the Delta Lake paper (Armbrust et
al., VLDB 2020) — with no dependencies, so the repo's incremental-dedup
story is commit-safe end-to-end even where those libs aren't installed:

- **Data files are immutable.** Every write lands under ``data/`` with a
  unique name; nothing is ever modified in place.
- **The table state IS the newest manifest.** ``_manifests/v<N>.json``
  lists the exact data files that make up version N. Readers list
  manifests, pick max N, and read precisely those files — a half-written
  data file is invisible because no committed manifest references it.
- **Commits are atomic + optimistic.** A writer computes its new file
  list, then creates ``v<N+1>.json`` with ``O_CREAT | O_EXCL``. POSIX
  guarantees exactly one winner per version; the loser re-reads the new
  state and retries on top of it (bounded attempts), exactly the
  mutual-exclusion-per-version rule Delta's log uses.
- **Snapshots are free.** A ``read()`` DataFrame holds its manifest's file
  list, so a long-running job keeps a consistent view while appends land;
  superseded files are kept until an explicit ``vacuum()``.
- **Compaction is just another commit.** ``compact()`` rewrites the live
  rows (deduped) into fresh files and commits a manifest that swaps the
  whole file list — readers flip atomically from the old layout to the new.

Scale posture: the manifest holds file *names*, not row data — at 100 TB
it is KB-to-MB of JSON, and every data operation (append, compact, read)
is a distributed Spark job; only the commit itself is a driver-side rename.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Past this many distinct probe keys point-set pruning buys nothing: a
# probe set that large touches essentially every file of any real table,
# and the driver holds every key while it prunes.
MAX_PROBE_KEYS = 100_000

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")
_CHECKPOINT_RE = re.compile(r"^checkpoint-v(\d+)\.json$")


class CommitConflict(RuntimeError):
    """Another writer committed this version first (after all retries)."""


class ManifestTable:
    """Parquet table with a JSON manifest log (see module docstring)."""

    def __init__(
        self,
        root: str,
        checkpoint_interval: int | None = 16,
        stats_cols: list[str] | None = None,
    ) -> None:
        self.root = root
        self._data_dir = os.path.join(root, "data")
        self._log_dir = os.path.join(root, "_manifests")
        # Every N commits, consolidate op history into a checkpoint manifest
        # and truncate older per-version manifests so log listing stays O(1)
        # at high commit counts (the Delta-paper checkpoint idea). None
        # disables auto-checkpointing; checkpoint() can still be called.
        self.checkpoint_interval = checkpoint_interval
        # Data-skipping stats: per-file [min, max] recorded in the manifest
        # at commit time for these columns (Delta's per-file stats /
        # dataSkippingNumIndexedCols design — bounded so manifests stay KB).
        # read_pruned_in() then skips whole files whose range holds no
        # probe key — the reader-side half of the lakehouse skipping story.
        self.stats_cols = list(stats_cols) if stats_cols else []

    # ------------------------------------------------------------- log I/O

    def _versions(self) -> list[int]:
        try:
            names = os.listdir(self._log_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(m.group(1)) for n in names if (m := _MANIFEST_RE.match(n))
        )

    def version(self) -> int:
        """Newest committed version; -1 for an empty/uninitialized table."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._log_dir, f"v{version}.json")) as f:
            return json.load(f)

    def files(self, version: int | None = None) -> list[str]:
        """Absolute data-file paths making up ``version`` (default newest)."""
        v = self.version() if version is None else version
        if v < 0:
            return []
        return [
            os.path.join(self._data_dir, name)
            for name in self._manifest(v)["files"]
        ]

    def _publish_log_file(self, name: str, payload: str) -> bool:
        """Make ``name`` appear in the log fully written, or not at all.

        The payload is written (and fsynced) to a temp file first, then
        ``os.link``ed to the final name: link fails with FileExistsError if
        the name exists, preserving the exactly-one-winner-per-version
        property of O_EXCL, while the winning file is visible to readers
        only with its complete content — a reader can never ``json.load`` a
        half-written manifest, and a crash mid-write leaves only an inert
        temp file (cleaned opportunistically), never a wedged empty
        v<N>.json. This is the atomic-publication rule of Delta's log.
        """
        os.makedirs(self._log_dir, exist_ok=True)
        tmp = os.path.join(self._log_dir, f"_tmp_{uuid.uuid4().hex}")
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, os.path.join(self._log_dir, name))
            except FileExistsError:
                return False
            return True
        finally:
            os.unlink(tmp)

    def _try_commit(
        self,
        version: int,
        files: list[str],
        op: str,
        schema_json: str | None = None,
        stats: dict[str, dict] | None = None,
    ) -> bool:
        """Atomically create v<version>.json; False if that version exists.

        ``schema_json`` (the DataFrame schema at commit time) pins the
        snapshot's read schema in the manifest, the way Delta/Iceberg
        resolve schemas from the log rather than by sampling data files.
        ``stats`` maps file name → {col: [min, max]} for data skipping.
        """
        manifest = {"version": version, "op": op, "files": sorted(files)}
        if schema_json is not None:
            manifest["schema"] = schema_json
        if stats:
            manifest["stats"] = stats
        return self._publish_log_file(
            f"v{version}.json", json.dumps(manifest, indent=1)
        )

    # ------------------------------------------------------- skipping stats

    @staticmethod
    def _norm_stat(v):
        """JSON-safe normalization of a parquet statistics value."""
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (int, float, str, bool)) or v is None:
            return v
        return None

    def _file_stats(self, names: list[str]) -> dict[str, dict]:
        """Per-file [min, max] for ``stats_cols`` from parquet footers.

        Footer metadata only — no data pages are read; at 100 TB this is
        the stats-collection pass every Delta/Iceberg writer performs at
        commit time (here driver-side over the commit's own files, which
        are bounded by the write; the Spark job already wrote the footers).
        """
        if not self.stats_cols:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for name in names:
            md = pq.ParquetFile(os.path.join(self._data_dir, name)).metadata
            cols: dict[str, list] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    cname = col.path_in_schema
                    if cname not in self.stats_cols:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo = self._norm_stat(st.min)
                    hi = self._norm_stat(st.max)
                    if lo is None or hi is None:
                        continue
                    cur = cols.get(cname)
                    if cur is None:
                        cols[cname] = [lo, hi]
                    else:
                        cols[cname] = [min(cur[0], lo), max(cur[1], hi)]
            out[name] = cols
        return out

    def _merged_stats(
        self, base_version: int, files: list[str], new_stats: dict[str, dict]
    ) -> dict[str, dict]:
        """Stats for a commit's full file list: carried-forward + new.

        Carried stats survive even when THIS handle was built without
        ``stats_cols``: a writer that doesn't collect stats must not
        erase the skipping index earlier writers paid for (its own new
        files simply have none and are conservatively kept).
        """
        carried = {}
        if base_version >= 0:
            carried = self._manifest(base_version).get("stats", {})
        if not self.stats_cols and not carried:
            return {}
        out = {}
        for name in files:
            if name in new_stats:
                out[name] = new_stats[name]
            elif name in carried:
                out[name] = carried[name]
        return out

    def files_pruned_in(
        self, col: str, values, version: int | None = None
    ) -> tuple[list[str], int]:
        """Point-set skipping: (kept files, total) for a probe-key list.

        The index-probe half of the skipping story: a batch of point
        lookups (band hashes, join keys) keeps a file only if AT LEAST ONE
        probe value falls inside the file's recorded [min, max]. With the
        table compacted into a sort/Z-order layout the files partition the
        key space, so a probe set touching few key ranges reads few files —
        the daily-small-delta shape; a probe set uniform over the whole
        space keeps everything, which is also the correct answer. Files
        with no stats are conservatively kept. Driver cost is
        O(#files · log #probes) (one bisect per file over the sorted probe
        list) on metadata alone.
        """
        import bisect

        v = self.version() if version is None else version
        if v < 0:
            return [], 0
        man = self._manifest(v)
        stats = man.get("stats", {})
        probes = sorted(set(values))
        kept = []
        for name in man["files"]:
            cols = stats.get(name, {})
            if col in cols and probes:
                fmin, fmax = cols[col]
                i = bisect.bisect_left(probes, fmin)
                if i >= len(probes) or probes[i] > fmax:
                    continue  # no probe value can live in this file
            kept.append(os.path.join(self._data_dir, name))
        return kept, len(man["files"])

    def read_pruned_in(
        self,
        spark: SparkSession,
        col: str,
        values,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read scanning only files that can hold a probe value.

        The caller still applies the real join/filter — pruning is a
        strict superset guarantee (file granularity), exactly like
        Delta/Iceberg data skipping: it changes work, never results.
        """
        v = self.version() if version is None else version
        files, _total = self.files_pruned_in(col, values, v)
        if not files:
            return self.read(spark, v).limit(0)
        schema_json = self._manifest(v).get("schema")
        if schema_json is not None:
            schema = StructType.fromJson(json.loads(schema_json))
        else:
            schema = spark.read.parquet(files[0]).schema
        return spark.read.schema(schema).parquet(*files)

    def read_probed(
        self, spark: SparkSession, col: str, probes: DataFrame
    ) -> DataFrame:
        """Snapshot read for the distinct ``col`` values of ``probes``.

        One bounded driver job collects at most ``MAX_PROBE_KEYS + 1``
        distinct keys (the length test replaces a count). Up to the cap
        the read goes through :meth:`read_pruned_in`; past it the metadata
        pass would be pure overhead, so the full snapshot is read.
        """
        rows = probes.select(col).distinct().limit(MAX_PROBE_KEYS + 1).collect()
        if len(rows) <= MAX_PROBE_KEYS:
            return self.read_pruned_in(spark, col, [r[0] for r in rows])
        return self.read(spark)

    # --------------------------------------------------------- data writes

    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Land ``df`` as immutable uniquely-named parquet under data/.

        Spark writes to a scratch dir (its own job-commit protocol keeps
        that internally consistent), then the part files are renamed to
        uuid-prefixed names in data/ — invisible to readers until a
        manifest references them.
        """
        os.makedirs(self._data_dir, exist_ok=True)
        scratch = os.path.join(self.root, f"_tmp_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(scratch)
        prefix = uuid.uuid4().hex
        names: list[str] = []
        for i, part in enumerate(sorted(os.listdir(scratch))):
            if not part.endswith(".parquet"):
                continue
            name = f"{prefix}-{i:05d}.parquet"
            os.rename(
                os.path.join(scratch, part), os.path.join(self._data_dir, name)
            )
            names.append(name)
        for leftover in os.listdir(scratch):
            os.remove(os.path.join(scratch, leftover))
        os.rmdir(scratch)
        return names

    def adopt_snapshot(
        self,
        src_data_dir: str,
        manifest: dict,
        max_retries: int = 20,
        op: str = "adopt",
    ) -> int:
        """VERBATIM physical replication of one source snapshot: byte-copy
        the snapshot's data files (same basenames — they are uuid-prefixed
        and immutable, so collisions cannot happen and an already-present
        name is already-copied content) and commit a manifest listing
        EXACTLY those files, with the source's pinned schema and per-file
        stats carried unchanged.

        This is the backup-fidelity verb (r13): unlike :meth:`append`/
        :meth:`overwrite`, no Spark job re-reads and re-lays-out the rows,
        so file identity survives — which is what lets file-name-scoped
        metadata (merge-on-read delete-vector pairs) stay valid on the
        destination. Copies are atomic (temp + rename) and idempotent, so
        a retried ship re-converges; only files absent from the
        destination move bytes, so steady-state cost is O(commit delta).
        """
        import shutil

        os.makedirs(self._data_dir, exist_ok=True)
        for name in manifest["files"]:
            dst = os.path.join(self._data_dir, name)
            if os.path.exists(dst):
                continue
            tmp = os.path.join(self._data_dir, f"_tmp_{uuid.uuid4().hex}")
            shutil.copyfile(os.path.join(src_data_dir, name), tmp)
            os.rename(tmp, dst)
        for _ in range(max_retries):
            v = self.version()
            if self._try_commit(
                v + 1,
                list(manifest["files"]),
                op=op,
                schema_json=manifest.get("schema"),
                stats=manifest.get("stats") or None,
            ):
                self._maybe_checkpoint(v + 1)
                return v + 1
        raise CommitConflict(
            f"adopt_snapshot lost the commit race {max_retries} times "
            f"at {self.root}"
        )

    def overwrite_arrow(
        self,
        table,
        schema_json: str,
        max_retries: int = 20,
        op: str = "overwrite",
        expected_version: int | None = None,
    ) -> int:
        """Driver-side :meth:`overwrite` for METADATA-SIZED tables.

        Lands ``table`` (a ``pyarrow.Table``) as one parquet file and
        commits it under exactly the same manifest/CAS rules as
        :meth:`overwrite` — but without launching a Spark job, because a
        table like the catalog pointer holds O(#tables) rows and log
        operations should run at metadata speed, not cluster-job speed
        (the Delta/Iceberg client posture: commits and snapshot loads
        never touch the cluster). ``schema_json`` is the Spark StructType
        JSON pinned in the manifest so Spark readers resolve the same
        schema as for job-written versions. The data file is unreferenced
        until the manifest commit, so no write atomicity is needed beyond
        the manifest's own publication rule.
        """
        import pyarrow.parquet as pq

        os.makedirs(self._data_dir, exist_ok=True)
        name = f"{uuid.uuid4().hex}-00000.parquet"
        pq.write_table(table, os.path.join(self._data_dir, name))
        return self._commit_overwrite(
            [name], schema_json, max_retries, op, expected_version
        )

    def read_arrow_rows(self, version: int) -> list[dict]:
        """Driver-side snapshot read for METADATA-SIZED tables: the
        version's files loaded via pyarrow, returned as plain dicts — no
        Spark job. The complement of :meth:`overwrite_arrow`; works on
        versions written by either path."""
        import pyarrow.parquet as pq

        rows: list[dict] = []
        for f in self.files(version):
            rows.extend(pq.read_table(f).to_pylist())
        return rows

    def append(
        self,
        df: DataFrame,
        max_retries: int = 20,
        op: str = "append",
        expected_version: int | None = None,
        base_version: int | None = None,
    ) -> int:
        """ACID append: land files, then commit log-state ∪ new files.

        Safe under concurrent appenders: each retry re-reads the newest
        manifest, so the loser's commit includes the winner's files.
        ``op`` labels the commit in the log (see :meth:`committed_ops`) —
        idempotent writers tag commits with their unit of work (e.g. a
        streaming batch id) and skip re-application on replay.

        ``expected_version`` turns the append into a compare-and-swap: the
        commit is attempted only on top of exactly that version and
        :class:`CommitConflict` is raised if any other writer committed
        first. Writers whose *content* depends on the snapshot they read
        (e.g. streaming dedup: survivors were probed against version N's
        bands) use this so a racing commit forces a re-probe instead of
        silently appending rows derived from a stale view. Data files
        landed by the failed attempt are unreferenced — invisible to
        readers and reclaimed by :meth:`vacuum`.

        ``base_version`` pins WHICH snapshot's files the append unions
        with: the committed content is exactly ``files(base_version) ∪ new
        files`` even if other versions landed since. Multi-table
        transactions (sources/catalog.py) stage with this so one
        transaction's uncommitted files can never leak into another's
        pinned content — the staged version's content depends only on the
        catalog-pinned base, never on a racing stager's chain entry.
        Default (None) unions with the newest version, the single-writer
        read-modify-write behavior.

        Returns the committed version.
        """
        new_names = self._write_data_files(df)
        schema_json = df.schema.json()
        new_stats = self._file_stats(new_names)
        for _ in range(max_retries):
            v = self.version()
            if expected_version is not None and v != expected_version:
                raise CommitConflict(
                    f"expected to append on v{expected_version} but table is "
                    f"at v{v} at {self.root}"
                )
            base = v if base_version is None else base_version
            live = self._manifest(base)["files"] if base >= 0 else []
            files = live + new_names
            if self._try_commit(
                v + 1,
                files,
                op=op,
                schema_json=schema_json,
                stats=self._merged_stats(base, files, new_stats),
            ):
                self._maybe_checkpoint(v + 1)
                return v + 1
        raise CommitConflict(
            f"append lost the commit race {max_retries} times at {self.root}"
        )

    def overwrite(
        self,
        df: DataFrame,
        max_retries: int = 20,
        op: str = "overwrite",
        expected_version: int | None = None,
    ) -> int:
        """Replace the table contents in one atomic commit.

        ``expected_version`` makes the replace a compare-and-swap (see
        :meth:`append`): writers whose new contents were *derived from* a
        snapshot (read-modify-write maintenance like an index split) pass
        the version they planned against so a racing commit forces a
        replan instead of silently clobbering it.
        """
        return self._commit_overwrite(
            self._write_data_files(df),
            df.schema.json(),
            max_retries,
            op,
            expected_version,
        )

    def _commit_overwrite(
        self,
        new_names: list[str],
        schema_json: str,
        max_retries: int,
        op: str,
        expected_version: int | None,
    ) -> int:
        """Commit landed files ``new_names`` as the whole next version:
        the CAS retry loop of :meth:`overwrite` and :meth:`overwrite_arrow`."""
        new_stats = self._file_stats(new_names)
        for _ in range(max_retries):
            v = self.version()
            if expected_version is not None and v != expected_version:
                raise CommitConflict(
                    f"expected to overwrite v{expected_version} but table is "
                    f"at v{v} at {self.root}"
                )
            if self._try_commit(
                v + 1,
                new_names,
                op=op,
                schema_json=schema_json,
                stats=new_stats or None,
            ):
                self._maybe_checkpoint(v + 1)
                return v + 1
        raise CommitConflict(
            f"overwrite lost the commit race {max_retries} times at {self.root}"
        )

    def replace_files(
        self,
        remove: list[str],
        df: DataFrame | None,
        max_retries: int = 20,
        op: str = "replace-files",
        expected_version: int | None = None,
        base_version: int | None = None,
    ) -> int:
        """Copy-on-write rewrite of a file SUBSET, one atomic commit.

        The Delta-MERGE file-granularity primitive: the committed content
        is ``files(base) − remove + files written from df`` — every
        untouched file survives BY REFERENCE (its manifest entry and
        stats carried forward, zero data movement), so a correction that
        touches k of N files costs O(k), not O(N). ``df=None`` is a pure
        delete. ``remove`` entries may be manifest names or full paths;
        a name absent from the base snapshot refuses loudly — the
        caller's pruning reasoned over a different snapshot than the one
        being committed against, and silently ignoring it would commit a
        rewrite derived from stale file content.

        ``expected_version`` / ``base_version`` carry :meth:`append`'s
        CAS / pinned-base semantics. With ``df=None`` the base manifest's
        schema is carried forward (a delete must not erase the read
        schema).
        """
        drop = {os.path.basename(f) for f in remove}
        new_names = self._write_data_files(df) if df is not None else []
        schema_json = df.schema.json() if df is not None else None
        new_stats = self._file_stats(new_names)
        for _ in range(max_retries):
            v = self.version()
            if expected_version is not None and v != expected_version:
                raise CommitConflict(
                    f"expected to replace on v{expected_version} but table "
                    f"is at v{v} at {self.root}"
                )
            base = v if base_version is None else base_version
            man = self._manifest(base) if base >= 0 else {"files": []}
            live = man["files"]
            missing = drop.difference(live)
            if missing:
                raise ValueError(
                    f"replace_files: {sorted(missing)[:5]} not in snapshot "
                    f"v{base} at {self.root}; the caller pruned against a "
                    "different snapshot than it is committing on"
                )
            files = [f for f in live if f not in drop] + new_names
            if self._try_commit(
                v + 1,
                files,
                op=op,
                schema_json=schema_json or man.get("schema"),
                stats=self._merged_stats(base, files, new_stats),
            ):
                self._maybe_checkpoint(v + 1)
                return v + 1
        raise CommitConflict(
            f"replace_files lost the commit race {max_retries} times at "
            f"{self.root}"
        )

    def committed_ops(self) -> set[str]:
        """Op labels of every commit ≤ the newest version.

        The replay-detection hook: a writer that tags its commit with its
        unit of work checks membership here before re-applying — the same
        role Delta's txn appId/version pair plays. History older than the
        newest checkpoint is read from the checkpoint's consolidated op
        list (per-version manifests below it may have been truncated).
        """
        for _ in range(3):
            ckpt_v, ckpt = self._latest_checkpoint()
            ops = set(ckpt["ops"]) if ckpt is not None else set()
            try:
                ops.update(
                    self._manifest(v)["op"]
                    for v in self._versions()
                    if v > ckpt_v
                )
            except FileNotFoundError:
                continue  # concurrent checkpoint truncated mid-listing; redo
            return ops
        raise CommitConflict(f"checkpoint churn while listing ops at {self.root}")

    # ---------------------------------------------------------- checkpoints

    def _checkpoint_versions(self) -> list[int]:
        try:
            names = os.listdir(self._log_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(m.group(1)) for n in names if (m := _CHECKPOINT_RE.match(n))
        )

    def _latest_checkpoint(self) -> tuple[int, dict | None]:
        vs = self._checkpoint_versions()
        if not vs:
            return -1, None
        with open(
            os.path.join(self._log_dir, f"checkpoint-v{vs[-1]}.json")
        ) as f:
            return vs[-1], json.load(f)

    def checkpoint(self) -> int:
        """Consolidate op history ≤ newest version; truncate older manifests.

        Writes ``checkpoint-v<N>.json`` holding the full op list up to N
        (atomically, same publication rule as commits), then deletes
        ``v<k>.json`` for k < N. The newest manifest is self-contained (it
        lists the snapshot's full file set), so after truncation the log
        holds O(1) files regardless of commit count — Delta's checkpoint +
        log-retention design. Time travel to versions < N stops working,
        which is the documented retention trade. Returns N (or -1 on an
        empty table).

        A :class:`~.catalog.TableCatalog` member never checkpoints itself
        (its handles carry ``checkpoint_interval=None``): its newest chain
        entry can be a racing transaction's staged commit, so truncating
        below it would delete the manifest the published catalog pins.
        """
        n = self.version()
        if n < 0:
            return -1
        ops = self.committed_ops()
        self._publish_log_file(
            f"checkpoint-v{n}.json",
            json.dumps({"version": n, "ops": sorted(ops)}, indent=1),
        )
        for v in self._versions():
            if v < n:
                try:
                    os.unlink(os.path.join(self._log_dir, f"v{v}.json"))
                except FileNotFoundError:
                    pass  # a concurrent checkpoint already truncated it
        for cv in self._checkpoint_versions():
            if cv < n:
                try:
                    os.unlink(
                        os.path.join(self._log_dir, f"checkpoint-v{cv}.json")
                    )
                except FileNotFoundError:
                    pass
        return n

    def _maybe_checkpoint(self, committed_version: int) -> None:
        if (
            self.checkpoint_interval
            and committed_version > 0
            and committed_version % self.checkpoint_interval == 0
        ):
            self.checkpoint()

    # ---------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read: the DataFrame scans exactly one manifest's files.

        ``merge_schema=True`` unions the schemas across the snapshot's files
        (columns added by later appends surface as nulls on older rows) —
        additive schema evolution without rewriting history, the same
        contract Delta/Iceberg readers give. The default reads with the
        schema pinned in the snapshot's manifest (recorded at commit time,
        the way Delta/Iceberg resolve snapshot schemas from the log), so
        the column set is deterministic regardless of which data file
        Spark would have sampled; manifests from before schema pinning
        fall back to the first file's footer, explicitly, for the same
        determinism.
        """
        v = self.version() if version is None else version
        files = self.files(v)
        if not files:
            # a COMMITTED zero-file snapshot (a replace_files pure delete
            # that emptied the table) still has a pinned schema — serve an
            # empty frame; only a never-committed table refuses
            if v >= 0:
                schema_json = self._manifest(v).get("schema")
                if schema_json is not None:
                    return spark.createDataFrame(
                        [], StructType.fromJson(json.loads(schema_json))
                    )
            raise FileNotFoundError(f"no committed version at {self.root}")
        reader = spark.read
        if merge_schema:
            return reader.option("mergeSchema", "true").parquet(*files)
        schema_json = self._manifest(v).get("schema")
        if schema_json is not None:
            schema = StructType.fromJson(json.loads(schema_json))
        else:
            schema = spark.read.parquet(files[0]).schema
        return reader.schema(schema).parquet(*files)

    # --------------------------------------------------------- maintenance

    def compact(
        self,
        spark: SparkSession,
        dedup_cols: list[str] | None = None,
        num_files: int = 1,
        max_retries: int = 20,
        zorder_cols: list[str] | None = None,
    ) -> int:
        """Rewrite the live rows into ``num_files`` fresh files and swap.

        ``dedup_cols`` drops exact duplicate rows on those columns — for
        the band index this collapses bands re-appended across batches, so
        probe-side ``distinct()`` work shrinks back down after many
        appends. The commit races like any other: if an append lands while
        compaction is rewriting, the swap would lose it, so compaction
        verifies its base version is still newest and retries otherwise.

        ``zorder_cols`` re-clusters the rewrite on a Morton curve (the
        ``OPTIMIZE ... ZORDER BY`` maintenance verb): appends land in
        arrival order, which erodes file-range tightness; a z-ordered
        compaction restores multi-column skipping for every file in one
        atomic swap, with stats re-recorded from the fresh footers.
        """
        for _ in range(max_retries):
            base = self.version()
            df = self.read(spark, base)
            if dedup_cols:
                df = df.dropDuplicates(dedup_cols)
            if zorder_cols:
                from .layout import zorder_layout

                # zorder_layout already range-partitions into num_files
                df = zorder_layout(df, zorder_cols, num_files)
            else:
                df = df.coalesce(num_files)
            new_names = self._write_data_files(df)
            if self.version() != base:
                continue  # an append landed mid-rewrite; redo on new base
            if self._try_commit(
                base + 1,
                new_names,
                op="compact",
                schema_json=df.schema.json(),
                stats=self._file_stats(new_names) or None,
            ):
                self._maybe_checkpoint(base + 1)
                return base + 1
        raise CommitConflict(
            f"compact lost the commit race {max_retries} times at {self.root}"
        )

    def vacuum(
        self, retain_seconds: float = 3600.0, extra_live: set[str] | None = None
    ) -> int:
        """Delete unreferenced data files older than ``retain_seconds``.

        Returns the number of files removed. The retention horizon guards
        the append gap: a concurrent writer lands its data files BEFORE its
        manifest commit, so a zero-horizon vacuum could delete files whose
        commit is seconds away and leave the new manifest pointing at
        nothing — the same reason Delta's VACUUM defaults to a retention
        window. Pass 0 only when no writer can be in flight (tests,
        single-writer maintenance). Snapshots older than the newest version
        stop being readable once their files age out; the manifest log
        itself is retained — it is the table's history (and
        :meth:`committed_ops`' replay ledger), and it costs KBs.

        ``extra_live`` protects additional file names beyond the newest
        manifest's. A table serving as a :class:`~.catalog.TableCatalog`
        member MUST be vacuumed through ``TableCatalog.vacuum`` (which
        passes the catalog-pinned snapshot's files here): the member's
        newest chain entry may be another transaction's staged-but-
        unpublished overwrite, in which case "live in newest" and "served
        by the catalog" are different sets and a bare vacuum would delete
        files the published snapshot still reads.
        """
        import time

        live = {os.path.basename(p) for p in self.files()}
        if extra_live:
            live |= extra_live
        cutoff = time.time() - retain_seconds
        removed = 0
        try:
            names = os.listdir(self._data_dir)
        except FileNotFoundError:
            return 0
        for name in names:
            full = os.path.join(self._data_dir, name)
            if (
                name.endswith(".parquet")
                and name not in live
                and os.path.getmtime(full) <= cutoff
            ):
                os.remove(full)
                removed += 1
        return removed

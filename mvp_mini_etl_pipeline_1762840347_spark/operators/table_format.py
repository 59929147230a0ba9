"""Transactional-table stand-in and the engine's one commit protocol
(SURVEY §2.8 ST3 restart semantics, ROADMAP "plain parquet, no table
format").

Every state-table write in the package commits through one of two
primitives defined here, and nowhere else calls ``os.rename`` or
``os.replace``:

* ``_atomic_write(path, text)`` -- temp file in the same directory,
  then ``os.replace``.  It publishes every small control file: the
  ``SnapshotTable``/``SnapshotSet`` pointers, the ``SnapshotSet``
  manifests and the streaming running-state JSON.
* ``_staged_swap(path, build, marker)`` -- the commit for tables read
  as a plain parquet directory (the ``exactly_once_table_merge``
  state tables, ``compact_small_files``, ``ResultCache``).  The new
  frame and its marker file land together in one sibling staging
  directory, which one rename swaps in; a crash between the swap's
  two renames is recovered on the next call.

The snapshot tables below never rewrite a live directory: each commit
lands a fresh ``snapshot-N`` parquet directory, with its batch-id
marker inside, and then swaps a one-line pointer file.  So readers
always see a complete snapshot (snapshot isolation), a crashed write
leaves the table untouched (write atomicity), re-running a merge is
idempotent (same inputs -> same next snapshot content), and any past
snapshot can be restored by pointer rewrite (time travel / rollback).
In both primitives data and marker publish in the same atomic step,
so no crash can leave new data under an old marker (a cache "hit"
serving another input's result) or old data under a new one (a
replayed batch skipped, or a committed batch applied twice).

Deploy mapping (documented, not stubbed): on a real lakehouse each
``commit`` is ``MERGE INTO target USING updates ON t.key = u.key
WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
(Delta/Iceberg), and ``restore`` is ``RESTORE TABLE t TO VERSION AS
OF n`` -- the join plan produced by ``operators.scale.merge_upsert``
is exactly the join those engines run under the hood.  The pointer
file plays the role of the Delta transaction log's latest commit /
Iceberg's table metadata pointer, and the marker carried inside the
committed directory is Delta's ``txnAppId``/``txnVersion`` (Iceberg's
WAP id): the batch id that makes a replayed write a no-op.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..io import read_parquet
from .scale import merge_upsert

_STAGING = "_staging"
_BACKUP = "_backup"


def _atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` all or nothing: write a temp file in
    the same directory, then ``os.replace`` it over ``path``.  Rename is
    atomic within a directory, so a reader sees the old file or the new
    one, never a partial write; a crash leaves at most a dot-prefixed
    temp file that no reader opens."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".tmp_")
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _staged_swap(path: str, build, marker: str | None = None) -> bool:
    """Replace the plain parquet directory ``path`` in one staged swap
    that publishes the new data and its marker file together.

    1. *Recover*: a crash between the two renames of step 3 left
       ``path`` missing and ``path + _BACKUP`` holding the last commit,
       so move it back; then remove any stale staging or backup dir.
    2. *Stage*: ``build(current)`` gets the text of the live marker
       file ``marker`` (None if absent or if ``marker`` is None) and
       returns ``(df, text)`` to commit, or None to commit nothing.
       ``df`` is written to ``path + _STAGING`` and ``text`` to the
       marker file INSIDE that directory (underscore-prefixed, so
       parquet readers ignore it, like ``_SUCCESS``).
    3. *Swap*: ``path`` -> backup, staging -> ``path`` (the commit
       point: data and marker publish in this one rename), then drop
       the backup.

    After step 1 the table is the last commit or the new one, each
    with its own marker, whichever step a crash hit.  ``build`` may
    read ``path``: the new frame is fully staged before the old one
    moves.  Concurrent writers of one ``path`` are not supported (they
    share the fixed staging directory).  Returns True if it committed.
    """
    path = path.rstrip("/")
    staging, backup = path + _STAGING, path + _BACKUP
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
    for stale in (staging, backup):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    current = None
    if marker is not None:
        try:
            with open(os.path.join(path, marker)) as f:
                current = f.read()
        except FileNotFoundError:
            pass
    out = build(current)
    if out is None:
        return False
    df, text = out
    df.write.mode("overwrite").parquet(staging)
    if marker is not None:
        with open(os.path.join(staging, marker), "w") as f:
            f.write(text)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)
    return True


_POINTER = "_CURRENT"


class SnapshotTable:
    """A parquet table with snapshot-isolated commits.

    Layout::

        <root>/_CURRENT          one line: the live snapshot name
        <root>/snapshot-0/...    immutable parquet directories
        <root>/snapshot-1/...
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointer plumbing ---------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def current_snapshot(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def snapshots(self) -> list[str]:
        """All landed snapshot names, oldest first."""
        names = [
            n
            for n in os.listdir(self.root)
            if n.startswith("snapshot-") and n.split("-", 1)[1].isdigit()
        ]
        return sorted(names, key=lambda n: int(n.split("-", 1)[1]))

    def _swap_pointer(self, snapshot: str) -> None:
        # (On a real object store this is the transaction-log append.)
        _atomic_write(self._pointer_path(), snapshot + "\n")

    # -- table operations ---------------------------------------------------
    def read(self) -> DataFrame:
        """The live snapshot as a DataFrame (errors if never written)."""
        cur = self.current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"snapshot table {self.root} has no commits")
        return read_parquet(self.spark, os.path.join(self.root, cur))

    def read_version(self, n: int) -> DataFrame:
        """Time travel: read snapshot n regardless of the pointer."""
        return read_parquet(self.spark, os.path.join(self.root, f"snapshot-{n}"))

    def commit(self, df: DataFrame, marker: int | None = None) -> str:
        """Land `df` as the next snapshot and swap the pointer.
        The write happens BEFORE the swap: a failure mid-write leaves
        the previous snapshot live and the half-written directory
        unreferenced (garbage, not corruption).

        ``marker`` optionally stamps a batch id INSIDE the snapshot
        directory before the pointer swap (underscore-prefixed, so
        parquet readers ignore it -- the same rule as _staged_swap):
        data and mark publish in one atomic pointer rename, which is
        what lets a replayed streaming batch recognize an
        already-applied commit (applied_batch)."""
        snaps = self.snapshots()
        nxt = f"snapshot-{int(snaps[-1].split('-', 1)[1]) + 1 if snaps else 0}"
        snap_dir = os.path.join(self.root, nxt)
        df.write.mode("overwrite").parquet(snap_dir)
        if marker is not None:
            with open(os.path.join(snap_dir, "_BATCH_ID"), "w") as f:
                f.write(str(marker) + "\n")
        self._swap_pointer(nxt)
        return nxt

    def applied_batch(self) -> int | None:
        """The batch-id marker of the LIVE snapshot, or None if the
        table was never committed with one (or never committed)."""
        cur = self.current_snapshot()
        if cur is None:
            return None
        try:
            with open(os.path.join(self.root, cur, "_BATCH_ID")) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def merge(self, updates: DataFrame, key: str) -> str:
        """MERGE INTO: matched keys update, unmatched insert -- the
        merge_upsert full-outer-join plan committed as a new snapshot.
        Maps 1:1 to Delta/Iceberg ``MERGE INTO`` at deploy (module
        docstring); re-running with the same updates produces an
        identical snapshot (idempotent restart, ST3)."""
        return self.commit(merge_upsert(self.read(), updates, key))

    def restore(self, n: int) -> None:
        """Rollback: point the table back at snapshot n (RESTORE TABLE
        ... VERSION AS OF n).  Later snapshots stay on disk for audit
        until vacuumed."""
        name = f"snapshot-{n}"
        if name not in self.snapshots():
            raise FileNotFoundError(f"{name} does not exist under {self.root}")
        self._swap_pointer(name)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop all but the newest `keep_last` snapshots (never the
        live one).  Returns the removed names."""
        live = self.current_snapshot()
        removable = [
            n for n in self.snapshots()[:-keep_last] if n != live
        ]
        for n in removable:
            shutil.rmtree(os.path.join(self.root, n))
        return removable


_SET_POINTER = "_SET_CURRENT"


class SnapshotSet:
    """One atomic commit across a SET of snapshot tables -- the
    multi-table-transaction slice of a lakehouse (Delta's
    ``txnVersion`` across tables / Iceberg's multi-table catalog
    commit), on the same stage-then-atomic-rename discipline as
    ``SnapshotTable``.

    Layout::

        <root>/_SET_CURRENT       one line: the live manifest name
        <root>/manifest-N         JSON: {"version": N, "batch_id": B,
                                         "tables": {name: "snapshot-K"}}
        <root>/<table>/snapshot-K immutable member parquet dirs
                                  (SnapshotTable layout, so per-table
                                  tooling keeps working)

    Protocol: ``stage(name, df)`` lands member snapshot directories
    without moving any pointer; ``commit_staged(marker)`` then writes
    ONE manifest naming every member's snapshot and swaps ONE pointer
    via atomic rename.  Readers resolve every member through the live
    manifest, so they see the old consistent set or the new one --
    never a mix.  A crash anywhere before the swap leaves the old
    manifest live and the staged directories unreferenced (garbage
    for ``vacuum``, not corruption); a crash after the swap is a
    complete commit.  This is what closes the round-10 documented
    limit ("7 per-table commits are individually atomic but not
    jointly"): a mid-evolution crash can no longer leave stores
    mixed-version, so the loud ``partial store evolution`` error
    path is structurally unreachable.

    Member ``_CURRENT`` pointers are DERIVED state: re-synced from the
    live manifest on open and after every commit/restore, so direct
    ``SnapshotTable`` readers agree with the set and a crash between
    the set swap and the sync self-heals in the manifest's direction.

    Deploy mapping: each ``commit_staged`` is one catalog transaction
    committing N table snapshots + the batch id; ``restore`` is the
    set-level ``RESTORE ... VERSION AS OF``; ``vacuum`` drops member
    snapshots referenced by no retained manifest (Iceberg
    ``expire_snapshots`` driven from metadata, never from data files).
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._staged: dict[str, str] = {}
        self._sync_member_pointers()

    # -- manifest plumbing --------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.root, _SET_POINTER)

    def current_manifest_name(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _load_manifest(self, name: str) -> dict:
        import json

        with open(os.path.join(self.root, name)) as f:
            return json.load(f)

    def manifest(self) -> dict | None:
        cur = self.current_manifest_name()
        return None if cur is None else self._load_manifest(cur)

    def versions(self) -> list[int]:
        """All landed manifest versions, oldest first."""
        out = []
        for n in os.listdir(self.root):
            if n.startswith("manifest-") and n.split("-", 1)[1].isdigit():
                out.append(int(n.split("-", 1)[1]))
        return sorted(out)

    def version(self) -> int | None:
        m = self.manifest()
        return None if m is None else m["version"]

    def applied_batch(self) -> int | None:
        """The batch-id marker of the LIVE manifest (None if the set
        was never committed with one) -- the set-level replay guard."""
        m = self.manifest()
        return None if m is None else m.get("batch_id")

    def tables(self) -> list[str]:
        m = self.manifest()
        return [] if m is None else sorted(m["tables"])

    def _sync_member_pointers(self) -> None:
        """Repair member ``_CURRENT`` pointers to the live manifest
        (derived state; see class docstring)."""
        m = self.manifest()
        if m is None:
            return
        for name, snap in m["tables"].items():
            t = SnapshotTable(self.spark, os.path.join(self.root, name))
            if t.current_snapshot() != snap:
                t._swap_pointer(snap)

    # -- staging + commit ---------------------------------------------------
    def stage(self, name: str, df: DataFrame) -> DataFrame:
        """Land ``df`` as member ``name``'s next snapshot directory
        WITHOUT committing anything, and return it read back from the
        staged parquet -- so later staged members can derive from the
        materialized store (columnar re-read, no lineage re-execution)
        and the eventual commit republishes these exact bytes (the
        staged directory IS the committed one; nothing is rewritten).
        The read-back takes ``df``'s schema, so it runs no footer job.
        """
        tdir = os.path.join(self.root, name)
        os.makedirs(tdir, exist_ok=True)
        taken = [
            int(n.split("-", 1)[1])
            for n in os.listdir(tdir)
            if n.startswith("snapshot-") and n.split("-", 1)[1].isdigit()
        ]
        snap = f"snapshot-{max(taken) + 1 if taken else 0}"
        path = os.path.join(tdir, snap)
        df.write.mode("overwrite").parquet(path)
        self._staged[name] = snap
        return read_parquet(self.spark, path, schema=df.schema)

    def commit_staged(self, marker: int | None = None) -> str:
        """Publish every staged member (plus carried-forward live
        members not re-staged) as ONE manifest, swapping ONE pointer.
        The pointer rename is the only commit point."""
        import json

        if not self._staged:
            raise ValueError("nothing staged")
        live = self.manifest()
        tables = dict(live["tables"]) if live else {}
        tables.update(self._staged)
        nxt = (live["version"] + 1) if live else 0
        if marker is not None:
            # per-member batch markers ride INSIDE the staged dirs
            # (still unreferenced by the live manifest, so this is
            # pre-commit staging too); SnapshotTable.applied_batch
            # keeps working for per-table observers.
            for name, snap in self._staged.items():
                with open(
                    os.path.join(self.root, name, snap, "_BATCH_ID"), "w"
                ) as f:
                    f.write(str(marker) + "\n")
        mname = f"manifest-{nxt}"
        _atomic_write(
            os.path.join(self.root, mname),
            json.dumps({"version": nxt, "batch_id": marker, "tables": tables}),
        )
        _atomic_write(self._pointer_path(), mname + "\n")  # THE commit point
        self._staged = {}
        self._sync_member_pointers()
        return mname

    def abandon_staged(self) -> None:
        """Forget (not delete) staged members -- a simulated crash;
        the dirs become unreferenced garbage vacuum sweeps."""
        self._staged = {}

    # -- reads --------------------------------------------------------------
    def _resolve(self, name: str, m: dict) -> str:
        if name not in m["tables"]:
            raise FileNotFoundError(
                f"set {self.root} has no member table {name!r}"
            )
        return os.path.join(self.root, name, m["tables"][name])

    def read(self, name: str) -> DataFrame:
        """Member ``name`` at the live manifest."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"snapshot set {self.root} has no commits")
        return read_parquet(self.spark, self._resolve(name, m))

    def read_version(self, version: int, name: str) -> DataFrame:
        """Set-level time travel: member ``name`` as of manifest
        ``version`` -- every member read at the same version is the
        CONSISTENT historical set, regardless of per-table snapshot
        numbering."""
        return read_parquet(
            self.spark,
            self._resolve(name, self._load_manifest(f"manifest-{version}")),
        )

    def restore(self, version: int) -> None:
        """Set-level rollback: point the whole set at manifest
        ``version`` atomically and re-derive member pointers."""
        mname = f"manifest-{version}"
        if version not in self.versions():
            raise FileNotFoundError(f"{mname} does not exist under {self.root}")
        _atomic_write(self._pointer_path(), mname + "\n")
        self._sync_member_pointers()

    # -- maintenance --------------------------------------------------------
    def vacuum(self, keep_last: int = 2) -> dict[str, list[str]]:
        """Expire history at MANIFEST grain: retain the newest
        ``keep_last`` manifests (always including the live one), then
        drop every member snapshot directory no retained manifest
        references -- which also sweeps orphans from crashed staging
        attempts (but never this instance's pending stage).  Returns
        {table: [removed snapshot names]} plus dropped manifests under
        the ``_manifests`` key."""
        vers = self.versions()
        live = self.version()
        keep_vers = set(vers[-keep_last:] if keep_last > 0 else [])
        if live is not None:
            keep_vers.add(live)
        referenced: dict[str, set] = {}
        for v in keep_vers:
            for name, snap in self._load_manifest(f"manifest-{v}")[
                "tables"
            ].items():
                referenced.setdefault(name, set()).add(snap)
        for name, snap in self._staged.items():
            referenced.setdefault(name, set()).add(snap)
        removed: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, entry)
            if not os.path.isdir(tdir) or entry.startswith("."):
                continue
            keep = referenced.get(entry, set())
            gone = []
            for snap in sorted(os.listdir(tdir)):
                if snap.startswith("snapshot-") and snap not in keep:
                    shutil.rmtree(os.path.join(tdir, snap))
                    gone.append(snap)
            if gone:
                removed[entry] = gone
        dropped_m = []
        for v in vers:
            if v not in keep_vers:
                os.remove(os.path.join(self.root, f"manifest-{v}"))
                dropped_m.append(f"manifest-{v}")
        if dropped_m:
            removed["_manifests"] = dropped_m
        return removed


_LOG = "_LOG"


class DeltaLogTable:
    """The incremental half of the table-format story: commits store
    only the CHANGED rows, a transaction log orders them, and periodic
    checkpoints bound how much log a reader folds.

    ``SnapshotTable`` above lands a full table image per commit --
    correct, but at 100 TB a daily upsert of 0.1% of rows must not
    rewrite the other 99.9%.  Here each ``append_delta`` writes a
    parquet directory holding just the delta plus one line in the
    append-only log; ``read`` reconstructs the live table by folding
    deltas (MERGE semantics, newest key wins) on top of the latest
    checkpoint; ``checkpoint`` materializes the current view so the
    fold depth resets to zero.  That is Delta Lake's transaction log +
    checkpoint design in miniature: write cost proportional to the
    delta, read cost proportional to one checkpoint + the log tail,
    compaction whenever the tail grows past taste.

    Crash discipline mirrors SnapshotTable: the data directory is
    fully written BEFORE its log line is appended (a crash in between
    leaves unreferenced garbage, never a torn table), and the log
    append is a single O_APPEND write of one line.
    """

    def __init__(self, spark: SparkSession, root: str, key: str) -> None:
        self.spark = spark
        self.root = root
        self.key = key
        os.makedirs(root, exist_ok=True)

    # -- log plumbing -------------------------------------------------------
    def _log_path(self) -> str:
        return os.path.join(self.root, _LOG)

    def _entries(self) -> list[tuple[str, str]]:
        """(kind, dir) per committed log line, oldest first."""
        try:
            with open(self._log_path()) as f:
                lines = [ln.strip() for ln in f if ln.strip()]
        except FileNotFoundError:
            return []
        return [tuple(ln.split(" ", 1)) for ln in lines]

    def _append_log(self, kind: str, dirname: str) -> None:
        with open(self._log_path(), "a") as f:
            f.write(f"{kind} {dirname}\n")

    def _next_dir(self, prefix: str) -> str:
        n = len(self._entries())
        return f"{prefix}-{n}"

    # -- table operations ---------------------------------------------------
    def append_delta(self, delta: DataFrame) -> str:
        """Commit a set of upserted rows.  Cost: writing the delta."""
        d = self._next_dir("delta")
        delta.write.mode("overwrite").parquet(os.path.join(self.root, d))
        self._append_log("delta", d)
        return d

    def read(self) -> DataFrame:
        """The live table: latest checkpoint + folded log tail.
        Folding applies MERGE per delta in commit order, so a key
        touched by several deltas resolves to the newest row --
        identical semantics to replaying the upserts one by one."""
        entries = self._entries()
        if not entries:
            raise FileNotFoundError(f"delta table {self.root} has no commits")
        start = 0
        for i, (kind, _) in enumerate(entries):
            if kind == "checkpoint":
                start = i
        df = read_parquet(
            self.spark, os.path.join(self.root, entries[start][1])
        )
        # Whether entries[start] is the newest checkpoint or (when the
        # log has no checkpoint yet) the first delta, the remaining
        # entries fold on top of it the same way.
        tail = entries[start + 1:]
        for kind, d in tail:
            delta = read_parquet(self.spark, os.path.join(self.root, d))
            df = merge_upsert(df, delta, self.key)
        return df

    def fold_depth(self) -> int:
        """How many log entries a read folds (1 = checkpoint only)."""
        entries = self._entries()
        start = 0
        for i, (kind, _) in enumerate(entries):
            if kind == "checkpoint":
                start = i
        return len(entries) - start

    def checkpoint(self) -> str:
        """Materialize the live view; subsequent reads fold from here.
        The log keeps earlier entries for audit/time-travel; a vacuum
        policy may drop directories older than the newest checkpoint."""
        df = self.read().localCheckpoint(eager=True)
        d = self._next_dir("checkpoint")
        df.write.mode("overwrite").parquet(os.path.join(self.root, d))
        self._append_log("checkpoint", d)
        return d

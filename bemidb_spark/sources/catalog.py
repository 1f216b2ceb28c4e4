"""Warehouse catalog: schema.table → a snapshot (the list of its live parquet
files) + column metadata.

Plays the role of the reference's Postgres-backed Iceberg catalog (two tables:
``iceberg_tables(table_namespace, table_name, metadata_location, columns)`` and
``iceberg_materialized_views(schema_name, table_name, definition)`` — reference
scripts/catalog.sql:1-15, common/iceberg_catalog.go:59-82). Without an Iceberg
runtime in this environment, the catalog is a JSON file beside the data.

**Files are immutable.** A write puts its files into a fresh directory
(``new_location``) and commits a new list (``commit_table``): the live list
minus the files it replaces plus the files it wrote — the reference's
per-file rewrite (iceberg_table_writer.go:304-378), done copy-on-write. A
reader that resolved a list keeps reading it while writers commit. A file
is deleted once no live list, no retained snapshot (the snapshot log,
storage_utils.go:371-496) and no open transaction pin (held in this
process) references it; its commit directory goes with its last file.

**Transactions.** A transaction block writes into a ``Transaction``, a
private overlay that stages the entries its writes change; nobody else
sees them. COMMIT publishes them as one optimistic commit
(``Catalog.publish``): it fails with 40001 when a staged table moved since
the block first wrote it. ROLLBACK forgets the overlay and deletes the
block's files; it commits nothing.

**Versions.** The state carries monotonic counters next to the tables
(``versions``): one per table, advanced by every commit that touches it,
and one ``schema`` counter, advanced only by DDL — creating, dropping or
renaming a table, view or materialized view, or changing a table's columns.
Sessions key their caches on these: a data commit to one table rebinds and
re-plans only what reads that table, and the pg_catalog emulation is rebuilt
only when the schema counter moves (pg's per-relation relcache
invalidation). Counters are stored, never derived from file times, and
never rewound, so no two states a reader can observe share a version. A
snapshot's ``id`` is its table's counter at the commit that made it.

On a cluster this module is replaced 1:1 by an Iceberg JDBC/REST catalog;
every write goes through ``commit_table`` so the swap is the only thing that
changes.
"""

from __future__ import annotations

import copy
import itertools
import threading
import time

from bemidb_spark.sources import fs

_LOCK = threading.Lock()

# superseded snapshots kept per table (time travel + in-flight readers)
SNAPSHOT_RETENTION = 3

# open transaction blocks' pins: catalog file -> token -> (files, (table,
# snapshot id) pairs), see Transaction
_PINS: dict[str, dict[int, tuple[set, set]]] = {}
_PIN_TOKENS = itertools.count(1)
# private versions a Transaction reads at: negative, unlike any counter
_PRIVATE = itertools.count(1)
_SECTIONS = ("tables", "views", "matviews")


class CommitConflict(Exception):
    """A commit removes a file that is no longer live, or publishes a key
    that another writer committed since the block staged it (pg's
    serialization_failure)."""

    sqlstate = "40001"


class Catalog:
    def __init__(self, root: str) -> None:
        # root may be a plain path or a file:// URI; all path math goes
        # through the fs adapter, so an object-store root only needs the
        # adapter's scheme hooks (reference storage_s3.go role).
        self.root = root
        fs.makedirs(root)
        self._path = fs.join(root, "_catalog.json")
        if not fs.exists(self._path):
            self._write({"tables": {}, "matviews": {}})

    # -- storage ------------------------------------------------------------
    def version(self) -> int:
        """The commit counter: advanced by every commit that changes what a
        read can see (data or schema), never rewound."""
        return versions(self._read())["seq"]

    def schema_version(self) -> int:
        """The DDL counter (see the module docstring)."""
        return versions(self._read())["schema"]

    def _read(self) -> dict:
        return fs.read_json(self._path)

    def _write(self, state: dict) -> None:
        # atomic pointer swap: temp file + rename
        fs.write_json_atomic(self._path, state)

    def _commit(self, state: dict, touched: tuple[str, ...] = (),
                ddl: bool = False) -> None:
        """Write ``state`` as a new commit: advance the commit counter, the
        counter of every touched table and, for DDL, the schema counter.
        Callers hold _LOCK and pass a state read under it."""
        v = versions(state)
        v["seq"] += 1
        for key in touched:
            v["tables"][key] = v["tables"].get(key, 0) + 1
        if ddl:
            v["schema"] += 1
        state["versions"] = v
        self._write(state)

    # -- garbage collection ---------------------------------------------------
    def _collect(self, candidates: tuple, state: dict) -> None:
        """Delete the candidate files and snapshot metadata that neither
        ``state`` nor an open pin references. Callers hold _LOCK."""
        files, snaps = _refs(state["tables"])
        for pinned_files, pinned_snaps in _PINS.get(self._path, {}).values():
            files |= pinned_files
            snaps |= pinned_snaps
        garbage = set(candidates[0]) - files
        dead = set(candidates[1]) - snaps
        for path in sorted(garbage) + [p for key, snap_id in sorted(dead)
                                       for p in self.metadata_files(key, snap_id)]:
            d, name = path.rsplit("/", 1)
            for p in (path, f"{d}/.{name}.crc"):  # Hadoop's checksum file
                if fs.exists(p):
                    fs.remove_file(p)
        for cdir in {_commit_dir(p) for p in garbage}:
            if not any(f.startswith(cdir + "/") for f in files):
                fs.remove_tree(cdir)  # with Spark's _SUCCESS file
        for key in {k for k, _ in dead} - {k for k, _ in snaps}:
            fs.remove_tree(self.metadata_dir(key))

    def metadata_dir(self, key: str) -> str:
        """A table's Iceberg metadata (iceberg_meta) lives catalog-side:
        readers find it through the metadata-location pointer."""
        return fs.join(self.root, "_iceberg", key)

    def metadata_files(self, key: str, snap_id: int) -> list[str]:
        """The metadata version, manifest list and manifest of one snapshot."""
        mdir = self.metadata_dir(key)
        return [fs.join(mdir, f"v{snap_id}.metadata.json"),
                fs.join(mdir, f"snap-{snap_id}.avro"),
                fs.join(mdir, f"manifest-{snap_id}.avro")]

    def _emit(self, schema: str, table: str) -> None:
        # Every commit also emits spec-shaped Iceberg v2 metadata
        # (iceberg_meta.py; the reference's headline contract,
        # storage_utils.go:371-496). Advisory: engine reads resolve through
        # this catalog, so a failed emission never fails the commit.
        try:
            from bemidb_spark.sources.iceberg_meta import write_metadata_file

            write_metadata_file(self, schema, table)
        except Exception:  # noqa: BLE001 — advisory artifact
            pass

    # -- transactions --------------------------------------------------------
    def snapshot_state(self) -> dict:
        """The full catalog state (tables + views + matviews)."""
        with _LOCK:
            return self._read()

    def publish(self, txn: Transaction) -> None:
        """COMMIT a transaction block as one catalog commit. Every staged key
        must still be at the committed version it was first staged against
        (an absent key counts as a version), else the block's files are
        deleted and CommitConflict (40001) is raised. A staged table gets one
        new snapshot, built against its committed entry."""
        with _LOCK:
            state = self._read()
            moved = [key for (section, key) in txn.staged
                     if _stamp(state, section, key) != txn.bases[section, key]]
            if moved:
                txn.end(state)
                raise CommitConflict(
                    f"could not serialize access to {moved[0]} due to a "
                    "concurrent update")
            for (section, key), (entry, _) in txn.staged.items():
                prev = state.setdefault(section, {}).pop(key, None)
                if section == "tables" and entry is not None:
                    entry = dict(entry)
                    _succeed(state, key, entry, prev)
                if entry is not None:
                    state[section][key] = entry
            tables = [key for section, key in txn.staged if section == "tables"]
            if txn.staged:  # a block that wrote nothing commits nothing
                self._commit(state, touched=tuple(tables), ddl=txn.schema_at is not None)
            txn.end(state)  # what the new state no longer names goes
        for key in tables:
            if key in state["tables"]:
                self._emit(*key.split(".", 1))

    # -- tables -------------------------------------------------------------
    @staticmethod
    def _key(schema: str, table: str) -> str:
        return f"{schema}.{table}"

    def entry(self, schema: str, table: str) -> dict:
        """``files`` (the live list), ``columns``, ``id``, ``snapshots``
        (superseded, oldest first) and ``props``."""
        entry = self._read()["tables"].get(self._key(schema, table))
        if entry is None:
            raise KeyError(f"table not found in catalog: {schema}.{table}")
        return entry

    def location(self, schema: str, table: str) -> str:
        """The directory every commit directory of the table lives under."""
        self.entry(schema, table)
        return fs.join(self.root, "data", schema, table)

    def new_location(self, schema: str, table: str) -> str:
        """A fresh commit directory for a write's new files."""
        return fs.join(self.root, "data", schema, table, fs.fresh_name(table))

    def files(self, schema: str, table: str) -> list[str]:
        return list(self.entry(schema, table)["files"])

    def commit_table(
        self, schema: str, table: str, added: list[str],
        removed: list[str] | None = None, columns: list[dict] | None = None,
        props: dict | None = None,
    ) -> None:
        """Commit a new snapshot of schema.table: the live list minus
        ``removed`` (None: all of it, a full replace) plus ``added``.

        Every removed file must still be live, else the commit raises
        CommitConflict (40001) and deletes its own new files. ``columns``
        and ``props`` (layout metadata, e.g. key buckets) default to the
        previous entry's. The superseded list joins the snapshot log."""
        key = self._key(schema, table)
        with _LOCK:
            state = self._read()
            prev = state["tables"].get(key)
            live = prev["files"] if prev else []
            gone = set(live) if removed is None else set(removed)
            if not gone <= set(live):
                for cdir in {_commit_dir(p) for p in added}:
                    fs.remove_tree(cdir)
                raise CommitConflict(
                    f"could not serialize access to {key} due to a "
                    "concurrent update")
            entry = {"files": [f for f in live if f not in gone] + list(added),
                     "columns": columns or prev["columns"]}
            carried = props if props is not None else (prev or {}).get("props")
            if carried:
                entry["props"] = carried
            expired = _succeed(state, key, entry, prev)
            state["tables"][key] = entry
            self._commit(state, touched=(key,),
                         ddl=(prev or {}).get("columns") != entry["columns"])
            self._collect(_snap_refs((key, s) for s in expired), state)
        self._emit(schema, table)

    def snapshots(self, schema: str, table: str) -> list[dict]:
        """Superseded snapshots, oldest first (live list not included)."""
        entry = self._read()["tables"].get(self._key(schema, table)) or {}
        return list(entry.get("snapshots", []))

    def expire_snapshots(self, schema: str, table: str, keep: int = 0) -> int:
        """Drop all but the newest ``keep`` snapshots from the log and delete
        what they alone referenced (Iceberg expire_snapshots). Returns the
        number expired."""
        key = self._key(schema, table)
        with _LOCK:
            state = self._read()
            expired = _trim(state["tables"].get(key, {}), keep)
            if expired:
                # not a commit: the live list, all a reader binds, is as-is
                self._write(state)
                self._collect(_snap_refs((key, s) for s in expired), state)
        return len(expired)

    def table_props(self, schema: str, table: str) -> dict:
        entry = self._read()["tables"].get(self._key(schema, table)) or {}
        return entry.get("props", {})

    def set_table_props(self, schema: str, table: str, props: dict) -> None:
        """Replace a table's props without moving its data (sync watermarks)."""
        with _LOCK:
            state = self._read()
            entry = state["tables"].get(self._key(schema, table))
            if entry is None:
                raise KeyError(f"table not found in catalog: {schema}.{table}")
            entry["props"] = props
            # not a commit: props steer writers, and no read plan uses them
            self._write(state)

    def columns(self, schema: str, table: str) -> list[dict]:
        return self.entry(schema, table)["columns"]

    def tables(self) -> dict[str, dict]:
        return self._read()["tables"]

    def drop_table(self, schema: str, table: str) -> bool:
        """Drop the table and delete every file only it referenced."""
        with _LOCK:
            state = self._read()
            key = self._key(schema, table)
            entry = state["tables"].pop(key, None)
            if entry is not None:
                self._commit(state, touched=(key,), ddl=True)
                self._collect(_refs({key: entry}), state)
        return entry is not None

    def rename_table(self, schema: str, table: str, new_table: str) -> None:
        with _LOCK:
            state = self._read()
            old, new = self._key(schema, table), self._key(schema, new_table)
            state["tables"][new] = state["tables"].pop(old)
            self._commit(state, touched=(old, new), ddl=True)

    # -- materialized views --------------------------------------------------
    # -- plain (non-materialized) views --------------------------------------
    def put_view(self, schema: str, name: str, definition: str) -> None:
        with _LOCK:
            state = self._read()
            state.setdefault("views", {})[self._key(schema, name)] = {
                "definition": definition
            }
            self._commit(state, ddl=True)

    def views(self) -> dict[str, dict]:
        return self._read().get("views", {})

    def drop_view(self, schema: str, name: str) -> bool:
        with _LOCK:
            state = self._read()
            existed = state.get("views", {}).pop(self._key(schema, name), None)
            if existed is not None:
                self._commit(state, ddl=True)
        return existed is not None

    def put_matview(self, schema: str, name: str, definition: str) -> None:
        with _LOCK:
            state = self._read()
            state["matviews"][self._key(schema, name)] = {"definition": definition}
            self._commit(state, ddl=True)

    def matview_definition(self, schema: str, name: str) -> str:
        entry = self._read()["matviews"].get(self._key(schema, name))
        if entry is None:
            raise KeyError(f"materialized view not found: {schema}.{name}")
        return entry["definition"]

    def matviews(self) -> dict[str, dict]:
        return self._read()["matviews"]

    def drop_matview(self, schema: str, name: str) -> None:
        with _LOCK:
            state = self._read()
            if state["matviews"].pop(self._key(schema, name), None) is not None:
                self._commit(state, ddl=True)


class Transaction(Catalog):
    """A transaction block's private overlay on a catalog.

    Reads see the committed state with the block's staged entries laid over
    it (``None`` is a drop): a table the block wrote reads as staged, at a
    private version, every other table as latest committed. Writers take it
    wherever they take a Catalog: ``_commit`` and ``_write`` stage what a
    write changes instead of writing the catalog file. Until the block ends
    nothing is collected or emitted, and its pin holds the files it wrote
    and the committed files of every table it staged."""

    def __init__(self, catalog: Catalog) -> None:
        self.root, self._path, self.committed = catalog.root, catalog._path, catalog
        # (section, key) -> (entry, private version); the committed version
        # each key was first staged against; the private schema version
        # once the block staged DDL
        self.staged: dict[tuple[str, str], tuple[dict | None, int]] = {}
        self.bases: dict[tuple[str, str], object] = {}
        self.schema_at: int | None = None
        self._token = next(_PIN_TOKENS)

    def _read(self) -> dict:
        state = fs.read_json(self._path)
        state.setdefault("views", {})
        v = versions(state)
        for (section, key), (entry, at) in self.staged.items():
            state[section].pop(key, None)
            if entry is not None:  # callers edit the entries they read
                state[section][key] = copy.deepcopy(entry)
            if section == "tables":
                v["tables"][key] = at
        if self.schema_at is not None:  # still moves with committed DDL
            v["schema"] = (v["schema"], self.schema_at)
        state["versions"] = v
        return state

    def _commit(self, state: dict, touched: tuple[str, ...] = (),
                ddl: bool = False) -> None:
        self._write(state)
        if ddl:
            self.schema_at = -next(_PRIVATE)

    def _write(self, state: dict) -> None:
        """Stage every entry ``state`` changes against the overlay."""
        committed, before = fs.read_json(self._path), self._read()
        pinned = _PINS.setdefault(self._path, {}).setdefault(self._token, (set(), set()))
        for section in _SECTIONS:
            old, new = before[section], state.get(section, {})
            for key in old.keys() | new.keys():
                if old.get(key) == new.get(key):
                    continue
                if (section, key) not in self.bases:
                    self.bases[section, key] = _stamp(committed, section, key)
                    if section == "tables" and key in committed["tables"]:
                        for mine, refs in zip(pinned, _refs(
                                {key: committed["tables"][key]})):
                            mine |= refs
                self.staged[section, key] = (new.get(key), -next(_PRIVATE))
                if section == "tables" and key in new:
                    pinned[0].update(new[key]["files"])

    def _collect(self, candidates: tuple, state: dict) -> None:
        pass  # the block's end collects

    def _emit(self, schema: str, table: str) -> None:
        pass  # publish emits

    def savepoint(self) -> tuple:
        return dict(self.staged), dict(self.bases), self.schema_at

    def rollback_to(self, saved: tuple) -> None:
        """A key staged after the savepoint reads latest committed again, so
        its next write stages against that version."""
        staged, bases, self.schema_at = saved
        self.staged, self.bases = dict(staged), dict(bases)

    def abort(self) -> None:
        """ROLLBACK: forget the staged entries and delete the block's files.
        Nothing is committed, so no counter moves."""
        with _LOCK:
            self.end(fs.read_json(self._path))

    def end(self, state: dict) -> None:
        """Release the block's pin, deleting what it held that ``state`` and
        other pins no longer reference. Callers hold _LOCK."""
        pinned = _PINS.get(self._path, {}).pop(self._token, (set(), set()))
        self.committed._collect(pinned, state)


def versions(state: dict) -> dict:
    """A state's counters — ``seq`` (every commit), ``schema`` (DDL) and
    ``tables`` (per table) — as a fresh dict; zeros for a state written
    before counters existed."""
    v = state.get("versions") or {}
    return {"seq": v.get("seq", 0), "schema": v.get("schema", 0),
            "tables": dict(v.get("tables", {}))}


def bucket_of(path: str) -> int | None:
    """A key-bucketed file's bucket: its ``_kb=N/`` path segment."""
    return next((int(p[4:]) for p in path.split("/") if p.startswith("_kb=")), None)


def _refs(tables: dict) -> tuple[set, set]:
    """(files, (table, snapshot id) pairs) that tables' live lists and
    snapshot logs reference."""
    return _snap_refs((key, snap) for key, entry in tables.items()
                      for snap in (entry, *entry.get("snapshots", [])))


def _snap_refs(snaps) -> tuple[set, set]:
    """(files, (table, snapshot id) pairs) of (table, snapshot) pairs."""
    files: set = set()
    ids: set = set()
    for key, snap in snaps:
        files.update(snap["files"])
        ids.add((key, snap["id"]))
    return files, ids


def _succeed(state: dict, key: str, entry: dict, prev: dict | None) -> list[dict]:
    """Make ``entry`` table ``key``'s next snapshot after ``prev`` (None: a
    new table): its ``id`` and a snapshot log that prev's live list joins,
    trimmed to SNAPSHOT_RETENTION. Returns the expired snapshots."""
    entry["id"] = versions(state)["tables"].get(key, 0) + 1
    entry["snapshots"] = prev["snapshots"] + [
        {"id": prev["id"], "files": prev["files"], "at": time.time()}] if prev else []
    return _trim(entry, SNAPSHOT_RETENTION)


def _trim(entry: dict, keep: int) -> list[dict]:
    """Cut an entry's snapshot log to its newest ``keep``; return the rest."""
    snaps = entry.get("snapshots", [])
    expired = snaps[: max(0, len(snaps) - keep)]
    entry["snapshots"] = snaps[len(expired):]
    return expired


def _commit_dir(path: str) -> str:
    """The commit directory a data file was written into (above its
    ``col=value`` partition directories)."""
    d = path.rsplit("/", 1)[0]
    while "=" in d.rsplit("/", 1)[-1]:
        d = d.rsplit("/", 1)[0]
    return d


def _stamp(state: dict, section: str, key: str) -> object:
    """A key's committed version: a table's counter (None before its first
    commit), a view's or materialized view's entry."""
    if section == "tables":
        return versions(state)["tables"].get(key)
    return state.get(section, {}).get(key)

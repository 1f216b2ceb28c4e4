"""Warehouse catalog: schema.table → storage location + column metadata.

Plays the role of the reference's Postgres-backed Iceberg catalog (two tables:
``iceberg_tables(table_namespace, table_name, metadata_location, columns)`` and
``iceberg_materialized_views(schema_name, table_name, definition)`` — reference
scripts/catalog.sql:1-15, common/iceberg_catalog.go:59-82). Without an Iceberg
runtime in this environment, the catalog is a JSON file beside the data and
tables are parquet directories with **versioned locations + atomic pointer
swap** (the same commit model Iceberg metadata files implement, and the same
visibility guarantee the reference's `-bemidb-syncing` rename dance provides —
iceberg_table.go:46-70): readers resolve the catalog pointer at query time and
never observe a half-written table.

On a cluster this module is replaced 1:1 by an Iceberg JDBC/REST catalog;
every caller goes through ``location()`` / ``commit_table()`` so the swap is
the only thing that changes.

**Versions.** The state carries monotonic counters next to the tables
(``versions``): one per table, advanced by every commit that touches it,
and one ``schema`` counter, advanced only by DDL — creating, dropping or
renaming a table, view or materialized view, or changing a table's columns.
Sessions key their caches on these: a data commit to one table rebinds and
re-plans only what reads that table, and the pg_catalog emulation is rebuilt
only when the schema counter moves (pg's per-relation relcache
invalidation). Counters are stored, never derived from file times, and a
restore (ROLLBACK) advances them like any other commit, so no two states a
reader can observe share a version.
"""

from __future__ import annotations

import threading
import time

from bemidb_spark.sources import fs

_LOCK = threading.Lock()


class Catalog:
    # Every commit also emits spec-shaped Iceberg v2 metadata.json for the
    # table (sources/iceberg_meta.py) — the reference's headline contract
    # (storage_utils.go:371-496). Advisory for external readers: engine-side
    # reads always resolve through this catalog, so metadata emission is
    # best-effort and can be disabled for bulk test setup.
    EMIT_ICEBERG_METADATA = True

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
        read can see (data or schema), never rewound — not even by a
        restore of identical content."""
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

    # -- transactions --------------------------------------------------------
    def snapshot_state(self) -> dict:
        """The full catalog state (tables + matviews), for BEGIN to pin."""
        with _LOCK:
            return self._read()

    def restore_state(self, state: dict) -> None:
        """Atomically restore a previously-pinned state (ROLLBACK).

        The pinned counters are NOT restored: the restore is a new commit
        that advances the counter of every table in either state (ROLLBACK
        also prunes files appended in place, so even an unchanged entry may
        read differently) and, when the table set, a table's columns, or the
        view definitions differ, the schema counter."""
        with _LOCK:
            current = self._read()
            restored = {k: v for k, v in state.items() if k != "versions"}
            restored["versions"] = versions(current)
            self._commit(
                restored,
                touched=tuple(set(current["tables"]) | set(state["tables"])),
                ddl=_schema_of(current) != _schema_of(state),
            )

    # -- tables -------------------------------------------------------------
    @staticmethod
    def _key(schema: str, table: str) -> str:
        return f"{schema}.{table}"

    def new_location(self, schema: str, table: str) -> str:
        """A fresh versioned data directory for a table rewrite."""
        return fs.join(self.root, "data", schema, fs.fresh_name(table))

    def commit_table(
        self, schema: str, table: str, location: str, columns: list[dict],
        props: dict | None = None,
    ) -> str | None:
        """Atomically point schema.table at location; return the old location.

        ``props`` carries table layout metadata (e.g. key-bucket partitioning
        for pruned MERGE); omitted -> the previous entry's props are kept.
        """
        with _LOCK:
            state = self._read()
            prev = state["tables"].get(self._key(schema, table), {})
            old = prev.get("location")
            entry = {"location": location, "columns": columns}
            # snapshot log (reference keeps a snapshot history in its table
            # metadata, storage_utils.go:371-496): superseded locations stay
            # readable until expired, giving time travel + safe in-flight
            # reads across a swap
            snapshots = list(prev.get("snapshots", []))
            if old and old != location:
                snapshots.append({"location": old, "at": time.time()})
            entry["snapshots"] = snapshots
            carried = props if props is not None else prev.get("props")
            if carried:
                entry["props"] = carried
            key = self._key(schema, table)
            state["tables"][key] = entry
            self._commit(state, touched=(key,),
                         ddl=not prev or prev.get("columns") != columns)
        if self.EMIT_ICEBERG_METADATA:
            try:
                from bemidb_spark.sources.iceberg_meta import write_metadata_file

                write_metadata_file(self, schema, table)
            except Exception:  # noqa: BLE001 — advisory artifact; a failed
                pass  # emission must never fail the committed table swap
        return old

    def snapshots(self, schema: str, table: str) -> list[dict]:
        """Superseded locations, oldest first (live location not included)."""
        entry = self._read()["tables"].get(self._key(schema, table)) or {}
        return list(entry.get("snapshots", []))

    def prune_snapshots(self, schema: str, table: str, keep: int) -> list[str]:
        """Drop all but the newest ``keep`` snapshots from the log; returns
        the expired locations (caller deletes the files)."""
        with _LOCK:
            state = self._read()
            entry = state["tables"].get(self._key(schema, table))
            if entry is None:
                return []
            snaps = entry.get("snapshots", [])
            expired = snaps[: max(0, len(snaps) - keep)]
            entry["snapshots"] = snaps[len(expired):]
            # not a commit: the live location, all a reader binds, is as-is
            self._write(state)
        return [s["location"] for s in expired]

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

    def location(self, schema: str, table: str) -> str:
        entry = self._read()["tables"].get(self._key(schema, table))
        if entry is None:
            raise KeyError(f"table not found in catalog: {schema}.{table}")
        return entry["location"]

    def columns(self, schema: str, table: str) -> list[dict]:
        entry = self._read()["tables"].get(self._key(schema, table))
        if entry is None:
            raise KeyError(f"table not found in catalog: {schema}.{table}")
        return entry["columns"]

    def tables(self) -> dict[str, dict]:
        return self._read()["tables"]

    def drop_table(self, schema: str, table: str) -> str | None:
        with _LOCK:
            state = self._read()
            key = self._key(schema, table)
            entry = state["tables"].pop(key, None)
            if entry is not None:
                self._commit(state, touched=(key,), ddl=True)
        return entry["location"] if entry else None

    def drop_table_locations(self, schema: str, table: str) -> list[str]:
        """Drop the table; return EVERY location (live + snapshots + the
        Iceberg metadata dir) so the caller can delete the files."""
        with _LOCK:
            state = self._read()
            key = self._key(schema, table)
            entry = state["tables"].pop(key, None)
            if entry is not None:
                self._commit(state, touched=(key,), ddl=True)
        if not entry:
            return []
        return (
            [s["location"] for s in entry.get("snapshots", [])]
            + [entry["location"]]
            + [fs.join(self.root, "_iceberg", self._key(schema, table))]
        )

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


def versions(state: dict) -> dict:
    """A state's counters — ``seq`` (every commit), ``schema`` (DDL) and
    ``tables`` (per table) — as a fresh dict; zeros for a state written
    before counters existed."""
    v = state.get("versions") or {}
    return {"seq": v.get("seq", 0), "schema": v.get("schema", 0),
            "tables": dict(v.get("tables", {}))}


def _schema_of(state: dict) -> tuple:
    """What the schema counter versions: table names and columns, view and
    materialized-view definitions."""
    return (
        sorted((k, repr(e.get("columns"))) for k, e in state["tables"].items()),
        sorted((k, repr(e)) for k, e in state.get("views", {}).items()),
        sorted((k, repr(e)) for k, e in state.get("matviews", {}).items()),
    )

"""Span tracing for the traced benchmark run, installed from outside.

``Tracer.install`` wraps the public entry points of each layer inside the
server process; nothing under ``bemidb_spark/`` is edited. Where a module
binds a name with ``from … import``, the name is patched in every module
that looks it up, so the call sites the server actually uses are timed.

A span is (name, start, end, parent, statement id). Spans nest per thread;
a statement id is (backend pid, statement number on that connection): a
statement ends with a simple Query or an extended-protocol Sync, matching
the client's PQexec / PQexecParams calls one to one. Spans and counts are
kept in memory only between ``start`` and ``stop`` (the timed window);
``summary`` derives the per-layer numbers and ``dump`` writes the spans out.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
import weakref

def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass  # removed by a concurrent overwrite
    return out


class Tracer:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self.active = False
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._last_plan: dict[tuple[int, str], weakref.ref] = {}
        self.statements: set[tuple[int, int]] = set()
        self.setup_spans: list[tuple] = []
        # connection set-up happens mostly before the window (persistent
        # connections), so it is kept for the whole run
        self.connect_ms: list[float] = []
        self.pool = {"calls": 0, "hits": 0}

    # ---------------------------------------------------------------- state
    def start(self) -> None:
        with self._lock:
            self.spans, self.counts, self.statements = [], {}, set()
            self.active = True

    def stop(self) -> None:
        self.active = False

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _stmt(self):
        return getattr(self._local, "stmt", None)

    def span(self, name: str, fn, *args, **kwargs):
        """Run fn inside a span named ``name``; returns its result."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if self.active:
                with self._lock:
                    self.spans.append((sid, name, t0, t1, parent, self._stmt()))

    def setup_span(self, name: str, fn, *args, **kwargs):
        """Run fn as a set-up step (before the window), kept as a span."""
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.setup_spans.append((next(self._ids), name, t0,
                                     time.perf_counter(), None, None))

    def _wrap(self, owner, attr: str, name: str, wrapper=None) -> None:
        """Replace ``owner.attr`` by a span named ``name`` around it, or by
        ``wrapper(original)`` when one is given."""
        static = isinstance(owner.__dict__.get(attr), staticmethod)
        orig = owner.__dict__[attr].__func__ if static else getattr(owner, attr)
        tracer = self

        if wrapper is None:
            def traced(*args, **kwargs):
                return tracer.span(name, orig, *args, **kwargs)
        else:
            traced = wrapper(orig)
        traced = functools.wraps(orig)(traced)
        setattr(owner, attr, staticmethod(traced) if static else traced)

    # -------------------------------------------------------------- install
    def install(self) -> None:
        from bemidb_spark.pgcompat import catalog_views, dml, transpiler
        from bemidb_spark.pgcompat import session as pg_session
        from bemidb_spark.server import wire
        from bemidb_spark.sources import writer
        from bemidb_spark.sources.catalog import Catalog

        tracer = self

        # server: connection setup (TCP accept -> ReadyForQuery)
        def serve_conn(orig):
            def run(self_, sock):
                tracer._local.accepted = time.perf_counter()
                tracer._local.stmt = None
                return orig(self_, sock)
            return run

        def handshake(orig):
            def run(self_):
                ok = orig(self_)
                t0 = getattr(tracer._local, "accepted", None)
                if t0 is not None:
                    t1 = time.perf_counter()
                    with tracer._lock:
                        tracer.connect_ms.append((t1 - t0) * 1e3)
                        if tracer.active:
                            tracer.spans.append((next(tracer._ids), "server.connect",
                                                 t0, t1, None, None))
                tracer._local.seq = 0
                return ok
            return run

        def take_session(orig):
            def run(self_):
                out = orig(self_)
                with tracer._lock:
                    tracer.pool["calls"] += 1
                    tracer.pool["hits"] += out is not None
                return out
            return run

        # server: one statement = messages up to and including Q or Sync
        def dispatch(orig):
            def run(self_, msg_type, body):
                loc = tracer._local
                if loc.stmt is None:
                    loc.stmt = (self_.backend_pid, loc.seq)
                try:
                    return tracer.span("server.dispatch", orig, self_, msg_type, body)
                finally:
                    if msg_type in (b"Q", b"S"):
                        if tracer.active:
                            with tracer._lock:
                                tracer.statements.add(loc.stmt)
                        loc.seq += 1
                        loc.stmt = None
            return run

        self._wrap(wire.WireServer, "_serve_conn", "", serve_conn)
        self._wrap(wire._Conn, "handshake", "", handshake)
        self._wrap(wire.WireServer, "take_session", "", take_session)
        self._wrap(wire._Conn, "_dispatch", "", dispatch)

        # pgcompat: routing + analysis, transpile, pg_catalog registration
        def execute(orig):
            def run(self_, sql):
                out = tracer.span("pgcompat.execute", orig, self_, sql)
                key = (id(self_), sql)
                prev = tracer._last_plan.get(key)
                tracer._last_plan[key] = weakref.ref(out)
                tracer.count("pgcompat.execute_calls")
                if prev is not None and prev() is out:
                    tracer.count("pgcompat.plan_cache_hits")
                return out
            return run

        def invalidate(orig):
            def run(self_):
                tracer.count("pgcompat.invalidations")
                return orig(self_)
            return run

        self._wrap(pg_session.PgSession, "execute", "", execute)
        self._wrap(pg_session.PgSession, "invalidate_plans", "", invalidate)
        for mod in (transpiler, pg_session, dml):
            self._wrap(mod, "transpile", "pgcompat.transpile")
        for mod in (catalog_views, pg_session):
            self._wrap(mod, "register_pg_catalog", "pgcompat.register_pg_catalog")

        # engine: the DataFrame actions that produce a result's rows
        def row_stream(orig):
            def run(df):
                it = orig(df)

                def timed():
                    while True:
                        row = tracer.span("engine.fetch", next, it, None)
                        if row is None:
                            return
                        yield row
                return timed()
            return run

        self._wrap(wire._Conn, "_row_stream_for", "engine.fetch")
        self._wrap(wire._Conn, "_row_stream", "", row_stream)

        # sources: key upsert, append, catalog commit (+ Iceberg metadata)
        def upsert(orig):
            def run(spark, catalog, schema, table, *args, **kwargs):
                active = tracer.active
                loc = catalog.location(schema, table) if active else None
                before = _parquet_files(loc) if active else {}
                out = tracer.span("sources.upsert", orig, spark, catalog,
                                  schema, table, *args, **kwargs)
                if active:
                    after = _parquet_files(loc)
                    new = [p for p in after if p not in before]
                    tracer.count("sources.writes")
                    tracer.count("sources.files_written", len(new))
                    tracer.count("sources.bytes_written", sum(after[p] for p in new))
                return out
            return run

        for mod in (writer, dml):
            self._wrap(mod, "upsert_by_key", "", upsert)
        self._wrap(writer, "append_rows", "sources.append")
        self._wrap(Catalog, "commit_table", "sources.commit")

    # -------------------------------------------------------------- results
    def summary(self) -> dict:
        """Per-layer totals over the window: inclusive and self time per
        span name (ms), call counts, counters, and per-statement engine and
        pgcompat time keyed by statement for the client-side subtraction."""
        with self._lock:
            spans = list(self.spans)
            counts = dict(self.counts)
            statements = set(self.statements)
            connects = list(self.connect_ms)
            pool = dict(self.pool)
        child_ms: dict[int, float] = {}
        for sid, _name, t0, t1, parent, _stmt in spans:
            if parent is not None:
                child_ms[parent] = child_ms.get(parent, 0.0) + (t1 - t0) * 1e3
        by_name: dict[str, dict[str, float]] = {}
        self_by_layer: dict[str, float] = {}
        per_stmt = {f"{pid}:{seq}": {} for pid, seq in statements}
        for sid, name, t0, t1, _parent, stmt in spans:
            ms = (t1 - t0) * 1e3
            own = max(0.0, ms - child_ms.get(sid, 0.0))
            agg = by_name.setdefault(name, {"calls": 0, "ms": 0.0, "self_ms": 0.0})
            agg["calls"] += 1
            agg["ms"] += ms
            agg["self_ms"] += own
            layer = name.split(".")[0]
            self_by_layer[layer] = self_by_layer.get(layer, 0.0) + own
            if stmt is not None and name in ("pgcompat.execute", "engine.fetch"):
                d = per_stmt.get(f"{stmt[0]}:{stmt[1]}")
                if d is not None:
                    d[name] = d.get(name, 0.0) + ms
        return {
            "spans": by_name,
            "self_ms_by_layer": self_by_layer,
            "counts": counts,
            "per_statement": per_stmt,
            "connect_ms": connects,
            "session_pool": pool,
            "n_spans": len(spans),
        }

    def dump(self, path: str) -> None:
        with self._lock:
            spans = self.setup_spans + self.spans
        with open(path, "w") as fh:
            json.dump({"fields": ["id", "name", "start", "end", "parent", "statement"],
                       "spans": spans}, fh)

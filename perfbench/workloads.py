"""The benchmark's traffic: three closed-loop pg-wire workloads.

Each workload connects to the server through libpq, warms it up, runs its
mix for the timed window, and checks what the server returned. Every
client draws its statements from its own ``random.Random`` seeded from the
run seed, so a seed fixes each client's statement sequence. See README.md
for why each workload exists and which layer it loads.
"""

from __future__ import annotations

import datetime
import random
import statistics
import threading
import time

import pq

KV_KEYS = 20_000  # rows of the key-bucketed public.kv catalog table
KV_ROW_BYTES = 16  # user bytes per kv row: two BIGINT values
KV_READ = "SELECT count(*) AS keys, sum(n) AS total FROM kv"
# distinct lookup literals, far beyond the 256-entry plan cache; keys past
# the last customer find no row
LOOKUP_KEYS = 15_000


def kv_initial_n(k: int, seed: int) -> int:
    """Initial value of kv.n for key k (server.py writes the same)."""
    return (k + seed) % 7


def _conninfo(port: int) -> str:
    return f"host=127.0.0.1 port={port} user=bench dbname=bench"


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two nearest ranks like the
    median (0 for an empty sample)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _typed(result: pq.Result) -> list[tuple]:
    """Wire text cells -> the Python values DuckDB returns, by type OID."""
    conv = []
    for oid in result.oids:
        if oid in (20, 21, 23, 26):
            conv.append(int)
        elif oid in (700, 701):
            conv.append(float)
        elif oid == 16:
            conv.append(lambda v: v == "t")
        elif oid == 1082:
            conv.append(datetime.date.fromisoformat)
        elif oid == 1114:
            conv.append(datetime.datetime.fromisoformat)
        else:
            conv.append(str)
    return [tuple(None if v is None else f(v) for v, f in zip(row, conv))
            for row in result.rows]


def oracle_answer(data_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """DuckDB's (columns, rows) for sql over the parquet files in data_dir."""
    from bemidb_spark.oracle import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def oracle_mismatch(expected: tuple[list[str], list[tuple]],
                    result: pq.Result) -> str | None:
    """Compare a wire result with DuckDB's answer to the same SQL over the
    same parquet files (``bemidb_spark.oracle`` canonicalization: column
    names, row count and the order-insensitive multiset of values)."""
    from bemidb_spark.oracle import _rows_multiset

    cols, rows = expected
    if sorted(cols) != sorted(result.columns):
        return f"columns {result.columns} != {cols}"
    got = _rows_multiset(result.columns, _typed(result))
    want = _rows_multiset(cols, rows)
    if got != want:
        return f"{len(got)} rows, {sum(a != b for a, b in zip(got, want))} differ"
    return None


class _Stats:
    """Per-window counters shared by a workload's client threads."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.completed = 0
        self.latencies: dict[str, list[float]] = {}
        self.by_statement: dict[str, float] = {}
        self.errors: list[str] = []
        self.mismatches: list[str] = []
        self.last_end = 0.0

    def timed(self, kind: str, conn: pq.Connection, fn, *args, **kwargs):
        """Run one statement, recording its latency under ``kind``; returns
        its result, or None when it failed."""
        t0 = time.perf_counter()
        try:
            res = fn(*args, **kwargs)
        except pq.PgError as exc:
            with self.lock:
                self.attempted += 1
                self.failed += 1
                self.errors.append(f"{kind}: {exc}"[:300])
            return None
        t1 = time.perf_counter()
        ms = (t1 - t0) * 1e3
        with self.lock:
            self.attempted += 1
            self.completed += 1
            self.latencies.setdefault(kind, []).append(ms)
            self.by_statement[f"{conn.backend_pid}:{conn.statements - 1}"] = ms
            self.last_end = max(self.last_end, t1)
        return res

    def mismatch(self, what: str) -> None:
        with self.lock:
            self.mismatches.append(what[:300])


class Workload:
    """Base: ``clients`` closed-loop client threads over one timed window."""

    name = ""
    read_kinds: tuple[str, ...] = ()
    kv_keys = KV_KEYS

    def __init__(self, data_dir: str, seed: int, scale: float, clients: int) -> None:
        self.data_dir = data_dir
        self.seed = seed
        self.scale = scale
        self.clients = clients
        self.port = 0
        self.stats = _Stats()
        self.kv_writes = 0  # successful kv upserts, warm-up included
        self.kv_new_keys: set[int] = set()

    def expect(self) -> None:
        """Compute expected answers from the inputs (after the timed window,
        so that the oracle's work is neither in set-up nor beside the
        measured traffic)."""

    def connect(self, port: int) -> None:
        self.port = port

    def warmup(self) -> None:
        raise NotImplementedError

    def client_loop(self, i: int, rng: random.Random, deadline: float) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> dict:
        self.stats = _Stats()
        start = time.perf_counter()
        deadline = start + seconds
        errors: list[BaseException] = []

        def body(i: int) -> None:
            try:
                self.client_loop(i, random.Random(f"{self.seed}:{i}"), deadline)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        threads = [threading.Thread(target=body, args=(i,))
                   for i in range(self.n_threads())]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        st = self.stats
        reads = [ms for k in self.read_kinds for ms in st.latencies.get(k, [])]
        if not reads:
            raise RuntimeError(f"{self.name}: no read statement completed")
        return {
            "attempted": st.attempted, "failed": st.failed,
            "completed": st.completed,
            "elapsed_s": max(st.last_end, start + 1e-9) - start,
            "read_ms": reads, "clients": self.n_threads(),
            "errors": st.errors, "mismatches": st.mismatches,
            "by_statement": st.by_statement,
            "write_user_bytes": KV_ROW_BYTES,
            "extra": self.extra(st),
        }

    def n_threads(self) -> int:
        return self.clients

    def extra(self, st: _Stats) -> dict:
        return {f"{k}_p50_ms": p50(v) for k, v in sorted(st.latencies.items())}

    def verify(self) -> None:
        """Post-window checks against state the workload tracked."""

    def kv_live_user_bytes(self) -> int:
        """User bytes of the live kv rows (a workload that writes kv counts
        them in ``verify``; the others leave the initial rows)."""
        return self.kv_keys * KV_ROW_BYTES

    def close(self) -> None:
        pass


class TpchReexec(Workload):
    """One connection, simple protocol, plan cache in re-execute mode; the
    22 TPC-H statements back to back, repeated (``time psql < q.sql``)."""

    name = "tpch_reexec"
    read_kinds = ("tpch",)

    def expect(self) -> None:
        self.expected = {k: oracle_answer(self.data_dir, sql) for k, sql in self.queries}

    def connect(self, port: int) -> None:
        from bemidb_spark.operators.tpch import ORACLES

        super().connect(port)
        self.queries = [(k, " ".join(v.split())) for k, v in ORACLES.items()]
        self.conn = pq.Connection(_conninfo(port))
        self.conn.query("SET bemidb.plan_cache_mode = reexecute")
        self.first_pass: dict[str, pq.Result] = {}

    def n_threads(self) -> int:
        return 1

    def warmup(self) -> None:
        for name, sql in self.queries:
            self.first_pass[name] = self.conn.query(sql, fetch=True)

    def client_loop(self, i: int, rng: random.Random, deadline: float) -> None:
        # whole passes, so that every statement has the same weight and
        # suite_s is a full pass: at least one, and another only when, at the
        # last pass's duration, it ends inside the window. Later passes run
        # faster while the JVM warms, so a pass count that flipped between
        # runs (as it would if a pass started whenever time remained and a
        # pass took about the window) would move every figure.
        self.passes: list[float] = []
        while True:
            t0 = time.perf_counter()
            for _name, sql in self.queries:
                if self.stats.timed("tpch", self.conn, self.conn.query, sql) is None:
                    return
            self.passes.append(time.perf_counter() - t0)
            if time.perf_counter() + self.passes[-1] > deadline:
                return

    def extra(self, st: _Stats) -> dict:
        return {"suite_s": p50(self.passes), "passes": len(self.passes)}

    def verify(self) -> None:
        for name, _sql in self.queries:
            bad = oracle_mismatch(self.expected[name], self.first_pass[name])
            if bad:
                self.stats.mismatch(f"{name}: {bad}")

    def close(self) -> None:
        self.conn.close()


class DashboardRW(Workload):
    """``clients`` persistent connections on the extended protocol. One is a
    writer, a syncer upserting back to back: a single-row upsert into
    ``public.kv``, then a read of kv, closed loop. The others are
    dashboards, closed loop, cycling through a hot fixed-text aggregate and
    two customer lookups by keys drawn from LOOKUP_KEYS values. An upsert is
    running through nearly all of the window, so every read runs beside a
    write, and every commit makes the next statement of each session
    re-plan."""

    name = "dashboard_rw"
    read_kinds = ("hot", "lookup", "kv_read")
    HOT = ("SELECT o_orderpriority, count(*) AS n_orders, "
           "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) "
           "AS total FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' "
           "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    LOOKUP = "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = $1"
    # The pg spelling of the increment is `n = kv.n + 1`; the server rejects
    # a target-qualified column in ON CONFLICT SET (UNRESOLVED_COLUMN), so
    # the bare name, which it binds to the existing row, is sent instead.
    UPSERT = ("INSERT INTO kv (k, n) VALUES ($1, 1) "
              "ON CONFLICT (k) DO UPDATE SET n = n + 1")
    CYCLE = ("hot", "lookup", "lookup")
    # Only the writer reads kv: a kv scan that overlaps an upsert can fail
    # with FILE_NOT_EXIST, because the upsert overwrites the affected bucket
    # partitions in place and deletes files the scan already listed.

    def expect(self) -> None:
        self.hot_expected = oracle_answer(self.data_dir, self.HOT)

    def connect(self, port: int) -> None:
        super().connect(port)
        self.n_customers = max(15, int(150_000 * self.scale))
        self.conns = [pq.Connection(_conninfo(port)) for _ in range(self.n_threads())]

    def n_threads(self) -> int:
        return max(2, self.clients)

    def _lookup(self, conn: pq.Connection, key: int) -> None:
        res = self.stats.timed("lookup", conn, conn.query_params, self.LOOKUP,
                               [str(key)], fetch=True)
        want = [f"Customer#{key:09d}"] if key < self.n_customers else []
        if res is not None and [r[0] for r in res.rows] != want:
            self.stats.mismatch(f"lookup {key}: {res.rows[:2]}")

    def _write(self, conn: pq.Connection, key: int) -> None:
        res = self.stats.timed("write", conn, conn.query_params, self.UPSERT, [str(key)])
        if res is not None:
            self.kv_writes += 1
            if key >= self.kv_keys:
                self.kv_new_keys.add(key)
        self.stats.timed("kv_read", conn, conn.query_params, KV_READ, [])

    def _run(self, i: int, rng: random.Random, deadline: float, steps: int = 0) -> None:
        """Client i's loop: until the deadline, or for ``steps`` steps."""
        conn = self.conns[i]
        step = i
        while True:
            if i == 0:
                self._write(conn, rng.randrange(self.kv_keys * 6 // 5))
            elif self.CYCLE[step % len(self.CYCLE)] == "hot":
                self.stats.timed("hot", conn, conn.query_params, self.HOT, [])
            else:
                self._lookup(conn, rng.randrange(LOOKUP_KEYS))
            step += 1
            if step - i == steps or time.perf_counter() >= deadline:
                return

    def warmup(self) -> None:
        """The hot aggregate once (its result is checked), then the first
        upsert beside one cycle on every dashboard."""
        self.hot_result = self.conns[-1].query_params(self.HOT, [], fetch=True)
        threads = [threading.Thread(
            target=self._run,
            args=(i, random.Random(f"{self.seed}:warmup:{i}"), float("inf"),
                  1 if i == 0 else len(self.CYCLE)))
            for i in range(self.n_threads())]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if self.stats.errors or self.stats.mismatches:
            raise RuntimeError("warm-up failed: " + "; ".join(
                self.stats.errors + self.stats.mismatches))

    def client_loop(self, i: int, rng: random.Random, deadline: float) -> None:
        self._run(i, rng, deadline)

    def extra(self, st: _Stats) -> dict:
        out = super().extra(st)
        out["write_p50_ms"] = p50(st.latencies.get("write", []))
        out["writes"] = len(st.latencies.get("write", []))
        out["write_share"] = out["writes"] / max(1, st.completed)
        return out

    def verify(self) -> None:
        bad = oracle_mismatch(self.hot_expected, self.hot_result)
        if bad:
            self.stats.mismatch(f"hot aggregate: {bad}")
        # every acknowledged upsert added 1 to sum(n); new keys added rows
        row = self.conns[0].query(KV_READ, fetch=True).rows[0]
        self.kv_rows, total = int(row[0]), int(row[1])
        want_rows = self.kv_keys + len(self.kv_new_keys)
        want_total = sum(kv_initial_n(k, self.seed) for k in range(self.kv_keys))
        want_total += self.kv_writes
        if (self.kv_rows, total) != (want_rows, want_total):
            self.stats.mismatch(
                f"kv holds {self.kv_rows} keys summing to {total}; expected "
                f"{want_rows} keys summing to {want_total} after "
                f"{self.kv_writes} upserts")

    def kv_live_user_bytes(self) -> int:
        return self.kv_rows * KV_ROW_BYTES

    def close(self) -> None:
        for c in self.conns:
            c.close()


class SessionChurn(Workload):
    """``clients`` clients, a new connection per session (psql-style): the
    relation-list query psql's ``\\d`` sends, then two short reads."""

    name = "session_churn"
    read_kinds = ("catalog", "lookup", "kv_count")
    # psql 15's `\d` with no pattern, verbatim
    CATALOG = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','v','m','S','f','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2;"""

    def connect(self, port: int) -> None:
        from bemidb_spark.tables import TABLES

        super().connect(port)
        self.n_customers = max(15, int(150_000 * self.scale))
        self.expected = sorted(("public", t) for t in (*TABLES, "kv"))
        self.sessions: list[float] = []

    def session(self, rng: random.Random, timed: bool) -> None:
        st = self.stats
        t0 = time.perf_counter()
        try:
            conn = pq.Connection(_conninfo(self.port))
        except pq.PgError as exc:
            with st.lock:
                st.attempted += 1
                st.failed += 1
                st.errors.append(f"connect: {exc}"[:300])
            return
        with conn:
            connected = time.perf_counter()
            res = st.timed("catalog", conn, conn.query, self.CATALOG, fetch=True)
            if res is not None and sorted(r[:2] for r in res.rows) != self.expected:
                st.mismatch(f"\\d listed {sorted(r[:2] for r in res.rows)}")
            key = rng.randrange(self.n_customers)
            res = st.timed("lookup", conn, conn.query,
                           f"SELECT c_name FROM customer WHERE c_custkey = {key}",
                           fetch=True)
            if res is not None and res.rows != [(f"Customer#{key:09d}",)]:
                st.mismatch(f"lookup {key}: {res.rows[:2]}")
            res = st.timed("kv_count", conn, conn.query,
                           "SELECT count(*) FROM kv", fetch=True)
            if res is not None and res.rows != [(str(self.kv_keys),)]:
                st.mismatch(f"kv count: {res.rows}")
            done = time.perf_counter()
        if timed:
            with st.lock:
                self.sessions.append((done - t0) * 1e3)
                self.connects.append((connected - t0) * 1e3)

    def warmup(self) -> None:
        threads = [threading.Thread(target=self.session,
                                    args=(random.Random(f"{self.seed}:warmup:{i}"), False))
                   for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if self.stats.errors or self.stats.mismatches:
            raise RuntimeError("warm-up failed: " + "; ".join(
                self.stats.errors + self.stats.mismatches))

    def client_loop(self, i: int, rng: random.Random, deadline: float) -> None:
        while time.perf_counter() < deadline:
            self.session(rng, timed=True)

    def measure(self, seconds: float) -> dict:
        self.sessions, self.connects = [], []
        return super().measure(seconds)

    def extra(self, st: _Stats) -> dict:
        out = super().extra(st)
        out.update(session_p50_ms=p50(self.sessions),
                   session_p90_ms=p90(self.sessions),
                   connect_p50_ms=p50(self.connects),
                   sessions=len(self.sessions))
        return out


WORKLOADS = {w.name: w for w in (TpchReexec, DashboardRW, SessionChurn)}

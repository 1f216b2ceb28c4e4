"""Minimal libpq binding (ctypes) used as the benchmark's pg client.

libpq is the client library psql and pgbench are built on, so the server
sees exactly the startup, simple-query and extended-query traffic those
tools send. ``ctypes`` releases the interpreter lock for the duration of
each libpq call, so one client thread per connection overlaps its waits
with the others'.
"""

from __future__ import annotations

import ctypes
import ctypes.util

_lib = ctypes.CDLL(ctypes.util.find_library("pq") or "libpq.so.5")

_c = ctypes.c_char_p
_p = ctypes.c_void_p
_i = ctypes.c_int
for _name, _args, _res in [
    ("PQconnectdb", [_c], _p),
    ("PQstatus", [_p], _i),
    ("PQerrorMessage", [_p], _c),
    ("PQfinish", [_p], None),
    ("PQbackendPID", [_p], _i),
    ("PQexec", [_p, _c], _p),
    ("PQexecParams", [_p, _c, _i, _p, ctypes.POINTER(_c), _p, _p, _i], _p),
    ("PQresultStatus", [_p], _i),
    ("PQresultErrorMessage", [_p], _c),
    ("PQntuples", [_p], _i),
    ("PQnfields", [_p], _i),
    ("PQfname", [_p, _i], _c),
    ("PQftype", [_p, _i], ctypes.c_uint),
    ("PQgetvalue", [_p, _i, _i], _c),
    ("PQgetisnull", [_p, _i, _i], _i),
    ("PQclear", [_p], None),
]:
    _fn = getattr(_lib, _name)
    _fn.argtypes = _args
    _fn.restype = _res

_CONNECTION_OK = 0
_PGRES_COMMAND_OK = 1
_PGRES_TUPLES_OK = 2


class PgError(Exception):
    """A connection or statement failed; the message is libpq's."""


class Result:
    """A completed statement's result: column names and type OIDs, row
    count and, when fetched, the rows as text."""

    def __init__(self, res: int, fetch: bool) -> None:
        nf = _lib.PQnfields(res)
        self.columns = [_lib.PQfname(res, i).decode() for i in range(nf)]
        self.oids = [_lib.PQftype(res, i) for i in range(nf)]
        self.ntuples = _lib.PQntuples(res)
        self.rows: list[tuple[str | None, ...]] = []
        if fetch:
            self.rows = [
                tuple(
                    None if _lib.PQgetisnull(res, r, c)
                    else _lib.PQgetvalue(res, r, c).decode()
                    for c in range(nf)
                )
                for r in range(self.ntuples)
            ]


class Connection:
    """One libpq connection. ``query`` uses the simple-query protocol,
    ``query_params`` the extended protocol (Parse/Bind/Describe/Execute/Sync
    with text parameters, as ``pgbench -M extended`` sends)."""

    def __init__(self, conninfo: str) -> None:
        self._conn = _lib.PQconnectdb(conninfo.encode())
        if _lib.PQstatus(self._conn) != _CONNECTION_OK:
            msg = _lib.PQerrorMessage(self._conn).decode(errors="replace")
            _lib.PQfinish(self._conn)
            self._conn = None
            raise PgError(msg.strip())
        self.backend_pid = _lib.PQbackendPID(self._conn)
        # statements sent so far; the server numbers them the same way
        self.statements = 0

    def _finish(self, res: int, fetch: bool) -> Result:
        if not res:
            raise PgError(_lib.PQerrorMessage(self._conn).decode(errors="replace"))
        try:
            status = _lib.PQresultStatus(res)
            if status not in (_PGRES_COMMAND_OK, _PGRES_TUPLES_OK):
                raise PgError(
                    _lib.PQresultErrorMessage(res).decode(errors="replace").strip())
            return Result(res, fetch)
        finally:
            _lib.PQclear(res)

    def query(self, sql: str, fetch: bool = False) -> Result:
        self.statements += 1
        return self._finish(_lib.PQexec(self._conn, sql.encode()), fetch)

    def query_params(self, sql: str, params: list[str], fetch: bool = False) -> Result:
        self.statements += 1
        values = (_c * len(params))(*[p.encode() for p in params])
        res = _lib.PQexecParams(self._conn, sql.encode(), len(params), None,
                                values, None, None, 0)
        return self._finish(res, fetch)

    def close(self) -> None:
        if self._conn is not None:
            _lib.PQfinish(self._conn)
            self._conn = None

    def __enter__(self) -> "Connection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

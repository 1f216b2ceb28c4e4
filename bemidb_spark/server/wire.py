"""Postgres wire-protocol (v3) server in front of the Spark engine.

Python re-expression of the reference's server binary (C12-C14):

- startup / SSLRequest-deny / trust auth + ParameterStatus + BackendKeyData
  (reference src/server/postgres_server.go:209-247)
- simple query: statements → PgSession router → RowDescription(OIDs) +
  text-format DataRows + CommandComplete tag
  (query_handler.go:64-110, 240-341)
- extended protocol: Parse/Bind/Describe/Execute/Sync/Close/Flush state
  machine with $n parameter substitution; text params always, binary params
  int32/int64/UUID — and Describe *executes* the statement and caches rows for
  Execute, matching the reference's documented quirk (query_handler.go:186-216)
- Spark schema → pg type OID table mirroring response_handler.go:28-113;
  text encoding: bool → t/f, arrays → {a,b,c} literals, bytea → \\x hex
  (response_handler.go:148-233, 332-369)

One OS thread per connection (connections share the thread-safe SparkSession;
concurrent queries schedule under FAIR — the engine's throughput path).
"""

from __future__ import annotations

import contextlib
import re
import socket
import struct
import threading
import time
import uuid as uuid_mod
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bemidb_spark.pgcompat.session import PgSession, UnsupportedQueryError
from bemidb_spark.pgcompat.types import render_interval, render_time
from bemidb_spark.sources.catalog import Catalog

PROTOCOL_V3 = 196608
SSL_REQUEST = 80877103
GSSENC_REQUEST = 80877104
CANCEL_REQUEST = 80877102

# Frame-size guards (pg: PQ_LARGE_MESSAGE_LIMIT / MAX_STARTUP_PACKET_LENGTH).
# Regular messages cap far above any real COPY chunk; the startup packet is
# just options and caps small, matching pg's 10 kB limit.
MAX_MESSAGE_BYTES = 256 * 1024 * 1024

# Result fetch (_Conn._row_stream_for): every result is first fetched as one
# Arrow job capped at this many rows + 1; a result that overflows the cap,
# or whose schema Arrow cannot carry byte-identically (_arrow_safe_schema:
# struct/map/year-month-interval and anything unrecognized), streams
# partition-at-a-time instead. Served bytes are pinned identical to
# collect() by tools/wire_bytes_identity.py + tests/test_wire.py.
_WIRE_COLLECT_MAX_ROWS = 50_000
# Output buffering for row/CopyData frames: flush threshold in bytes.
_SEND_BUFFER_BYTES = 64 * 1024
MAX_STARTUP_BYTES = 16 * 1024


class ProtocolViolationError(Exception):
    """Malformed frame (bad length prefix): SQLSTATE 08P01, connection dies."""

    sqlstate = "08P01"

# Spark type -> (pg OID, typlen); mirrors response_handler.go:28-113.
_OID_BOOL, _OID_BYTEA, _OID_INT8, _OID_INT4, _OID_TEXT = 16, 17, 20, 23, 25
_OID_FLOAT4, _OID_FLOAT8, _OID_NUMERIC = 700, 701, 1700
_OID_DATE, _OID_TIMESTAMP, _OID_TIMESTAMPTZ = 1082, 1114, 1184
_OID_TIME, _OID_INTERVAL, _OID_JSON = 1083, 1186, 114
_OID_TEXT_ARRAY = 1009


def _pg_type_of(field: T.StructField | None) -> str | None:
    if field is not None and field.metadata:
        return field.metadata.get("pg_type")
    return None


def pg_oid(dt: T.DataType, field: T.StructField | None = None) -> tuple[int, int]:
    # pg-typed columns carry their origin in field metadata (types.py shims)
    pg = _pg_type_of(field)
    if pg:
        if pg.startswith(("timetz", "time")) and not pg.startswith("timestamp"):
            return _OID_TIME, 8
        if pg == "interval":
            return _OID_INTERVAL, 16
        if pg in ("json", "jsonb"):
            return _OID_JSON, -1
    if isinstance(dt, T.BooleanType):
        return _OID_BOOL, 1
    if isinstance(dt, T.BinaryType):
        return _OID_BYTEA, -1
    if isinstance(dt, (T.LongType,)):
        return _OID_INT8, 8
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return _OID_INT4, 4
    if isinstance(dt, T.FloatType):
        return _OID_FLOAT4, 4
    if isinstance(dt, T.DoubleType):
        return _OID_FLOAT8, 8
    if isinstance(dt, T.DecimalType):
        return _OID_NUMERIC, -1
    if isinstance(dt, T.DateType):
        return _OID_DATE, 4
    if isinstance(dt, T.TimestampNTZType):
        return _OID_TIMESTAMP, 8
    if isinstance(dt, T.TimestampType):
        return _OID_TIMESTAMPTZ, 8
    if isinstance(dt, T.ArrayType):
        return _OID_TEXT_ARRAY, -1
    return _OID_TEXT, -1


def _encode_value(v, dt: T.DataType, field: T.StructField | None = None) -> str | None:
    """Text-format cell encoding (response_handler.go:148-233)."""
    if v is None:
        return None
    pg = _pg_type_of(field)
    if pg:
        if pg.startswith(("timetz", "time")) and not pg.startswith("timestamp"):
            return render_time(int(v))
        if pg == "interval":
            return render_interval(int(v))
    if isinstance(dt, T.BooleanType):
        return "t" if v else "f"
    if isinstance(dt, T.BinaryType):
        return "\\x" + bytes(v).hex()
    if isinstance(dt, T.TimestampNTZType | T.TimestampType):
        text = v.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{v.microsecond:06d}".rstrip("0") if v.microsecond else ""
        )
        # a COMPUTED timestamptz (no stored-column pg tag) renders with its
        # UTC offset, exactly like the reference's engine output
        # (query_handler_test.go date_trunc golden: "… 00:00:00+00:00");
        # STORED timestamptz columns lost their zone at ingest in the
        # reference and render naive — the pg tag marks those.
        if isinstance(dt, T.TimestampType) and not pg:
            text += "+00:00"
        return text
    if isinstance(dt, T.DateType):
        return v.isoformat()
    if isinstance(dt, T.DayTimeIntervalType):
        total_us = round(v.total_seconds() * 1_000_000)
        days, rem = divmod(total_us, 86_400_000_000)
        return f"0 months {days} days {rem} microseconds"
    if isinstance(dt, T.YearMonthIntervalType):
        return f"{int(v)} months 0 days 0 microseconds"
    if isinstance(dt, T.ArrayType):
        inner = ",".join(
            "NULL" if x is None else _array_elem(_encode_value(x, dt.elementType))
            for x in v
        )
        return "{" + inner + "}"
    return str(v)


def _array_elem(s: str | None) -> str:
    if s is None:
        return "NULL"
    if s == "" or any(c in s for c in ' ,{}"\\'):
        # Embedded quotes double (CSV-style, matching the reference's
        # encoding/csv array writer, response_handler.go:332-369 — golden-
        # pinned); backslashes escape pg-style `\\` — the reference leaves
        # them raw, which no pg client can parse back (encoding/csv never
        # escapes backslash). parse_pg_array accepts both conventions.
        return '"' + s.replace("\\", "\\\\").replace('"', '""') + '"'
    return s


# ------------------------------------------------------------ binary format
# Result-format code 1 from Bind (documented pg binary encodings: network
# byte order, pg epoch 2000-01-01, base-10000 numeric). The reference's
# pgproto layer provides these for free; clients like psycopg request binary
# per column, so the server must honor the Bind format codes.
_PG_EPOCH_DATE = None  # initialised lazily to avoid importing datetime at top


def _pg_numeric_bin(v) -> bytes:
    """pg `numeric` binary: ndigits, weight, sign, dscale, base-10000 digits."""
    from decimal import Decimal

    d = Decimal(v)
    sign = 0x4000 if d < 0 else 0x0000
    s = format(abs(d), "f")
    ip, _, fp = s.partition(".")
    dscale = len(fp)
    ip = ip.lstrip("0")
    ip = "0" * ((-len(ip)) % 4) + ip
    fp = fp + "0" * ((-len(fp)) % 4)
    groups = [int(ip[i:i + 4]) for i in range(0, len(ip), 4)]
    weight = len(groups) - 1
    groups += [int(fp[i:i + 4]) for i in range(0, len(fp), 4)]
    while groups and groups[0] == 0:
        groups.pop(0)
        weight -= 1
    while groups and groups[-1] == 0:
        groups.pop()
    if not groups:
        weight, sign = 0, 0
    return struct.pack("!HhHH", len(groups), weight, sign, dscale) + struct.pack(
        f"!{len(groups)}H", *groups
    )


def _pg_array_bin(v, elem_dt: T.DataType) -> bytes:
    """1-D array binary with text-typed elements (matches _OID_TEXT_ARRAY)."""
    if not v:
        return struct.pack("!iii", 0, 0, _OID_TEXT)
    elems = [_encode_value(x, elem_dt) for x in v]
    hasnull = 1 if any(e is None for e in elems) else 0
    out = struct.pack("!iiiii", 1, hasnull, _OID_TEXT, len(elems), 1)
    for e in elems:
        if e is None:
            out += struct.pack("!i", -1)
        else:
            b = e.encode()
            out += struct.pack("!i", len(b)) + b
    return out


def _encode_binary(v, dt: T.DataType, field: T.StructField | None = None) -> bytes | None:
    """Binary-format cell encoding (format code 1)."""
    import datetime as _dt

    if v is None:
        return None
    pg = _pg_type_of(field)
    if pg:
        if pg.startswith(("timetz", "time")) and not pg.startswith("timestamp"):
            return struct.pack("!q", int(v))  # micros since midnight
        if pg == "interval":
            return struct.pack("!qii", int(v), 0, 0)  # micros, days, months
        if pg in ("json", "jsonb"):
            return str(v).encode()
    if isinstance(dt, T.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(dt, T.LongType):
        return struct.pack("!q", int(v))
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return struct.pack("!i", int(v))
    if isinstance(dt, T.FloatType):
        return struct.pack("!f", float(v))
    if isinstance(dt, T.DoubleType):
        return struct.pack("!d", float(v))
    if isinstance(dt, T.DecimalType):
        return _pg_numeric_bin(v)
    if isinstance(dt, T.DateType):
        return struct.pack("!i", (v - _dt.date(2000, 1, 1)).days)
    if isinstance(dt, T.TimestampNTZType | T.TimestampType):
        naive = v.replace(tzinfo=None)
        delta = naive - _dt.datetime(2000, 1, 1)
        micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
        return struct.pack("!q", micros)
    if isinstance(dt, T.ArrayType):
        return _pg_array_bin(v, dt.elementType)
    return str(v).encode()


_COPY_BIN_SIG = b"PGCOPY\n\xff\r\n\x00"


def _decode_binary(raw: bytes, dt: T.DataType, field: T.StructField | None = None):
    """Inverse of _encode_binary for COPY FROM BINARY cells → text form.

    Returns the pg TEXT representation (the COPY IN pipeline casts text →
    column type exactly as the text/CSV formats do, so all three formats
    share one ingestion path)."""
    import datetime as _dt

    pg = _pg_type_of(field)
    if pg:
        if pg.startswith(("timetz", "time")) and not pg.startswith("timestamp"):
            return str(struct.unpack("!q", raw)[0])
        if pg == "interval":
            micros, days, months = struct.unpack("!qii", raw)
            total = micros + (days + months * 30) * 86_400_000_000
            from bemidb_spark.pgcompat.types import render_interval

            return render_interval(total)
    if isinstance(dt, T.BooleanType):
        return "true" if raw != b"\x00" else "false"
    if isinstance(dt, T.BinaryType):
        return "\\x" + raw.hex()
    if isinstance(dt, T.LongType):
        return str(struct.unpack("!q", raw)[0])
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return str(struct.unpack("!i", raw)[0])
    if isinstance(dt, T.FloatType):
        return repr(struct.unpack("!f", raw)[0])
    if isinstance(dt, T.DoubleType):
        return repr(struct.unpack("!d", raw)[0])
    if isinstance(dt, T.DecimalType):
        from decimal import Decimal

        ndigits, weight, sign, dscale = struct.unpack("!HhHH", raw[:8])
        digits = struct.unpack(f"!{ndigits}H", raw[8:8 + 2 * ndigits])
        # value = Σ digit[i] · 10000^(weight−i); negative exponents are the
        # fractional base-10000 groups
        val = Decimal(0)
        for i, d in enumerate(digits):
            val += Decimal(d) * (Decimal(10_000) ** (weight - i))
        if sign == 0x4000:
            val = -val
        return str(val.quantize(Decimal(1).scaleb(-dscale)) if dscale else val)
    if isinstance(dt, T.DateType):
        days = struct.unpack("!i", raw)[0]
        return (_dt.date(2000, 1, 1) + _dt.timedelta(days=days)).isoformat()
    if isinstance(dt, T.TimestampNTZType | T.TimestampType):
        micros = struct.unpack("!q", raw)[0]
        text = (
            _dt.datetime(2000, 1, 1) + _dt.timedelta(microseconds=micros)
        ).isoformat(sep=" ")
        if isinstance(dt, T.TimestampType):
            # pg binary timestamptz is micros since 2000-01-01 *UTC*; the
            # shared text-ingestion path casts in the session timezone, so a
            # bare local-looking string would shift the instant after
            # SET timezone. Pin the offset explicitly.
            text += "+00"
        return text
    return raw.decode()


def _resolve_formats(codes: list[int], ncols: int) -> list[int]:
    """Bind result-format semantics: [] = all text, [c] = c for every
    column, else one code per column."""
    if not codes:
        return [0] * ncols
    if len(codes) == 1:
        return codes * ncols
    return (codes + [0] * ncols)[:ncols]


_COPY_OUT_RE = re.compile(
    r"^\s*COPY\s+(\(.*\)|[A-Za-z_][\w.\"]*(?:\s*\([^)]*\))?)\s+TO\s+STDOUT\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_IN_RE = re.compile(
    r"^\s*COPY\s+([A-Za-z_][\w.\"]*)\s*(?:\(([^)]*)\))?\s+FROM\s+STDIN\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _copy_text_unescape(v: str) -> str:
    out, i, n = [], 0, len(v)
    while i < n:
        c = v[i]
        if c == "\\" and i + 1 < n:
            nxt = v[i + 1]
            out.append({"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _copy_text_escape(v: str) -> str:
    """pg COPY text-format escapes: backslash, tab, newline, CR."""
    return (v.replace("\\", "\\\\").replace("\t", "\\t")
             .replace("\n", "\\n").replace("\r", "\\r"))


def _csv_field(v: str) -> str:
    """CSV quoting per pg COPY CSV: quote when delimiter/quote/EOL present."""
    if any(c in v for c in (',', '"', '\n', '\r')):
        return '"' + v.replace('"', '""') + '"'
    return v


def _tag_for(sql: str, n_rows: int) -> str:
    head = sql.strip().split()[0].upper() if sql.strip() else "SELECT"
    if head in ("SELECT", "WITH", "VALUES", "TABLE", "SHOW"):
        return f"SELECT {n_rows}"
    if "MATERIALIZED VIEW" in sql.upper() and head in ("CREATE", "REFRESH", "DROP", "ALTER"):
        return f"{head} MATERIALIZED VIEW"
    return head


_EXHAUSTED = object()  # iterator-drained sentinel (never a Row)


# ------------------------------------------------------- Arrow result fetch
def _arrow_safe_schema(schema: T.StructType) -> bool:
    """True iff every column's Python objects from the Arrow path are
    IDENTICAL (value and type) to what ``collect()`` yields, so the encoded
    wire bytes cannot differ. Struct/map are excluded (``collect`` yields
    ``Row``/dict whose text renderings differ from Arrow's dicts);
    year-month intervals and anything unrecognized decline conservatively.
    Timestamps WITH timezone are safe because ``_arrow_fetch_rows`` casts
    them to naive wall-time first (session tz is pinned UTC)."""

    def ok(dt: T.DataType) -> bool:
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        return isinstance(
            dt,
            (
                T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
                T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
                T.StringType, T.BinaryType, T.DateType, T.TimestampType,
                T.TimestampNTZType, T.DayTimeIntervalType, T.NullType,
            ),
        )

    return all(ok(f.dataType) for f in schema.fields)


def _strip_tz_arrow_type(t):
    """Arrow type with every timestamp-with-tz (incl. nested in lists)
    replaced by the naive timestamp of the same unit; returns ``t`` itself
    when nothing changes."""
    import pyarrow as pa

    if pa.types.is_timestamp(t) and t.tz is not None:
        return pa.timestamp(t.unit)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner = _strip_tz_arrow_type(t.value_type)
        if inner is not t.value_type:
            return pa.large_list(inner) if pa.types.is_large_list(t) else pa.list_(inner)
    return t


def _arrow_fetch_rows(limited: DataFrame) -> list | None:
    """Fetch ``limited``'s rows via one Arrow job (``toArrow``) as a list of
    tuples whose Python objects match ``collect()`` exactly, or ``None``
    when Arrow cannot carry the result byte-identically (the caller
    streams it instead).

    ``collect()`` deserializes pickled Rows one at a time;
    ``toArrow`` ships the same result as columnar Arrow batches —
    measured 1.8x faster on the resident 22-query pass at sf0.1.
    The one representational difference — Arrow timestamps carry the UTC
    session zone, ``collect`` yields naive UTC wall time — is normalized by
    casting tz-aware columns to naive BEFORE ``to_pylist`` (epoch unchanged,
    so the wall-time digits are identical).

    Only a conversion failure returns ``None``: PySpark's schema mapping
    (``TypeError``) or pyarrow's (``ArrowException``). A failure of the
    statement itself — a runtime error, a cancel, a timeout — raises from
    this one run; falling back on it would run the statement again."""
    import pyarrow as pa

    if not _arrow_safe_schema(limited.schema):
        return None
    try:
        tbl = limited.toArrow()
    except (TypeError, pa.ArrowException):
        return None
    cols = []
    for col in tbl.columns:
        stripped = _strip_tz_arrow_type(col.type)
        if stripped is not col.type:
            col = col.cast(stripped)
        cols.append(col.to_pylist())
    if not cols:
        return []
    return list(zip(*cols))


@dataclass
class _Prepared:
    sql: str
    params: list[str | None] = field(default_factory=list)
    # (df, live row iterator) — the rows of one capped Arrow fetch (LIMIT
    # max_rows+1), or, when that overflows or Arrow declines the schema, a
    # partition-at-a-time stream (see _row_stream_for). Either way the
    # portal never buffers an unbounded result set on the driver: `SELECT *
    # FROM huge` over the wire stays O(partition) driver memory, matching
    # how Postgres itself streams DataRows.
    result: tuple[DataFrame, object] | None = None
    pending: object | None = None  # look-ahead row held across suspensions
    sent: int = 0  # rows already streamed (portal suspension cursor)
    result_formats: list[int] = field(default_factory=list)  # Bind codes


class _Conn:
    def __init__(
        self,
        sock: socket.socket,
        spark: SparkSession,
        catalog: Catalog | None,
        password: str | None = None,
        auth_method: str = "cleartext",
        server: "WireServer | None" = None,
        server_version: str | None = None,
    ):
        self.sock = sock
        self.spark = spark
        self.password = password
        self.auth_method = auth_method
        self.server = server
        self.backend_pid, self.backend_secret = (
            server.register_backend(self) if server else (1, 0))
        self.job_group = f"pgwire-{self.backend_pid}"
        self.cancel_requested = False  # set by cancel() on a CancelRequest
        # set when the running statement ends (_statement_deadline); read
        # and cleared under _cancel_lock, so a cancel never flags a
        # statement that already ended
        self._running: threading.Event | None = None
        self._cancel_lock = threading.Lock()
        # Each connection gets an isolated engine session (pg SET semantics
        # are session-local; see PgSession isolate docstring). All of this
        # backend's engine calls go through the fork, so COPY rebinds and
        # DDL refreshes land in the namespace its queries actually read.
        # The fork builds in ~3 ms (newSession + profile-conf copy); it
        # binds each relation when a statement first names it.
        self.session = (
            server.take_session() if server is not None
            else PgSession(spark, catalog, isolate=True,
                           server_version=server_version))
        self.spark = self.session.spark
        self.prepared: dict[str, _Prepared] = {}
        self.portals: dict[str, _Prepared] = {}

    # ---------------------------------------------------------------- frames
    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionResetError
            buf += chunk
        return buf

    def _recv_frame(self) -> tuple[bytes, bytes]:
        """One typed frame with a VALIDATED length prefix.

        pg rejects length < 4 and caps message size (PQ_LARGE_MESSAGE_LIMIT);
        without the cap a single hostile `Q` header claiming 4 GB makes the
        server buffer it all (memory DoS), and a length < 4 silently desyncs
        framing. Both get 08P01 protocol_violation + connection close.
        """
        msg_type = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        if length < 4 or length - 4 > MAX_MESSAGE_BYTES:
            raise ProtocolViolationError(
                f"invalid message length {length} (type {msg_type!r})")
        return msg_type, self._recv_exact(length - 4)

    def _send(self, msg_type: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(msg_type + struct.pack("!I", len(payload) + 4) + payload)

    def _send_ready(self) -> None:
        self._send(b"Z", b"I")

    # Spark error class -> pg SQLSTATE (clients branch on these; the
    # reference maps common errors the same way, SURVEY known-hard list)
    _SQLSTATE_MAP = [
        ("TABLE_OR_VIEW_NOT_FOUND", "42P01"),
        ("UNRESOLVED_COLUMN", "42703"),
        ("UNRESOLVED_ROUTINE", "42883"),
        ("PARSE_SYNTAX_ERROR", "42601"),
        ("DIVIDE_BY_ZERO", "22012"),
        ("CAST_INVALID_INPUT", "22P02"),
        ("NUMERIC_VALUE_OUT_OF_RANGE", "22003"),
        ("AMBIGUOUS_REFERENCE", "42702"),
        # cancelJobGroup from a CancelRequest surfaces as a SparkException
        # mentioning the cancelled job group (message marker) or carrying
        # the SPARK_JOB_CANCELLED error class; pg's code for both is 57014.
        ("cancelled job group", "57014"),
        ("SPARK_JOB_CANCELLED", "57014"),
    ]

    # Markers that identify an exception as CAUSED BY a job-group kill (vs a
    # genuine failure that merely raced a CancelRequest). Spark surfaces a
    # cancellation as SparkException("Job N cancelled part of cancelled job
    # group <group>") or a py4j wrapper around it.
    _CANCEL_MARKERS = ("cancelled job group", "cancelled because", "SPARK_JOB_CANCELLED")

    @classmethod
    def _match_sqlstate(cls, message: str) -> str | None:
        for marker, sqlstate in cls._SQLSTATE_MAP:
            if marker in message:
                return sqlstate
        return None

    @staticmethod
    def _exc_condition(exc: Exception) -> str | None:
        """Spark's structured error class (getCondition, 4.x name; falls back
        to the deprecated getErrorClass) — unspoofable by statement text."""
        for meth in ("getCondition", "getErrorClass"):
            fn = getattr(exc, meth, None)
            if fn is None:
                continue
            try:
                cond = fn()
            except Exception:  # noqa: BLE001 — JVM-side accessor can throw
                cond = None
            if cond:
                return cond
        return None

    @staticmethod
    def _exc_message(exc: Exception) -> str:
        """The exception's OWN message (getMessage) when available —
        str(exc) on captured Spark exceptions can append the statement
        text / JVM stack, which lets a SQL literal mentioning a mapped
        phrase spoof the classifier (r5 advice)."""
        fn = getattr(exc, "getMessage", None)
        if fn is not None:
            try:
                m = fn()
                if m:
                    return m
            except Exception:  # noqa: BLE001
                pass
        return str(exc)

    @classmethod
    def _classify_exception(cls, exc: Exception) -> str | None:
        """SQLSTATE for an execution failure. Order: structured error class
        against the pg-faithful map, then the JVM's own SQLSTATE (Spark 4
        errors carry SQL-standard states, e.g. TABLE_OR_VIEW_NOT_FOUND ->
        42P01), then message markers — matched against the exception's own
        message, never str(exc) (spoofable, see _exc_message)."""
        cond = cls._exc_condition(exc)
        if cond:
            for marker, sqlstate in cls._SQLSTATE_MAP:
                if marker in cond:
                    return sqlstate
            fn = getattr(exc, "getSqlState", None)
            if fn is not None:
                try:
                    state = fn()
                except Exception:  # noqa: BLE001
                    state = None
                if state:
                    return state
            return None  # structured-but-unknown: XX000, never message-spoofed
        return cls._match_sqlstate(cls._exc_message(exc))

    @classmethod
    def _is_cancel_exception(cls, exc: Exception | str) -> bool:
        if isinstance(exc, str):  # message-only callers (tests, logs)
            return any(m in exc for m in cls._CANCEL_MARKERS)
        cond = cls._exc_condition(exc)
        if cond and "SPARK_JOB_CANCELLED" in cond:
            return True
        msg = cls._exc_message(exc)
        return any(m in msg for m in cls._CANCEL_MARKERS)

    def _send_error(self, message: str, code: str = "XX000") -> None:
        if code == "XX000":
            code = self._match_sqlstate(message) or code
        fields = b"SERROR\x00" + f"C{code}".encode() + b"\x00" + f"M{message}".encode() + b"\x00\x00"
        self._send(b"E", fields)

    def _send_row_description(self, df: DataFrame, formats: list[int] | None = None) -> None:
        fields = df.schema.fields
        fmts = _resolve_formats(formats or [], len(fields))
        payload = struct.pack("!H", len(fields))
        for f, fmt in zip(fields, fmts):
            oid, typlen = pg_oid(f.dataType, f)
            payload += (
                f.name.encode() + b"\x00"
                + struct.pack("!IhIhih", 0, 0, oid, typlen, -1, fmt)
            )
        self._send(b"T", payload)

    def _send_rows(self, df: DataFrame, rows, formats: list[int] | None = None) -> int:
        """Encode and send DataRows from any row iterable (fetched list or
        live stream) — counting as it streams, never materializing.

        DataRow frames are batched into an output buffer flushed at
        ``_SEND_BUFFER_BYTES``: one sendall per ~64 KB instead of one
        syscall per row (libpq buffers its output the same way), with the
        frame boundaries on the wire byte-identical to the per-row form."""
        fields = df.schema.fields
        fmts = _resolve_formats(formats or [], len(fields))
        n = 0
        buf = bytearray()
        for row in rows:
            payload = struct.pack("!H", len(fields))
            for v, f, fmt in zip(row, fields, fmts):
                if fmt == 1:
                    b = _encode_binary(v, f.dataType, f)
                else:
                    s = _encode_value(v, f.dataType, f)
                    b = None if s is None else s.encode()
                if b is None:
                    payload += struct.pack("!i", -1)
                else:
                    payload += struct.pack("!i", len(b)) + b
            buf += b"D" + struct.pack("!I", len(payload) + 4) + payload
            if len(buf) >= _SEND_BUFFER_BYTES:
                self.sock.sendall(buf)
                buf.clear()
            n += 1
        if buf:
            self.sock.sendall(buf)
        return n

    @staticmethod
    def _row_stream(df: DataFrame):
        """Partition-at-a-time row iterator: driver memory stays O(one
        partition) regardless of result size (pg streams DataRows the same
        way). Prefetch pipelines the next partition behind the socket writes."""
        return iter(df.toLocalIterator(prefetchPartitions=True))

    def _row_stream_for(self, sql: str, df: DataFrame):
        """The rows of ``df`` for the wire: one capped Arrow fetch, else a
        stream.

        The fetch runs ``df.limit(max_rows+1)`` as one Arrow job
        (``toLocalIterator`` would run one job per result partition). The
        capped plan lives on the Dataset it caps (``df._pg_capped``), so a
        resident plan-cache hit re-runs the same executed plan, while a
        fresh Dataset (a new text, a plan invalidated by DML/DDL, reexecute
        mode) builds its own and no result outlives its execution. The cap
        bounds what the driver holds: a result that overflows it, or that
        Arrow cannot carry, streams partition-at-a-time (``_row_stream``),
        so ``SELECT * FROM huge`` stays O(partition) driver memory. A limit
        above the row count returns every row in the plan's partition
        order, the same sequence ``collect()`` yields."""
        capped = getattr(df, "_pg_capped", None)
        if capped is None:
            capped = df._pg_capped = df.limit(_WIRE_COLLECT_MAX_ROWS + 1)
        rows = _arrow_fetch_rows(capped)
        if rows is not None and len(rows) <= _WIRE_COLLECT_MAX_ROWS:
            return iter(rows)
        del rows  # an overflowing probe is dropped before the stream starts
        return self._row_stream(df)

    # --------------------------------------------------------------- startup
    def handshake(self) -> bool:
        # The initial packet (SSLRequest / CancelRequest / StartupMessage)
        # was already consumed by WireServer._serve_conn — a CancelRequest
        # connection is served WITHOUT building a _Conn: it needs no
        # session, and building one forks an engine session, work that
        # must not stand between a cancel and the victim query.
        if self.password is not None and self.auth_method == "scram-sha-256":
            if not self._scram_handshake():
                return False
        elif self.password is not None:
            self._send(b"R", struct.pack("!I", 3))  # AuthenticationCleartextPassword
            msg_type, body = self._recv_frame()
            if msg_type != b"p" or body.rstrip(b"\x00").decode() != self.password:
                self._send_error("password authentication failed", "28P01")
                return False
        self._send(b"R", struct.pack("!I", 0))  # AuthenticationOk
        for k, v in [
            ("server_version", self.session.settings["server_version"]),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO"),
            ("TimeZone", self.session.settings["timezone"]),
        ]:
            self._send(b"S", k.encode() + b"\x00" + v.encode() + b"\x00")
        self._send(b"K", struct.pack("!II", self.backend_pid, self.backend_secret))
        self._send_ready()
        return True

    def _scram_handshake(self) -> bool:
        """SASL SCRAM-SHA-256 (RFC 7677; reference config.go:102)."""
        from bemidb_spark.server import scram

        # AuthenticationSASL: advertise the mechanism list.
        self._send(b"R", struct.pack("!I", 10) + scram.MECHANISM.encode() + b"\x00\x00")
        exchange = scram.ScramExchange(scram.build_verifier(self.password))
        try:
            msg_type, body = self._recv_frame()
            if msg_type != b"p":
                raise ValueError("expected SASLInitialResponse")
            mech_end = body.index(b"\x00")
            if body[:mech_end].decode() != scram.MECHANISM:
                raise ValueError("unsupported SASL mechanism")
            (resp_len,) = struct.unpack_from("!i", body, mech_end + 1)
            client_first = body[mech_end + 5:mech_end + 5 + resp_len].decode()
            server_first = exchange.server_first(client_first)
            # AuthenticationSASLContinue
            self._send(b"R", struct.pack("!I", 11) + server_first.encode())
            msg_type, final_body = self._recv_frame()
            client_final = final_body.decode()
            if msg_type != b"p":
                raise ValueError("expected SASLResponse")
            server_final = exchange.verify_final(client_final)
        except ValueError as exc:
            self._send_error(f"password authentication failed: {exc}", "28P01")
            return False
        # AuthenticationSASLFinal carries the server signature.
        self._send(b"R", struct.pack("!I", 12) + server_final.encode())
        return True

    # ------------------------------------------------------------ statements
    def _read_message(self) -> tuple[bytes, bytes]:
        return self._recv_frame()

    def _timeout_ms(self) -> int:
        """statement_timeout from session settings, pg value forms
        (plain int = ms; or int + us/ms/s/min/h/d suffix); 0 = disabled."""
        raw = str(self.session.settings.get("statement_timeout", "0")).strip()
        m = re.match(r"^(\d+)\s*(us|ms|s|min|h|d)?$", raw, re.IGNORECASE)
        if not m:
            return 0
        n = int(m.group(1))
        unit = (m.group(2) or "ms").lower()
        scale = {"us": 0.001, "ms": 1, "s": 1000, "min": 60_000,
                 "h": 3_600_000, "d": 86_400_000}[unit]
        return int(n * scale)

    def cancel(self) -> None:
        """CancelRequest: cancel the running statement, on the request's own
        connection thread. On an idle backend this is a no-op, as in pg."""
        with self._cancel_lock:
            done = self._running
            if done is None:
                return
            # Flag before canceling: the failure can surface wrapped in
            # layers that hide the "cancelled job group" cause text (e.g.
            # the result socket server's awaitResult), so error
            # classification keys on this flag, not on message matching.
            self.cancel_requested = True
        self._cancel_jobs(done)

    def _cancel_jobs(self, done: threading.Event) -> None:
        """Cancel this backend's Spark jobs until its statement ends.
        cancelJobGroup only kills jobs that are RUNNING at call time — a
        statement still in planning would launch its jobs afterwards and run
        to completion — so the cancel re-arms every 50 ms (tight interval: a
        short job could otherwise slip through between two attempts)."""
        while not done.is_set():
            self.spark.sparkContext.cancelJobGroup(self.job_group)
            done.wait(0.05)

    @contextlib.contextmanager
    def _statement_deadline(self):
        """Run one statement cancellable. A CancelRequest (cancel()) and,
        when statement_timeout is set, a timer at the deadline both cancel
        it through _cancel_jobs; the failure maps to pg's 57014
        query_canceled. No thread starts without a timeout: under GIL
        contention a thread start costs milliseconds per statement."""
        ms = self._timeout_ms()
        done = threading.Event()
        fired = threading.Event()  # the deadline passed
        if ms > 0:
            def _timer() -> None:
                if not done.wait(ms / 1000.0):
                    fired.set()
                    self._cancel_jobs(done)

            threading.Thread(target=_timer, daemon=True).start()
        self._running = done
        try:
            # A statement that completes cleanly wins even if the deadline
            # raced it (its last row was already on the wire); only a
            # cancellation-induced failure maps to pg's query_canceled.
            yield
        except Exception:
            if fired.is_set():
                raise self._timeout_error() from None
            raise
        finally:
            with self._cancel_lock:
                self._running = None
            done.set()

    @staticmethod
    def _timeout_error() -> UnsupportedQueryError:
        err = UnsupportedQueryError(
            "canceling statement due to statement timeout")
        err.sqlstate = "57014"
        return err

    def _run_statement(self, sql: str) -> None:
        with self._statement_deadline():
            self._run_statement_inner(sql)

    def _run_statement_inner(self, sql: str) -> None:
        if _COPY_OUT_RE.match(sql):
            self._run_copy_out(sql)
            return
        if _COPY_IN_RE.match(sql):
            self._run_copy_in(sql)
            return
        df = self.session.execute(sql)
        tag = getattr(df, "_pg_tag", None)
        if tag is not None and not getattr(df, "_pg_returning", False):
            self._send(b"C", tag.encode() + b"\x00")  # DML: no result set
            return
        t0 = time.monotonic()
        self._send_row_description(df)
        n = self._send_rows(df, self._row_stream_for(sql, df))
        from bemidb_spark.pgcompat.session import record_statement_stats

        record_statement_stats(sql, time.monotonic() - t0, n, count_call=False)
        self._send(b"C", (tag or _tag_for(sql, n)).encode() + b"\x00")

    # ------------------------------------------------------------- COPY OUT
    # Beyond-reference: the reference server has no COPY support at all, but
    # psql's \copy and every bulk-export client sends `COPY … TO STDOUT`.
    # Subset: COPY ( query ) TO STDOUT and COPY table [(cols)] TO STDOUT,
    # text format (pg default: tab fields, \N nulls, backslash escapes) and
    # CSV via `WITH (FORMAT CSV [, HEADER])` or legacy `[WITH] CSV [HEADER]`.
    def _run_copy_out(self, sql: str) -> None:
        m = _COPY_OUT_RE.match(sql)
        target, opts = m.group(1).strip(), (m.group(2) or "")
        if target.startswith("("):
            query = target[1:-1]
        else:
            tm = re.match(r"([A-Za-z_][\w.\"]*)\s*(?:\(([^)]*)\))?\s*$", target)
            cols = tm.group(2).strip() if tm.group(2) else "*"
            query = f"SELECT {cols} FROM {tm.group(1)}"
        csv = re.search(r"\bCSV\b|FORMAT\s+CSV", opts, re.IGNORECASE) is not None
        binary = re.search(r"\bBINARY\b|FORMAT\s+BINARY", opts, re.IGNORECASE) is not None
        header = csv and re.search(r"\bHEADER(\s+TRUE|\s*\)|\s|$)", opts, re.IGNORECASE) is not None
        df = self.session.execute(query)
        fields = list(df.schema.fields)
        ncols = len(fields)
        fmt = 1 if binary else 0
        self._send(b"H", struct.pack("!BH", fmt, ncols)
                   + struct.pack(f"!{ncols}H", *([fmt] * ncols)))
        n = 0
        # CopyData frames batch into a ~64 KB output buffer (one sendall per
        # buffer, not per row — bulk export is exactly the path where per-row
        # syscalls dominate); frame boundaries are unchanged on the wire.
        buf = bytearray()

        def _buffer_d(payload: bytes) -> None:
            buf.extend(b"d" + struct.pack("!I", len(payload) + 4) + payload)
            if len(buf) >= _SEND_BUFFER_BYTES:
                self.sock.sendall(buf)
                buf.clear()

        if binary:
            # pg binary COPY: 11-byte signature + flags + extension length,
            # then per row int16 field count and length-prefixed cells
            # (format documented in pg's sql-copy page; cells are the same
            # encodings the Bind binary result path emits)
            _buffer_d(_COPY_BIN_SIG + struct.pack("!ii", 0, 0))
            for row in self._row_stream(df):
                parts = [struct.pack("!h", ncols)]
                for i in range(ncols):
                    b = _encode_binary(row[i], fields[i].dataType, fields[i])
                    parts.append(
                        struct.pack("!i", -1) if b is None
                        else struct.pack("!i", len(b)) + b
                    )
                _buffer_d(b"".join(parts))
                n += 1
            _buffer_d(struct.pack("!h", -1))  # file trailer
        else:
            if header:
                _buffer_d((",".join(_csv_field(f.name) for f in fields) + "\n").encode())
            for row in self._row_stream(df):  # bulk export streams, never buffers
                vals = [_encode_value(row[i], fields[i].dataType, fields[i]) for i in range(ncols)]
                if csv:
                    line = ",".join("" if v is None else _csv_field(v) for v in vals)
                else:
                    line = "\t".join("\\N" if v is None else _copy_text_escape(v) for v in vals)
                _buffer_d((line + "\n").encode())
                n += 1
        if buf:
            self.sock.sendall(buf)
        self._send(b"c", b"")
        self._send(b"C", f"COPY {n}".encode() + b"\x00")

    # -------------------------------------------------------------- COPY IN
    # Beyond-reference bulk load: `COPY table [(cols)] FROM STDIN` appends
    # parquet files to the catalog table's live location — the same
    # append-new-files-only path as the cursor syncer, so a bulk load never
    # rewrites existing data (bucketed tables get their `_kb=` partition
    # computed so partition-pruned MERGE keeps working afterwards).
    def _run_copy_in(self, sql: str) -> None:
        import csv as _csv
        import io

        from bemidb_spark.sources.writer import append_rows, read_table

        m = _COPY_IN_RE.match(sql)
        if self.session.catalog is None:
            raise UnsupportedQueryError("COPY FROM requires a table catalog")
        name = m.group(1).replace('"', "")
        schema, _, table = name.rpartition(".")
        schema = schema or "public"
        target = read_table(self.spark, self.session.catalog, schema, table)
        fields = {f.name: f for f in target.schema.fields}
        cols = ([c.strip().strip('"') for c in m.group(2).split(",")]
                if m.group(2) else [f.name for f in target.schema.fields])
        unknown = [c for c in cols if c not in fields]
        if unknown:
            err = UnsupportedQueryError(
                f'column "{unknown[0]}" of relation "{table}" does not exist')
            err.sqlstate = "42703"
            raise err
        opts = m.group(3) or ""
        csv = re.search(r"\bCSV\b|FORMAT\s+CSV", opts, re.IGNORECASE) is not None
        binary = re.search(r"\bBINARY\b|FORMAT\s+BINARY", opts, re.IGNORECASE) is not None
        header = csv and re.search(r"\bHEADER(\s+TRUE|\s*\)|\s|$)", opts, re.IGNORECASE) is not None
        n = len(cols)
        fmt = 1 if binary else 0
        self._send(b"G", struct.pack("!BH", fmt, n) + struct.pack(f"!{n}H", *([fmt] * n)))
        chunks: list[bytes] = []
        while True:
            t, body = self._read_message()
            if t == b"d":
                chunks.append(body)
            elif t == b"c":  # CopyDone
                break
            elif t == b"f":  # CopyFail
                err = UnsupportedQueryError(
                    "COPY from stdin failed: " + body.rstrip(b"\x00").decode())
                err.sqlstate = "57014"
                raise err
            elif t in (b"H", b"S"):  # Flush/Sync mid-copy: ignore
                continue
            else:
                raise UnsupportedQueryError(
                    f"unexpected message {t!r} during COPY FROM STDIN")
        if binary:
            records = self._parse_copy_binary(
                b"".join(chunks), [fields[c] for c in cols])
        elif csv:
            data = b"".join(chunks).decode()
            parsed = list(_csv.reader(io.StringIO(data)))
            if header and parsed:
                parsed = parsed[1:]
            records = [[None if v == "" else v for v in row] for row in parsed if row]
        else:
            data = b"".join(chunks).decode()
            records = []
            for line in data.split("\n"):
                if line in ("", "\\."):
                    continue
                records.append([None if v == "\\N" else _copy_text_unescape(v)
                                for v in line.split("\t")])
        bad = next((r for r in records if len(r) != n), None)
        if bad is not None:
            err = UnsupportedQueryError(
                f"row contains {len(bad)} columns, expected {n}")
            err.sqlstate = "22P04"
            raise err
        str_schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
        raw = self.spark.createDataFrame(records, str_schema)
        typed = raw.select(*[
            raw[c].cast(fields[c].dataType).alias(c) for c in cols
        ])
        for f in target.schema.fields:  # absent columns land as NULL
            if f.name not in cols:
                typed = typed.withColumn(
                    f.name, F.lit(None).cast(f.dataType))
        typed = typed.select(*[f.name for f in target.schema.fields])
        with self.session._write_guard():
            append_rows(self.spark, self.session.catalog, schema, table, typed)
        # the append committed a new version of the table: rebind it and
        # evict the plans that read it (other sessions do on their next
        # statement)
        self.session._sync_catalog()
        self._send(b"C", f"COPY {len(records)}".encode() + b"\x00")

    def _parse_copy_binary(
        self, data: bytes, col_fields: list[T.StructField]
    ) -> list[list[str | None]]:
        """Parse a pg binary-COPY stream into text-form records.

        Signature + flags + extension, then per tuple: int16 field count and
        length-prefixed cells (-1 = NULL); int16 -1 terminates. Cells decode
        through _decode_binary into pg text form so all three COPY formats
        share the text→column-type ingestion path."""
        if not data.startswith(_COPY_BIN_SIG):
            err = UnsupportedQueryError("COPY file signature not recognized")
            err.sqlstate = "22P04"
            raise err
        pos = len(_COPY_BIN_SIG)
        records: list[list[str | None]] = []
        def _bad(msg: str) -> UnsupportedQueryError:
            # pg raises 'invalid field size in binary COPY' (22P04) for these;
            # validating here closes the nf/ln-driven infinite-loop / memory
            # blowup a hostile frame could otherwise cause (a cell length of
            # -6 advances pos by a net 0 per tuple — the loop never ends).
            err = UnsupportedQueryError(msg)
            err.sqlstate = "22P04"
            return err

        # Header: int32 flags + int32 extension length (skipped). Every
        # header field is length-checked BEFORE use so a truncated or
        # bit-flipped frame raises 22P04, never a raw struct.error or a
        # backwards/out-of-bounds pos (fuzzed-frame hardening, r5).
        if pos + 8 > len(data):
            raise _bad("unexpected EOF in binary COPY header")
        _flags, extlen = struct.unpack_from("!ii", data, pos)
        pos += 8
        if extlen < 0 or extlen > len(data) - pos:
            raise _bad(f"invalid extension length in binary COPY: {extlen}")
        pos += extlen
        saw_trailer = False
        while pos + 2 <= len(data):
            (nf,) = struct.unpack_from("!h", data, pos)
            pos += 2
            if nf == -1:
                saw_trailer = True
                break
            if nf < 0:
                raise _bad(f"invalid tuple field count in binary COPY: {nf}")
            row: list[str | None] = []
            for i in range(nf):
                if pos + 4 > len(data):
                    raise _bad("unexpected EOF in binary COPY cell header")
                (ln,) = struct.unpack_from("!i", data, pos)
                pos += 4
                if ln == -1:
                    row.append(None)
                    continue
                if ln < 0 or ln > len(data) - pos:
                    raise _bad(f"invalid field size in binary COPY: {ln}")
                cell = data[pos:pos + ln]
                pos += ln
                f = col_fields[i] if i < len(col_fields) else None
                try:
                    row.append(_decode_binary(
                        cell, f.dataType if f else T.StringType(), f))
                except Exception as exc:  # noqa: BLE001 — malformed cell bytes
                    raise _bad(f"invalid binary cell encoding: {exc}") from exc
            records.append(row)
        # pg enforces the -1 file trailer and rejects bytes after it
        # ("received copy data after EOF marker", 22P04); accepting a
        # valid-prefix-plus-noise stream as a clean COPY would silently
        # ingest a truncated/corrupted file's readable prefix (r5 advice).
        if not saw_trailer:
            raise _bad("unexpected EOF in binary COPY: missing file trailer")
        if pos != len(data):
            raise _bad("received copy data after EOF marker")
        return records

    def _split_statements(self, sql: str) -> list[str]:
        """Split on top-level ';' — aware of '…' strings, $tag$…$tag$ dollar
        quoting, -- line comments, and /* */ block comments (the cases real
        clients actually send; reference splits via the pg parser)."""
        out: list[str] = []
        cur: list[str] = []
        i, n = 0, len(sql)
        while i < n:
            ch = sql[i]
            if ch == "'":  # quoted string ('' is an escaped quote)
                j = i + 1
                while j < n:
                    if sql[j] == "'":
                        if j + 1 < n and sql[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                cur.append(sql[i:j + 1])
                i = j + 1
                continue
            if ch == "$":  # dollar-quoted string: $tag$ ... $tag$
                m = re.match(r"\$[A-Za-z_]*\$", sql[i:])
                if m:
                    tag = m.group(0)
                    end = sql.find(tag, i + len(tag))
                    end = n if end < 0 else end + len(tag)
                    cur.append(sql[i:end])
                    i = end
                    continue
            if ch == "-" and sql[i:i + 2] == "--":  # line comment
                j = sql.find("\n", i)
                j = n if j < 0 else j
                cur.append(sql[i:j])
                i = j
                continue
            if ch == "/" and sql[i:i + 2] == "/*":  # block comment
                j = sql.find("*/", i + 2)
                j = n if j < 0 else j + 2
                cur.append(sql[i:j])
                i = j
                continue
            if ch == ";":
                stmt = "".join(cur).strip()
                if stmt:
                    out.append(stmt)
                cur = []
                i += 1
                continue
            cur.append(ch)
            i += 1
        stmt = "".join(cur).strip()
        if stmt:
            out.append(stmt)
        # Leading comments would defeat the router's statement-prefix check
        # (and a comment-only statement is a no-op, like pg's empty query).
        stripped = [self._strip_leading_comments(s) for s in out]
        return [s for s in stripped if s]

    @staticmethod
    def _strip_leading_comments(stmt: str) -> str:
        prev = None
        while prev != stmt:
            prev = stmt
            stmt = re.sub(r"\A\s*--[^\n]*\n?", "", stmt)
            stmt = re.sub(r"\A\s*/\*.*?\*/", "", stmt, flags=re.DOTALL)
        return stmt.strip()

    def _substitute_params(self, sql: str, params: list[str | None]) -> str:
        for i, p in enumerate(reversed(params), start=0):
            idx = len(params) - i
            if p is None:
                val = "NULL"
            else:
                # Splice as a pg-conforming literal (quotes doubled,
                # backslashes verbatim): every execute path transpiles, and
                # the transpiler's _unshield is the single point that doubles
                # backslashes for Spark's escape-processing literal parser.
                val = "'" + p.replace("'", "''") + "'"
            sql = sql.replace(f"${idx}", val)
        return sql

    # ----------------------------------------------------------------- serve
    def serve(self) -> None:
        if not self.handshake():
            return
        # Every Spark job this connection submits runs under its own job
        # group (py4j pinned-thread mode makes this per-Python-thread), so a
        # CancelRequest for this backend can cancel exactly its jobs.
        self.spark.sparkContext.setJobGroup(
            self.job_group, f"pg-wire backend {self.backend_pid}",
            interruptOnCancel=True)
        in_error = False  # extended-protocol error state: skip until Sync
        while True:
            try:
                msg_type, body = self._recv_frame()
            except ProtocolViolationError as exc:
                # pg terminates the connection on framing violations: there
                # is no way to resynchronize a corrupt stream.
                self._send_error(str(exc), exc.sqlstate)
                return
            if msg_type == b"X":  # Terminate
                return
            if in_error:
                # After an extended-protocol error, pg discards everything
                # until Sync so pipelined clients stay in step.
                if msg_type == b"S":
                    in_error = False
                    self._send_ready()
                continue
            try:
                self._dispatch(msg_type, body)
                self.cancel_requested = False  # a finished statement wins
            except (UnsupportedQueryError, Exception) as exc:  # noqa: BLE001
                # A CancelRequest maps a failure to pg's query_canceled ONLY
                # when the failure is attributable to the job-group kill (or
                # carries no recognizable sqlstate of its own): a statement
                # that fails for an unrelated, classifiable reason — e.g. an
                # analysis error — in the window between CancelRequest
                # arrival and the kill landing reports its REAL error
                # (VERDICT r4 #3).
                genuine = getattr(exc, "sqlstate", None) or \
                    self._classify_exception(exc)
                if genuine is None and isinstance(exc, UnsupportedQueryError):
                    genuine = "42601"  # always a real routing/syntax error
                if self.cancel_requested and (
                    self._is_cancel_exception(exc)
                    or genuine in (None, "57014")
                ):
                    self.cancel_requested = False
                    self._send_error(
                        "canceling statement due to user request", "57014")
                else:
                    self.cancel_requested = False
                    code = genuine or (
                        "42601" if isinstance(exc, UnsupportedQueryError)
                        else "XX000"
                    )
                    self._send_error(str(exc)[:400], code)
                if msg_type == b"Q":
                    self._send_ready()
                else:
                    in_error = True

    def _dispatch(self, msg_type: bytes, body: bytes) -> None:
        if msg_type == b"Q":  # simple query
            sql = body.rstrip(b"\x00").decode()
            stmts = self._split_statements(sql)
            if not stmts:  # pg answers "" / ";" with EmptyQueryResponse
                self._send(b"I", b"")
            for stmt in stmts:
                self._run_statement(stmt)
            self._send_ready()
        elif msg_type == b"P":  # Parse
            name_end = body.index(b"\x00")
            name = body[:name_end].decode()
            sql_end = body.index(b"\x00", name_end + 1)
            sql = body[name_end + 1:sql_end].decode()
            self.prepared[name] = _Prepared(sql=sql)
            self._send(b"1", b"")  # ParseComplete
        elif msg_type == b"B":  # Bind
            pos = body.index(b"\x00")
            portal = body[:pos].decode()
            pos2 = body.index(b"\x00", pos + 1)
            stmt_name = body[pos + 1:pos2].decode()
            off = pos2 + 1
            (n_fmt,) = struct.unpack_from("!H", body, off)
            fmts = list(struct.unpack_from(f"!{n_fmt}H", body, off + 2))
            off += 2 + 2 * n_fmt
            (n_params,) = struct.unpack_from("!H", body, off)
            off += 2
            params: list[str | None] = []
            for i in range(n_params):
                (plen,) = struct.unpack_from("!i", body, off)
                off += 4
                if plen < 0:
                    params.append(None)
                    continue
                raw = body[off:off + plen]
                off += plen
                fmt = fmts[i] if i < len(fmts) else (fmts[0] if len(fmts) == 1 else 0)
                params.append(self._decode_param(raw, fmt))
            (n_rfmt,) = struct.unpack_from("!H", body, off)
            rfmts = list(struct.unpack_from(f"!{n_rfmt}H", body, off + 2))
            prep = self.prepared.get(stmt_name)
            if prep is None:
                err = UnsupportedQueryError(
                    f'prepared statement "{stmt_name}" does not exist'
                )
                err.sqlstate = "26000"
                raise err
            self.portals[portal] = _Prepared(
                sql=self._substitute_params(prep.sql, params),
                result_formats=rfmts,
            )
            self._send(b"2", b"")  # BindComplete
        elif msg_type == b"D":  # Describe ('S' stmt | 'P' portal)
            kind, name = body[:1], body[1:].rstrip(b"\x00").decode()
            if kind == b"S":
                # Parse -> Describe without Bind: the statement may still hold
                # $n placeholders, which Spark can't execute — reply NoData
                # like the reference (query_handler.go:201-202); clients
                # (psycopg3) re-describe the bound portal.
                if name not in self.prepared:
                    err = UnsupportedQueryError(
                        f'prepared statement "{name}" does not exist'
                    )
                    err.sqlstate = "26000"
                    raise err
                # ParameterDescription first (psycopg3 reads it to plan its
                # Bind); OID 0 = unspecified, as pg sends for un-inferred
                # params — clients then bind text-format values.
                n_params = len({int(m) for m in re.findall(r"\$(\d+)", self.prepared[name].sql)})
                self._send(b"t", struct.pack("!H", n_params) + struct.pack("!I", 0) * n_params)
                self._send(b"n", b"")  # NoData
                return
            target = self.portals.get(name)
            if target is None:
                err = UnsupportedQueryError(f'portal "{name}" does not exist')
                err.sqlstate = "34000"
                raise err
            # Describe executes and caches — reference query_handler.go:205-209
            # (DML runs here for its tag; a SELECT's rows are fetched here,
            # or its stream started). Under the statement deadline: the
            # fetch runs the statement's jobs inside a blocking py4j call,
            # so an unbounded query would hang the connection here, before
            # Execute's own deadline could ever arm.
            with self._statement_deadline():
                df = self.session.execute(target.sql)
                if getattr(df, "_pg_tag", None) is not None and not getattr(
                    df, "_pg_returning", False
                ):
                    target.result = (df, iter(()))
                    self._send(b"n", b"")  # DML without RETURNING: no result set
                    return
                target.result = (df, self._row_stream_for(target.sql, df))
                target.pending = None
                target.sent = 0
                self._send_row_description(df, target.result_formats)
        elif msg_type == b"E":  # Execute [portal name] [max rows]
            with self._statement_deadline():
                self._handle_execute(body)
        elif msg_type == b"S":  # Sync
            self._send_ready()
        elif msg_type == b"C":  # Close ('S' statement | 'P' portal)
            kind, name = body[:1], body[1:].rstrip(b"\x00").decode()
            if kind == b"S":
                self.prepared.pop(name, None)
            else:
                self.portals.pop(name, None)
            self._send(b"3", b"")  # CloseComplete
        elif msg_type == b"H":  # Flush — ignored (postgres_server.go:178)
            pass
        else:
            raise UnsupportedQueryError(f"unsupported message type {msg_type!r}")

    def _handle_execute(self, body: bytes) -> None:
        name_end = body.index(b"\x00")
        name = body[:name_end].decode()
        (max_rows,) = struct.unpack_from("!i", body, name_end + 1)
        portal = self.portals.get(name)
        if portal is None:
            err = UnsupportedQueryError(f'portal "{name}" does not exist')
            err.sqlstate = "34000"
            raise err
        if not portal.sql.strip():
            self._send(b"I", b"")  # EmptyQueryResponse
            return
        if portal.result is None:
            df = self.session.execute(portal.sql)
            if getattr(df, "_pg_tag", None) is not None and not getattr(
                df, "_pg_returning", False
            ):
                self._send(b"C", df._pg_tag.encode() + b"\x00")
                return
            portal.result = (df, self._row_stream_for(portal.sql, df))
            portal.pending = None
            portal.sent = 0
        df, row_iter = portal.result
        tag = getattr(df, "_pg_tag", None)
        if tag is not None and not getattr(df, "_pg_returning", False):
            self._send(b"C", tag.encode() + b"\x00")  # DML ran at Describe
            portal.result = None
            return
        # Execute's max-rows field: stream at most that many rows and
        # suspend the portal if more remain (reference
        # query_handler.go:218-238); 0 = no limit. The portal holds a live
        # iterator + one look-ahead row across suspensions — never the
        # result set.
        def _batch():
            sent = 0
            while max_rows <= 0 or sent < max_rows:
                if portal.pending is not None:
                    row, portal.pending = portal.pending, None
                else:
                    row = next(row_iter, _EXHAUSTED)
                    if row is _EXHAUSTED:
                        return
                yield row
                sent += 1

        portal.sent += self._send_rows(df, _batch(), portal.result_formats)
        nxt = next(row_iter, _EXHAUSTED) if portal.pending is None else portal.pending
        if nxt is not _EXHAUSTED:
            portal.pending = nxt
            self._send(b"s", b"")  # PortalSuspended
        else:
            done_tag = tag or _tag_for(portal.sql, portal.sent)
            self._send(b"C", done_tag.encode() + b"\x00")
            portal.result = None
            portal.pending = None
            portal.sent = 0

    @staticmethod
    def _decode_param(raw: bytes, fmt: int) -> str:
        """Binary params: int32/int64/UUID, as the reference decodes
        (query_handler.go:143-184); text params pass through."""
        if fmt == 0:
            return raw.decode()
        if len(raw) == 4:
            return str(struct.unpack("!i", raw)[0])
        if len(raw) == 8:
            return str(struct.unpack("!q", raw)[0])
        if len(raw) == 16:
            return str(uuid_mod.UUID(bytes=raw))
        raise UnsupportedQueryError(f"unsupported binary parameter length {len(raw)}")


def _recv_exact_sock(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionResetError
        buf += chunk
    return buf


def _initial_packet(sock: socket.socket) -> tuple[str, tuple]:
    """Consume the untyped initial packet(s): answer SSLRequest with 'N'
    (postgres_server.go:226-232), classify CancelRequest vs StartupMessage."""
    while True:
        (length,) = struct.unpack("!I", _recv_exact_sock(sock, 4))
        if length < 8 or length > MAX_STARTUP_BYTES:
            # too short for the protocol-code word, or far beyond pg's
            # startup-packet cap (a 4 GB claimed length must not be buffered)
            raise ConnectionResetError(f"malformed initial packet (length {length})")
        body = _recv_exact_sock(sock, length - 4)
        (code,) = struct.unpack("!I", body[:4])
        if code in (SSL_REQUEST, GSSENC_REQUEST):
            sock.sendall(b"N")  # no TLS / no GSS encryption
            continue
        if code == CANCEL_REQUEST:
            return "cancel", struct.unpack("!II", body[4:12])
        if code == PROTOCOL_V3:
            return "startup", (body,)
        msg = f"unsupported protocol: {code}".encode()
        fields = b"SERROR\x00C0A000\x00M" + msg + b"\x00\x00"
        sock.sendall(b"E" + struct.pack("!I", len(fields) + 4) + fields)
        return "unsupported", (code,)


class WireServer:
    """Threaded pg-wire server sharing one SparkSession across connections."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        password: str | None = None,
        auth_method: str = "cleartext",
        server_version: str | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.password = password
        self.auth_method = auth_method
        # advertised pg version (ParameterStatus + SHOW server_version);
        # None = engine default 17.0. pg_dump aborts when the server is newer
        # than itself, so ops running pg-15 tooling pass e.g. "15.18" here.
        self.server_version = server_version
        self._listener = socket.create_server((host, port))
        self.host, self.port = self._listener.getsockname()
        self._threads: list[threading.Thread] = []
        self._accept_thread: threading.Thread | None = None
        self._stopping = False
        # backend-pid -> (conn, cancel secret), for CancelRequest routing
        # (the reference delegates this to pgproto's BackendKeyData).
        self._backends: dict[int, tuple[_Conn, int]] = {}
        self._backends_lock = threading.Lock()
        self._next_pid = 0

    def take_session(self) -> PgSession:
        """A new isolated session for one connection (~3 ms: a fork binds
        relations on first reference, so there is nothing to build ahead)."""
        return PgSession(self.spark, self.catalog, isolate=True,
                         server_version=self.server_version)

    # ------------------------------------------------------ cancel registry
    def register_backend(self, conn: "_Conn") -> tuple[int, int]:
        import secrets as _secrets

        with self._backends_lock:
            self._next_pid += 1
            pid = self._next_pid
            secret = _secrets.randbits(31)
            self._backends[pid] = (conn, secret)
        return pid, secret

    def unregister_backend(self, pid: int) -> None:
        with self._backends_lock:
            self._backends.pop(pid, None)

    def cancel_backend(self, pid: int, secret: int) -> None:
        with self._backends_lock:
            entry = self._backends.get(pid)
        # pg silently ignores cancel requests with a bad key.
        if entry is None or entry[1] != secret:
            return
        entry[0].cancel()

    def start(self) -> None:
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()

    def _accept_loop(self) -> None:
        while not self._stopping:
            try:
                sock, _ = self._listener.accept()
            except OSError:
                return
            t = threading.Thread(
                target=self._serve_conn, args=(sock,), daemon=True
            )
            t.start()
            self._threads.append(t)

    def _serve_conn(self, sock: socket.socket) -> None:
        conn = None
        try:
            kind, payload = _initial_packet(sock)
            if kind == "cancel":
                # CancelRequest(pid, secret): out-of-band — drop this
                # connection without building a session (pg sends no reply;
                # libpq waits for the close), then cancel the victim
                # backend's statement until it ends.
                sock.close()
                self.cancel_backend(*payload)
                return
            if kind != "startup":
                return  # unsupported protocol; error frame already sent
            conn = _Conn(sock, self.spark, self.catalog, self.password,
                         self.auth_method, server=self,
                         server_version=self.server_version)
            conn.serve()
        except (ConnectionResetError, BrokenPipeError):
            pass
        finally:
            if conn is not None:
                self.unregister_backend(conn.backend_pid)
                try:
                    # pg aborts an open transaction when the connection dies;
                    # this also releases the global txn write lock so a
                    # crashed client can't wedge other sessions' writes.
                    conn.session.dispose()
                except Exception:  # noqa: BLE001 — teardown must not raise
                    pass
            sock.close()

    def stop(self) -> None:
        self._stopping = True
        self._listener.close()

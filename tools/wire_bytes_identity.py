"""Wire-bytes identity harness for the Arrow result fetch (VERDICT r9 #3).

For EVERY registry entry in ``__spark_entry__.queries()``, fetch the entry's
capped result (``LIMIT max_rows+1``, as the wire fetch runs it) through both
transports —

  A. ``limited.collect()``          (pickled Rows, as the stream yields them)
  B. ``_arrow_fetch_rows(limited)`` (the Arrow path the wire serves, tz-normalized)

— then encode both row sets through the server's own ``_send_rows`` (text
format) and ``_encode_binary`` (binary format) into a capture buffer and
assert the produced DataRow frames are BYTE-IDENTICAL. Entries whose schema
declines the Arrow path (struct/map/…: ``_arrow_safe_schema`` False) are
reported as ``fallback`` — the server streams those (``toLocalIterator``
yields the same Rows as ``collect()``), so identity is trivial.

Float/timestamp text rendering is exactly the risk this harness pins: any
coercion difference between the pickle and Arrow transports shows up as a
byte diff here before it can ever reach a client.

Usage: python tools/wire_bytes_identity.py [sf_dir] [name-substring ...]
Writes tools/wire_bytes_identity.json.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


class _CaptureSock:
    def __init__(self) -> None:
        self.buf = bytearray()

    def sendall(self, b) -> None:
        self.buf += b


def _encode_bytes(df, rows, fmt: int) -> bytes:
    """DataRow frames for ``rows`` in the given result format, captured."""
    from bemidb_spark.server.wire import _Conn

    conn = object.__new__(_Conn)
    sock = _CaptureSock()
    conn.sock = sock
    conn._send_rows(df, rows, formats=[fmt] * len(df.schema.fields))
    return bytes(sock.buf)


def main() -> int:
    import __spark_entry__ as entry_mod

    from bemidb_spark.server.wire import (
        _WIRE_COLLECT_MAX_ROWS,
        _arrow_fetch_rows,
        _arrow_safe_schema,
    )
    from bemidb_spark.session import build_session

    filters = sys.argv[2:]
    spark = build_session(app_name="wire-bytes-identity")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    out: dict[str, dict] = {}
    n_arrow = n_fallback = n_diff = n_err = 0
    for name, fn in queries.items():
        if filters and not any(f in name for f in filters):
            continue
        rec: dict = {}
        try:
            df = fn(spark, SF_DIR)
            limited = df.limit(_WIRE_COLLECT_MAX_ROWS + 1)
            if not _arrow_safe_schema(df.schema):
                rec["status"] = "fallback"
                rec["why"] = [
                    f"{f.name}:{f.dataType.simpleString()}"
                    for f in df.schema.fields
                ]
                n_fallback += 1
            else:
                via_arrow = _arrow_fetch_rows(limited)
                assert via_arrow is not None
                via_collect = limited.collect()
                rec["rows"] = len(via_collect)
                same = True
                for fmt in (0, 1):
                    a = _encode_bytes(df, via_arrow, fmt)
                    c = _encode_bytes(df, via_collect, fmt)
                    rec[f"bytes_fmt{fmt}"] = len(c)
                    if a != c:
                        same = False
                        # first differing offset for diagnosis
                        off = next(
                            (i for i, (x, y) in enumerate(zip(a, c)) if x != y),
                            min(len(a), len(c)),
                        )
                        rec[f"diff_fmt{fmt}"] = {
                            "arrow_len": len(a), "collect_len": len(c),
                            "first_diff_at": off,
                            "arrow_ctx": a[max(0, off - 20):off + 20].hex(),
                            "collect_ctx": c[max(0, off - 20):off + 20].hex(),
                        }
                rec["status"] = "identical" if same else "DIFF"
                if same:
                    n_arrow += 1
                else:
                    n_diff += 1
        except Exception as exc:  # noqa: BLE001
            rec["status"] = "error"
            rec["error"] = repr(exc)
            rec["traceback"] = traceback.format_exc(limit=4)
            n_err += 1
        out[name] = rec
        print(f"{rec['status']:<10} {name}", flush=True)

    summary = {
        "sf_dir": SF_DIR,
        "identical": n_arrow,
        "fallback": n_fallback,
        "diff": n_diff,
        "error": n_err,
    }
    out["_summary"] = summary
    path = os.path.join(os.path.dirname(__file__), "wire_bytes_identity.json")
    if not filters:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=2)
        print("wrote", path)
    print(json.dumps(summary))
    return 1 if (n_diff or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())

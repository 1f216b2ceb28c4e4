"""Minimal raw-socket Postgres v3 client for exercising the wire server.

No pg client library ships in this environment, so the tests and bench speak
the protocol directly — which also pins our server against the actual byte
format rather than a library's tolerance. Lives in the package (not tests/)
because bench.py's wire phase uses it too (ADVICE r4).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import struct


class MiniPgClient:
    def __init__(self, host: str, port: int, user: str = "bemidb",
                 database: str = "bemidb", password: str | None = None,
                 timeout: float | None = None):
        # timeout guards callers that must not hang on a stalled server
        # (bench.py); tests default to blocking semantics.
        self.sock = socket.create_connection((host, port), timeout=timeout)
        params = f"user\x00{user}\x00database\x00{database}\x00\x00".encode()
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        first = self._read_message()
        self.startup_messages: list[tuple[bytes, bytes]] = [first]
        if first[0] == b"R" and struct.unpack("!I", first[1][:4])[0] == 3:
            pw = (password or "").encode() + b"\x00"
            self.sock.sendall(b"p" + struct.pack("!I", len(pw) + 4) + pw)
        elif first[0] == b"R" and struct.unpack("!I", first[1][:4])[0] == 10:
            first = self._scram_auth(user, password or "", first[1][4:])
            self.startup_messages.append(first)
        if first[0] != b"E":
            try:
                while self.startup_messages[-1][0] != b"Z":
                    self.startup_messages.append(self._read_message())
            except ConnectionResetError:
                pass  # auth failure: server errors and closes before ReadyForQuery

    # ---------------------------------------------------------------- scram
    def _scram_auth(self, user: str, password: str, mechanisms: bytes) -> tuple[bytes, bytes]:
        """RFC 7677 SCRAM-SHA-256 client, computed from first principles with
        hashlib/hmac (independent of the server's implementation).
        Returns the first post-SASL message (AuthenticationOk or Error)."""
        assert b"SCRAM-SHA-256" in mechanisms
        nonce = base64.b64encode(os.urandom(18)).decode()
        first_bare = f"n={user},r={nonce}"
        init = ("n,," + first_bare).encode()
        payload = b"SCRAM-SHA-256\x00" + struct.pack("!i", len(init)) + init
        self._send(b"p", payload)
        t, body = self._read_message()
        if t == b"E":
            return t, body
        assert t == b"R" and struct.unpack("!I", body[:4])[0] == 11
        server_first = body[4:].decode()
        attrs = dict(p.split("=", 1) for p in server_first.split(","))
        full_nonce, salt = attrs["r"], base64.b64decode(attrs["s"])
        assert full_nonce.startswith(nonce)
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, int(attrs["i"]))
        client_key = hmac.digest(salted, b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        without_proof = f"c=biws,r={full_nonce}"
        auth_msg = ",".join([first_bare, server_first, without_proof]).encode()
        signature = hmac.digest(stored_key, auth_msg, "sha256")
        proof = bytes(a ^ b for a, b in zip(client_key, signature))
        final = f"{without_proof},p={base64.b64encode(proof).decode()}"
        self._send(b"p", final.encode())
        t, body = self._read_message()
        if t == b"E":
            return t, body
        assert t == b"R" and struct.unpack("!I", body[:4])[0] == 12
        server_key = hmac.digest(salted, b"Server Key", "sha256")
        expected_sig = base64.b64encode(hmac.digest(server_key, auth_msg, "sha256")).decode()
        self.scram_server_verified = body[4:].decode() == f"v={expected_sig}"
        return self._read_message()  # AuthenticationOk

    # ------------------------------------------------------------------ io
    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionResetError
            buf += chunk
        return buf

    def _read_message(self) -> tuple[bytes, bytes]:
        t = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return t, self._recv_exact(length - 4)

    def _read_until_ready(self) -> list[tuple[bytes, bytes]]:
        out = []
        while True:
            t, body = self._read_message()
            out.append((t, body))
            if t == b"Z":
                return out

    def _send(self, msg_type: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(msg_type + struct.pack("!I", len(payload) + 4) + payload)

    # --------------------------------------------------------------- simple
    def query(self, sql: str) -> dict:
        """Simple query; returns {columns, oids, rows, tags, errors}."""
        self._send(b"Q", sql.encode() + b"\x00")
        return self._collect(self._read_until_ready())

    def copy_in(self, sql: str, data: str, chunk: int = 17, fail: str | None = None) -> dict:
        """COPY … FROM STDIN: send Query, await CopyInResponse ('G'), stream
        CopyData in deliberately row-misaligned chunks, then CopyDone (or
        CopyFail when ``fail`` is given)."""
        self._send(b"Q", sql.encode() + b"\x00")
        pre = []
        while True:
            t, body = self._read_message()
            pre.append((t, body))
            if t in (b"G", b"E", b"Z"):
                break
        if pre[-1][0] != b"G":  # errored before CopyInResponse
            while pre[-1][0] != b"Z":
                pre.append(self._read_message())
            return self._collect(pre)
        if fail is not None:
            self._send(b"f", fail.encode() + b"\x00")
        else:
            raw = data if isinstance(data, bytes) else data.encode()
            for i in range(0, len(raw), chunk):
                self._send(b"d", raw[i:i + chunk])
            self._send(b"c", b"")
        return self._collect(self._read_until_ready())

    # ------------------------------------------------------------- extended
    def extended_query(self, sql: str, params: list | None = None, binary: bool = False,
                       result_formats: list[int] | None = None) -> dict:
        self._send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
        enc_params = []
        for p in params or []:
            if p is None:
                enc_params.append(None)
            elif binary and isinstance(p, int):
                enc_params.append(struct.pack("!q", p) if p > 2**31 - 1 or p < -2**31 else struct.pack("!i", p))
            else:
                enc_params.append(str(p).encode())
        fmt = 1 if binary else 0
        bind = b"\x00\x00" + struct.pack("!H", 1) + struct.pack("!H", fmt)
        bind += struct.pack("!H", len(enc_params))
        for ep in enc_params:
            bind += struct.pack("!i", -1) if ep is None else struct.pack("!i", len(ep)) + ep
        rfmts = result_formats or []
        bind += struct.pack("!H", len(rfmts)) + struct.pack(f"!{len(rfmts)}H", *rfmts)
        self._send(b"B", bind)
        self._send(b"D", b"P\x00")
        self._send(b"E", b"\x00" + struct.pack("!I", 0))
        self._send(b"S", b"")
        return self._collect(self._read_until_ready())

    # -------------------------------------------------------------- parsing
    @staticmethod
    def _collect(messages: list[tuple[bytes, bytes]]) -> dict:
        out: dict = {"columns": [], "oids": [], "rows": [], "tags": [], "errors": [],
                     "copy_data": [], "formats": []}
        for t, body in messages:
            if t == b"d":  # CopyData (COPY … TO STDOUT)
                out["copy_data"].append(
                    body.decode(errors="surrogateescape"))
                out.setdefault("copy_raw", []).append(body)
                continue
            if t == b"T":
                (n,) = struct.unpack_from("!H", body, 0)
                off = 2
                cols, oids, fmts = [], [], []
                for _ in range(n):
                    end = body.index(b"\x00", off)
                    cols.append(body[off:end].decode())
                    table_oid, attnum, oid, typlen, typmod, fmt = struct.unpack_from(
                        "!IhIhih", body, end + 1
                    )
                    oids.append(oid)
                    fmts.append(fmt)
                    off = end + 1 + 18
                out["columns"], out["oids"], out["formats"] = cols, oids, fmts
            elif t == b"D":
                (n,) = struct.unpack_from("!H", body, 0)
                off = 2
                row = []
                for i in range(n):
                    (ln,) = struct.unpack_from("!i", body, off)
                    off += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        cell = body[off:off + ln]
                        fmt = out["formats"][i] if i < len(out["formats"]) else 0
                        row.append(cell if fmt == 1 else cell.decode())
                        off += ln
                out["rows"].append(row)
            elif t == b"C":
                out["tags"].append(body.rstrip(b"\x00").decode())
            elif t == b"Z":  # ReadyForQuery: the transaction status
                out["status"] = body.decode()
            elif t == b"E":
                fields = {}
                for part in body.split(b"\x00"):
                    if part:
                        fields[chr(part[0])] = part[1:].decode()
                out["errors"].append(fields)
        return out

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        finally:
            self.sock.close()

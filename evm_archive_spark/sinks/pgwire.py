"""Minimal pure-Python PostgreSQL client (DBAPI-shaped) for the upsert sink.

The project takes no Python PostgreSQL driver as a dependency.  This
module speaks the v3 simple-query wire protocol (public, stable since 7.4:
https://www.postgresql.org/docs/current/protocol.html) over a unix socket /
TCP with trust auth.  Its ``copy_in`` is what makes
``sinks.upsert`` pick the COPY writer: COPY ... FROM STDIN (CopyInResponse/
CopyData/CopyDone) into a temp stage, then one ``ON CONFLICT DO NOTHING``
merge whose count is exact (VERDICT r2 #5; the reference batches one
multi-row INSERT per window, get_logs.go:118-122 — COPY is the same
wire-parallel idea at server bulk-load speed).

``Cursor.execute`` interpolates ``%s`` parameters client-side into plain
SQL literals, as psycopg2 does.  Not a general driver: text protocol only,
trust auth only, no extended protocol, no COPY OUT.
"""

from __future__ import annotations

import datetime as _dt
import socket
import struct
from decimal import Decimal


class PgError(Exception):
    pass


def _quote(v) -> str:
    """Literal adaptation, psycopg2-style (client-side interpolation).
    Relies on standard_conforming_strings=on (server default since 9.1):
    only single quotes need doubling."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, Decimal)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"'{v.isoformat()}'::timestamp"
    if isinstance(v, _dt.date):
        return f"'{v.isoformat()}'::date"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return f"'\\x{bytes(v).hex()}'::bytea"
    s = str(v).replace("'", "''")
    if "\x00" in s:
        raise PgError("NUL byte in string literal")
    return f"'{s}'"


def _interpolate(sql: str, params) -> str:
    parts = sql.split("%s")
    if len(parts) - 1 != len(params):
        raise PgError(
            f"parameter count mismatch: {len(parts) - 1} placeholders, "
            f"{len(params)} values"
        )
    out = [parts[0]]
    for p, tail in zip(params, parts[1:]):
        out.append(_quote(p))
        out.append(tail)
    return "".join(out)


def _tag_count(tag: str) -> int:
    """CommandComplete tag -> affected-row count (-1 if not applicable)."""
    parts = tag.split()
    if not parts:
        return -1
    if parts[0] == "INSERT" and len(parts) == 3:
        return int(parts[2])
    if parts[0] in ("UPDATE", "DELETE", "SELECT", "COPY") and len(parts) >= 2:
        try:
            return int(parts[-1])
        except ValueError:
            return -1
    return -1


class Cursor:
    def __init__(self, conn: "Connection"):
        self._conn = conn
        self.rowcount = -1
        self.description = None
        self._rows: list[tuple] = []
        self._idx = 0

    def execute(self, sql: str, params=None):
        if params is not None:
            sql = _interpolate(sql, tuple(params))
        self._conn._begin()
        rows, desc, tags = self._conn._query(sql)
        self._rows, self._idx = rows, 0
        self.description = desc
        self.rowcount = _tag_count(tags[-1]) if tags else -1
        return self

    def fetchone(self):
        if self._idx >= len(self._rows):
            return None
        r = self._rows[self._idx]
        self._idx += 1
        return r

    def fetchall(self):
        r = self._rows[self._idx :]
        self._idx = len(self._rows)
        return r

    def close(self):
        pass


class Connection:
    """DBAPI-shaped connection over the v3 simple-query protocol."""

    def __init__(
        self,
        host: str = "/tmp",
        port: int = 5432,
        user: str = "postgres",
        dbname: str = "postgres",
    ):
        if host.startswith("/"):
            self._sock = socket.socket(socket.AF_UNIX)
            self._sock.connect(f"{host}/.s.PGSQL.{port}")
        else:
            self._sock = socket.create_connection((host, port))
        self._in_tx = False
        body = (
            struct.pack("!i", 196608)
            + b"user\0" + user.encode() + b"\0"
            + b"database\0" + dbname.encode() + b"\0\0"
        )
        self._sock.sendall(struct.pack("!i", len(body) + 4) + body)
        while True:
            t, d = self._read_msg()
            if t == b"R":
                code = struct.unpack("!i", d[:4])[0]
                if code != 0:
                    raise PgError(
                        f"server requires auth method {code}; this client "
                        "supports trust auth only"
                    )
            elif t == b"E":
                raise PgError(_parse_error(d))
            elif t == b"Z":
                break

    # -- wire helpers -----------------------------------------------------
    def _read_msg(self):
        hdr = self._recv_exact(5)
        t, ln = hdr[:1], struct.unpack("!i", hdr[1:])[0]
        return t, self._recv_exact(ln - 4)

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise PgError("connection closed by server")
            buf += chunk
        return buf

    def _query(self, sql: str):
        payload = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", len(payload) + 4) + payload)
        rows: list[tuple] = []
        desc = None
        tags: list[str] = []
        err = None
        while True:
            t, d = self._read_msg()
            if t == b"T":
                n = struct.unpack("!h", d[:2])[0]
                off, cols = 2, []
                for _ in range(n):
                    end = d.index(b"\0", off)
                    name = d[off:end].decode()
                    off = end + 1 + 18  # table oid(4) attnum(2) typoid(4) typlen(2) typmod(4) fmt(2)
                    cols.append((name, None, None, None, None, None, None))
                desc = cols
            elif t == b"D":
                n = struct.unpack("!h", d[:2])[0]
                off, vals = 2, []
                for _ in range(n):
                    fl = struct.unpack("!i", d[off : off + 4])[0]
                    off += 4
                    if fl == -1:
                        vals.append(None)
                    else:
                        vals.append(d[off : off + fl].decode())
                        off += fl
                rows.append(tuple(vals))
            elif t == b"C":
                tags.append(d[:-1].decode())
            elif t == b"E":
                err = _parse_error(d)
            elif t == b"Z":
                if err:
                    self._in_tx = d == b"T" or d == b"E"
                    raise PgError(err)
                return rows, desc, tags
            # 'N' notices, 'S' parameter status: ignored

    def copy_in(self, sql: str, chunks) -> int:
        """``COPY ... FROM STDIN``.  ``chunks`` is an iterable of encoded
        byte blocks (rows may span blocks); returns the server's exact
        COPY row count.  Runs inside the current
        implicit transaction (``_begin``), so a surrounding staged-merge
        commits atomically."""
        self._begin()
        payload = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", len(payload) + 4) + payload)
        err = None
        while True:
            t, d = self._read_msg()
            if t == b"G":
                break
            if t == b"E":
                err = _parse_error(d)
            elif t == b"Z":
                self._in_tx = d in (b"T", b"E")
                raise PgError(err or "expected CopyInResponse")
        try:
            for ch in chunks:
                if ch:
                    self._sock.sendall(
                        b"d" + struct.pack("!i", len(ch) + 4) + ch
                    )
        except Exception as e:
            msg = str(e).encode(errors="replace")[:200] + b"\0"
            self._sock.sendall(
                b"f" + struct.pack("!i", len(msg) + 4) + msg  # CopyFail
            )
            self._drain_to_ready()
            raise
        self._sock.sendall(b"c" + struct.pack("!i", 4))  # CopyDone
        count = -1
        while True:
            t, d = self._read_msg()
            if t == b"C":
                count = _tag_count(d[:-1].decode())
            elif t == b"E":
                err = _parse_error(d)
            elif t == b"Z":
                self._in_tx = d in (b"T", b"E")
                if err:
                    raise PgError(err)
                return count

    def _drain_to_ready(self):
        while True:
            t, d = self._read_msg()
            if t == b"Z":
                self._in_tx = d in (b"T", b"E")
                return

    # -- DBAPI surface ----------------------------------------------------
    def _begin(self):
        if not self._in_tx:
            self._query("BEGIN")
            self._in_tx = True

    def cursor(self) -> Cursor:
        return Cursor(self)

    def commit(self):
        if self._in_tx:
            self._query("COMMIT")
            self._in_tx = False

    def rollback(self):
        if self._in_tx:
            self._query("ROLLBACK")
            self._in_tx = False

    def close(self):
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self._sock.close()


def _parse_error(d: bytes) -> str:
    fields = {}
    for part in d.split(b"\0"):
        if part:
            fields[chr(part[0])] = part[1:].decode(errors="replace")
    return f"{fields.get('S', 'ERROR')}: {fields.get('M', repr(d))}"


def connect(
    host: str = "/tmp",
    port: int = 5432,
    user: str = "postgres",
    dbname: str = "postgres",
) -> Connection:
    return Connection(host, port, user, dbname)

"""Minimal blocking MySQL client for the load generator.

Speaks the client side of the protocol subset the benchmark needs:
handshake (``mysql_native_password`` with an empty password), COM_QUERY
with text result sets, and COM_STMT_PREPARE / COM_STMT_EXECUTE with
binary result sets.  It depends on nothing in the gateway package, so
a change to the server's codecs cannot also change how the client
reads them.

Two read modes:

* ``decode=False`` (timed runs): row packets are not parsed; each row
  payload is hashed with BLAKE2b into an order-independent digest and
  its length counted.
* ``decode=True`` (set-up checks): rows are decoded into Python values
  for comparison against DuckDB.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import socket
import struct
import time
from dataclasses import dataclass, field
from decimal import Decimal

COM_QUIT = 0x01
COM_QUERY = 0x03
COM_STMT_PREPARE = 0x16
COM_STMT_EXECUTE = 0x17

CLIENT_LONG_PASSWORD = 1 << 0
CLIENT_LONG_FLAG = 1 << 2
CLIENT_PROTOCOL_41 = 1 << 9
CLIENT_TRANSACTIONS = 1 << 13
CLIENT_SECURE_CONNECTION = 1 << 15
CLIENT_MULTI_STATEMENTS = 1 << 16
CLIENT_MULTI_RESULTS = 1 << 17
CLIENT_PLUGIN_AUTH = 1 << 19
CLIENT_CAPS = (CLIENT_LONG_PASSWORD | CLIENT_LONG_FLAG | CLIENT_PROTOCOL_41
               | CLIENT_TRANSACTIONS | CLIENT_SECURE_CONNECTION
               | CLIENT_MULTI_STATEMENTS | CLIENT_MULTI_RESULTS
               | CLIENT_PLUGIN_AUTH)
SERVER_MORE_RESULTS_EXISTS = 1 << 3

T_TINY, T_SHORT, T_LONG, T_FLOAT, T_DOUBLE = 0x01, 0x02, 0x03, 0x04, 0x05
T_TIMESTAMP, T_LONGLONG, T_DATE, T_DATETIME = 0x07, 0x08, 0x0A, 0x0C
T_NEWDECIMAL = 0xF6
INT_TYPES = {T_TINY: "<b", T_SHORT: "<h", T_LONG: "<i", T_LONGLONG: "<q"}
FLOAT_TYPES = {T_FLOAT: "<f", T_DOUBLE: "<d"}
TIME_TYPES = (T_TIMESTAMP, T_DATE, T_DATETIME)

_MASK = (1 << 128) - 1


class ServerError(Exception):
    """An ERR packet answered the command."""


@dataclass
class Result:
    """One command's answer as the client saw it."""
    sent: float = 0.0          # perf_counter when the command was written
    first_row: float = 0.0     # perf_counter when the first row arrived
    done: float = 0.0          # perf_counter when the terminator arrived
    columns: list = field(default_factory=list)  # (name, type code)
    rows: int = 0
    row_bytes: int = 0         # row-packet payload bytes, headers excluded
    digest: int = 0            # order-independent sum of row hashes
    decoded: list | None = None

    @property
    def fingerprint(self) -> tuple[int, int]:
        return (self.rows, self.digest)


def _lenenc(buf, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return int.from_bytes(buf[pos + 1:pos + 3], "little"), pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return int.from_bytes(buf[pos + 1:pos + 9], "little"), pos + 9


class Connection:
    def __init__(self, host: str, port: int, user: str, timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        self._pos = 0
        self.seq = 0
        self._read_packet()  # greeting
        reply = bytearray(struct.pack("<IIB", CLIENT_CAPS, 1 << 24, 45))
        reply += b"\x00" * 23 + user.encode() + b"\x00"
        reply += b"\x00"  # empty auth response (accept-any server)
        reply += b"mysql_native_password\x00"
        self._write_packet(bytes(reply))
        ans = self._read_packet()
        if ans[0] != 0x00:
            raise ServerError(f"handshake refused: {bytes(ans[9:])!r}")

    def close(self) -> None:
        try:
            self.seq = 0
            self._write_packet(bytes([COM_QUIT]))
        except OSError:
            pass
        self.sock.close()

    # ---- framing ----
    def _fill(self, need: int) -> None:
        while len(self._buf) - self._pos < need:
            if self._pos > (1 << 20):
                del self._buf[:self._pos]
                self._pos = 0
            chunk = self.sock.recv(1 << 18)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._buf += chunk

    def _read_packet(self) -> bytes:
        payload = b""
        while True:
            self._fill(4)
            p = self._pos
            length = int.from_bytes(self._buf[p:p + 3], "little")
            self.seq = (self._buf[p + 3] + 1) & 0xFF
            self._fill(4 + length)
            p = self._pos + 4
            chunk = bytes(self._buf[p:p + length])
            self._pos = p + length
            payload = payload + chunk if payload else chunk
            if length < 0xFFFFFF:
                return payload

    def _write_packet(self, payload: bytes) -> None:
        self.sock.sendall(len(payload).to_bytes(3, "little")
                          + bytes([self.seq]) + payload)
        self.seq = (self.seq + 1) & 0xFF

    def _command(self, cmd: int, body: bytes) -> float:
        self.seq = 0
        sent = time.perf_counter()
        self._write_packet(bytes([cmd]) + body)
        return sent

    # ---- commands ----
    def query(self, sql: str, decode: bool = False) -> Result:
        res = Result()
        res.sent = self._command(COM_QUERY, sql.encode())
        self._read_result(res, decode, binary=False)
        return res

    def prepare(self, sql: str) -> tuple[int, int]:
        """→ (statement id, parameter count)."""
        self._command(COM_STMT_PREPARE, sql.encode())
        first = self._read_packet()
        if first[0] == 0xFF:
            raise ServerError(bytes(first[9:]).decode(errors="replace"))
        stmt_id, ncols, nparams = struct.unpack("<IHH", first[1:9])
        for n in (nparams, ncols):
            if n:
                for _ in range(n):
                    self._read_packet()
                self._read_packet()  # EOF
        return stmt_id, nparams

    def execute(self, stmt_id: int, params: list[int],
                decode: bool = False) -> Result:
        body = bytearray(struct.pack("<IBI", stmt_id, 0, 1))
        if params:
            body += b"\x00" * ((len(params) + 7) // 8) + b"\x01"
            body += bytes([T_LONGLONG, 0]) * len(params)
            body += b"".join(struct.pack("<q", v) for v in params)
        res = Result()
        res.sent = self._command(COM_STMT_EXECUTE, bytes(body))
        self._read_result(res, decode, binary=True)
        return res

    def _read_result(self, res: Result, decode: bool, binary: bool) -> None:
        first = self._read_packet()
        if first[0] == 0xFF:
            raise ServerError(bytes(first[9:]).decode(errors="replace"))
        if first[0] == 0x00:  # OK: no result set
            res.done = time.perf_counter()
            return
        ncols, _ = _lenenc(first, 0)
        for _ in range(ncols):
            col = self._read_packet()
            pos = 0
            for _ in range(4):  # catalog, schema, table, org_table
                n, pos = _lenenc(col, pos)
                pos += n
            n, pos = _lenenc(col, pos)
            name = col[pos:pos + n].decode()
            pos += n
            n, pos = _lenenc(col, pos)  # org_name
            pos += n + 1 + 2 + 4  # fixed-length marker, charset, length
            res.columns.append((name, col[pos]))
        self._read_packet()  # EOF after column definitions
        types = [t for _, t in res.columns]
        rows = [] if decode else None
        digest, nbytes, nrows = 0, 0, 0
        blake = hashlib.blake2b
        while True:
            p = self._read_packet()
            head = p[0]
            if head == 0xFE and len(p) < 9:
                status = int.from_bytes(p[3:5], "little")
                break
            if head == 0xFF:
                raise ServerError(bytes(p[9:]).decode(errors="replace"))
            if not nrows:
                res.first_row = time.perf_counter()
            nrows += 1
            nbytes += len(p)
            digest += int.from_bytes(blake(p, digest_size=16).digest(),
                                     "little")
            if decode:
                rows.append(_decode_binary(p, types) if binary
                            else _decode_text(p, ncols))
        res.done = time.perf_counter()
        res.rows, res.row_bytes, res.digest = nrows, nbytes, digest & _MASK
        res.decoded = rows
        if status & SERVER_MORE_RESULTS_EXISTS:
            raise ServerError("unexpected multi-result answer")


def _decode_text(p: bytes, ncols: int) -> list:
    row, pos = [], 0
    for _ in range(ncols):
        if p[pos] == 0xFB:
            row.append(None)
            pos += 1
            continue
        n, pos = _lenenc(p, pos)
        row.append(p[pos:pos + n].decode())
        pos += n
    return row


def _decode_binary(p: bytes, types: list[int]) -> list:
    nulls = p[1:1 + (len(types) + 9) // 8]
    pos = 1 + len(nulls)
    row = []
    for i, t in enumerate(types):
        bit = i + 2
        if nulls[bit // 8] & (1 << (bit % 8)):
            row.append(None)
            continue
        if t in INT_TYPES:
            fmt = INT_TYPES[t]
            row.append(struct.unpack_from(fmt, p, pos)[0])
            pos += struct.calcsize(fmt)
        elif t in FLOAT_TYPES:
            fmt = FLOAT_TYPES[t]
            row.append(struct.unpack_from(fmt, p, pos)[0])
            pos += struct.calcsize(fmt)
        elif t in TIME_TYPES:
            n = p[pos]
            f = p[pos + 1:pos + 1 + n]
            pos += 1 + n
            if n == 0:
                row.append(None)
            elif t == T_DATE:
                row.append(dt.date(int.from_bytes(f[:2], "little"), f[2], f[3]))
            else:
                us = int.from_bytes(f[7:11], "little") if n >= 11 else 0
                h, mi, s = (f[4], f[5], f[6]) if n >= 7 else (0, 0, 0)
                row.append(dt.datetime(int.from_bytes(f[:2], "little"),
                                       f[2], f[3], h, mi, s, us))
        else:
            n, pos = _lenenc(p, pos)
            raw = p[pos:pos + n].decode()
            pos += n
            row.append(Decimal(raw) if t == T_NEWDECIMAL else raw)
    return row

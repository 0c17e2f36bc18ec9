"""Prepared statements (binary protocol).

The reference relays COM_STMT_* opaquely to its backend; terminating
them here means implementing the binary protocol surface:

* PREPARE: count ``?`` placeholders (quote-aware), allocate a statement
  id, answer COM_STMT_PREPARE_OK (+ param definition packets).
* EXECUTE: decode the NULL bitmap, parameter types and binary values;
  bind by substituting SQL literals (safe: values are rendered through
  explicit quoting, not string interpolation of raw client bytes); run
  the statement; answer with a *binary* result set (0x00-header rows,
  NULL bitmap at offset 2, per-type little-endian value encodings).
* CLOSE: deallocate, no response; RESET: OK.
"""

from __future__ import annotations

import datetime as dt
import struct
from dataclasses import dataclass

from tidb_gateway_spark.gateway import constants as C
from tidb_gateway_spark.gateway import packets
from tidb_gateway_spark.gateway.wire import Buffer, ProtocolError


@dataclass
class PreparedStatement:
    stmt_id: int
    sql: str
    num_params: int
    # (type, flags) pairs cached from the first EXECUTE; clients such as
    # Connector/J legitimately send new_params_bound_flag=0 on
    # re-EXECUTE, expecting the server to reuse these.
    param_types: list[tuple[int, int]] | None = None
    # cursor-mode state (COM_STMT_EXECUTE with CURSOR_TYPE_READ_ONLY →
    # rows are buffered and drained by COM_STMT_FETCH)
    cursor: object | None = None
    # result-set column metadata resolved at PREPARE: list of
    # (name, type_code, charset, display_length); None when the
    # statement's schema could not be resolved ahead of EXECUTE.
    columns: list[tuple[str, int, int, int]] | None = None
    # COM_STMT_SEND_LONG_DATA accumulator: param index → chunks.  The
    # client streams large values ahead of EXECUTE and omits them from
    # the EXECUTE payload; consumed (and cleared) by the next EXECUTE,
    # also cleared by COM_STMT_RESET.
    long_data: dict[int, bytearray] | None = None

    def append_long_data(self, param_id: int, data: bytes) -> None:
        if self.long_data is None:
            self.long_data = {}
        self.long_data.setdefault(param_id, bytearray()).extend(data)


def count_placeholders(sql: str) -> int:
    """Count ``?`` outside string/identifier quotes."""
    n, i, ln = 0, 0, len(sql)
    while i < ln:
        ch = sql[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < ln:
                if sql[i] == "\\" and q != "`":
                    i += 2
                    continue
                if sql[i] == q:
                    break
                i += 1
        elif ch == "?":
            n += 1
        i += 1
    return n


def prepare_ok_payloads(stmt: PreparedStatement, capability: int) -> list[bytes]:
    """COM_STMT_PREPARE_OK + parameter and column definition packets.

    Column metadata is resolved at PREPARE time (Catalyst analysis of
    the statement with NULL-bound params) so strict clients that
    pre-allocate row buffers from the prepare response (e.g. JDBC)
    see the real schema; num_columns falls back to 0 when resolution
    failed (non-rowset statements, unresolvable views).
    """
    num_columns = len(stmt.columns) if stmt.columns else 0
    b = Buffer()
    b.write_byte(0x00)
    b.write_uint(stmt.stmt_id, 4)
    b.write_uint(num_columns, 2)
    b.write_uint(stmt.num_params, 2)
    b.write_byte(0)     # filler
    b.write_uint(0, 2)  # warning count
    out = [b.getvalue()]
    if stmt.num_params:
        out += packets.column_block(
            packets.string_columns(f"?{i}" for i in range(stmt.num_params)),
            capability)
    if num_columns:
        out += packets.column_block(stmt.columns, capability)
    return out


# ---- EXECUTE param decoding ----

def _read_binary_time(b: Buffer) -> dt.datetime:
    n = b.read_byte()
    if n == 0:
        return dt.datetime(1970, 1, 1)
    y = b.read_uint(2)
    mo = b.read_byte()
    d = b.read_byte()
    h = mi = s = us = 0
    if n >= 7:
        h, mi, s = b.read_byte(), b.read_byte(), b.read_byte()
    if n >= 11:
        us = b.read_uint(4)
    return dt.datetime(y, mo, d, h, mi, s, us)


def _read_binary_duration(b: Buffer) -> dt.timedelta:
    """MYSQL_TYPE_TIME value: length byte 0/8/12, sign, days, H/M/S,
    optional micros."""
    n = b.read_byte()
    if n == 0:
        return dt.timedelta(0)
    neg = b.read_byte() == 1
    days = b.read_uint(4)
    h, mi, s = b.read_byte(), b.read_byte(), b.read_byte()
    us = b.read_uint(4) if n >= 12 else 0
    td = dt.timedelta(days=days, hours=h, minutes=mi, seconds=s, microseconds=us)
    return -td if neg else td


def decode_execute_params(
    payload: Buffer, num_params: int,
    cached_types: list[tuple[int, int]] | None = None,
    long_data: dict[int, bytearray] | None = None,
) -> tuple[list, list[tuple[int, int]]]:
    """Decode the COM_STMT_EXECUTE tail after stmt_id/flags/iteration.

    Returns (values, types).  Caller passes a Buffer positioned at the
    NULL bitmap.  When new_params_bound_flag is 0 the client expects the
    types bound at the first EXECUTE to be reused (Connector/J caches
    them); ``cached_types`` supplies those.  Params streamed ahead via
    COM_STMT_SEND_LONG_DATA are absent from the EXECUTE payload; their
    accumulated bytes arrive through ``long_data``.
    """
    if num_params == 0:
        return [], []
    bitmap = payload.read_bytes((num_params + 7) // 8)
    new_bound = payload.read_byte() == 1
    if new_bound:
        types = [(payload.read_byte(), payload.read_byte()) for _ in range(num_params)]
    elif cached_types is not None and len(cached_types) == num_params:
        types = cached_types
    else:
        raise ProtocolError(
            "re-execution without bound types and no cached types"
        )
    values: list = []
    for i, (tcode, flags) in enumerate(types):
        if bitmap[i // 8] & (1 << (i % 8)):
            values.append(None)
            continue
        if long_data is not None and i in long_data:
            values.append(bytes(long_data[i]).decode("utf-8", "replace"))
            continue
        unsigned = bool(flags & 0x80)
        if tcode == C.MYSQL_TYPE_TINY:
            v = payload.read_byte()
            values.append(v if unsigned else struct.unpack("<b", bytes([v]))[0])
        elif tcode == C.MYSQL_TYPE_SHORT:
            raw = payload.read_bytes(2)
            values.append(struct.unpack("<H" if unsigned else "<h", raw)[0])
        elif tcode == C.MYSQL_TYPE_LONG:
            raw = payload.read_bytes(4)
            values.append(struct.unpack("<I" if unsigned else "<i", raw)[0])
        elif tcode == C.MYSQL_TYPE_LONGLONG:
            raw = payload.read_bytes(8)
            values.append(struct.unpack("<Q" if unsigned else "<q", raw)[0])
        elif tcode == C.MYSQL_TYPE_FLOAT:
            values.append(struct.unpack("<f", payload.read_bytes(4))[0])
        elif tcode == C.MYSQL_TYPE_DOUBLE:
            values.append(struct.unpack("<d", payload.read_bytes(8))[0])
        elif tcode in (C.MYSQL_TYPE_DATE, C.MYSQL_TYPE_TIMESTAMP,
                       C.MYSQL_TYPE_DATETIME):
            values.append(_read_binary_time(payload))
        elif tcode == C.MYSQL_TYPE_TIME:
            values.append(_read_binary_duration(payload))
        elif tcode == C.MYSQL_TYPE_NULL:
            values.append(None)
        else:  # VARCHAR/VAR_STRING/STRING/BLOB/NEWDECIMAL — lenenc bytes
            values.append(payload.read_lenenc_string().decode("utf-8", "replace"))
    return values, list(types)


def render_literal(v: object) -> str:
    """Bind a decoded parameter as a SQL literal (explicitly quoted)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, dt.datetime):
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    if isinstance(v, dt.timedelta):
        # TIME param → 'HH:MM:SS[.ffffff]' string literal (MySQL TIME
        # text form; negative durations carry a leading '-')
        total_us = int(v / dt.timedelta(microseconds=1))
        sign = "-" if total_us < 0 else ""
        total_us = abs(total_us)
        s, us = divmod(total_us, 1_000_000)
        h, rem = divmod(s, 3600)
        mi, sec = divmod(rem, 60)
        frac = f".{us:06d}" if us else ""
        return f"'{sign}{h:02d}:{mi:02d}:{sec:02d}{frac}'"
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


def bind(sql: str, values: list) -> str:
    """Substitute literals at ``?`` positions, quote-aware."""
    out, vi = [], 0
    i, ln = 0, len(sql)
    while i < ln:
        ch = sql[i]
        if ch in ("'", '"', "`"):
            q = ch
            out.append(ch)
            i += 1
            while i < ln:
                out.append(sql[i])
                if sql[i] == "\\" and q != "`":
                    i += 1
                    if i < ln:
                        out.append(sql[i])
                elif sql[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if ch == "?":
            out.append(render_literal(values[vi]))
            vi += 1
        else:
            out.append(ch)
        i += 1
    return "".join(out)


# ---- binary result-set row encoding ----

def encode_binary_row(values: list, type_codes: list[int]) -> bytes:
    b = Buffer()
    b.write_byte(0x00)  # binary row header
    nulls = bytearray((len(values) + 9) // 8)
    for i, v in enumerate(values):
        if v is None:
            pos = i + 2  # binary-row NULL bitmap offset
            nulls[pos // 8] |= 1 << (pos % 8)
    b.write_bytes(bytes(nulls))
    for v, tcode in zip(values, type_codes):
        if v is None:
            continue
        if tcode == C.MYSQL_TYPE_TINY:
            b.write_bytes(struct.pack("<b", int(v)))
        elif tcode == C.MYSQL_TYPE_SHORT:
            b.write_bytes(struct.pack("<h", int(v)))
        elif tcode == C.MYSQL_TYPE_LONG:
            b.write_bytes(struct.pack("<i", int(v)))
        elif tcode == C.MYSQL_TYPE_LONGLONG:
            b.write_bytes(struct.pack("<q", int(v)))
        elif tcode == C.MYSQL_TYPE_FLOAT:
            b.write_bytes(struct.pack("<f", float(v)))
        elif tcode == C.MYSQL_TYPE_DOUBLE:
            b.write_bytes(struct.pack("<d", float(v)))
        elif tcode in (C.MYSQL_TYPE_DATE, C.MYSQL_TYPE_TIMESTAMP, 0x0C):
            # Binary date/time layout is length-prefixed and spec-minimal
            # (reference wire contract mysql/buffer.go:21-194): DATE
            # values carry 4 bytes (year, month, day), DATETIME 7, and 11
            # only when microseconds are present.
            if isinstance(v, dt.datetime):
                y, mo, d = v.year, v.month, v.day
                h, mi, s, us = v.hour, v.minute, v.second, v.microsecond
            else:  # date → 4-byte form
                b.write_byte(4)
                b.write_uint(v.year, 2)
                b.write_bytes(bytes([v.month, v.day]))
                continue
            if us:
                b.write_byte(11)
                b.write_uint(y, 2)
                b.write_bytes(bytes([mo, d, h, mi, s]))
                b.write_uint(us, 4)
            else:
                b.write_byte(7)
                b.write_uint(y, 2)
                b.write_bytes(bytes([mo, d, h, mi, s]))
        else:  # strings/decimal/blob/arrays → lenenc text
            from tidb_gateway_spark.gateway.result_encoder import encode_value

            b.write_lenenc_string(encode_value(v) or b"")
    return b.getvalue()

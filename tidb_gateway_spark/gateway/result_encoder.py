"""DataFrame → MySQL result set: one framing for both protocols.

Every gateway reply that carries columns comes from :func:`resultset`:
the column count, the column block (one ColumnDefinition41 per column,
then EOF), one payload per row, then an EOF carrying the final status
word.  The text protocol (COM_QUERY) and the binary protocol
(COM_STMT_EXECUTE) differ only in the row encoder: lenenc text cells
(:func:`encode_text_row`) or ``prepared.encode_binary_row``.  A
statement without columns (a Spark DDL ack) is answered with OK, since
MySQL has no zero-column result set.  The gateway never offers
CLIENT_DEPRECATE_EOF, so both EOF packets are always sent.

Spark types map to MySQL through one table, ``_TYPE_MAP``: type code,
display length and charset for the column definition, and the
column-type name DESCRIBE and SHOW CREATE print (the inverse of
SURVEY.md §1.3's type mapping).

Flush discipline mirrors the reference's relay batching: payloads are
buffered and the transport flushed only at result-set boundaries
(the reference gateway's relay.go:85-93).

Scale note: rows stream through ``toLocalIterator`` (one partition in
flight on the driver) rather than ``collect`` — a 10 GB result set never
materializes in driver memory at once.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tidb_gateway_spark.gateway import constants as C
from tidb_gateway_spark.gateway import packets
from tidb_gateway_spark.gateway.prepared import encode_binary_row

_BINARY_CHARSET = 63

_TYPE_MAP: list[tuple[type, tuple[int, int, int, str]]] = [
    # SparkType → (mysql type code, display length, charset, type name);
    # the name is formatted with the Spark type (DECIMAL precision/scale)
    (T.ByteType, (C.MYSQL_TYPE_TINY, 4, _BINARY_CHARSET, "tinyint(4)")),
    (T.ShortType, (C.MYSQL_TYPE_SHORT, 6, _BINARY_CHARSET, "smallint(6)")),
    (T.IntegerType, (C.MYSQL_TYPE_LONG, 11, _BINARY_CHARSET, "int(11)")),
    (T.LongType, (C.MYSQL_TYPE_LONGLONG, 20, _BINARY_CHARSET, "bigint(20)")),
    (T.FloatType, (C.MYSQL_TYPE_FLOAT, 12, _BINARY_CHARSET, "float")),
    (T.DoubleType, (C.MYSQL_TYPE_DOUBLE, 22, _BINARY_CHARSET, "double")),
    (T.DecimalType, (C.MYSQL_TYPE_NEWDECIMAL, 40, _BINARY_CHARSET,
                     "decimal({0.precision},{0.scale})")),
    (T.BooleanType, (C.MYSQL_TYPE_TINY, 1, _BINARY_CHARSET, "tinyint(1)")),
    (T.DateType, (C.MYSQL_TYPE_DATE, 10, _BINARY_CHARSET, "date")),
    (T.TimestampType, (C.MYSQL_TYPE_TIMESTAMP, 26, _BINARY_CHARSET, "timestamp(6)")),
    (T.TimestampNTZType, (C.MYSQL_TYPE_TIMESTAMP, 26, _BINARY_CHARSET, "datetime(6)")),
    (T.BinaryType, (C.MYSQL_TYPE_BLOB, 65535, _BINARY_CHARSET, "blob")),
    (T.StringType, (C.MYSQL_TYPE_VAR_STRING, 1024, C.DEFAULT_COLLATION_ID, "varchar(1024)")),
]
# arrays / maps / structs serialize as JSON-ish strings
_OTHER_TYPE = (C.MYSQL_TYPE_VAR_STRING, 4096, C.DEFAULT_COLLATION_ID, "text")


def _mysql_type(dt_: T.DataType) -> tuple[int, int, int, str]:
    for klass, spec in _TYPE_MAP:
        if isinstance(dt_, klass):
            return spec
    return _OTHER_TYPE


def mysql_type_for(dt_: T.DataType) -> tuple[int, int, int]:
    """Spark type → (type code, display length, charset)."""
    return _mysql_type(dt_)[:3]


def mysql_type_name(dt_: T.DataType) -> str:
    """Spark type → MySQL column-type string (DESCRIBE / SHOW CREATE)."""
    return _mysql_type(dt_)[3].format(dt_)


def columns_of(schema: T.StructType) -> list[tuple[str, int, int, int]]:
    """(name, type code, charset, display length) per field."""
    out = []
    for f in schema.fields:
        code, length, charset = mysql_type_for(f.dataType)
        out.append((f.name, code, charset, length))
    return out


def encode_value(v: object) -> bytes | None:
    """Python value → text-protocol bytes (None → NULL marker)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"1" if v else b"0"
    if isinstance(v, (int, Decimal)):
        return str(v).encode()
    if isinstance(v, float):
        return repr(v).encode()
    if isinstance(v, bytes):
        return v
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f" if v.microsecond else "%Y-%m-%d %H:%M:%S").encode()
    if isinstance(v, dt.date):
        return v.isoformat().encode()
    if isinstance(v, (list, tuple)):
        return ("[" + ",".join((encode_value(x) or b"NULL").decode() for x in v) + "]").encode()
    if isinstance(v, dict):
        return str(v).encode()
    return str(v).encode()


def encode_text_row(row) -> bytes:
    return packets.text_row([encode_value(v) for v in row])


def resultset(columns: list[tuple[str, int, int, int]], rows, encode_row,
              capability: int, status: int):
    """Yield the packet payloads of one result set, lazily.

    ``columns`` holds (name, type code, charset, display length) tuples;
    ``rows`` is called for the row iterable once the column block is
    out, so row production (``toLocalIterator``) happens wherever the
    generator is driven — the server advances it on an executor thread
    in chunks and writes the payloads from the event-loop thread,
    keeping the asyncio transport single-threaded.  Without columns
    the reply is a lone OK.
    """
    if not columns:
        yield packets.ok_packet(capability, status=status)
        return
    b = packets.Buffer()
    b.write_lenenc_int(len(columns))
    yield b.getvalue()
    yield from packets.column_block(columns, capability, status)
    for row in rows():
        yield encode_row(row)
    yield packets.eof_packet(capability, status)


def resultset_payloads(df: DataFrame, capability: int,
                       status: int = C.SERVER_STATUS_AUTOCOMMIT):
    """Text-protocol result set of ``df`` (COM_QUERY)."""
    yield from resultset(columns_of(df.schema), df.toLocalIterator,
                         encode_text_row, capability, status)


def binary_resultset_payloads(df: DataFrame, capability: int,
                              status: int = C.SERVER_STATUS_AUTOCOMMIT):
    """Binary-protocol result set of ``df`` (COM_STMT_EXECUTE)."""
    columns = columns_of(df.schema)
    encode_row = partial(encode_binary_row,
                         type_codes=[code for _, code, _, _ in columns])
    yield from resultset(columns, df.toLocalIterator, encode_row,
                         capability, status)

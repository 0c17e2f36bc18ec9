"""Wire-protocol unit tests, mirroring the reference's test strategy
(/root/reference/mysql/protocol_test.go, conn_test.go) and extending it
to the surfaces the reference left untested (SURVEY.md §5.1):
HandshakeResponse codecs, compressor edge cases, lenenc boundaries."""

from __future__ import annotations

import asyncio
import random

import pytest

from tidb_gateway_spark.gateway import constants as C
from tidb_gateway_spark.gateway import dialect
from tidb_gateway_spark.gateway.auth import native_scramble, verify_native
from tidb_gateway_spark.gateway.compress import MIN_COMPRESS_LENGTH, CompressedStream
from tidb_gateway_spark.gateway.packets import Handshake, HandshakeResponse, err_packet
from tidb_gateway_spark.gateway.router import Router, UnknownClusterError
from tidb_gateway_spark.gateway.wire import Buffer, PacketIO


class PipeWriter:
    """Feeds written bytes into a StreamReader (io.Pipe analog,
    conn_test.go:131-135)."""

    def __init__(self, reader: asyncio.StreamReader):
        self.reader = reader

    def write(self, data: bytes) -> None:
        self.reader.feed_data(data)

    async def drain(self) -> None:
        pass


def make_pipe():
    reader = asyncio.StreamReader()
    return reader, PipeWriter(reader)


def run(coro):
    return asyncio.run(coro)


# ---- Buffer scalar codecs (buffer.go round-trips) ----

def test_lenenc_int_boundaries():
    for v in (0, 250, 251, 0xFFFF, 0x10000, 0xFFFFFF, 0x1000000, 2**63):
        b = Buffer()
        b.write_lenenc_int(v)
        assert Buffer(b.getvalue()).read_lenenc_int() == v


def test_scalar_roundtrip():
    b = Buffer()
    b.write_uint(0xAB, 1)
    b.write_uint(0xBEEF, 2)
    b.write_uint(0xC0FFEE, 3)
    b.write_uint(0xDEADBEEF, 4)
    b.write_uint(2**63 + 17, 8)
    b.write_string_null(b"hello")
    b.write_lenenc_string(b"world" * 100)
    r = Buffer(b.getvalue())
    assert r.read_uint(1) == 0xAB
    assert r.read_uint(2) == 0xBEEF
    assert r.read_uint(3) == 0xC0FFEE
    assert r.read_uint(4) == 0xDEADBEEF
    assert r.read_uint(8) == 2**63 + 17
    assert r.read_string_null() == b"hello"
    assert r.read_lenenc_string() == b"world" * 100
    assert r.remaining() == 0


# ---- Handshake round-trip (protocol_test.go:10-28 analog) ----

def test_handshake_roundtrip():
    h = Handshake(connection_id=42, auth_plugin_data=bytes(range(20)))
    h2 = Handshake.read(h.write())
    assert h2.protocol_version == 10
    assert h2.server_version == C.SERVER_VERSION
    assert h2.connection_id == 42
    assert h2.capability == h.capability
    assert h2.auth_plugin_data == h.auth_plugin_data
    assert h2.auth_plugin_name == C.AUTH_NATIVE


@pytest.mark.parametrize(
    "cap_extra",
    [
        C.CLIENT_PLUGIN_AUTH_LENENC_CLIENT_DATA,
        C.CLIENT_SECURE_CONNECTION,
        0,  # string<NUL> auth encoding
    ],
)
def test_handshake_response_roundtrip_auth_encodings(cap_extra):
    cap = C.CLIENT_PROTOCOL_41 | C.CLIENT_PLUGIN_AUTH | C.CLIENT_CONNECT_WITH_DB | cap_extra
    r = HandshakeResponse(
        capability=cap,
        max_packet_size=1 << 24,
        username="sf001.alice",
        auth_response=b"\x01\x02\x03\x04" * 5,
        database="analytics",
        auth_plugin_name="mysql_native_password",
    )
    r2 = HandshakeResponse.read(r.write())
    assert r2.username == r.username
    assert r2.auth_response == r.auth_response
    assert r2.database == r.database
    assert r2.auth_plugin_name == r.auth_plugin_name


def test_handshake_response_connect_attrs():
    cap = (C.CLIENT_PROTOCOL_41 | C.CLIENT_SECURE_CONNECTION | C.CLIENT_PLUGIN_AUTH
           | C.CLIENT_CONNECT_ATTRS)
    r = HandshakeResponse(capability=cap, username="u", auth_response=b"x" * 20,
                          auth_plugin_name="mysql_native_password",
                          attrs={"_client_name": "pytest", "_pid": "1234"})
    r2 = HandshakeResponse.read(r.write())
    assert r2.attrs == r.attrs


def test_handshake_response_legacy_320():
    r = HandshakeResponse(capability=0, username="old", auth_response=b"secret")
    r2 = HandshakeResponse.read(r.write())
    assert not r2.capability & C.CLIENT_PROTOCOL_41
    assert r2.username == "old"
    assert r2.auth_response == b"secret"


def test_ssl_request_detection():
    r = HandshakeResponse(capability=C.CLIENT_PROTOCOL_41 | C.CLIENT_SSL, is_ssl_request=True)
    r2 = HandshakeResponse.read(r.write())
    assert r2.is_ssl_request


def test_err_packet_shape():
    p = err_packet(C.CLIENT_PROTOCOL_41, message="boom")
    assert p[0] == 0xFF
    assert int.from_bytes(p[1:3], "little") == C.ER_UNKNOWN
    assert p[3:4] == b"#"
    assert p[4:9] == b"08S01"
    assert p[9:] == b"boom"


# ---- packet framing (conn_test.go:15-65 analog) ----

def test_random_packets_roundtrip_plain():
    async def go():
        rng = random.Random(42)
        reader, writer = make_pipe()
        a = PacketIO(reader, writer)
        b = PacketIO(reader, writer)
        for _ in range(10):
            payloads = [
                rng.randbytes(rng.randint(0, 10240)) for _ in range(rng.randint(1, 8))
            ]
            for p in payloads:
                a.write_packet(p)
            for p in payloads:
                assert await b.read_packet() == p
            a.reset_seq()
            b.reset_seq()

    run(go())


def test_fragmentation_boundary():
    async def go():
        reader, writer = make_pipe()
        a = PacketIO(reader, writer)
        b = PacketIO(reader, writer)
        for size in (C.MAX_PAYLOAD - 1, C.MAX_PAYLOAD, C.MAX_PAYLOAD + 7):
            payload = bytes([size % 251]) * size
            a.write_packet(payload)
            got = await b.read_packet()
            assert got == payload
            a.reset_seq()
            b.reset_seq()

    run(go())


def test_compressed_roundtrip_threshold():
    async def go():
        rng = random.Random(7)
        reader, writer = make_pipe()
        cs_out = CompressedStream(reader, writer)
        cs_in = cs_out  # same stream pair: write then read back
        a = PacketIO(cs_out, cs_out)
        b = PacketIO(cs_in, cs_in)
        # below threshold (stored), above threshold (deflated), mixed sizes
        for size in (0, 1, MIN_COMPRESS_LENGTH - 1, MIN_COMPRESS_LENGTH,
                     4096, 100_000):
            payload = rng.randbytes(size)
            a.write_packet(payload)
            await cs_out.drain()
            assert await b.read_packet() == payload
            a.reset_seq()
            b.reset_seq()
            cs_out.reset_seq()

    run(go())


def test_sequence_mismatch_detected():
    async def go():
        reader, writer = make_pipe()
        a = PacketIO(reader, writer)
        a.seq = 5  # writer out of sync
        a.write_packet(b"x")
        b = PacketIO(reader, writer)
        with pytest.raises(Exception, match="sequence"):
            await b.read_packet()

    run(go())


# ---- auth ----

def test_native_password_verify():
    nonce = bytes(range(20))
    proof = native_scramble("s3cret", nonce)
    assert verify_native("s3cret", nonce, proof)
    assert not verify_native("wrong", nonce, proof)


# ---- routing (gateway.go:253-267 semantics) ----

def test_router_prefix_and_case_insensitive():
    r = Router({"SF001": "/data/sf001"}, default="/data/default")
    route = r.route("sf001.alice")
    assert (route.cluster_id, route.username, route.sf_dir) == ("sf001", "alice", "/data/sf001")
    assert r.route("bob").sf_dir == "/data/default"
    with pytest.raises(UnknownClusterError):
        r.route("nope.alice")


# ---- dialect shim ----

def test_split_statements_quotes_and_comments():
    sql = "SELECT 'a;b'; -- c;\nSELECT `x;y` /* ; */; # tail;\nSELECT 2"
    assert dialect.split_statements(sql) == ["SELECT 'a;b'", "SELECT `x;y`", "SELECT 2"]


def test_limit_comma_rewrite():
    assert dialect.to_spark_sql("SELECT a FROM t LIMIT 10, 5") == (
        "SELECT a FROM t LIMIT 5 OFFSET 10"
    )


def test_group_concat_rewrite():
    out = dialect.to_spark_sql("SELECT GROUP_CONCAT(name) FROM t")
    assert out == "SELECT concat_ws(',', collect_list(name)) FROM t"
    out2 = dialect.to_spark_sql("SELECT GROUP_CONCAT(name SEPARATOR '|') FROM t")
    assert out2 == "SELECT concat_ws('|', collect_list(name)) FROM t"


def test_date_format_rewrite():
    out = dialect.to_spark_sql("SELECT DATE_FORMAT(d, '%Y-%m-%d %H:%i:%s') FROM t")
    assert out == "SELECT date_format(d, 'yyyy-MM-dd HH:mm:ss') FROM t"


def test_json_shred_rewrite():
    """Constant-path extraction on events.props must be routed onto the
    materialized typed column and the table onto events_shredded, for
    every MySQL extraction spelling; the wire type stays STRING."""
    want = ("SELECT event_id, CAST(props_k AS STRING) AS k "
            "FROM events_shredded ORDER BY event_id")
    for expr in (
        "get_json_object(props, '$.k')",
        "GET_JSON_OBJECT(props,'$.k')",
        "JSON_EXTRACT(props, '$.k')",
        "JSON_UNQUOTE(JSON_EXTRACT(props, '$.k'))",
        "props->>'$.k'",
        "props -> '$.k'",
        "e.props ->> '$.k'",
    ):
        out = dialect.to_spark_sql(
            f"SELECT event_id, {expr} AS k FROM events ORDER BY event_id")
        assert out == want, (expr, out)
    # join spelling redirects too
    out = dialect.to_spark_sql(
        "SELECT t.x FROM t JOIN events ON t.id = events.event_id "
        "WHERE get_json_object(props, '$.k') = '1'")
    assert "JOIN events_shredded ON" in out and "props_k" in out
    # unknown path / other tables / no extraction: untouched
    sql = "SELECT get_json_object(props, '$.other') FROM events"
    assert dialect.to_spark_sql(sql) == sql
    sql = "SELECT event_id FROM events ORDER BY event_id"
    assert dialect.to_spark_sql(sql) == sql


def test_collation_rewrite():
    # accent-folding families → ICU accent-insensitive (r7: the
    # general_ci accent pairs UTF8_LCASE kept distinct)
    out = dialect.to_spark_sql("SELECT a COLLATE utf8mb4_general_ci = b FROM t")
    assert out == "SELECT a COLLATE UNICODE_CI_AI = b FROM t"
    out = dialect.to_spark_sql("SELECT a COLLATE utf8mb4_unicode_ci FROM t")
    assert out == "SELECT a COLLATE UNICODE_CI_AI FROM t"
    out = dialect.to_spark_sql("SELECT a COLLATE `utf8mb4_bin` FROM t")
    assert out == "SELECT a COLLATE UTF8_BINARY FROM t"
    out = dialect.to_spark_sql("SELECT a COLLATE utf8mb4_0900_ai_ci FROM t")
    assert out == "SELECT a COLLATE UNICODE_CI_AI FROM t"
    # language-tailored legacy collations → ICU locale collations
    out = dialect.to_spark_sql("SELECT a COLLATE utf8mb4_swedish_ci FROM t")
    assert out == "SELECT a COLLATE sv_CI_AI FROM t"
    out = dialect.to_spark_sql("SELECT a COLLATE utf8mb4_turkish_ci FROM t")
    assert out == "SELECT a COLLATE tr_CI_AI FROM t"
    out = dialect.to_spark_sql("SELECT a COLLATE latin2_czech_cs FROM t")
    assert out == "SELECT a COLLATE cs FROM t"
    # names outside the advertised collation map pass through
    sql = "SELECT a COLLATE not_a_collation FROM t"
    assert dialect.to_spark_sql(sql) == sql


def test_collation_semantics_live(spark):
    """The r6-documented accent-pair gap, closed: general_ci folds
    é = e (UTF8_LCASE kept them distinct), and the language-tailored
    legacy collations get REAL linguistic ordering — Swedish ö sorts
    after z, which no case-folding approximation can express."""
    q = dialect.to_spark_sql(
        "SELECT 'é' COLLATE utf8mb4_general_ci = 'E' AS folds, "
        "'ö' COLLATE utf8mb4_swedish_ci > 'z' AS sv_order, "
        "'ö' COLLATE utf8mb4_general_ci < 'z' AS root_order")
    r = spark.sql(q).collect()[0]
    assert r["folds"] is True
    assert r["sv_order"] is True      # Swedish tailoring: ö after z
    assert r["root_order"] is True    # root collation: ö ≈ o, before z


def test_general_ci_eszett_wontfix_pin(spark):
    """DOCUMENTED WON'T-FIX (r8, closing the r7 TODO item): legacy
    utf8mb4_general_ci weighs ß = s; our UNICODE_CI_AI mapping weighs
    ß = ss per UCA.  MySQL's own collation chapter documents
    general_ci's ß handling as the simplified/incorrect one ("not
    correct for German") and ships *_unicode_ci/ICU for the correct
    weighting — so we serve the UCA semantics and PIN the divergence
    here: if Spark's collation engine ever changes this corner, the
    assertion flags it for re-documentation.  A translate('ß'→'s')
    shim was considered and rejected: the COLLATE rewrite is
    context-free, so the shim would also corrupt projected VALUES
    (SELECT x COLLATE ... must return the original string)."""
    q = dialect.to_spark_sql(
        "SELECT 'ß' COLLATE utf8mb4_general_ci = 'ss' AS uca_ss, "
        "'ß' COLLATE utf8mb4_general_ci = 's' AS mysql_s")
    r = spark.sql(q).collect()[0]
    assert r["uca_ss"] is True    # our semantics: UCA ß = ss
    assert r["mysql_s"] is False  # the pinned divergence vs general_ci


def test_classify():
    assert dialect.classify("SET autocommit=1")[0] == "set"
    assert dialect.classify("USE mydb") == ("use", "mydb")
    assert dialect.classify("BEGIN")[0] == "txn"
    assert dialect.classify("SHOW DATABASES") == ("show", "databases")
    kind, vars_ = dialect.classify("SELECT @@version, @@autocommit AS ac")
    assert kind == "sysvar"
    assert vars_ == [("version", "@@version"), ("autocommit", "ac")]
    assert dialect.classify("SELECT * FROM t")[0] == "query"
    kind, d = dialect.classify("ANALYZE TABLE orders COMPUTE STATISTICS")
    assert (kind, d["table"], d["suffix"]) == ("analyze", "orders", "")
    kind, d = dialect.classify(
        "analyze table `orders` compute statistics for columns o_custkey, o_totalprice"
    )
    assert kind == "analyze" and d["table"] == "orders"
    assert d["suffix"].upper().startswith("FOR COLUMNS")
    kind, d = dialect.classify("ANALYZE TABLE orders COMPUTE STATISTICS NOSCAN")
    assert (kind, d["suffix"]) == ("analyze", "NOSCAN")
    # not a stats statement → falls through to the query path
    assert dialect.classify("ANALYZE TABLE orders")[0] == "query"


def test_bidirectional_request_response():
    """Alternating directions with per-round sequence resets
    (conn_test.go:36-65 analog): two endpoints each with their own pipe,
    request/response rounds, seq reset between rounds."""

    async def go():
        rng = random.Random(99)
        # a→b pipe and b→a pipe
        r_ab, w_ab = make_pipe()
        r_ba, w_ba = make_pipe()
        a = PacketIO(r_ba, w_ab)   # a writes to ab, reads from ba
        b = PacketIO(r_ab, w_ba)
        for _ in range(10):
            req = rng.randbytes(rng.randint(1, 4096))
            a.reset_seq()
            b.reset_seq()
            a.write_packet(req)
            assert await b.read_packet() == req
            resp = rng.randbytes(rng.randint(1, 4096))
            # response continues the sequence the request started
            b.write_packet(resp)
            assert await a.read_packet() == resp

    run(go())


def test_date_addsub_interval_rewrite():
    out = dialect.to_spark_sql(
        "SELECT DATE_ADD(o_orderdate, INTERVAL 3 DAY) FROM orders")
    assert out == "SELECT (o_orderdate + INTERVAL 3 DAY) FROM orders"
    out = dialect.to_spark_sql("SELECT DATE_SUB(d, INTERVAL 2 MONTH) FROM t")
    assert out == "SELECT (d - INTERVAL 2 MONTH) FROM t"
    # MySQL-only units fold into Spark units
    out = dialect.to_spark_sql("SELECT DATE_ADD(d, INTERVAL 2 WEEK) FROM t")
    assert out == "SELECT (d + INTERVAL 14 DAY) FROM t"
    out = dialect.to_spark_sql("SELECT DATE_SUB(d, INTERVAL 1 QUARTER) FROM t")
    assert out == "SELECT (d - INTERVAL 3 MONTH) FROM t"
    # bare-days aliases map onto Spark date_add/date_sub
    out = dialect.to_spark_sql("SELECT ADDDATE(d, 5), SUBDATE(d, 5) FROM t")
    assert out == "SELECT date_add(d, 5), date_sub(d, 5) FROM t"
    # nested call in the date argument survives paren matching
    out = dialect.to_spark_sql(
        "SELECT DATE_ADD(COALESCE(a, b), INTERVAL -1 DAY) FROM t")
    assert out == "SELECT (COALESCE(a, b) + INTERVAL -1 DAY) FROM t"


def test_str_to_date_rewrite():
    out = dialect.to_spark_sql("SELECT STR_TO_DATE('2024-05-01', '%Y-%m-%d')")
    assert out == "SELECT to_date('2024-05-01', 'yyyy-MM-dd')"
    # time tokens -> to_timestamp (MySQL returns DATETIME there)
    out = dialect.to_spark_sql(
        "SELECT STR_TO_DATE(s, '%Y-%m-%d %H:%i:%s') FROM t")
    assert out == "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t"


def test_date_rewrites_execute_in_spark(spark):
    """The rewritten SQL must actually run on Spark and produce the
    MySQL-semantics values."""
    rows = spark.sql(dialect.to_spark_sql(
        "SELECT DATE_ADD(DATE'2024-02-27', INTERVAL 1 WEEK) AS a, "
        "DATE_SUB(DATE'2024-03-31', INTERVAL 1 MONTH) AS b, "
        "STR_TO_DATE('2024-05-01', '%Y-%m-%d') AS c, "
        "ADDDATE(DATE'2024-01-01', 30) AS d")).collect()
    r = rows[0]
    assert str(r["a"]) == "2024-03-05"
    assert str(r["b"]) == "2024-02-29"  # month-end clamp, MySQL-equal
    assert str(r["c"]) == "2024-05-01"
    assert str(r["d"]) == "2024-01-31"


# ---- result-set framing (packet identity) ----

def test_resultset_packets_are_golden(spark):
    """Every result-set framing the gateway emits, pinned byte for byte
    by digests recorded from the per-protocol encoders the shared
    framing replaced: the text and binary result sets of a frame holding
    every mapped Spark type plus an array and a map (all-NULL row,
    datetimes with and without microseconds, a negative decimal), a
    SHOW-style result set of string columns, and the
    COM_STMT_PREPARE_OK column block."""
    import datetime as dt
    import hashlib
    from decimal import Decimal

    from pyspark.sql import types as T

    from tidb_gateway_spark.gateway import packets, prepared, result_encoder

    types = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
             T.FloatType(), T.DoubleType(), T.DecimalType(12, 2),
             T.BooleanType(), T.DateType(), T.TimestampType(),
             T.TimestampNTZType(), T.BinaryType(), T.StringType(),
             T.ArrayType(T.IntegerType()), T.MapType(T.StringType(), T.LongType())]
    schema = T.StructType([T.StructField(f"c{i}", t) for i, t in enumerate(types)])
    df = spark.createDataFrame([
        (-8, 300, -70000, 2**40, 1.5, -0.1, Decimal("-1234.56"), True,
         dt.date(1998, 12, 1), dt.datetime(2024, 2, 29, 23, 59, 58, 123456),
         dt.datetime(2020, 6, 15, 8, 30), b"\x00\xff", "héllo",
         [1, None, 3], {"k": 7}),
        (127, -1, 0, -1, -2.25, 1e300, Decimal("0.05"), False,
         dt.date(2000, 1, 31), dt.datetime(2001, 9, 9, 1, 46, 40),
         dt.datetime(2024, 1, 1, 12, 0, 0, 5), b"", "", [], {}),
        (None,) * len(types),
    ], schema)
    cap = C.DEFAULT_CAPABILITY
    in_trans = C.SERVER_STATUS_AUTOCOMMIT | C.SERVER_STATUS_IN_TRANS

    assert [result_encoder.mysql_type_name(t) for t in types] == [
        "tinyint(4)", "smallint(6)", "int(11)", "bigint(20)", "float",
        "double", "decimal(12,2)", "tinyint(1)", "date", "timestamp(6)",
        "datetime(6)", "blob", "varchar(1024)", "text", "text"]

    simple = result_encoder.resultset(
        packets.string_columns(["Collation", "Id", "Default"]),
        lambda: [["utf8mb4_bin", 46, "Yes"], ["binary", 63, None]],
        result_encoder.encode_text_row, cap, in_trans)
    stmt = prepared.PreparedStatement(
        stmt_id=3, sql="SELECT * FROM t WHERE a = ? AND b = ?", num_params=2,
        columns=result_encoder.columns_of(schema))
    got = {}
    for name, payloads in [
            ("text", result_encoder.resultset_payloads(df, cap, status=in_trans)),
            ("binary", result_encoder.binary_resultset_payloads(df, cap)),
            ("simple", simple),
            ("prepare_ok", prepared.prepare_ok_payloads(stmt, cap))]:
        payloads = list(payloads)
        h = hashlib.sha256()
        for p in payloads:
            h.update(len(p).to_bytes(4, "little") + p)
        got[name] = (len(payloads), h.hexdigest())
    assert got == {
        "text": (21, "dcc99878dfaccb881f8eb3e00cae02a36aecaf77e98596632b29beccb10e006c"),
        "binary": (21, "bb0fb5993d1b33eaff0eea096c19d2feed8385ad548b1c1e199802ad9388966c"),
        "simple": (8, "e8bf59b935d91abd30777fd9ef341e416c2ea15857121cc81e8b0d4319de7fca"),
        "prepare_ok": (20, "b392ef18f0af8c3f9fae5eaaf4381cffc4166be241d38f9fc16d38a3c6b706d4"),
    }

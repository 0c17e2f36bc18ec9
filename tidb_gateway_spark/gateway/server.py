"""asyncio MySQL-protocol server fronting Spark SQL.

The connection lifecycle mirrors the reference's nine-stage
``handleConn`` (/root/reference/gateway/gateway.go:68-181) with the
relay stages replaced by query execution (SURVEY.md §3.4):

1. greeting (synthesized exactly like gateway.go:183-195)
2. read HandshakeResponse; optional TLS upgrade + re-read
   (gateway.go:88-100)
3. record compression request (gateway.go:102)
4. route by username prefix (gateway.go:253-267 → Router)
5. authenticate locally (reference relays this; we terminate)
6. command loop: COM_QUERY → dialect shim → spark.sql → text result
   set, flushed at result boundaries (relay.go:85-93 discipline)

Blocking Spark calls run in a thread-pool executor so the event loop
keeps serving other connections (the goroutine-per-connection analog,
gateway.go:63-64).
"""

from __future__ import annotations

import asyncio
import itertools
import logging
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from tidb_gateway_spark.catalog import TABLES, load_table
from tidb_gateway_spark.gateway import constants as C
from tidb_gateway_spark.gateway import dialect, packets, result_encoder
from tidb_gateway_spark.gateway.auth import Authenticator
from tidb_gateway_spark.gateway.compress import CompressedStream
from tidb_gateway_spark.gateway.router import Router, UnknownClusterError
from tidb_gateway_spark.gateway.wire import PacketIO, ProtocolError

log = logging.getLogger("tidb_gateway_spark.gateway")


class Gateway:
    def __init__(
        self,
        spark: SparkSession,
        clusters: dict[str, str],
        default_cluster: str | None = None,
        users: dict[str, str] | None = None,
        host: str = "127.0.0.1",
        port: int = 4000,
        ssl_context=None,
        max_workers: int = 16,
    ):
        self.spark = spark
        self.router = Router(clusters, default=default_cluster)
        self.auth = Authenticator(users)
        self.host, self.port = host, port
        self.ssl_context = ssl_context
        self.conn_ids = itertools.count(1)  # atomic counter analog (gateway.go:71)
        self.executor = ThreadPoolExecutor(max_workers=max_workers)
        self._server: asyncio.AbstractServer | None = None
        self._conn_tasks: set[asyncio.Task] = set()
        # live-connection registry: conn_id → _Session, for
        # SHOW PROCESSLIST / KILL / COM_PROCESS_* (server-side process
        # management the reference delegated to its TiDB backends).
        self._procs: dict[int, "_Session"] = {}
        self.started_at = time.time()
        self.questions = 0  # COM_QUERY counter (COM_STATISTICS)

    # ---- lifecycle ----
    async def start(self) -> None:
        self._server = await asyncio.start_server(self._handle_conn, self.host, self.port)

    async def stop(self, drain_timeout: float = 10.0) -> None:
        """Close the listener and drain in-flight connections (the
        WaitGroup shutdown of gateway.go:42-48), cancelling stragglers."""
        if self._server:
            self._server.close()
            await self._server.wait_closed()
        if self._conn_tasks:
            done, pending = await asyncio.wait(self._conn_tasks, timeout=drain_timeout)
            for t in pending:
                t.cancel()
            if pending:
                await asyncio.gather(*pending, return_exceptions=True)

    @property
    def bound_port(self) -> int:
        return self._server.sockets[0].getsockname()[1]

    # ---- per-connection ----
    async def _handle_conn(self, reader: asyncio.StreamReader,
                           writer: asyncio.StreamWriter) -> None:
        task = asyncio.current_task()
        if task is not None:
            self._conn_tasks.add(task)
            task.add_done_callback(self._conn_tasks.discard)
        conn_id = next(self.conn_ids)
        pio = PacketIO(reader, writer)
        try:
            await self._serve(conn_id, pio, reader, writer)
        except (ProtocolError, asyncio.IncompleteReadError, ConnectionError) as e:
            log.debug("conn %d closed: %s", conn_id, e)
        finally:
            writer.close()

    async def _serve(self, conn_id, pio, reader, writer) -> None:
        import os

        nonce = os.urandom(20)
        # Only advertise CLIENT_SSL when we can actually upgrade:
        # ssl-mode=PREFERRED clients send SSLRequest whenever the flag is
        # set and would dead-end on "SSL not enabled" otherwise.
        cap = C.DEFAULT_CAPABILITY
        if not self.ssl_context:
            cap &= ~C.CLIENT_SSL
        greeting = packets.Handshake(connection_id=conn_id,
                                     auth_plugin_data=nonce, capability=cap)
        pio.write_packet(greeting.write())
        await writer.drain()

        stream_r, stream_w = reader, writer
        res = packets.HandshakeResponse.read(await pio.read_packet())
        if res.is_ssl_request:
            # TLS upgrade then re-read the real response (gateway.go:88-100);
            # MemoryBIO handshake over the existing stream pair — see
            # tls.py for the STARTTLS race this avoids.
            if not self.ssl_context:
                pio.write_packet(packets.err_packet(res.capability, message="SSL not enabled"))
                await writer.drain()
                return
            from tidb_gateway_spark.gateway.tls import TLSServerStream

            tls = TLSServerStream(reader, writer, self.ssl_context)
            await tls.handshake()
            stream_r = stream_w = tls
            seq = pio.seq  # sequence continues across the upgrade
            pio = PacketIO(tls, tls)
            pio.seq = seq
            res = packets.HandshakeResponse.read(await pio.read_packet())

        use_compression = bool(res.capability & C.CLIENT_COMPRESS)

        try:
            route = self.router.route(res.username)
        except UnknownClusterError as e:
            pio.write_packet(packets.err_packet(res.capability, message=str(e)))
            await writer.drain()
            return

        if not self.auth.check(route.username, nonce, res.auth_response):
            pio.write_packet(
                packets.err_packet(res.capability, code=1045, message="Access denied",
                                   sqlstate="28000")
            )
            await writer.drain()
            return

        pio.write_packet(packets.ok_packet(res.capability))
        await stream_w.drain()

        if use_compression:
            # compression engages after the handshake completes; stacks
            # on raw or TLS streams alike
            cstream = CompressedStream(stream_r, stream_w)
            pio = PacketIO(cstream, cstream)
            drain = cstream.drain
            reset_extra = cstream.reset_seq
        else:
            async def drain():
                await stream_w.drain()

            def reset_extra():
                pass

        session = _Session(self, route, res)
        # negotiated once: only the flags the greeting offered count (a
        # client setting CLIENT_DEPRECATE_EOF unasked still gets EOFs)
        session.capability = res.capability & cap
        session.nonce = nonce
        session.conn_id = conn_id
        session.client_writer = writer
        session.attach_spark(self.spark.newSession())
        self._procs[conn_id] = session
        try:
            await self._command_loop(pio, drain, reset_extra, session)
        finally:
            self._procs.pop(conn_id, None)

    async def _command_loop(self, pio, drain, reset_extra, session) -> None:
        cap = session.capability
        while True:
            # per-command sequence reset (relay.go:56, 79; conn.go:257-262)
            pio.reset_seq()
            reset_extra()
            packet = await pio.read_packet()
            if not packet:
                return
            cmd, payload = packet[0], packet[1:]
            if cmd == C.COM_QUIT:
                return
            if cmd == C.COM_PING:
                pio.write_packet(packets.ok_packet(cap, status=session.status))
            elif cmd == C.COM_INIT_DB:
                session.database = payload.decode()
                pio.write_packet(packets.ok_packet(cap, status=session.status))
            elif cmd == C.COM_FIELD_LIST:
                pio.write_packet(packets.eof_packet(cap, session.status))
            elif cmd == C.COM_STMT_PREPARE:
                await self._stmt_prepare(pio, session, payload.decode())
            elif cmd == C.COM_STMT_EXECUTE:
                await self._stmt_execute(pio, session, payload)
            elif cmd == C.COM_STMT_FETCH:
                await self._stmt_fetch(pio, session, payload)
            elif cmd == C.COM_STMT_CLOSE:
                if len(payload) >= 4:
                    session.stmts.pop(int.from_bytes(payload[:4], "little"), None)
                # COM_STMT_CLOSE has no response
            elif cmd == C.COM_STMT_RESET:
                if len(payload) >= 4:
                    stmt = session.stmts.get(int.from_bytes(payload[:4], "little"))
                    if stmt is not None:
                        stmt.cursor = None
                        stmt.long_data = None
                pio.write_packet(packets.ok_packet(cap, status=session.status))
            elif cmd == C.COM_STMT_SEND_LONG_DATA:
                # chunked BLOB parameter ahead of EXECUTE; NO response
                # (mysql protocol: errors surface at EXECUTE time)
                if len(payload) >= 6:
                    stmt = session.stmts.get(int.from_bytes(payload[:4], "little"))
                    if stmt is not None:
                        stmt.append_long_data(
                            int.from_bytes(payload[4:6], "little"), payload[6:])
            elif cmd == C.COM_CHANGE_USER:
                await self._change_user(pio, session, payload)
            elif cmd == C.COM_RESET_CONNECTION:
                session.reset_state()
                pio.write_packet(packets.ok_packet(cap, status=session.status))
            elif cmd == C.COM_SET_OPTION:
                if len(payload) >= 2:
                    opt = int.from_bytes(payload[:2], "little")
                    session.multi_statements = (
                        opt == C.MYSQL_OPTION_MULTI_STATEMENTS_ON)
                    pio.write_packet(packets.eof_packet(cap, session.status))
                else:
                    pio.write_packet(packets.err_packet(
                        cap, message="malformed COM_SET_OPTION"))
            elif cmd == C.COM_STATISTICS:
                # response is a bare human-readable string payload (no
                # OK/resultset framing) — mysqladmin status parses it
                pio.write_packet(self._statistics_line().encode())
            elif cmd == C.COM_PROCESS_INFO:
                await self._run_statement(pio, session, "SHOW PROCESSLIST", False)
            elif cmd == C.COM_PROCESS_KILL:
                kid = int.from_bytes(payload[:4], "little")
                if self._kill(kid, "connection"):
                    pio.write_packet(packets.ok_packet(cap, status=session.status))
                else:
                    pio.write_packet(packets.err_packet(
                        cap, code=C.ER_NO_SUCH_THREAD,
                        message=f"Unknown thread id: {kid}",
                        sqlstate="HY000"))
            elif cmd == C.COM_REFRESH:
                # mysqladmin flush-tables/-logs/...: drop cached table
                # frames so the next query re-reads footers/files, then
                # OK.  The reference relays it to its backend opaquely
                # (relay.go:47-66); here the engine IS the backend.
                from tidb_gateway_spark import catalog as _catalog

                # server-wide flush: every session's cached frames AND
                # view registrations (a partial flush left other live
                # sessions with stale view registrations pointing at
                # dropped frames)
                _catalog.flush()
                pio.write_packet(packets.ok_packet(cap, status=session.status))
            elif cmd == C.COM_DEBUG:
                # mysqld dumps debug info server-side and answers EOF
                log.info("COM_DEBUG: %d sessions, %d questions",
                         len(self._procs), self.questions)
                pio.write_packet(packets.eof_packet(cap, session.status))
            elif cmd == C.COM_QUERY:
                self.questions += 1
                await self._run_query(pio, session, payload.decode())
            else:
                pio.write_packet(
                    packets.err_packet(cap, message=f"unknown command {cmd:#x}")
                )
            await drain()  # flush at result boundary (relay.go:85-93)

    async def _change_user(self, pio, session, payload: bytes) -> None:
        """COM_CHANGE_USER: mid-connection re-authentication (connection
        pools send it on checkout).  The reference relays it opaquely to
        its backend (/root/reference/gateway/relay.go:47-66); as the auth
        terminus we verify the proof against the ORIGINAL handshake
        scramble (per protocol, no new nonce is issued), re-route
        ``{cluster}.{user}``, and reset all session state — the new
        identity gets a fresh Spark sub-session so it inherits no temp
        views or variables from the old one."""
        from tidb_gateway_spark.gateway.wire import Buffer

        cap = session.capability
        b = Buffer(payload)
        username = b.read_string_null().decode()
        if cap & C.CLIENT_SECURE_CONNECTION:
            auth_response = b.read_bytes(b.read_byte())
        else:
            auth_response = b.read_string_null()
        database = b.read_string_null().decode() if b.remaining() else ""
        # optional tail: charset (2) + auth plugin name + connect attrs —
        # accepted but not needed (we serve utf8mb4 / native password)
        try:
            route = self.router.route(username)
        except UnknownClusterError as e:
            pio.write_packet(packets.err_packet(cap, message=str(e)))
            return
        if not self.auth.check(route.username, session.nonce, auth_response):
            pio.write_packet(packets.err_packet(
                cap, code=1045, message="Access denied", sqlstate="28000"))
            return
        session.route = route
        session.database = database or "default"
        session.reset_state()
        session.promoted = set()
        session.promoted_db = None
        session.attach_spark(self.spark.newSession())
        pio.write_packet(packets.ok_packet(cap, status=session.status))

    async def _run_query(self, pio, session, sql: str) -> None:
        cap = session.capability
        if session.multi_statements:
            stmts = dialect.split_statements(sql)
        else:
            # COM_SET_OPTION disabled splitting: the text is ONE
            # statement; embedded semicolons become Spark parse errors,
            # matching MySQL's syntax-error behavior.
            stmts = [sql.strip().rstrip(";")] if sql.strip().rstrip(";") else []
        if not stmts:
            pio.write_packet(packets.ok_packet(cap, status=session.status))
            return
        for i, stmt in enumerate(stmts):
            more = i + 1 < len(stmts)
            session.current_query = stmt
            session.query_since = time.time()
            # a KILL QUERY aimed at an earlier (finished) statement must
            # not fell this one (MySQL: KILL QUERY on idle is a no-op)
            session.kill_requested = False
            try:
                await self._run_statement(pio, session, stmt, more)
            except Exception as e:  # Spark analysis/execution errors → ERR
                _write_error(pio, cap, e)
                return
            finally:
                session.current_query = None
                session.query_since = None

    async def _run_statement(self, pio, session, stmt: str, more: bool) -> None:
        cap = session.capability
        status = session.status | (C.SERVER_MORE_RESULTS_EXISTS if more else 0)
        kind, detail = dialect.classify(stmt)
        if kind == "set":
            session.record_set(detail)
            pio.write_packet(packets.ok_packet(cap, status=status))
        elif kind == "use":
            session.database = detail
            pio.write_packet(packets.ok_packet(cap, status=status))
        elif kind == "txn":
            session.apply_txn(detail)
            pio.write_packet(packets.ok_packet(cap, status=session.status
                                               | (C.SERVER_MORE_RESULTS_EXISTS if more else 0)))
        elif kind in ("sysvar", "show", "describe", "show_create"):
            if kind == "sysvar":
                cols = [alias for _, alias in detail]
                rows = [[session.sysvar(name) for name, _ in detail]]
            elif kind == "show":
                cols, rows = session.show(detail)
            else:
                loop = asyncio.get_running_loop()
                cols, rows = await loop.run_in_executor(
                    self.executor,
                    (session.describe if kind == "describe" else session.show_create),
                    detail,
                )
            await self._pump(pio, session, result_encoder.resultset(
                packets.string_columns(cols), lambda: rows,
                result_encoder.encode_text_row, cap, status))
        elif kind == "analyze":
            loop = asyncio.get_running_loop()
            await loop.run_in_executor(self.executor, session.analyze_table,
                                       detail)
            pio.write_packet(packets.ok_packet(cap, status=status))
        elif kind == "load_data":
            await self._load_data_local(pio, session, detail, status)
        elif kind == "kill":
            if self._kill(detail["id"], detail["what"]):
                pio.write_packet(packets.ok_packet(cap, status=status))
            else:
                pio.write_packet(packets.err_packet(
                    cap, code=C.ER_NO_SUCH_THREAD,
                    message=f"Unknown thread id: {detail['id']}",
                    sqlstate="HY000"))
        else:
            df = await self._sql_async(session, dialect.to_spark_sql(stmt))
            await self._pump(pio, session, result_encoder.resultset_payloads(
                df, cap, status=status))

    async def _pump(self, pio, session, payloads) -> None:
        """Write a result set's payloads.  The generator (and Spark's
        toLocalIterator behind it) advances off the event loop in
        512-payload chunks, tagged so the jobs it triggers are KILL
        QUERY-able; the loop thread does every write."""
        loop = asyncio.get_running_loop()
        take = self._tagged(session, lambda: list(itertools.islice(payloads, 512)))
        while chunk := await loop.run_in_executor(self.executor, take):
            for payload in chunk:
                pio.write_packet(payload)

    async def _load_data_local(self, pio, session, detail: dict, status: int) -> None:
        """LOAD DATA LOCAL INFILE (ClientLocalFiles, constants.go:10):
        server requests the named file with a 0xFB packet; the client
        streams its content as packets, terminated by an empty packet;
        rows land in a session-local view (read-only engine: INFILE
        appends to / creates a temp view, never mutates fixtures)."""
        cap = session.capability
        pio.write_packet(b"\xfb" + detail["filename"].encode())
        # flush the file request so the client sees it
        data = bytearray()
        while True:
            # the client continues the sequence — do not reset
            chunk = await self._drain_and_read(pio)
            if not chunk:
                break
            data += chunk
        loop = asyncio.get_running_loop()
        n = await loop.run_in_executor(
            self.executor, lambda: session.ingest_csv(bytes(data), detail)
        )
        pio.write_packet(packets.ok_packet(cap, affected=n, status=status))

    async def _drain_and_read(self, pio):
        # helper: ensure our 0xFB request is flushed before blocking on read
        if hasattr(pio.writer, "drain"):
            await pio.writer.drain()
        return await pio.read_packet()

    async def _stmt_prepare(self, pio, session, sql: str) -> None:
        from tidb_gateway_spark.gateway import prepared

        stmt = prepared.PreparedStatement(
            stmt_id=session.next_stmt_id(),
            sql=sql,
            num_params=prepared.count_placeholders(sql),
        )
        stmt.columns = await self._resolve_prepare_columns(session, stmt)
        session.stmts[stmt.stmt_id] = stmt
        for p in prepared.prepare_ok_payloads(stmt, session.capability):
            pio.write_packet(p)

    async def _resolve_prepare_columns(self, session, stmt):
        """Resolve result-set column metadata at PREPARE time: Catalyst
        analysis of the statement with every param bound to NULL.  Lazy —
        no job runs.  Returns None (num_columns=0 in the response) for
        non-rowset statements or when analysis fails (e.g. params in
        positions where a NULL changes resolution)."""
        from tidb_gateway_spark.gateway import prepared

        head = stmt.sql.lstrip()[:8].upper()
        if not head.startswith(("SELECT", "WITH", "VALUES", "TABLE", "(")):
            return None
        try:
            probe_sql = prepared.bind(stmt.sql, [None] * stmt.num_params)
            df = await self._sql_async(session, dialect.to_spark_sql(probe_sql))
            return result_encoder.columns_of(df.schema)
        except Exception:
            return None

    async def _stmt_execute(self, pio, session, payload: bytes) -> None:
        from tidb_gateway_spark.gateway import prepared
        from tidb_gateway_spark.gateway.wire import Buffer

        cap = session.capability
        b = Buffer(payload)
        stmt_id = b.read_uint(4)
        flags = b.read_byte()
        b.skip(4)  # iteration_count
        stmt = session.stmts.get(stmt_id)
        if stmt is None:
            pio.write_packet(packets.err_packet(cap, code=1243,
                                                message="Unknown prepared statement",
                                                sqlstate="HY000"))
            return
        # MySQL closes any open cursor on re-EXECUTE: a partially-fetched
        # cursor from the previous execution must not serve stale rows to
        # a later COM_STMT_FETCH (mirrors COM_STMT_RESET).
        stmt.cursor = None
        try:
            values, types = prepared.decode_execute_params(
                b, stmt.num_params, cached_types=stmt.param_types,
                long_data=stmt.long_data,
            )
            stmt.long_data = None  # consumed by this execution
            if types:
                stmt.param_types = types
            sql = prepared.bind(stmt.sql, values)
            df = await self._sql_async(session, dialect.to_spark_sql(sql))
            # a cursor needs a result set; zero-column statements (DDL)
            # answer OK through the plain path
            if flags & C.CURSOR_TYPE_READ_ONLY and df.columns:
                await self._open_cursor(pio, session, stmt, df)
            else:
                await self._pump(pio, session, result_encoder.binary_resultset_payloads(
                    df, cap, status=session.status))
        except Exception as e:
            # Spark evaluation is lazy: execution errors surface during
            # iteration — answer with ERR instead of dropping the
            # connection (mid-result-set errors still tear down, as the
            # wire format has no row-stream abort marker)
            _write_error(pio, cap, e)

    async def _open_cursor(self, pio, session, stmt, df) -> None:
        """CURSOR_TYPE_READ_ONLY EXECUTE: answer with column definitions
        only (status carries SERVER_STATUS_CURSOR_EXISTS,
        constants.go:23-37); rows are drained by COM_STMT_FETCH."""
        columns = result_encoder.columns_of(df.schema)
        loop = asyncio.get_running_loop()
        # toLocalIterator() triggers planning; keep it off the event loop.
        row_iter = await loop.run_in_executor(
            self.executor, self._tagged(session, df.toLocalIterator))
        stmt.cursor = {"iter": row_iter,
                       "type_codes": [code for _, code, _, _ in columns]}
        b = packets.Buffer()
        b.write_lenenc_int(len(columns))
        pio.write_packet(b.getvalue())
        for p in packets.column_block(columns, session.capability,
                                      session.status | C.SERVER_STATUS_CURSOR_EXISTS):
            pio.write_packet(p)

    async def _stmt_fetch(self, pio, session, payload: bytes) -> None:
        """COM_STMT_FETCH: stream up to num_rows binary rows from the
        statement's open cursor; EOF carries CURSOR_EXISTS while rows
        remain and LAST_ROW_SENT once drained."""
        from tidb_gateway_spark.gateway import prepared
        from tidb_gateway_spark.gateway.wire import Buffer

        cap = session.capability
        b = Buffer(payload)
        stmt_id = b.read_uint(4)
        want = b.read_uint(4)
        stmt = session.stmts.get(stmt_id)
        if stmt is None or stmt.cursor is None:
            pio.write_packet(packets.err_packet(
                cap, code=1243,
                message="Unknown prepared statement or no open cursor",
                sqlstate="HY000"))
            return
        cur = stmt.cursor
        loop = asyncio.get_running_loop()
        try:
            rows = await loop.run_in_executor(
                self.executor,
                self._tagged(session,
                             lambda: list(itertools.islice(cur["iter"],
                                                           max(1, want)))),
            )
            for row in rows:
                pio.write_packet(
                    prepared.encode_binary_row(list(row), cur["type_codes"])
                )
        except Exception as e:
            _write_error(pio, cap, e)
            stmt.cursor = None
            return
        exhausted = len(rows) < max(1, want)
        status = session.status | C.SERVER_STATUS_CURSOR_EXISTS
        if exhausted:
            status |= C.SERVER_STATUS_LAST_ROW_SENT
            stmt.cursor = None
        pio.write_packet(packets.eof_packet(cap, status))

    async def _sql_async(self, session, sql: str):
        loop = asyncio.get_running_loop()

        def run():
            session.ensure_views()
            return session.spark.sql(sql)

        return await loop.run_in_executor(self.executor, self._tagged(session, run))

    # ---- process management (SHOW PROCESSLIST / KILL / COM_PROCESS_*) ----
    def _tagged(self, session, fn):
        """Wrap a Spark-touching executor callable so every job it
        launches belongs to the connection's job group ``conn-<id>`` —
        the cancellation handle KILL QUERY uses.  Job groups are
        thread-local on the shared SparkContext and the executor pool is
        shared across connections, so the group must be (re)set inside
        the worker thread per call, then cleared (a pooled thread must
        not leak the previous connection's group onto the next).
        Connect-safe: without a local SparkContext the group tag is a
        no-op (cancellation then needs server-side tags; same fallback
        posture as operators/rank.py) — the kill_requested flag check
        still applies.

        ``cancelJobGroup`` only aborts jobs RUNNING at cancel time; a
        KILL that lands while the victim is still analyzing/registering
        views (no job yet) would otherwise be lost and the query would
        run to completion.  The ``kill_requested`` flag closes that gap:
        consumed at the next tagged call boundary → ER 1317."""
        def run():
            if session.kill_requested:
                session.kill_requested = False
                raise _QueryKilled()
            try:
                sc = session.spark.sparkContext
            except Exception:
                return fn()
            sc.setJobGroup(f"conn-{session.conn_id}",
                           (session.current_query or "")[:200],
                           interruptOnCancel=True)
            try:
                return fn()
            finally:
                try:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                except Exception:
                    pass
        return run

    def _kill(self, conn_id: int, what: str) -> bool:
        """Cancel the target connection's running Spark jobs (job-group
        cancel — a runaway 100 TB scan stops within a task boundary);
        ``what == "connection"`` additionally drops the client socket.
        Returns False for unknown ids (→ ER 1094)."""
        target = self._procs.get(conn_id)
        if target is None:
            return False
        if target.current_query is not None:
            # consumed at the victim's next tagged call (covers the
            # pre-execution window cancelJobGroup cannot reach)
            target.kill_requested = True
        try:
            self.spark.sparkContext.cancelJobGroup(f"conn-{conn_id}")
        except Exception:
            log.debug("cancelJobGroup unavailable", exc_info=True)
        if what == "connection":
            w = getattr(target, "client_writer", None)
            if w is not None:
                try:
                    w.close()  # victim's read loop exits on ConnectionError
                except Exception:
                    pass
        return True

    def _processlist(self) -> tuple[list[str], list[list[object]]]:
        """MySQL SHOW PROCESSLIST columns over the live-connection
        registry (the reference's backends answered this; as the
        terminus we are the server that owns the thread list)."""
        now = time.time()
        cols = ["Id", "User", "Host", "db", "Command", "Time", "State", "Info"]
        rows: list[list[object]] = []
        for cid in sorted(self._procs):
            s = self._procs[cid]
            q = s.current_query
            rows.append([
                cid, s.route.username, "localhost", s.database,
                "Query" if q else "Sleep",
                int(now - (s.query_since or s.connected_at)),
                "executing" if q else "", q,
            ])
        return cols, rows

    def _statistics_line(self) -> str:
        up = int(time.time() - self.started_at)
        qps = self.questions / up if up > 0 else float(self.questions)
        return (
            f"Uptime: {up}  Threads: {len(self._procs)}  "
            f"Questions: {self.questions}  Slow queries: 0  Opens: 0  "
            f"Flush tables: 0  Open tables: {len(TABLES)}  "
            f"Queries per second avg: {qps:.3f}"
        )


class _QueryKilled(Exception):
    """Raised at a tagged call boundary when KILL QUERY arrived before
    (or between) the statement's Spark jobs."""

    def __str__(self) -> str:
        return "Query execution was interrupted"


def _map_error(e: Exception) -> tuple[int, str]:
    """Spark exception → MySQL (code, sqlstate) (SURVEY.md §4.2; the
    reference emits only 1105/08S01, constants.go:525-526)."""
    if isinstance(e, _QueryKilled):
        return C.ER_QUERY_INTERRUPTED, "70100"
    name = type(e).__name__
    text = str(e)
    if "TABLE_OR_VIEW_NOT_FOUND" in text:
        return 1146, "42S02"
    if "UNRESOLVED_COLUMN" in text:
        return 1054, "42S22"
    if "PARSE_SYNTAX_ERROR" in text or "ParseException" in name:
        return 1064, "42000"
    if "cancelled" in text.lower() or "SparkJobCancelled" in name:
        # job-group cancellation from KILL QUERY (MySQL 1317/70100)
        return C.ER_QUERY_INTERRUPTED, "70100"
    return C.ER_UNKNOWN, C.SQLSTATE_UNKNOWN


def _write_error(pio, capability: int, e: Exception) -> None:
    """Answer a failed command: ERR with the mapped code and SQLSTATE
    and the first line of the exception's message."""
    code, state = _map_error(e)
    pio.write_packet(packets.err_packet(capability, code=code,
                                        message=str(e).split("\n")[0][:480],
                                        sqlstate=state))


class _Session:
    """Per-connection state: route, variables, txn/status bits."""

    def __init__(self, gw: Gateway, route, res):
        self.gw = gw
        self.route = route
        self.capability = res.capability
        self.database = res.database or "default"
        self.variables: dict[str, str] = {}
        self.autocommit = True
        self.in_trans = False
        self.multi_statements = bool(res.capability & C.CLIENT_MULTI_STATEMENTS)
        self.spark = gw.spark  # replaced by attach_spark
        self.stmts: dict[int, object] = {}
        self._stmt_counter = 0
        # handshake scramble, kept for COM_CHANGE_USER: the protocol
        # reuses the greeting nonce for mid-connection re-auth proofs
        self.nonce: bytes = b""
        # catalog tables promoted by ANALYZE (stats holders); any temp-
        # view re-registration must re-drop their shadowing views or the
        # CBO stats silently stop applying (ensure_views).
        self.promoted: set[str] = set()
        self.promoted_db: str | None = None
        # process-management state (SHOW PROCESSLIST / KILL)
        self.conn_id: int = 0
        self.client_writer = None
        self.connected_at = time.time()
        self.current_query: str | None = None
        self.query_since: float | None = None
        self.kill_requested = False

    def reset_state(self) -> None:
        """Session-state reset shared by COM_RESET_CONNECTION and
        COM_CHANGE_USER: prepared statements, user variables, txn bits
        — the cheap between-checkouts hygiene connection pools rely on
        (the reference got this for free by relaying the command to its
        backend, gateway/relay.go:47-66)."""
        self.stmts.clear()
        self.variables.clear()
        self.autocommit = True
        self.in_trans = False
        self.multi_statements = bool(
            self.capability & C.CLIENT_MULTI_STATEMENTS)

    def next_stmt_id(self) -> int:
        self._stmt_counter += 1
        return self._stmt_counter

    def attach_spark(self, spark) -> None:
        """Per-connection ``newSession()``: isolated temp views, current
        database and SQLConf over the shared SparkContext — so two
        connections routed to different clusters (or running LOAD DATA)
        never clobber each other's catalogs."""
        from tidb_gateway_spark.session import ensure_session_confs

        self.spark = ensure_session_confs(spark)

    # -- status bits (the reference only ever sets autocommit,
    # gateway.go:191; we additionally track in-transaction) --
    @property
    def status(self) -> int:
        s = C.SERVER_STATUS_AUTOCOMMIT if self.autocommit else 0
        if self.in_trans:
            s |= C.SERVER_STATUS_IN_TRANS
        return s

    def ensure_views(self) -> None:
        from tidb_gateway_spark.catalog import register_views

        if register_views(self.spark, self.route.sf_dir) and self.promoted:
            # re-registration re-created temp views that shadow the
            # ANALYZEd catalog tables — re-drop them so unqualified
            # references keep resolving to the stats-bearing tables
            for t in self.promoted:
                try:
                    self.spark.catalog.dropTempView(t)
                except Exception:
                    pass
            if self.promoted_db:
                self.spark.catalog.setCurrentDatabase(self.promoted_db)

    def ingest_csv(self, data: bytes, detail: dict) -> int:
        """LOAD DATA payload → session-local view; returns row count."""
        import csv as _csv
        import io as _io

        text = data.decode("utf-8", errors="replace")
        delim = detail["delimiter"] or ","
        if len(delim) == 1:
            rows = list(_csv.reader(_io.StringIO(text), delimiter=delim))
        else:
            # csv.reader requires a 1-char delimiter; multi-char
            # terminators split plainly (no quote handling, as MySQL's
            # FIELDS TERMINATED BY does with multi-char sequences)
            rows = [line.split(delim) for line in text.splitlines()]
        rows = rows[detail["ignore_lines"]:]
        rows = [r for r in rows if r]
        if not rows:
            return 0
        width = max(len(r) for r in rows)
        cols = [f"c{i}" for i in range(width)]
        normalized = [tuple((r + [None] * width)[:width]) for r in rows]
        df = self.spark.createDataFrame(normalized, schema=cols)
        table = detail["table"]
        try:
            existing = self.spark.table(table)
            df = existing.unionByName(df, allowMissingColumns=True)
        except Exception:
            pass
        df.createOrReplaceTempView(table)
        return len(normalized)

    def analyze_table(self, detail: dict) -> None:
        """ANALYZE TABLE → Spark table/column statistics for the CBO.

        Temp views cannot hold statistics, so the fixture table is
        promoted to an external catalog table (metadata only — the
        parquet files are not copied), ANALYZE runs against it, and this
        session's shadowing temp view is dropped with the current
        database pointed at the cluster's so unqualified references
        resolve to the analyzed table from now on.  With
        spark.sql.cbo.enabled, subsequent multiway joins use the
        rowCount/size stats for join reordering and broadcast decisions.
        """
        import re as _re

        from tidb_gateway_spark.catalog import promote_to_catalog_table

        self.ensure_views()
        db = _re.sub(r"\W", "_", self.route.cluster_id)
        if detail.get("db") and detail["db"] != db:
            raise ValueError(
                f"ANALYZE TABLE: unknown database '{detail['db']}' "
                f"(this cluster's catalog database is '{db}')")
        qualified = promote_to_catalog_table(
            self.spark, self.route.sf_dir, detail["table"], db)
        self.spark.sql(
            f"ANALYZE TABLE {qualified} COMPUTE STATISTICS "
            f"{detail['suffix']}".strip()
        )
        self.spark.catalog.dropTempView(detail["table"])
        self.spark.catalog.setCurrentDatabase(db)
        self.promoted.add(detail["table"])
        self.promoted_db = db

    def record_set(self, stmt: str) -> None:
        import re

        m = re.match(r"\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(@@?[\w.]+|[\w.]+)\s*=\s*(.+)",
                     stmt, re.IGNORECASE)
        if m:
            name = m.group(1).lstrip("@").lower()
            value = m.group(2).strip().strip("'\"")
            self.variables[name] = value
            if name == "autocommit":
                self.autocommit = value.lower() in ("1", "on", "true")

    def apply_txn(self, verb: str) -> None:
        if verb.startswith(("BEGIN", "START")):
            self.in_trans = True
        else:  # COMMIT / ROLLBACK — read-only engine: state flip only
            self.in_trans = False

    def sysvar(self, name: str) -> str:
        name = name.lower()
        defaults = {
            "version": C.SERVER_VERSION,
            "version_comment": "tidb-gateway-spark",
            "autocommit": "1" if self.autocommit else "0",
            "max_allowed_packet": str(64 * 1024 * 1024),
            "sql_mode": "",
            "character_set_client": "utf8mb4",
            "collation_connection": "utf8mb4_bin",
            "tx_isolation": "REPEATABLE-READ",
            "transaction_isolation": "REPEATABLE-READ",
        }
        return self.variables.get(name, defaults.get(name, ""))

    def describe(self, table: str) -> tuple[list[str], list[list[object]]]:
        """DESCRIBE / SHOW COLUMNS — inverse type mapping (SURVEY §1.3)."""
        from tidb_gateway_spark.gateway.result_encoder import mysql_type_name

        self.ensure_views()
        schema = self.spark.table(table).schema
        rows = [
            [f.name, mysql_type_name(f.dataType), "YES" if f.nullable else "NO",
             "", None, ""]
            for f in schema.fields
        ]
        return ["Field", "Type", "Null", "Key", "Default", "Extra"], rows

    def show_create(self, table: str) -> tuple[list[str], list[list[object]]]:
        from tidb_gateway_spark.gateway.result_encoder import mysql_type_name

        self.ensure_views()
        schema = self.spark.table(table).schema
        cols = ",\n".join(
            f"  `{f.name}` {mysql_type_name(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in schema.fields
        )
        ddl = f"CREATE TABLE `{table}` (\n{cols}\n) ENGINE=SparkSQL DEFAULT CHARSET=utf8mb4"
        return ["Table", "Create Table"], [[table, ddl]]

    def show(self, what: str) -> tuple[list[str], list[list[object]]]:
        if what == "databases":
            return ["Database"], [[d.name] for d in self.gw.spark.catalog.listDatabases()]
        if what == "tables":
            self.ensure_views()
            return ["Tables"], [[t] for t in TABLES]
        if what == "collation":
            return (
                ["Collation", "Charset", "Id", "Default", "Compiled", "Sortlen"],
                [
                    [name, name.split("_")[0], cid,
                     "Yes" if cid == C.DEFAULT_COLLATION_ID else "", "Yes", 1]
                    for cid, name in sorted(C.COLLATIONS.items())
                ],
            )
        if what == "variables":
            return ["Variable_name", "Value"], [[k, v] for k, v in sorted(self.variables.items())]
        if what == "processlist":
            return self.gw._processlist()
        return ["result"], []


async def serve_forever(spark: SparkSession, clusters: dict[str, str], **kw) -> None:
    gw = Gateway(spark, clusters, **kw)
    await gw.start()
    log.info("gateway listening on %s:%d", gw.host, gw.bound_port)
    await asyncio.Event().wait()


def main() -> None:
    """CLI: python -m tidb_gateway_spark.gateway.server --port 4000
    --cluster sf01=/root/testdata/sf0.01 --default sf01"""
    import argparse

    from tidb_gateway_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=4000)
    ap.add_argument("--cluster", action="append", default=[],
                    help="id=sf_dir (repeatable, like the reference's --backend)")
    ap.add_argument("--default", dest="default_cluster", default=None)
    # TLS flags mirror the reference's (main.go / tls.go:11-45)
    ap.add_argument("--cert", default=None, help="server certificate PEM")
    ap.add_argument("--key", default=None, help="server private key PEM")
    ap.add_argument("--ca", default=None, help="client CA pool (enables mTLS)")
    args = ap.parse_args()

    ssl_context = None
    if args.cert and args.key:
        from tidb_gateway_spark.gateway.tls import load_server_context

        ssl_context = load_server_context(args.cert, args.key, cafile=args.ca)

    clusters = dict(c.split("=", 1) for c in args.cluster)
    default = clusters.get(args.default_cluster, next(iter(clusters.values()), None))
    spark = get_spark("tidb-gateway-spark-server")
    asyncio.run(
        serve_forever(spark, clusters, default_cluster=default,
                      host=args.host, port=args.port, ssl_context=ssl_context)
    )


if __name__ == "__main__":
    main()

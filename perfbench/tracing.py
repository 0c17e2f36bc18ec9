"""Span recording around the gateway's public functions.

Installed by ``launcher.py --trace`` before the server accepts
connections.  Every wrapper calls the original function unchanged; the
gateway package itself is not edited.  A *statement* is one client
command: it starts when ``PacketIO.read_packet`` returns a command
packet and ends when the connection next waits for a command.  The
statement id travels in a context variable, which asyncio copies into
each connection's task and the traced executor copies into its worker
threads.

Spans are kept in memory as tuples
``(stmt, span_id, parent_id, name, start, end, busy)`` and written out
when the run ends.  ``busy`` differs from ``end - start`` only for the
per-row layers (transfer, encoder, wire write), which record one span
per statement whose ``busy`` sums every call, instead of one span per
row.
"""

from __future__ import annotations

import asyncio
import contextvars
import itertools
import threading
import time
from concurrent.futures import ThreadPoolExecutor

_stmt: contextvars.ContextVar = contextvars.ContextVar("stmt", default=None)
_parent: contextvars.ContextVar = contextvars.ContextVar("parent", default=0)


class _Stmt:
    """Per-statement state shared by the loop thread and the executor."""
    __slots__ = ("sid", "cmd", "start", "acc", "counts")

    def __init__(self, sid: int, cmd: int, start: float):
        # sid is also the id of the statement's root span
        self.sid, self.cmd, self.start = sid, cmd, start
        self.acc: dict[str, list] = {}  # aggregated layer → [t0, t1, busy]
        self.counts: dict[str, int] = {}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []
        self.stmts: list[tuple] = []   # (sid, cmd, start, end, counts)
        self.registrations: list[tuple] = []  # (seconds, ran) per call
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # ---- recording ----
    def new_id(self) -> int:
        return next(self._ids)

    def span(self, name: str, start: float, end: float,
             busy: float | None = None, span_id: int = 0) -> int:
        st = _stmt.get()
        sid = st.sid if st is not None else 0
        span_id = span_id or next(self._ids)
        parent = _parent.get() or sid
        with self._lock:
            self.spans.append((sid, span_id, parent, name, start, end,
                               end - start if busy is None else busy))
        return span_id

    def accumulate(self, name: str, t0: float, t1: float) -> None:
        """Fold one call into the statement's aggregated ``name`` span."""
        st = _stmt.get()
        if st is None:
            return
        a = st.acc.get(name)
        if a is None:
            st.acc[name] = [t0, t1, t1 - t0]
        else:
            a[1] = t1
            a[2] += t1 - t0

    def count(self, name: str, k: int = 1) -> None:
        """Add ``k`` to a per-statement counter."""
        st = _stmt.get()
        if st is not None:
            st.counts[name] = st.counts.get(name, 0) + k

    def begin_statement(self, cmd: int) -> None:
        now = time.perf_counter()
        self.end_statement(now)
        _stmt.set(_Stmt(next(self._ids), cmd, now))

    def end_statement(self, now: float) -> None:
        st = _stmt.get()
        if st is None:
            return
        _stmt.set(None)
        with self._lock:
            self.stmts.append((st.sid, st.cmd, st.start, now, st.counts))
            self.spans.append((st.sid, st.sid, 0, "statement", st.start,
                               now, now - st.start))
            for name, (t0, t1, busy) in st.acc.items():
                self.spans.append((st.sid, next(self._ids), st.sid, name,
                                   t0, t1, busy))

    def timed(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.span(name, t0, time.perf_counter())
        wrapper.__wrapped__ = fn
        return wrapper


class TracedExecutor(ThreadPoolExecutor):
    """The gateway's pool, recording submit→start waits and carrying
    the statement id into the worker thread."""

    def __init__(self, tracer: Tracer, max_workers: int):
        super().__init__(max_workers=max_workers)
        self.tracer = tracer

    def submit(self, fn, /, *args, **kwargs):
        tracer = self.tracer
        if not tracer.enabled:
            return super().submit(fn, *args, **kwargs)
        ctx = contextvars.copy_context()
        queued = time.perf_counter()
        span_id = tracer.new_id()

        def body():
            started = time.perf_counter()
            tracer.span("server.executor_wait", queued, started)
            _parent.set(span_id)
            try:
                return fn(*args, **kwargs)
            finally:
                _parent.set(0)
                tracer.span("server.executor_run", started,
                            time.perf_counter(), span_id=span_id)
        return super().submit(ctx.run, body)


class _TracedRows:
    """Iterator wrapper for ``DataFrame.toLocalIterator``: the call plus
    the first ``next`` is Spark's time to first row; later calls are
    row transfer."""

    def __init__(self, tracer: Tracer, it, called: float):
        self.tracer, self.it, self.called = tracer, it, called
        self.first = True

    def __iter__(self):
        return self

    def __next__(self):
        t0 = time.perf_counter()
        try:
            row = next(self.it)
        finally:
            t1 = time.perf_counter()
            if self.first:
                self.first = False
                self.tracer.span("spark.first_row", self.called, t1)
            else:
                self.tracer.accumulate("transfer.row", t0, t1)
        self.tracer.count("rows")
        return row


class _TracedPayloads:
    """Generator wrapper for the result-set encoders: time inside the
    generator's ``next`` minus the row iterator's share is encoder self
    time; payloads yielded right after a new row are row payloads."""

    def __init__(self, tracer: Tracer, gen):
        self.tracer, self.gen = tracer, gen

    def __iter__(self):
        return self

    def __next__(self):
        st = _stmt.get()
        rows = st.counts.get("rows", 0) if st is not None else 0
        t0 = time.perf_counter()
        try:
            payload = next(self.gen)
        finally:
            self.tracer.accumulate("encoder.payloads", t0, time.perf_counter())
        if st is not None and st.counts.get("rows", 0) > rows:
            self.tracer.count("row_bytes", len(payload))
        return payload


def install(tracer: Tracer, gateway) -> None:
    """Wrap the gateway layers' public functions for ``tracer``."""
    from pyspark.sql import SparkSession

    from tidb_gateway_spark import catalog
    from tidb_gateway_spark.gateway import dialect, result_encoder, wire

    dialect.classify = tracer.timed("dialect.classify", dialect.classify)
    dialect.to_spark_sql = tracer.timed("dialect.rewrite",
                                        dialect.to_spark_sql)
    SparkSession.sql = tracer.timed("spark.analyze", SparkSession.sql)

    orig_register = catalog.register_views

    def register_views(*args, **kwargs):
        # recorded from launch, so the set-up registration counts too
        t0 = time.perf_counter()
        ran = orig_register(*args, **kwargs)
        t1 = time.perf_counter()
        tracer.registrations.append((t1 - t0, bool(ran)))
        if tracer.enabled:
            tracer.span("catalog.register_views", t0, t1)
        return ran
    catalog.register_views = register_views

    # the concrete class: PySpark 4's ``pyspark.sql.DataFrame`` is an
    # abstract base whose subclass overrides ``toLocalIterator``
    DataFrame = type(gateway.spark.range(1))
    orig_iter = DataFrame.toLocalIterator

    def to_local_iterator(self, *args, **kwargs):
        if not tracer.enabled:
            return orig_iter(self, *args, **kwargs)
        called = time.perf_counter()
        return _TracedRows(tracer, orig_iter(self, *args, **kwargs), called)
    DataFrame.toLocalIterator = to_local_iterator

    for name in ("resultset_payloads", "binary_resultset_payloads"):
        orig_gen = getattr(result_encoder, name)

        def payloads(*args, _orig=orig_gen, **kwargs):
            gen = _orig(*args, **kwargs)
            return _TracedPayloads(tracer, gen) if tracer.enabled else gen
        setattr(result_encoder, name, payloads)

    orig_write = wire.PacketIO.write_packet

    def write_packet(self, payload):
        if not tracer.enabled:
            return orig_write(self, payload)
        t0 = time.perf_counter()
        orig_write(self, payload)
        tracer.accumulate("wire.write", t0, time.perf_counter())
        tracer.count("wire_packets")
        tracer.count("wire_bytes", len(payload) + 4)
    wire.PacketIO.write_packet = write_packet

    orig_read = wire.PacketIO.read_packet

    async def read_packet(self):
        if tracer.enabled:
            tracer.end_statement(time.perf_counter())
        packet = await orig_read(self)
        if tracer.enabled and packet and self.seq == 1:
            tracer.begin_statement(packet[0])
        return packet
    wire.PacketIO.read_packet = read_packet

    orig_drain = asyncio.StreamWriter.drain

    async def drain(self):
        if not tracer.enabled:
            return await orig_drain(self)
        t0 = time.perf_counter()
        try:
            return await orig_drain(self)
        finally:
            tracer.span("wire.drain", t0, time.perf_counter())
    asyncio.StreamWriter.drain = drain

    old = gateway.executor
    gateway.executor = TracedExecutor(tracer, old._max_workers)
    old.shutdown(wait=False)

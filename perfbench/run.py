"""Benchmark of the MySQL wire path and the declared-query path.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The first run generates the fixtures
(``datagen.py``, sf0.1 row counts) under ``.perfbench/``; every file
the benchmark and Spark write stays under that directory.

Workloads (closed loops; the client waits for each reply):

* ``wire_bulk`` — 1 connection sends ~5k-row SELECTs over lineitem and
  orders-left-join-lineitem key ranges, each as COM_QUERY (text rows)
  and as COM_STMT_PREPARE/EXECUTE (binary rows).
* ``declared_mix`` — one in-process caller runs seed-permuted passes
  over declared registry queries with ``spec.spark(spark, sf).toArrow()``.

``wire_bulk`` starts the gateway with ``launcher.py`` and drives it
from this process over loopback (``mysqlwire.py``).  At set-up every
distinct statement is answered once and compared with DuckDB over the
same parquet; in the timed window each answer's row digest must equal
the one checked at set-up.  Declared queries are hash-matched against
their registry oracles (``declared.py``).  Any mismatch, ERR packet or
exception counts as failed and makes the command exit 1.  On every way
out, the command first waits for each process it started, directly or
not (launcher or worker, their JVM and PySpark workers), to end.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits the
window into an untraced and a traced half and prints the per-layer
metrics, a self-time table and the tracing overhead; a layer that
recorded nothing fails the run.  Per-layer metrics of the other
workload's layers are printed as 0 and marked so.  The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import declared  # noqa: E402
import mysqlwire as mw  # noqa: E402
import workloads as wl  # noqa: E402
from common import (Failure, become_subreaper, bench_env,  # noqa: E402
                    contention_probe, cpu_steal, server_peak_rss_mb,
                    stop_descendants, tail)

E2E_UNITS = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
    "stmts_per_s": "1/s", "rows_per_s": "1/s", "result_mb_per_s": "MB/s",
    "first_row_ms": "ms", "suite_s": "s", "peak_rss_mb": "MB",
}


class Server:
    """The launcher process and its control pipe."""

    def __init__(self, env: dict, work: str, trace: bool):
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"),
               "--data", env["SPARK_GRAFT_SF_DIR"]]
        self.log = open(os.path.join(work, "launcher.log"), "w")
        self.proc = subprocess.Popen(
            cmd + (["--trace"] if trace else []), cwd=work, env=env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, start_new_session=True)
        line = self.proc.stdout.readline()
        if not line:
            raise Failure("gateway exited before listening; see "
                          + self.log.name)
        self.port = json.loads(line)["port"]

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def ask(self, line: str) -> None:
        """Send a control command and wait for the launcher's ``ok``."""
        self.send(line)
        if self.proc.stdout.readline().strip() != "ok":
            raise Failure(f"gateway did not answer {line!r}")

    def stop(self) -> None:
        try:
            self.send("quit")
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            os.killpg(self.proc.pid, 9)
            self.proc.wait()
        self.log.close()


class Client:
    """The load generator's one closed-loop connection."""

    def __init__(self, port: int):
        self.conn = mw.Connection("127.0.0.1", port, "bench.user")
        self.prepared: dict[str, int] = {}  # SQL → statement id

    def run(self, stmt: wl.Statement, decode: bool = False) -> mw.Result:
        if stmt.binary:
            if stmt.sql not in self.prepared:
                self.prepared[stmt.sql] = self.conn.prepare(stmt.sql)[0]
            return self.conn.execute(self.prepared[stmt.sql],
                                     list(stmt.params), decode)
        return self.conn.query(stmt.sql, decode)


def _validate(client, statements, oracle) -> list[tuple]:
    """Answer every statement once (decoded) and compare with DuckDB;
    → each statement's row fingerprint."""
    prints, errors = [], []
    for s in statements:
        try:
            res = client.run(s, decode=True)
            why = wl.check(res, oracle[s.oracle])
        except (mw.ServerError, OSError) as e:
            res, why = None, f"{type(e).__name__}: {e}"
        if why:
            errors.append(f"{s.sql[:90]} -> {why}")
        prints.append(res and res.fingerprint)
    if errors:
        raise Failure("set-up check failed: " + "; ".join(errors))
    return prints


def _warm(client, statements, prints) -> None:
    """One untimed pass after the checked one.  The JVM is still
    compiling the scan and transfer paths then: latency falls from ~850
    ms to within ~5% of its level over the first ~16 statements (4-core
    host), and a window that starts earlier measures the warm-up."""
    for s, fingerprint in zip(statements, prints):
        if client.run(s).fingerprint != fingerprint:
            raise Failure(f"warm-up: wrong digest for {s.sql[:90]}")


def _closed_loop(client, statements, prints, seconds: float) -> dict:
    """Walk the statement list until the window closes; → samples and
    counts."""
    lat, first, binary, failed = [], [], [], []
    attempted = rows = nbytes = 0
    start = time.perf_counter()
    cpu0 = time.process_time()
    end = start
    i = 0
    while end - start < seconds:
        s = statements[i % len(statements)]
        try:
            res = client.run(s)
            bad = (res.fingerprint != prints[i % len(statements)]
                   and "wrong digest")
        except (mw.ServerError, OSError) as e:
            res, bad = None, f"{type(e).__name__}: {e}"
        attempted += 1
        end = time.perf_counter()
        if bad:
            failed.append(f"{s.sql[:90]} -> {bad}")
        else:
            lat.append(res.done - res.sent)
            binary.append(s.binary)
            if res.rows:
                first.append(res.first_row - res.sent)
            rows += res.rows
            nbytes += res.row_bytes
        i += 1
    wall = end - start
    return {"lat": lat, "binary": binary, "first": first,
            "attempted": attempted, "failed": failed, "wall": wall,
            "rows": rows, "bytes": nbytes,
            "cpu_frac": (time.process_time() - cpu0) / wall}


def run_wire(args, root: str, work: str) -> tuple[dict, int, int, list]:
    statements = wl.wire_bulk(args.seed)
    oracle = wl.oracle_rows(statements, os.path.join(work, "data"))
    env = bench_env(root, work)

    t0 = time.perf_counter()
    server = Server(env, work, args.trace)
    try:
        client = Client(server.port)
        setup_s = client.run(statements[0]).done - t0
        prints = _validate(client, statements, oracle)
        _warm(client, statements, prints)
        if not args.trace:
            win = _closed_loop(client, statements, prints, args.seconds)
            layer = None
        else:
            untraced = _closed_loop(client, statements, prints,
                                    args.seconds / 2)
            server.ask("trace")
            win = _closed_loop(client, statements, prints, args.seconds / 2)
            trace_file = os.path.join(work, "trace.json")
            server.ask(f"report {trace_file}")
            with open(trace_file) as f:
                layer = json.load(f)
            win["attempted"] += untraced["attempted"]
            win["failed"] += untraced["failed"]
            win["untraced_p50"] = statistics.median(untraced["lat"])
        rss = server_peak_rss_mb(server.proc.pid)
        client.conn.close()
    finally:
        server.stop()

    if not win["lat"]:
        raise Failure("no statement succeeded: " + "; ".join(win["failed"][:5]))
    lat_ms = [1e3 * x for x in win["lat"]]
    pct, tail_ms = tail(lat_ms)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_tail_ms": tail_ms,
        "stmts_per_s": len(lat_ms) / win["wall"],
        "rows_per_s": win["rows"] / win["wall"],
        "result_mb_per_s": win["bytes"] / win["wall"] / 1e6,
        "first_row_ms": 1e3 * statistics.median(win["first"]),
        "suite_s": len(statements) * win["wall"] / len(lat_ms),
        "peak_rss_mb": rss,
    }
    notes = [f"latency_tail_ms is p{pct:.1f} of {len(lat_ms)} statements",
             f"{len(statements)} distinct statements, 1 connection"]
    for proto, flag in (("text", False), ("binary", True)):
        xs = [x for x, b in zip(lat_ms, win["binary"]) if b == flag]
        if xs:
            notes.append(f"{proto} protocol: median {statistics.median(xs):.3f}"
                         f" ms over {len(xs)} statements")
    if layer is not None:
        missing = [name for name in WIRE_SPANS if not layer["calls"].get(name)]
        if missing:
            raise Failure("traced run recorded no spans for "
                          + ", ".join(missing))
        traced_p50 = 1e3 * statistics.median(win["lat"])
        notes += _layer_table(layer, 1e3 * statistics.mean(win["lat"]))
        notes.append(f"tracing overhead: traced p50 {traced_p50:.3f} ms - "
                     f"untraced p50 {1e3 * win['untraced_p50']:.3f} ms = "
                     f"{traced_p50 - 1e3 * win['untraced_p50']:+.3f} ms")
        metrics = dict(layer["layers"])
        metrics["client.cpu_frac"] = win["cpu_frac"]
    for f in win["failed"][:5]:
        notes.append("FAILED: " + f)
    return metrics, win["attempted"], len(win["failed"]), notes


def _layer_table(layer: dict, client_ms: float) -> list[str]:
    rows = [f"per-statement self time over {layer['statements']} traced "
            f"statements (mean ms; client-observed mean {client_ms:.3f})"]
    for name, ms in layer["self_ms_per_stmt"].items():
        rows.append(f"  {name:<28} {ms:10.3f}")
    total = layer["self_ms_per_stmt"]["statement (total)"]
    rows.append(f"  {'loopback + client remainder':<28} "
                f"{client_ms - total:10.3f}  (client mean - server mean)")
    return rows


# layers every traced wire_bulk run must record at least one span of
WIRE_SPANS = ("dialect.classify", "dialect.rewrite", "catalog.register_views",
              "server.executor_wait", "server.executor_run", "spark.analyze",
              "spark.first_row", "transfer.row", "encoder.payloads",
              "wire.write", "wire.drain")
LAYER_UNITS = {
    "dialect.classify_us": "us", "dialect.rewrite_us": "us",
    "catalog.register_views_ms": "ms",
    "catalog.register_views_runs_per_call": "ratio",
    "server.executor_wait_ms": "ms", "spark.analyze_ms": "ms",
    "spark.jobs_per_stmt": "count", "spark.stages_per_stmt": "count",
    "spark.tasks_per_stmt": "count", "spark.first_row_ms": "ms",
    "transfer.row_us": "us", "encoder.row_us": "us",
    "encoder.bytes_per_row": "B", "wire.packets": "count",
    "wire.bytes": "B", "wire.write_us_per_packet": "us",
    "wire.drain_ms": "ms", "client.cpu_frac": "ratio",
    "host.probe_ms": "ms",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("wire_bulk", "declared_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tidb_gateway_spark",
                                       "__init__.py")):
        print("run.py: run from the root of a checkout that holds "
              "tidb_gateway_spark/", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    work = os.path.join(root, ".perfbench")
    probe_ms = contention_probe()
    steal0 = cpu_steal()
    import datagen

    become_subreaper()
    # a TERM (a caller's time-out) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        datagen.ensure(os.path.join(work, "data"))
        if args.workload == "declared_mix":
            metrics, attempted, failed, notes = declared.run(
                args, root, work, bench_env(root, work))
        else:
            metrics, attempted, failed, notes = run_wire(args, root, work)
    except Failure as e:
        print(f"run.py: {e}", file=sys.stderr)
        return 1
    finally:
        # the gateway's or worker's JVM and Python workers too
        stop_descendants()
    if args.trace:
        metrics["host.probe_ms"] = probe_ms
        units = {**LAYER_UNITS, **declared.LAYER_UNITS}
    else:
        units = E2E_UNITS
        notes.append(f"host.probe_ms {probe_ms:.3f} (contention sentinel)")
    steal, total = (b - a for a, b in zip(steal0, cpu_steal()))
    notes.append(f"host steal {100 * steal / max(1, total):.1f}% of CPU time "
                 "during the run (/proc/stat)")
    notes.append(f"failed_frac {failed / max(1, attempted):.6f} "
                 f"({failed} of {attempted})")
    for line in notes:
        print(line)
    out = {}
    for name, unit in units.items():
        value = float(metrics.get(name, 0.0))
        out[name] = {"value": value, "unit": unit}
        mark = "" if name in metrics else "  (not measured on this workload)"
        print(f"{name:<40} {value:14.4f} {unit}{mark}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

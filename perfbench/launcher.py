"""Serve the gateway for the benchmark, optionally traced.

    python3 perfbench/launcher.py --data DIR [--trace]

Builds the session with ``session.get_spark`` and serves the same
``Gateway`` class as ``python -m tidb_gateway_spark.gateway.server``,
with one cluster ``bench`` pointing at DIR, on an ephemeral loopback
port.  Prints ``{"port": N}`` on stdout when it accepts connections,
then obeys one command per stdin line:

* ``trace`` — start recording spans (``--trace`` only), answer
  ``ok``; earlier statements are not counted;
* ``report PATH`` — write the per-layer summary and raw spans to PATH
  as JSON, answer ``ok``;
* ``quit`` (or end of input) — stop the gateway and Spark, and exit.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import statistics
import sys
import threading
import time

COM_QUERY, COM_STMT_EXECUTE = 0x03, 0x17
HERE = os.path.dirname(os.path.abspath(__file__))


def _job_ids(sc, conn_ids) -> dict[int, set[int]]:
    tracker = sc.statusTracker()
    return {c: set(tracker.getJobIdsForGroup(f"conn-{c}")) for c in conn_ids}


def _new_job_ids(sc, before: dict[int, set[int]]) -> list[int]:
    """Jobs the connections' groups started since ``before``."""
    tracker = sc.statusTracker()
    return [j for c, old in before.items()
            for j in set(tracker.getJobIdsForGroup(f"conn-{c}")) - old]


def summarize(tracer, jobs: tuple[int, int, int]) -> dict:
    """Per-layer metrics and per-statement self times (ms) over the
    COM_QUERY / COM_STMT_EXECUTE statements the tracer recorded."""
    stmts = {s[0]: s for s in tracer.stmts
             if s[1] in (COM_QUERY, COM_STMT_EXECUTE)}
    busy: dict[str, float] = {}
    calls: dict[str, int] = {}
    first_rows = []
    analyzed = set()  # statements that reached Spark
    for sid, _span, _parent, name, _t0, _t1, b in tracer.spans:
        if sid not in stmts:
            continue
        busy[name] = busy.get(name, 0.0) + b
        calls[name] = calls.get(name, 0) + 1
        if name == "spark.first_row":
            first_rows.append(b)
        elif name == "spark.analyze":
            analyzed.add(sid)
    counts: dict[str, int] = {}
    for s in stmts.values():
        for k, v in s[4].items():
            counts[k] = counts.get(k, 0) + v
    n = max(1, len(stmts))
    rows = counts.get("rows", 0)
    # per-row layers record one aggregated span per statement; rows and
    # packets come from the statement counters.  Each result's first
    # row is Spark's (spark.first_row), the rest are transfer's.
    transfer_rows = max(1, rows - len(first_rows))
    packets = max(1, counts.get("wire_packets", 0))

    def total(name):
        return busy.get(name, 0.0)

    encoder_self = (total("encoder.payloads") - total("spark.first_row")
                    - total("transfer.row"))
    run_self = (total("server.executor_run") - total("catalog.register_views")
                - total("spark.analyze") - total("encoder.payloads"))
    loop_children = ("dialect.classify", "dialect.rewrite",
                     "server.executor_wait", "server.executor_run",
                     "wire.write", "wire.drain")
    loop_self = total("statement") - sum(total(c) for c in loop_children)
    n_spark = max(1, len(analyzed))
    regs = tracer.registrations
    n_regs = max(1, len(regs))
    layers = {
        "dialect.classify_us": 1e6 * total("dialect.classify")
        / max(1, calls.get("dialect.classify", 0)),
        "dialect.rewrite_us": 1e6 * total("dialect.rewrite")
        / max(1, calls.get("dialect.rewrite", 0)),
        # over every call since launch: set-up registers the views
        "catalog.register_views_ms": 1e3 * sum(s for s, _ in regs) / n_regs,
        "catalog.register_views_runs_per_call":
            sum(ran for _, ran in regs) / n_regs,
        "server.executor_wait_ms": 1e3 * total("server.executor_wait")
        / max(1, calls.get("server.executor_wait", 0)),
        "spark.analyze_ms": 1e3 * total("spark.analyze") / n_spark,
        "spark.jobs_per_stmt": jobs[0] / n_spark,
        "spark.stages_per_stmt": jobs[1] / n_spark,
        "spark.tasks_per_stmt": jobs[2] / n_spark,
        "spark.first_row_ms": 1e3 * statistics.median(first_rows)
        if first_rows else 0.0,
        "transfer.row_us": 1e6 * total("transfer.row") / transfer_rows,
        "encoder.row_us": 1e6 * encoder_self / max(1, rows),
        "encoder.bytes_per_row": counts.get("row_bytes", 0) / max(1, rows),
        "wire.packets": counts.get("wire_packets", 0) / n,
        "wire.bytes": counts.get("wire_bytes", 0) / n,
        "wire.write_us_per_packet": 1e6 * total("wire.write") / packets,
        "wire.drain_ms": 1e3 * total("wire.drain") / n,
    }
    self_ms = {
        "statement (total)": total("statement"),
        "server loop self": loop_self,
        "dialect.classify": total("dialect.classify"),
        "dialect.rewrite": total("dialect.rewrite"),
        "server.executor_wait": total("server.executor_wait"),
        "server.executor_run self": run_self,
        "catalog.register_views": total("catalog.register_views"),
        "spark.analyze": total("spark.analyze"),
        "spark.first_row": total("spark.first_row"),
        "transfer.row": total("transfer.row"),
        "encoder self": encoder_self,
        "wire.write": total("wire.write"),
        "wire.drain": total("wire.drain"),
    }
    # calls per span name; registrations are counted from launch
    calls["catalog.register_views"] = len(regs)
    return {"statements": len(stmts), "rows": rows, "layers": layers,
            "calls": calls,
            "self_ms_per_stmt": {k: 1e3 * v / n for k, v in self_ms.items()}}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from tidb_gateway_spark.gateway.server import Gateway
    from tidb_gateway_spark.session import get_spark

    spark = get_spark("tidb-gateway-spark-bench")
    gw = Gateway(spark, {"bench": args.data}, default_cluster=args.data,
                 port=0)
    tracer = None
    if args.trace:
        import tracing
        from common import job_counts

        tracer = tracing.Tracer()
        tracing.install(tracer, gw)
    loop = asyncio.new_event_loop()
    loop.run_until_complete(gw.start())
    print(json.dumps({"port": gw.bound_port}), flush=True)

    before: dict[int, set[int]] = {}

    def control() -> None:
        nonlocal before
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "trace" and tracer is not None:
                before = _job_ids(spark.sparkContext, list(gw._procs))
                tracer.spans.clear()
                tracer.stmts.clear()
                tracer.enabled = True
                print("ok", flush=True)
            elif cmd == "report" and tracer is not None:
                tracer.enabled = False
                time.sleep(0.2)  # let the last statement close
                out = summarize(tracer, job_counts(
                    spark.sparkContext.statusTracker(),
                    _new_job_ids(spark.sparkContext, before)))
                out["spans"] = tracer.spans
                with open(arg, "w") as f:
                    json.dump(out, f)
                print("ok", flush=True)
            elif cmd == "quit":
                break
        loop.call_soon_threadsafe(loop.stop)

    threading.Thread(target=control, daemon=True).start()
    try:
        loop.run_forever()
        loop.run_until_complete(gw.stop(drain_timeout=5.0))
    finally:
        gw.executor.shutdown(wait=False, cancel_futures=True)
        spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()

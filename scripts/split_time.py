#!/usr/bin/env python
"""Split a query's per-run cost into DataFrame-construction time vs
execution (toArrow) time, best-of-N warm, settle-gated.

Usage: python scripts/split_time.py q101 q240 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import RUNS, SF_DIR, best_of, settled_probe  # noqa: E402


def main() -> None:
    from tidb_gateway_spark.operators import cache as opcache
    from tidb_gateway_spark.queries import REGISTRY
    from tidb_gateway_spark.session import get_spark

    prefixes = sys.argv[1:]
    qids = [q for q in sorted(REGISTRY)
            if any(q.startswith(p) for p in prefixes)]
    if not qids:
        print(f"no registry entries match prefixes {prefixes!r} "
              "(usage: split_time.py <qid-prefix> ...)", file=sys.stderr)
        sys.exit(1)
    spark = get_spark("split-time")
    # warm JVM/Arrow once
    REGISTRY[qids[0]].spark(spark, SF_DIR).toArrow()
    for qid in qids:
        opcache.clear_tracked()
        spark.catalog.clearCache()
        spec = REGISTRY[qid]
        construct, execute = [], []

        def run():
            t0 = time.perf_counter()
            df = spec.spark(spark, SF_DIR)
            t1 = time.perf_counter()
            df.toArrow()
            construct.append(t1 - t0)
            execute.append(time.perf_counter() - t1)

        sent = settled_probe()
        total, _ = best_of(run, RUNS)
        print(json.dumps({
            "qid": qid, "sentinel": round(sent, 4),
            "construct_s": round(min(construct), 4),
            "exec_s": round(min(execute), 4),
            "total_s": round(total, 4),
        }), flush=True)


if __name__ == "__main__":
    main()

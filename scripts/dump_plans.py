#!/usr/bin/env python
"""Dump .explain("formatted") for registry queries into plans/<round>/.

Usage:
    PLANS_OUT=plans/pr5 PLANS_SUFFIX=after python scripts/dump_plans.py q72 q74

``PLANS_OUT`` is required (there is no default round directory).

Each qid prefix resolves against the registry; the output file is
``<PLANS_OUT>/<full_qid>_<PLANS_SUFFIX>.txt``.  Run from the repo
whose plan shape should be captured (a clone of an older commit gives
the "before" form).  The explain string is the final physical
plan of the DataFrame the query function returns — for queries whose
construction runs eager metadata jobs (driver folds, index builds)
those jobs execute first, exactly as in the timed path.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from tidb_gateway_spark.queries import REGISTRY
    from tidb_gateway_spark.session import get_spark

    out_dir = os.environ.get("PLANS_OUT")
    if not out_dir:
        sys.exit(__doc__)
    suffix = os.environ.get("PLANS_SUFFIX", "after")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    prefixes = sys.argv[1:]
    qids = [q for q in sorted(REGISTRY)
            if any(q.startswith(p) for p in prefixes)]
    if not qids:
        print(f"no registry entries match {prefixes}", file=sys.stderr)
        sys.exit(1)

    spark = get_spark("plan-dump")
    for qid in qids:
        df = REGISTRY[qid].spark(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{qid}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

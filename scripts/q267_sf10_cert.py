#!/usr/bin/env python
"""q267's at-scale certification, closed honestly (VERDICT r12
directive 6).

The full unrolled sequential-admission oracle is super-linear in data
size (q265's sf1 oracle already reads 121.8 s; the sf10 attempt blew a
1-hour wall in r12), so instead of burning another wall-clock hour this
certifies the gate family's FOLDED form at sf10 with two bounded
checks the verdict proposed:

1. ENGINE-SIDE DECISION EQUALITY: q267 (LSM-folded gate) must return
   row-for-row identical per-epoch decisions to q265 (flat gate) at
   sf10 — the fold reorganizes files, never rows.  This extends the
   sf0.001-pinned equality test (tests/test_round12_ops.py) to the
   10 GB fixture through the real streaming build.
2. EPOCH-CAPPED CROSS-ENGINE ORACLE: DuckDB replays the FIRST TWO
   epochs of admission from raw text (epoch 0 admits everything;
   epoch 1 quarantines docs band-matching epoch-0 — ONE join, no
   sequential unrolling) and must match the engine's ep∈{0,1} rows
   bit-for-bit.  Epochs 2-3 stay engine-pinned via check 1 + the
   sf0.01 driver cert of the full chain.

Prints one JSON line with timings + verdicts for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("Q267_SF_DIR", os.path.join(REPO, ".benchdata", "sf10"))


def bounded_oracle() -> str:
    """Two-epoch admission replay (epoch 0 admits all; epoch 1
    quarantines on band-match vs epoch 0)."""
    from tidb_gateway_spark.queries.llm_extended import (
        _DDB_BANDS,
        _DDB_SHINGLES,
        _DDB_SIGS,
    )
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _DDB_ARRIVAL_EPOCH as ep,
    )

    return (
        f"WITH {_DDB_SHINGLES}, {_DDB_SIGS}, {_DDB_BANDS}, "
        f"e AS (SELECT doc_id, CAST({ep} AS INT) AS ep FROM documents "
        "WHERE " + ep + " < 2), "
        "be AS (SELECT b.doc_id, b.band, b.bv, e.ep FROM bands b "
        "JOIN e USING (doc_id)), "
        "f1 AS (SELECT DISTINCT y.doc_id FROM be x JOIN be y "
        "ON x.band = y.band AND x.bv = y.bv "
        "AND x.ep = 0 AND y.ep = 1), "
        "adm AS (SELECT doc_id FROM e WHERE ep = 0 "
        "UNION ALL SELECT doc_id FROM e WHERE ep = 1 "
        "AND doc_id NOT IN (SELECT doc_id FROM f1)) "
        "SELECT e.ep, CAST(COUNT(*) AS BIGINT) AS n_arrived, "
        "CAST(SUM(CASE WHEN adm.doc_id IS NULL THEN 0 ELSE 1 END) "
        "AS BIGINT) AS n_admitted, "
        "CAST(SUM(CASE WHEN adm.doc_id IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_quarantined, "
        "CAST(SUM(CASE WHEN adm.doc_id IS NULL THEN 0 ELSE e.doc_id "
        "END) AS BIGINT) AS admitted_idsum "
        "FROM e LEFT JOIN adm ON adm.doc_id = e.doc_id "
        "GROUP BY e.ep ORDER BY e.ep"
    )


def main() -> None:
    from bench import duckdb_connect
    from tidb_gateway_spark.queries import REGISTRY
    from tidb_gateway_spark.session import get_spark

    spark = get_spark("q267-sf10-cert")
    out: dict = {"sf_dir": SF_DIR}

    t0 = time.perf_counter()
    flat = [tuple(r) for r in
            REGISTRY["q265_streaming_dedup_gate"].spark(spark, SF_DIR)
            .collect()]
    out["q265_engine_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    lsm = [tuple(r) for r in
           REGISTRY["q267_streaming_gate_lsm_fold"].spark(spark, SF_DIR)
           .collect()]
    out["q267_engine_sec"] = round(time.perf_counter() - t0, 2)
    out["decision_equality"] = bool(flat == lsm and flat)
    out["epochs"] = len(lsm)

    con = duckdb_connect(SF_DIR, ("documents",))
    t0 = time.perf_counter()
    ora = [tuple(map(int, r))
           for r in con.execute(bounded_oracle()).fetchall()]
    out["oracle_2ep_sec"] = round(time.perf_counter() - t0, 2)
    eng2 = [tuple(map(int, r)) for r in lsm if int(r[0]) < 2]
    out["oracle_2ep_match"] = bool(ora == eng2)
    if not out["oracle_2ep_match"]:
        out["oracle_rows"] = ora
        out["engine_rows"] = eng2
    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""q265/q266 at-scale certification via bounded oracles (VERDICT r13
directive 5).

Their FULL oracles unroll sequential admission across all epochs
(q265's sf1 oracle reads ~2 min; sf3+ blows the wall), so — exactly as
q267's sf10 cert (scripts/q267_sf10_cert.py) — this certifies the two
entries at sf3 with bounded checks:

q265 (flat streaming gate):
  1. EPOCH-CAPPED CROSS-ENGINE ORACLE: DuckDB replays the first TWO
     epochs of admission from raw text (epoch 0 admits everything,
     epoch 1 quarantines on band-match vs epoch 0 — one join, no
     unrolling) and must match the engine's ep∈{0,1} rows bit-for-bit.
  2. ENGINE-SIDE EPOCH EQUALITY for the uncovered epochs: q265 must
     return row-for-row identical per-epoch decisions to q267 (the
     LSM-folded gate) at sf3 — two independent builds of the same
     decision sequence agreeing on ALL epochs, with epochs 2-3
     additionally pinned by the sf0.01 full-admission driver cert.

q266 (gate precision audit):
  3. EPOCH-CAPPED CROSS-ENGINE ORACLE: DuckDB verifies every epoch-1
     quarantine decision by EXACT shingle-set Jaccard against the
     epoch-0 admitted docs it band-matched (integer predicate
     2i >= |a|+|b|-i) and must match the engine's ep∈{0,1}
     (n_quarantined, n_verified, precision_bps) rows bit-for-bit.
  4. CROSS-OPERATOR POPULATION PIN for the uncovered epochs: q266's
     per-epoch n_quarantined must equal q265's across ALL epochs —
     the audit population is the gate's own decision log; the J>=0.5
     verification math for ep>=2 is the identical code path proven
     bit-for-bit on ep1 here and on every epoch at sf0.01.

Prints one JSON line with timings + verdicts for BASELINE.md.

Usage: Q265_SF_DIR=.benchdata/sf3 python scripts/q265_q266_sf3_cert.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("Q265_SF_DIR", os.path.join(REPO, ".benchdata", "sf3"))


def bounded_q266_oracle() -> str:
    """Two-epoch precision replay: epoch 1's quarantines (band-match
    vs epoch 0) verified by exact shingle-set Jaccard against the
    epoch-0 docs they band-matched."""
    from tidb_gateway_spark.operators.dedup import (
        DDB_BANDS,
        DDB_SHINGLES,
        DDB_SIGS,
    )
    from tidb_gateway_spark.queries.streaming_retrieval import (
        _DDB_ARRIVAL_EPOCH as ep,
    )

    return (
        f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
        f"e AS (SELECT doc_id, CAST({ep} AS INT) AS ep FROM documents "
        "WHERE " + ep + " < 2), "
        "be AS (SELECT b.doc_id, b.band, b.bv, e.ep FROM bands b "
        "JOIN e USING (doc_id)), "
        "f1 AS (SELECT DISTINCT y.doc_id FROM be x JOIN be y "
        "ON x.band = y.band AND x.bv = y.bv "
        "AND x.ep = 0 AND y.ep = 1), "
        "candq AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b "
        "FROM be x JOIN be y ON x.band = y.band AND x.bv = y.bv "
        "AND x.ep = 0 AND y.ep = 1 "
        "AND y.doc_id IN (SELECT doc_id FROM f1)), "
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles "
        "GROUP BY doc_id), "
        "inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM candq c "
        "JOIN shingles wa ON wa.doc_id = c.a "
        "JOIN shingles wb ON wb.doc_id = c.b AND wb.w = wa.w "
        "GROUP BY c.a, c.b), "
        "ver AS (SELECT t.b, MAX(CASE WHEN 2 * t.i >= "
        "sa.sz + sb.sz - t.i THEN 1 ELSE 0 END) AS v FROM inter t "
        "JOIN sizes sa ON sa.doc_id = t.a "
        "JOIN sizes sb ON sb.doc_id = t.b GROUP BY t.b), "
        "per AS (SELECT 1 AS ep, CAST(COUNT(*) AS BIGINT) AS n_q, "
        "CAST(SUM(COALESCE(ver.v, 0)) AS BIGINT) AS n_v "
        "FROM f1 LEFT JOIN ver ON ver.b = f1.doc_id) "
        "SELECT 0 AS ep, CAST(0 AS BIGINT) AS n_quarantined, "
        "CAST(0 AS BIGINT) AS n_verified, "
        "CAST(0 AS BIGINT) AS precision_bps "
        "UNION ALL "
        "SELECT ep, n_q, n_v, "
        "CAST(CASE WHEN n_q = 0 THEN 0 ELSE (n_v * 10000) // n_q END "
        "AS BIGINT) FROM per ORDER BY ep"
    )


def main() -> None:
    from q267_sf10_cert import bounded_oracle as bounded_q265_oracle

    from bench import duckdb_connect
    from tidb_gateway_spark.queries import REGISTRY
    from tidb_gateway_spark.session import get_spark

    spark = get_spark("q265-q266-sf3-cert")
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
    out["q265_q267_decision_equality"] = bool(flat == lsm and flat)
    out["epochs"] = len(flat)

    t0 = time.perf_counter()
    prec = [tuple(r) for r in
            REGISTRY["q266_gate_precision_audit"].spark(spark, SF_DIR)
            .collect()]
    out["q266_engine_sec"] = round(time.perf_counter() - t0, 2)

    # cross-operator population pin: q266 audits exactly the
    # quarantine counts q265 decided, on EVERY epoch
    q265_nq = {int(r[0]): int(r[3]) for r in flat}   # ep -> n_quarantined
    q266_nq = {int(r[0]): int(r[1]) for r in prec}
    out["q266_population_matches_q265_all_epochs"] = bool(
        q265_nq == q266_nq and q265_nq)

    con = duckdb_connect(SF_DIR, ("documents",))

    t0 = time.perf_counter()
    ora265 = [tuple(map(int, r))
              for r in con.execute(bounded_q265_oracle()).fetchall()]
    out["q265_oracle_2ep_sec"] = round(time.perf_counter() - t0, 2)
    eng2 = [tuple(map(int, r)) for r in flat if int(r[0]) < 2]
    out["q265_oracle_2ep_match"] = bool(ora265 == eng2)
    if not out["q265_oracle_2ep_match"]:
        out["q265_oracle_rows"] = ora265
        out["q265_engine_rows"] = eng2

    t0 = time.perf_counter()
    ora266 = [tuple(map(int, r))
              for r in con.execute(bounded_q266_oracle()).fetchall()]
    out["q266_oracle_2ep_sec"] = round(time.perf_counter() - t0, 2)
    peng2 = [tuple(map(int, r)) for r in prec if int(r[0]) < 2]
    out["q266_oracle_2ep_match"] = bool(ora266 == peng2)
    if not out["q266_oracle_2ep_match"]:
        out["q266_oracle_rows"] = ora266
        out["q266_engine_rows"] = peng2

    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Seeded statement set for the ``wire_bulk`` workload and its checks.

Every statement has a DuckDB form over the same parquet files.  Results
are compared under FIXTURES.md's rules, after sorting rows on all
columns: NULL as NULL; dates and timestamps as ISO text; DECIMAL cells
exactly; floating-point cells with a relative tolerance of 1e-9 instead
of rounded text, so that a last-bit difference between the engines
cannot flip a rounding digit.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from decimal import Decimal

import mysqlwire as mw


@dataclass
class Statement:
    sql: str                        # MySQL dialect, as the client sends it
    oracle: str                     # DuckDB SQL
    binary: bool = False            # send as COM_STMT_PREPARE/EXECUTE
    params: tuple[int, ...] = ()    # EXECUTE parameters (binary only)


LINE_COLS = ("l_orderkey, l_partkey, l_linenumber, l_quantity, "
             "l_extendedprice, CAST(l_extendedprice AS DECIMAL(12,2)) "
             "AS price, l_shipdate, l_returnflag")
ORDER_COLS = ("o_orderkey, o_custkey, o_totalprice, o_orderdate, "
              "CAST(o_orderdate AS DATE) AS odate, o_orderpriority, "
              "l_linenumber, l_quantity")
# Result rows per bulk statement; the key spans below match it.
BULK_ROWS = 5_000
LINE_SPAN = BULK_ROWS // 4     # 4 lines per order on average
ORDER_SPAN = BULK_ROWS


def _bulk(template: str, lo: int, hi: int, binary: bool) -> Statement:
    """Result-heavy SELECT over a key range, as text or binary."""
    oracle = template.format(lo=lo, hi=hi)
    if binary:
        return Statement(template.format(lo="?", hi="?"), oracle,
                         binary=True, params=(lo, hi))
    return Statement(oracle, oracle)


def wire_bulk(seed: int) -> list[Statement]:
    """Two key ranges of each template, each sent as text and binary;
    in seed-shuffled order."""
    rng = random.Random(seed)
    lines = (f"SELECT {LINE_COLS} FROM lineitem "
             "WHERE l_orderkey >= {lo} AND l_orderkey < {hi}")
    orders = (f"SELECT {ORDER_COLS} FROM orders LEFT JOIN lineitem "
              "ON o_orderkey = l_orderkey AND l_linenumber = 1 "
              "WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
    out = []
    for template, span in ((lines, LINE_SPAN), (orders, ORDER_SPAN)):
        for _ in range(2):
            lo = rng.randrange(150_000 - span)
            for binary in (False, True):
                out.append(_bulk(template, lo, lo + span, binary))
    rng.shuffle(out)
    return out


# ---- result checks ----
def _cell(v, tcode: int):
    """Canonical form of one wire or DuckDB value for a column whose
    MySQL type code is ``tcode``."""
    if v is None:
        return None
    if tcode in mw.INT_TYPES:
        return int(v)
    if tcode in mw.FLOAT_TYPES:
        return float(v)
    if tcode == mw.T_NEWDECIMAL:
        return Decimal(str(v))
    if tcode in mw.TIME_TYPES:
        if isinstance(v, dt.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f" if v.microsecond
                              else "%Y-%m-%d %H:%M:%S")
        if isinstance(v, dt.date):
            return v.isoformat()
        return str(v)
    return str(v)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(b)))
    return a == b  # DECIMAL cells too: exactly, whatever the scale


def _sort_key(row):
    return tuple((0, "", 0.0) if c is None else
                 (1, "", c) if isinstance(c, float) else (2, str(c), 0.0)
                 for c in row)


def check(res: mw.Result, oracle_rows: list) -> str | None:
    """None when the decoded rows of ``res`` equal DuckDB's
    ``oracle_rows`` as multisets, else why not."""
    types = [t for _, t in res.columns]
    got = [[_cell(v, t) for v, t in zip(r, types)] for r in res.decoded]
    want = [[_cell(v, t) for v, t in zip(r, types)] for r in oracle_rows]
    got.sort(key=_sort_key)
    want.sort(key=_sort_key)
    if len(got) != len(want):
        return f"{len(got)} rows, DuckDB has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != DuckDB {w!r}"
    return None


def oracle_rows(statements: list[Statement], data_dir: str) -> dict[str, list]:
    """DuckDB's answer to every statement."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{name}.parquet')")
    out = {}
    for s in statements:
        if s.oracle not in out:
            out[s.oracle] = [list(r) for r in con.execute(s.oracle).fetchall()]
    con.close()
    return out

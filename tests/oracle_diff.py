"""Shared differential-oracle comparison helpers (mirrors the driver's
row-count + schema + order-insensitive value-hash check)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def canonical_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # repr round-trips doubles exactly; both engines must agree bitwise
        return repr(v)
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    """Columns sorted by name, each cell canonicalized, rows sorted."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [
        tuple(canonical_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return sorted(rows)


def driver_hash(pdf: pd.DataFrame) -> str:
    """The correctness driver's value hash: columns by name, rows sorted
    with pandas ``sort_values`` over all columns (which raises on
    unhashable cells, as the driver does — never ``str()`` cells before
    sorting, or array-typed outputs pass here and fail only in the
    driver), each cell canonicalized, sha256 over the joined rows."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(by=cols, kind="mergesort")
    rows = (",".join(canonical_cell(v) for v in r)
            for r in pdf.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def driver_sortability_problems(pdf: pd.DataFrame, qid: str, side: str) -> list[str]:
    """Reproduce the real driver's canonicalization failure mode.

    The driver sorts the pandas frame over all columns with
    ``sort_values`` before hashing; cells that are numpy arrays / lists
    / dicts make that raise (CORRECTNESS_r07 q190: ``unhashable type:
    'numpy.ndarray'``).  The in-repo compare used to str() cells first
    and silently passed such frames — probe the driver's sort here so
    the blind spot cannot recur.
    """
    cols = sorted(pdf.columns)
    try:
        pdf[cols].sort_values(by=cols, kind="mergesort")
    except Exception as exc:  # noqa: BLE001 — any raise = driver red
        return [
            f"{qid}: {side} output is not driver-canonicalizable "
            f"(pandas sort_values raised {type(exc).__name__}: {exc}); "
            "serialize complex columns (array_join / to_json) so the "
            "declared output is scalar-only"
        ]
    return []


def diff_report(spark_pdf: pd.DataFrame, ddb_pdf: pd.DataFrame, qid: str) -> list[str]:
    """Return list of mismatch descriptions; empty = pass."""
    problems: list[str] = []
    problems += driver_sortability_problems(spark_pdf, qid, "spark")
    problems += driver_sortability_problems(ddb_pdf, qid, "duckdb")
    if problems:
        return problems
    if sorted(spark_pdf.columns) != sorted(ddb_pdf.columns):
        problems.append(
            f"{qid}: column names differ: spark={sorted(spark_pdf.columns)} "
            f"duckdb={sorted(ddb_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(ddb_pdf):
        problems.append(f"{qid}: row count {len(spark_pdf)} vs {len(ddb_pdf)}")
    # dtype comparison (informational but strict for int-vs-float)
    for c in sorted(spark_pdf.columns):
        s_kind = spark_pdf[c].dtype.kind
        d_kind = ddb_pdf[c].dtype.kind
        if {s_kind, d_kind} <= {"i", "u"} or s_kind == d_kind:
            continue
        if {s_kind, d_kind} == {"O", "O"}:
            continue
        problems.append(f"{qid}: dtype mismatch col {c}: spark={spark_pdf[c].dtype} duckdb={ddb_pdf[c].dtype}")
    a = canonical_rows(spark_pdf)
    b = canonical_rows(ddb_pdf)
    if a != b:
        n_show = 0
        for i, (ra, rb) in enumerate(zip(a, b)):
            if ra != rb:
                problems.append(f"{qid}: row {i} differs:\n  spark : {ra}\n  duckdb: {rb}")
                n_show += 1
                if n_show >= 5:
                    break
        if len(a) != len(b):
            problems.append(f"{qid}: canonical row counts {len(a)} vs {len(b)}")
        if not problems:
            problems.append(f"{qid}: rows differ (ordering only?)")
    return problems

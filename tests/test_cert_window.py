"""Driver certification-window order.

The driver records only the first ~50 entries of ``queries()`` per round
(CORRECTNESS_r01–r04: 50 each; r05: 51).  ``__spark_entry__`` derives
that order from the ``CORRECTNESS_r*.json`` records: oldest latest-green
round first (never certified = round 0), then numeric qid.  These tests
restate the rule independently and pin the window it gives for the
r01–r15 records.

No SparkSession needed; this is pure registry/metadata inspection.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Conservative lower bound on the driver's per-round window (observed
# 50, 50, 50, 50, 51 across rounds 1-5).
WINDOW = 50


def _round(path: str) -> int:
    return int(re.search(r"_r(\d+)\.json$", path).group(1))


def _latest_green(max_round: int | None = None) -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = _round(path)
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            for qid, rec in json.load(f).items():
                if rec["hash_match"]:
                    latest[qid] = max(latest.get(qid, 0), rnd)
    return latest


def _num(qid: str) -> int:
    return int(qid[1:].split("_")[0])


def test_order_is_the_documented_sort(tmp_path, monkeypatch):
    """queries() is the registry sorted by (latest green round, numeric
    qid, qid), computed from another cwd as the driver runs it."""
    import __spark_entry__ as entry
    from tidb_gateway_spark.queries import REGISTRY

    monkeypatch.chdir(tmp_path)
    latest = _latest_green()
    want = sorted(REGISTRY, key=lambda q: (latest.get(q, 0), _num(q), q))
    assert list(entry._ordered_qids.__wrapped__()) == want
    assert list(entry.queries()) == want


def test_window_is_spent_on_never_certified_or_oldest():
    """No query in the next window was certified more recently than a
    query left out of it; never-certified queries come first."""
    import __spark_entry__ as entry

    latest = _latest_green()
    order = list(entry.queries())
    rounds = [latest.get(q, 0) for q in order]
    assert max(rounds[:WINDOW]) <= min(rounds[WINDOW:])
    assert rounds == sorted(rounds)


def test_r15_window_holds_the_r9_cohort(monkeypatch):
    """With the r01–r15 records, the window is the 39 queries whose
    newest green cert is r9 plus the 11 lowest-numbered r10 ones."""
    import __spark_entry__ as entry

    latest = _latest_green(max_round=15)
    r9 = {q for q, r in latest.items() if r == 9}
    r10 = sorted((q for q, r in latest.items() if r == 10), key=_num)
    assert min(latest.values()) == 9 and len(r9) == 39

    real_glob = glob.glob
    monkeypatch.setattr(glob, "glob", lambda p: [
        x for x in real_glob(p) if _round(x) <= 15])
    window = entry._ordered_qids.__wrapped__()[:WINDOW]
    assert set(window) == r9 | set(r10[:11])
    assert set(window[:39]) == r9


def test_window_queries_all_have_oracles():
    """Every query in the upcoming window gets the strong (value-hash)
    check — a windowed slot spent on a rows-only check is wasted."""
    import __spark_entry__ as entry

    order = list(entry.queries())
    oracles = entry.oracle_sql()
    missing = [q for q in order[:WINDOW] if q not in oracles]
    assert not missing, f"window queries without oracle SQL: {missing}"


def test_ordering_is_stable_and_complete():
    """queries() enumerates the full registry exactly once, and the
    entry module names no qid but entry()'s flagship q22: the order is
    derived, never typed in."""
    import __spark_entry__ as entry
    from tidb_gateway_spark.queries import REGISTRY

    order = list(entry.queries())
    assert sorted(order) == sorted(REGISTRY)
    assert len(order) == len(set(order))
    with open(entry.__file__) as f:
        named = set(re.findall(r"\bq\d+_\w+", f.read()))
    assert named == {"q22_tpch_q1_agg"}

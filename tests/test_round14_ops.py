"""Round-14 additions: q272 hybrid RRF fusion, the q205 bucketed-join
serve path (single-file buckets + trusted sort order + pinned merge
join), and the grouped-weighted-percentile driver-fold plan shape.
The cross-engine value checks ride tests/test_oracle_diff.py (q272 is
auto-parametrized there); these pin semantics and plan properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.plans import inspect
from tidb_gateway_spark.queries import REGISTRY


def test_q272_fusion_semantics(spark, sf_dir):
    """RRF algebra: every output doc carries at least one leg rank,
    ranks are within leg depth, and the fused score equals the
    recomputed Σ 1/(60+r) for its ranks (integer form)."""
    rows = REGISTRY["q272_hybrid_rrf_fusion"].spark(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    seen = set()
    prev = None
    for r in rows:
        lr, dr = r["lex_rank"], r["dense_rank"]
        assert (lr, dr) != (0, 0)
        assert 0 <= lr <= 10 and 0 <= dr <= 10
        expect = 0.0
        if lr:
            expect += 1.0 / (60 + lr)
        if dr:
            expect += 1.0 / (60 + dr)
        assert r["rrf_x1e6"] == int(expect * 1_000_000 + 0.5)
        assert r["doc_id"] not in seen
        seen.add(r["doc_id"])
        key = (-r["rrf_x1e6"], r["doc_id"])
        assert prev is None or prev < key  # output ordering
        prev = key


def test_q272_both_legs_contribute(spark, sf_dir):
    """A degenerate fusion that mirrors one leg would pass the oracle
    trivially; require both leg rank columns to be populated somewhere
    in the result."""
    rows = REGISTRY["q272_hybrid_rrf_fusion"].spark(spark, sf_dir).collect()
    assert any(r["lex_rank"] > 0 for r in rows)
    assert any(r["dense_rank"] > 0 for r in rows)


def test_q272_no_python_stage(spark, sf_dir):
    df = REGISTRY["q272_hybrid_rrf_fusion"].spark(spark, sf_dir)
    assert "BatchEvalPython" not in inspect.explain_formatted(df)


def test_q205_join_is_layout_aligned(spark, sf_dir):
    """The declared q205 plan must actually exercise the bucketed
    layout: sort-merge join with NO exchange and NO sort on either
    join input (single-file buckets + SORTED BY trusted on scan; the
    only exchanges left are the 5-row priority aggregate/order)."""
    df = REGISTRY["q205_bucketed_join_roundtrip"].spark(spark, sf_dir)
    text = inspect.explain_formatted(df)
    assert "SortMergeJoin" in text, text
    for key in ("o_orderkey", "l_orderkey"):
        assert f"hashpartitioning({key}" not in text, text
        assert f"Sort [{key}" not in text, text


def test_bucketed_write_single_file_per_bucket(spark, sf_dir, tmp_path):
    """write_bucketed_table repartitions onto the bucket hash: each
    bucket directory entry is exactly one data file (the property the
    trusted-sort scan requires)."""
    import os

    from tidb_gateway_spark.sources.io import write_bucketed_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b14_orders")
    write_bucketed_table(o, "b14_orders", ["o_orderkey"], 4,
                         path=str(tmp_path / "b14"),
                         sort_cols=["o_orderkey"])
    try:
        files = [f for f in os.listdir(tmp_path / "b14")
                 if f.endswith(".parquet")]
        assert len(files) == 4, files
    finally:
        spark.sql("DROP TABLE IF EXISTS b14_orders")


def test_q265_q266_bounded_cert_checks(spark, sf_dir):
    """The sf3 cert script's checks, pinned at fixture scale so a
    regression can't hide until the next at-scale run: q265≡q267
    decision equality on every epoch, and q266's per-epoch audit
    population == q265's quarantine counts."""
    flat = [tuple(r) for r in
            REGISTRY["q265_streaming_dedup_gate"].spark(spark, sf_dir)
            .collect()]
    lsm = [tuple(r) for r in
           REGISTRY["q267_streaming_gate_lsm_fold"].spark(spark, sf_dir)
           .collect()]
    assert flat and flat == lsm
    prec = [tuple(r) for r in
            REGISTRY["q266_gate_precision_audit"].spark(spark, sf_dir)
            .collect()]
    assert {int(r[0]): int(r[3]) for r in flat} == \
        {int(r[0]): int(r[1]) for r in prec}


def test_no_module_function_refs_in_worker_closures():
    """Worker-shipped closures (the function arguments of mapInPandas /
    applyInPandas / mapInArrow, and the ``kernel`` argument of
    ``similarity.vector_batches``, which wraps mapInPandas) must not
    reference module-level
    FUNCTIONS: cloudpickle serializes those by module reference, so the
    executor's Python worker must be able to ``import
    tidb_gateway_spark`` — true when the driver runs from the repo root
    (cwd on sys.path propagates to local workers), false for a
    foreign-cwd caller (scripts/driver_sim.py from /tmp caught q271's
    index build failing exactly this way).  Data constants and arrays
    closed over pickle by value and are fine; driver-side callbacks
    (foreachBatch) may reference anything."""
    import ast
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..",
                        "tidb_gateway_spark")
    ship_calls = {"mapInPandas", "applyInPandas", "mapInArrow"}
    # wrappers that ship one of their arguments: name -> (position,
    # keyword) of the shipped function
    ship_wrappers = {"vector_batches": (2, "kernel")}

    def shipped_arg(call):
        f = call.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(
            f, "id", None)
        if name in ship_calls and isinstance(f, ast.Attribute):
            pos, kw = 0, None
        elif name in ship_wrappers:
            pos, kw = ship_wrappers[name]
        else:
            return None
        args = call.args[pos:pos + 1] + [
            k.value for k in call.keywords if k.arg == kw]
        return next((a.id for a in args if isinstance(a, ast.Name)), None)

    offenders = []
    for fn in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        src = open(fn).read()
        if not any(c in src for c in ship_calls | set(ship_wrappers)):
            continue
        tree = ast.parse(src)
        modfuncs = {n.name for n in tree.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack = []

            def visit_FunctionDef(self, node):
                self.stack.append(node)
                self.generic_visit(node)
                self.stack.pop()
                if not self.stack:
                    return
                parent = self.stack[-1]
                shipped = {
                    shipped_arg(call)
                    for call in ast.walk(parent)
                    if isinstance(call, ast.Call)
                }
                if node.name not in shipped:
                    return
                refs = {n.id for n in ast.walk(node)
                        if isinstance(n, ast.Name)
                        and isinstance(n.ctx, ast.Load)}
                for hit in sorted(refs & modfuncs):
                    offenders.append(
                        f"{os.path.relpath(fn, root)}:{node.lineno} "
                        f"closure {node.name} references module function "
                        f"{hit}")

        V().visit(tree)
    assert not offenders, offenders

"""The vector family's worker code under the pickling rule
(operators/similarity.py:vector_batches): every function the vector
operators hand to ``mapInPandas`` / ``applyInPandas`` must load in a
Python process that cannot import ``tidb_gateway_spark`` — the state of
an executor worker when the driver runs from a foreign working
directory."""

from __future__ import annotations

import os
import subprocess
import sys

DIM = 8

_LOADER = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("tidb_gateway_spark") is None, sys.path
bad = []
for i, blob in enumerate(pickle.load(open(sys.argv[1], "rb"))):
    try:
        pickle.loads(blob)
    except Exception as exc:
        bad.append(f"{i}: {type(exc).__name__}: {exc}")
print("\\n".join(bad))
sys.exit(1 if bad else 0)
"""


def _vectors(spark, n: int = 24):
    import hashlib

    rows = []
    for i in range(n):
        h = hashlib.md5(str(i).encode()).digest()
        rows.append((i, [(b - 128) / 128.0 for b in h[:DIM]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _build_vector_operators(spark, sf_dir) -> None:
    """Construct (not run) every operator and query of the family that
    ships a Python kernel."""
    from tidb_gateway_spark.operators import similarity as sim
    from tidb_gateway_spark.queries.registry import REGISTRY

    df = _vectors(spark)
    vecs = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    probes = [(q, vecs[q]) for q in (0, 1, 2)]
    cents = [vecs[i] for i in range(4)]
    corpus = df.select(df.vec_id.alias("nn"), df.embedding.alias("ce"))

    sim.cosine_nn_arrow(corpus, probes)
    sim.cosine_nn_arrow(sim.with_ivf_cell_arrow(df, cents)
                        .withColumnRenamed("vec_id", "nn")
                        .withColumnRenamed("embedding", "ce"),
                        probes, metric="dot", cell_col="cell",
                        probe_cells={q: [0, 1] for q, _ in probes})
    sim.embedding_neardup_pairs(df, n_planes=3, dim=DIM)
    sim.matryoshka_nn_pairs(df, probes, DIM // 2)
    assigned = sim.semantic_cells(df, [(i, vecs[i]) for i in range(3)])
    sim.semantic_neardup_pairs(assigned)
    sim.semantic_dedup_report(assigned)
    sim.pq_adc_eval(df, probes, [vecs[i] for i in range(4, 8)], n_sub=2)
    W = sim._quant_int([vecs[i] for i in range(8, 12)], 256)
    sim.with_ivfadc_codes_arrow(df, cents, W, n_sub=2)
    for qid in ("q185_label_noise_audit", "q252_embedding_covariance_block",
                "q257_ivf_centroid_refresh"):
        REGISTRY[qid].spark(spark, sf_dir)


def test_vector_worker_closures_load_without_the_package(
        spark, sf_dir, monkeypatch, tmp_path):
    import pickle

    from pyspark import cloudpickle

    probe = spark.range(1)
    shipped = []

    def capture(cls, name):
        orig = getattr(cls, name)

        def wrapper(self, func, *args, **kwargs):
            shipped.append(func)
            return orig(self, func, *args, **kwargs)

        monkeypatch.setattr(cls, name, wrapper)

    capture(type(probe), "mapInPandas")
    capture(type(probe.groupBy("id")), "applyInPandas")
    # a private companion store, so q257 rebuilds its index here and
    # ships its reassignment kernel
    monkeypatch.setenv("SPARK_GRAFT_DERIVED_DIR", str(tmp_path / "derived"))
    _build_vector_operators(spark, sf_dir)
    monkeypatch.undo()
    # 11 operator kernels (embedding_neardup_pairs ships two), q185,
    # q252, and q257's index chain
    assert len(shipped) >= 14, len(shipped)

    blobs = tmp_path / "kernels.pkl"
    with open(blobs, "wb") as f:
        pickle.dump([cloudpickle.dumps(fn) for fn in shipped], f)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _LOADER, str(blobs)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stdout + res.stderr


def test_vector_batches_skips_empty_partitions(spark, monkeypatch):
    import pandas as pd

    from tidb_gateway_spark.operators.similarity import vector_batches

    df = _vectors(spark, n=3)

    def row_sums(pdf, M):
        return pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                             "s": M.sum(axis=1), "d": M.shape[1]})

    def run(frame):
        return sorted(tuple(r) for r in vector_batches(
            frame, "embedding", row_sums,
            "vec_id long, s double, d long").collect())

    spread = run(df.repartition(8))  # 3 rows: ≥ 5 empty partitions
    assert spread == run(df.coalesce(1))
    assert len(spread) == 3 and {r[2] for r in spread} == {DIM}

    # Spark may skip empty partitions before the worker; hand the
    # shipped generator an empty batch directly
    shipped = []
    monkeypatch.setattr(type(df), "mapInPandas",
                        lambda self, fn, schema: shipped.append(fn))
    vector_batches(df, "embedding", row_sums, "vec_id long")
    pdf = df.toPandas()
    out = list(shipped[0](iter([pdf.iloc[:0], pdf])))
    assert len(out) == 1 and list(out[0]["vec_id"]) == [0, 1, 2]

"""Similarity search over embedding columns (``array<float>``).

The vector family, each member an exact baseline or an index plus the
query that serves from it:

* exact scans — :func:`brute_force_topk` (JVM higher-order functions,
  no Python in the loop) and :func:`cosine_nn_arrow` /
  :func:`matryoshka_nn_pairs` (per-batch BLAS argmax);
* LSH — random-hyperplane sign buckets (:func:`hyperplanes` are seeded
  from md5, so every engine derives the same planes):
  :func:`lsh_bucket_topk` buckets inline, :func:`ann_index` stores the
  corpus partitioned by bucket and :func:`ann_query` serves one
  partition; :func:`embedding_neardup_pairs` pairs within buckets;
* IVF — argmax-centroid cells (:func:`ivf_index`, :func:`ivf_query`);
* int8 — per-vector quantized codes with integer-exact dots
  (:func:`int8_index`);
* PQ / IVFADC — product-quantization codes and asymmetric distance
  lookup tables (:func:`pq_adc_eval`, :func:`ivfadc_index`,
  :func:`ivfadc_query`);
* SemDeDup — integer-quantized within-cell near-duplicate flags
  (:func:`semantic_cells`, :func:`semantic_neardup_pairs`,
  :func:`semantic_dedup_report`).

They share three helpers: :func:`vector_batches`, the one
``mapInPandas`` boundary that hands a Python kernel each batch as a float64 matrix;
:func:`probe_dot` and :func:`topk`, the JVM rerank of candidates
against a literal probe vector and its rounded, id-tie-broken top-k
tail; and :func:`top_cells`, the nprobe cell choice.

Design note: embeddings are cast to double before multiply so both this
engine and external oracles accumulate identical IEEE sums left-to-right.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.sources import derived


def dot_expr(a: str, b: str) -> Column:
    """Exact dot product of two array columns, accumulated in double."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def probe_dot(vec_col: str, qvec) -> Column:
    """Exact dot product of ``vec_col`` with the probe ``qvec`` inlined
    as double literals, accumulated left-to-right in double —
    bit-identical to the oracle's ``list_dot_product`` on doubles."""
    qarr = "array(" + ",".join(f"{float(v)!r}D" for v in qvec) + ")"
    return F.expr(
        f"aggregate(zip_with({vec_col}, {qarr}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def topk(cand: DataFrame, id_col: str, score: Column, k: int,
         exclude_id: int | None = None, name: str = "dp") -> DataFrame:
    """The rerank tail: drop the probe's own ``exclude_id``, round
    ``score`` to 4 places (``stable_round``) as column ``name``, and keep
    the ``k`` best, ties toward the lower id (TakeOrderedAndProject)."""
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    return (
        cand.select(id_col, stable_round(score, 4).alias(name))
        .orderBy(F.desc(name), F.asc(id_col))
        .limit(k)
    )


def top_cells(scores, nprobe: int) -> list[int]:
    """Indexes of the ``nprobe`` best ``scores``, ties toward the lower
    index — the oracle's ROW_NUMBER (s DESC, cid)."""
    return sorted(range(len(scores)), key=lambda j: (-scores[j], j))[:nprobe]


def vector_batches(df: DataFrame, vec_col: str, kernel, schema) -> DataFrame:
    """The Arrow-batch boundary of the vector family: ``mapInPandas``
    over ``df``, skipping empty batches, calling ``kernel(pdf, M)`` with
    ``M`` the batch's ``vec_col`` as a B×D float64 matrix; the kernel
    returns the batch's output pandas frame (``schema``).

    The pickling rule: code shipped to Python workers must not reference
    a module-level function of this package.  cloudpickle pickles such a
    function by reference, so a worker that cannot import the package —
    any driver started from a foreign working directory — fails to load
    it.  Nested functions and closed-over data (arrays, constants,
    modules outside the package) pickle by value.  Hence the generator
    stays nested here and every kernel is a closure defined in its
    caller."""

    def batches(it):
        import numpy as np

        for pdf in it:
            if len(pdf):
                yield kernel(
                    pdf, np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))

    return df.mapInPandas(batches, schema=schema)


def brute_force_topk(
    corpus: DataFrame, query: DataFrame, k: int = 5, metric: str = "dot"
) -> DataFrame:
    """Exact top-k neighbors of a single query vector.

    ``corpus``: (vec_id, embedding); ``query``: one row with ``embedding``.
    Returns (vec_id, dp) — dp rounded to 4 for cross-engine declaration.
    """
    q = F.broadcast(query.select(F.col("embedding").alias("qe")))
    score = dot_expr("embedding", "qe")
    if metric == "cosine":
        score = score / (norm_expr("embedding") * norm_expr("qe"))
    return topk(corpus.crossJoin(q), "vec_id", score, k)


def cosine_nn_arrow(corpus: DataFrame, probes: list[tuple[int, list[float]]],
                    id_col: str = "nn", vec_col: str = "ce",
                    metric: str = "cosine",
                    cell_col: str | None = None,
                    probe_cells: dict[int, list[int]] | None = None,
                    ) -> DataFrame:
    """Exact nearest neighbor of each probe over the corpus, via
    Arrow-batched numpy (``mapInPandas``) with per-batch partial argmax.
    ``metric``: "cosine" (default) or "dot" (inner product — the IVF
    family's metric, used by q208's ground-truth side).

    ``probes``: small [(qid, vector), ...] list (metadata-sized — the
    probe set is broadcast inside the task closure, like rank.py's bucket
    boundaries).  Each Arrow batch computes a (batch × n_probes) cosine
    matrix with one BLAS matmul and emits at most one (qid, nn, cs) row
    per probe — the map-side reduction, so the shuffle carries
    O(batches × probes) rows regardless of corpus size, identical in
    shape to the ``max(struct)`` JVM plan.  Ties break toward the lowest
    neighbor id, matching ROW_NUMBER() OVER (ORDER BY cs DESC, nn).

    This is the sanctioned Python stage: dense linear algebra is the one
    place interpreted JVM higher-order functions lose by ~20× to
    vectorized BLAS, and the Arrow batch transfer amortizes the Python
    boundary.  Returns (qid, nn, cs) — one row per probe.

    ``cell_col``/``probe_cells``: optional per-probe candidate masking
    for IVF-style probing — rows whose ``cell_col`` value is not in
    ``probe_cells[qid]`` are excluded from that probe's argmax.  This
    lets ALL probes ride ONE scan of the union of their probed cells
    (one matmul pass, one shuffle) instead of one per-probe job each —
    q208's per-probe plan ran 10 separate Arrow jobs (6.2 → ~1.5 s at
    sf1).
    """
    import numpy as np

    P = np.array([v for _, v in probes], dtype=np.float64).T  # dim × q
    p_norm = np.sqrt((P * P).sum(axis=0))
    qids = [int(q) for q, _ in probes]
    use_cosine = metric == "cosine"
    cells_of = (
        {int(q): np.array(sorted(cs)) for q, cs in probe_cells.items()}
        if probe_cells is not None else None
    )
    if cells_of is not None:
        # fail fast on the driver: the Arrow worker indexes
        # cells_of[qid] per probe, and a missing entry would surface as
        # an opaque KeyError inside a task retry loop (r9 ADVICE)
        missing = [q for q in qids if q not in cells_of]
        if missing:
            raise ValueError(
                f"probe_cells missing entries for probe qids {missing}; "
                f"every probe needs a candidate-cell list when masking "
                f"is enabled")

    def partial_nn(pdf, M):
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        cells = pdf[cell_col].to_numpy() if cells_of is not None else None
        S = M @ P
        if use_cosine:
            c_norm = np.sqrt((M * M).sum(axis=1))
            S = S / (c_norm[:, None] * p_norm[None, :])
        rows = []
        for j, qid in enumerate(qids):
            col = S[:, j].copy()
            col[ids == qid] = -np.inf  # exclude self-match
            if cells is not None:
                col[~np.isin(cells, cells_of[qid])] = -np.inf
            mx = col.max()
            if mx == -np.inf:
                continue
            rows.append((qid, int(ids[col == mx].min()), float(mx)))
        return pd.DataFrame(rows, columns=["qid", "nn", "cs"])

    proj = [id_col, vec_col] + ([cell_col] if cell_col else [])
    partials = vector_batches(corpus.select(*proj), vec_col, partial_nn,
                              "qid long, nn long, cs double")
    best = partials.groupBy("qid").agg(
        F.max(F.struct(F.col("cs"), (-F.col("nn")).alias("neg_nn"))).alias("b")
    )
    return best.select(
        "qid", (-F.col("b.neg_nn")).alias("nn"), F.col("b.cs").alias("cs")
    )


def embedding_neardup_pairs(vectors: DataFrame, tau: float = 0.35,
                            n_planes: int = 6, dim: int = 64,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (a < b, cosine ≥ tau),
    restricted to LSH buckets — the embedding-space analog of
    MinHash-LSH candidate generation in dedup.py.

    Scale shape: bucket id = sign pattern over ``n_planes`` fixed
    hyperplanes partitions the corpus; all-pairs scoring happens only
    WITHIN a bucket (``applyInPandas`` per bucket, one numpy matmul), so
    total work is Σ bucket² ≈ n²/2^p instead of n² — and bucket size is
    tunable with more planes.  Pairs split across buckets are missed:
    ANN recall semantics, same contract as lsh_bucket_topk.  The
    deterministic md5-seeded planes make an external oracle reproduce
    the identical bucketing.
    """
    import numpy as np

    bucketed = with_lsh_bucket_arrow(
        vectors, n_planes, dim, id_col=id_col, vec_col=vec_col)

    def bucket_pairs(pdf):
        import pandas as pd

        empty = pd.DataFrame({
            "a": pd.Series(dtype="int64"),
            "b": pd.Series(dtype="int64"),
            "cs": pd.Series(dtype="float64"),
        })
        if len(pdf) < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norm = np.sqrt((M * M).sum(axis=1))
        S = (M @ M.T) / np.outer(norm, norm)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= tau
        if not keep.any():
            return empty
        return pd.DataFrame({
            "a": ids[iu[keep]].astype("int64"),
            "b": ids[ju[keep]].astype("int64"),
            "cs": S[iu[keep], ju[keep]],
        })

    return bucketed.groupBy("bucket").applyInPandas(
        bucket_pairs, schema="a long, b long, cs double")


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes seeded from md5(plane, coord).

    Pure function of (n_planes, dim) — any engine (or a SQL oracle with
    the literals inlined) derives the same planes.
    """
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{p}_{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) < 8 else -1.0)
        planes.append(row)
    return planes


def with_lsh_bucket(df: DataFrame, n_planes: int = 8, dim: int = 64,
                    col: str = "embedding") -> DataFrame:
    """Add a ``bucket`` int column = sign pattern across the hyperplanes.

    At 100 TB this column is the bucketing/partition key of the stored
    index table; similar vectors collide with high probability.
    """
    bucket = F.lit(0)
    for p, plane in enumerate(hyperplanes(n_planes, dim)):
        proj = probe_dot(col, plane)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket.cast("int"))


def lsh_bucket_topk(
    corpus: DataFrame, query: DataFrame, k: int = 5, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """ANN top-k WITHOUT a stored index: bucket the corpus inline, then
    restrict to the query's LSH bucket and exact-rerank.

    This is the index-less fallback (one-shot queries, corpora too
    volatile to index).  Repeated queries should hit a materialized
    index instead — :func:`ann_index` + :func:`ann_query` — which turns
    the per-query cost from "re-bucket the whole corpus" into "scan one
    parquet partition".

    Recall < 1 by construction (bucket boundary effects); the declared
    check pins the deterministic output, and test_operators verifies
    bucket recall against brute force.
    """
    cb = with_lsh_bucket(corpus, n_planes, dim)
    qb = F.broadcast(
        with_lsh_bucket(query, n_planes, dim)
        .select(F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket"))
    )
    return topk(cb.join(qb, cb.bucket == qb.qbucket), "vec_id",
                dot_expr("embedding", "qe"), k)


# ------------------------------------------------------------------ ANN index
#
# The materialized form of the LSH story: bucket once at ingest (one
# numpy matmul per Arrow batch — not n_planes interpreted HOF aggregates
# per row), store the corpus as parquet PARTITIONED BY bucket, and serve
# each query from ONE partition via partition pruning.  At 100 TB the index
# is the normal state of the world (like ANALYZE stats): the build is a
# single vectorized pass amortized over every subsequent query, and a
# query's scan cost is corpus/2^p instead of corpus.


def with_lsh_bucket_arrow(df: DataFrame, n_planes: int = 8, dim: int = 64,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Vectorized :func:`with_lsh_bucket`: all plane projections in one
    numpy matmul per Arrow batch.

    Numerically safe to swap for the left-to-right HOF form: projections
    are sums of 64 O(1) terms, so reordering error is ~1e-15 while the
    measured minimum |projection| on the fixture corpora is 4.5e-06 —
    a 10^9× margin against a sign flip (verified across sf0.001–sf1 for
    4/6/8 planes).
    """
    import numpy as np

    P = np.array(hyperplanes(n_planes, dim), dtype=np.float64).T  # dim × p
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    narrow = df.select(id_col, vec_col)
    out_schema = T.StructType(
        list(narrow.schema.fields)
        + [T.StructField("bucket", T.IntegerType(), False)]
    )

    def bucketize(pdf, M):
        pdf = pdf.copy()
        pdf["bucket"] = ((M @ P >= 0) @ weights).astype("int32")
        return pdf

    return vector_batches(narrow, vec_col, bucketize, out_schema)


def build_ann_index(df: DataFrame, path: str, n_planes: int = 8,
                    dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize the bucketed ANN index: one vectorized bucketing pass,
    written as parquet partitioned by ``bucket`` so a query's bucket
    filter becomes partition pruning at scan time."""
    from tidb_gateway_spark.sources.io import write_parquet_table

    bucketed = with_lsh_bucket_arrow(df, n_planes, dim, id_col, vec_col)
    write_parquet_table(bucketed, path, partition_by=["bucket"])


def ann_index(spark: SparkSession, embeddings_path: str, n_planes: int = 8,
              dim: int = 64) -> DataFrame:
    """Read (building if absent or stale) the bucketed ANN index for an
    embeddings parquet table.

    Staleness: the index is rebuilt when the source file is newer than
    its marker or its builder changed — the ``derived.companion``
    contract.  The build cost is the one-pass ingest price; every
    query after it reads a single bucket partition.
    """
    from tidb_gateway_spark.session import ensure_session_confs

    src = os.path.abspath(embeddings_path)
    ensure_session_confs(spark)
    return spark.read.parquet(derived.companion(
        "ann_index", src, (src, n_planes, dim),
        lambda path: build_ann_index(spark.read.parquet(src), path,
                                     n_planes=n_planes, dim=dim)))


# ------------------------------------------------------- int8 quantization
#
# Storage-scale path for embedding columns: symmetric per-vector int8
# quantization (scale = max|v|/127, q_i = floor(v_i/scale + 0.5)) cuts
# the stored bytes 4× and makes the dot product exact integer
# arithmetic (|q|≤127 → products ≤16129, 64-dim sums ≪ 2^53, so even a
# double-typed accumulation is EXACT and engine-order-independent —
# stronger determinism than the float path).  All JVM expressions,
# whole-stage codegen, no Python.


def with_int8_quantized(df: DataFrame, vec_col: str = "embedding",
                        scale_col: str = "qscale",
                        q_col: str = "qvec") -> DataFrame:
    """Add per-vector quantization scale and int8 code array."""
    sc = F.expr(
        f"greatest(aggregate({vec_col}, CAST(0 AS DOUBLE), "
        "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30)"
    )
    out = df.withColumn(scale_col, sc)
    qv = F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) / {scale_col} + 0.5) AS BIGINT))"
    )
    return out.withColumn(q_col, qv)


def quantize_vector(vec: list[float]) -> tuple[float, list[int]]:
    """Client-side twin of :func:`with_int8_quantized` for probe
    vectors — identical IEEE ops (double division, floor(x+0.5))."""
    import math

    scale = max(max(abs(float(x)) for x in vec) / 127.0, 1e-30)
    return scale, [int(math.floor(float(x) / scale + 0.5)) for x in vec]


def int8_index(spark: SparkSession, embeddings_path: str,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Read (building if absent/stale) the MATERIALIZED int8 code table:
    (id, qscale double, qvec array<tinyint>).

    Quantizing inside a query re-runs the per-row HOF max/transform over
    the full float corpus on every execution — measured 9.7× the oracle
    at sf1.  The codes are a pure function of the stored vectors, so they
    belong on disk next to the ANN/IVF indexes (same mtime-staleness
    contract): the build is one ingest-time pass, and every query after
    it scans ¼ the bytes (tinyint codes vs float32) and does integer-
    exact dot products.  At 100 TB this IS the embedding store; the
    float column is the cold archival copy.
    """
    from tidb_gateway_spark.session import ensure_session_confs
    from tidb_gateway_spark.sources.io import write_parquet_table

    src = os.path.abspath(embeddings_path)

    def build(path: str) -> None:
        corpus = spark.read.parquet(src)
        codes = with_int8_quantized(corpus, vec_col=vec_col).select(
            id_col,
            "qscale",
            # |q| ≤ 127 by construction → exact TINYINT narrowing
            F.expr("transform(qvec, x -> CAST(x AS TINYINT))").alias("qvec"),
        )
        write_parquet_table(codes, path)

    ensure_session_confs(spark)
    return spark.read.parquet(
        derived.companion("ann_index", src, ("int8", src), build))


# ------------------------------------------------------------------ IVF
#
# The second ANN family from the brief: inverted-file partitioning.
# Coarse cells instead of hyperplane sign buckets — each vector is
# assigned to its best-scoring centroid (argmax inner product, first
# max wins), the corpus is stored partitioned by cell, and a query
# probes only its top-`nprobe` cells.  Centroids here are the
# deterministic seed set (the first k corpus vectors) so an external
# SQL oracle reproduces the identical cell assignment; a production
# build would k-means-refine them — the index/serving shape (and all
# the partition-pruning math) is unchanged by better centroids.

# The one IVF operating point of the registry (q94, q208, q254, q257,
# q271 and their oracles): IVF_CELLS seed-centroid cells, IVF_NPROBE
# probed per query.
IVF_CELLS, IVF_NPROBE = 8, 2


def with_ivf_cell_arrow(df: DataFrame, centroids: list[list[float]],
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Add a ``cell`` int column = argmax_j <v, centroid_j> (ties → the
    lowest centroid index, as its DuckDB twin :func:`ddb_ivf_assign`).
    One numpy matmul per Arrow batch, like the LSH bucketing."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64).T  # dim × k
    narrow = df.select(id_col, vec_col)
    out_schema = T.StructType(
        list(narrow.schema.fields)
        + [T.StructField("cell", T.IntegerType(), False)]
    )

    def assign(pdf, M):
        pdf = pdf.copy()
        # np.argmax returns the FIRST maximal index — the tie rule
        # the oracle's (s DESC, cid ASC) row_number reproduces
        pdf["cell"] = (M @ C).argmax(axis=1).astype("int32")
        return pdf

    return vector_batches(narrow, vec_col, assign, out_schema)


def ivf_index(spark: SparkSession, embeddings_path: str,
              n_cells: int = 8) -> DataFrame:
    """Read (building if absent/stale) the IVF index: corpus parquet
    partitioned by ``cell``.  Same materialization contract as
    :func:`ann_index`; centroids are the vectors with the ``n_cells``
    lowest ids (deterministic, metadata-sized collect)."""
    from tidb_gateway_spark.session import ensure_session_confs
    from tidb_gateway_spark.sources.io import write_parquet_table

    src = os.path.abspath(embeddings_path)

    def build(path: str) -> None:
        corpus = spark.read.parquet(src)
        cents = ivf_centroids(spark, embeddings_path, n_cells)
        write_parquet_table(with_ivf_cell_arrow(corpus, cents), path,
                            partition_by=["cell"])

    ensure_session_confs(spark)
    return spark.read.parquet(
        derived.companion("ann_index", src, ("ivf", src, n_cells), build))


def ivf_centroids(spark: SparkSession, embeddings_path: str,
                  n_cells: int = 8) -> list[list[float]]:
    """Deterministic seed centroids: the ``n_cells`` lowest-id vectors
    (metadata-sized collect, ordered)."""
    rows = (spark.read.parquet(embeddings_path)
            .filter(F.col("vec_id") < n_cells)
            .select("vec_id", "embedding").collect())
    return [list(r["embedding"]) for r in sorted(rows, key=lambda r: r["vec_id"])]


def ivf_query(index: DataFrame, centroids: list[list[float]],
              qvec: list[float], k: int = 5, nprobe: int = 2,
              exclude_id: int | None = None, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Top-k over the query's ``nprobe`` best cells of an IVF index.

    Cell selection is a client-side n_cells×dim matmul (metadata-sized);
    the ``cell IN (...)`` literal filter partition-prunes the scan to
    nprobe partitions, then exact left-to-right rerank as in
    :func:`ann_query`."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    probe_cells = top_cells(C @ np.array(qvec, dtype=np.float64), nprobe)
    return topk(index.filter(F.col("cell").isin(probe_cells)), id_col,
                probe_dot(vec_col, qvec), k, exclude_id)


# DuckDB twins of the IVF cell choice.  Centroid tables are
# ``(cid, ce)``; ties go to the lower cid, as np.argmax and top_cells
# break them.


def ddb_ivf_assign(name: str, vecs: str, cents: str, vec: str = "e") -> str:
    """with_ivf_cell_arrow as CTE ``name(vec_id, e, cell)``: every row of
    ``vecs(vec_id, e, <vec>)`` takes the centroid of ``cents(cid, ce)``
    with the largest inner product against its ``vec`` column."""
    # the score is a column before the window: DuckDB sorts on a
    # list_dot_product ORDER BY expression ~1.7x slower (sf0.1, q94)
    return (
        f"{name} AS (SELECT vec_id, e, cid AS cell FROM ("
        "SELECT vec_id, e, cid, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "ORDER BY s DESC, cid) AS rn FROM ("
        f"SELECT x.vec_id, x.e, c.cid, list_dot_product(x.{vec}, c.ce) AS s "
        f"FROM {vecs} x CROSS JOIN {cents} c)) WHERE rn = 1)"
    )


# The seed-centroid IVF over the ``embeddings`` view: v(vec_id, e) the
# float vectors, c(cid, ce) the IVF_CELLS seed centroids (ivf_centroids)
# and cells(vec_id, e, cell) every vector's cell (ivf_index).
DDB_IVF_CELLS = (
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
    f"c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {IVF_CELLS}), "
    + ddb_ivf_assign("cells", "v", "c")
)


def ddb_top_cells(name: str, probes: str, cents: str = "c",
                  qvec: str = "qe") -> str:
    """top_cells as CTE ``name(qid, cid)``: the IVF_NPROBE centroids of
    ``cents(cid, ce)`` with the largest inner product against each row
    of ``probes(qid, <qvec>)``."""
    return (
        f"{name} AS (SELECT qid, cid FROM (SELECT p.qid, c.cid, ROW_NUMBER() "
        f"OVER (PARTITION BY p.qid ORDER BY list_dot_product(p.{qvec}, c.ce) "
        f"DESC, c.cid) AS rn FROM {cents} c CROSS JOIN {probes} p) "
        f"WHERE rn <= {IVF_NPROBE})"
    )


def ann_query(index: DataFrame, bucket: int, qvec: list[float], k: int = 5,
              exclude_id: int | None = None, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Top-k over ONE partition of a materialized ANN index.

    ``bucket`` filter is a literal against the index's partition column
    — Catalyst turns it into a PartitionFilter, so the scan touches
    corpus/2^p rows (asserted in tests/test_plans.py).  The query vector
    is inlined as double literals; the rerank dot product accumulates
    left-to-right in the JVM, bit-identical to the oracle's
    ``list_dot_product`` on doubles.
    """
    return topk(index.filter(F.col("bucket") == F.lit(int(bucket))), id_col,
                probe_dot(vec_col, qvec), k, exclude_id)


def matryoshka_nn_pairs(corpus: DataFrame, probes: list[tuple[int, list[float]]],
                        trunc_dims: int, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-probe exact top-1 neighbor under BOTH the full inner product
    and its first-``trunc_dims`` truncation, in ONE corpus pass —
    the Matryoshka-embedding retrieval-quality evaluation.

    Same sanctioned-Python shape as :func:`cosine_nn_arrow`: the probe
    matrix broadcasts in the task closure, each Arrow batch does two
    BLAS matmuls (full + truncated slice) and emits one partial-argmax
    row per probe per measure; the final reduction is a JVM
    ``max(struct)``.  Shuffle volume is O(batches × probes), corpus
    scanned once.  Ties break toward the lowest neighbor id.
    """
    import numpy as np

    P = np.array([v for _, v in probes], dtype=np.float64).T   # dim × q
    Pt = P[:trunc_dims, :]
    qids = [int(q) for q, _ in probes]

    def partial(pdf, M):
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        Sf = M @ P
        St = M[:, :trunc_dims] @ Pt
        rows = []
        for j, qid in enumerate(qids):
            for tag, S in (("f", Sf), ("t", St)):
                col = S[:, j].copy()
                col[ids == qid] = -np.inf
                mx = col.max()
                if mx == -np.inf:
                    continue
                rows.append((qid, tag, int(ids[col == mx].min()),
                             float(mx)))
        return pd.DataFrame(rows, columns=["qid", "m", "nn", "dp"])

    partials = vector_batches(corpus.select(id_col, vec_col), vec_col,
                              partial, "qid long, m string, nn long, dp double")
    best = partials.groupBy("qid", "m").agg(
        F.max(F.struct(F.col("dp"), (-F.col("nn")).alias("neg"))).alias("b"))
    per = best.select("qid", "m", (-F.col("b.neg")).alias("nn"))
    f = per.filter(F.col("m") == "f").select("qid", F.col("nn").alias("nn_full"))
    t = per.filter(F.col("m") == "t").select("qid", F.col("nn").alias("nn_trunc"))
    return f.join(t, "qid").select(
        "qid", "nn_full", "nn_trunc",
        (F.col("nn_full") == F.col("nn_trunc")).alias("agree"))


# ------------------------------------------------------------- SemDeDup
# Semantic deduplication (Abbas et al. 2023, "SemDeDup"): partition the
# embedding space into cells, flag near-duplicate PAIRS only within a
# cell, and drop the higher-id member of each flagged pair.  All
# arithmetic is integer-quantized (q = floor(100·x) per dimension) so an
# external SQL oracle reproduces the flags bit-for-bit — float dot sums
# are order-dependent, integer dots are not.

def semantic_cells(vectors: DataFrame,
                   seeds: list[tuple[int, list[float]]],
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to argmax_s <q(v), q(seed_s)> over the given
    seed vectors (ties → lowest seed id); adds a ``cell`` bigint column
    carrying the winning seed's id.

    ``seeds`` is metadata-sized (collected driver-side, like the IVF
    centroids and the rank boundaries): at 100 TB the seed table is a
    few KB broadcast into the Arrow closure while the corpus streams
    through one numpy int64 matmul per batch."""
    import numpy as np

    sorted_seeds = sorted(seeds)
    sid = np.array([s[0] for s in sorted_seeds], dtype=np.int64)
    S = np.floor(
        np.array([s[1] for s in sorted_seeds], dtype=np.float64) * 100
    ).astype(np.int64).T  # dim × k
    narrow = vectors.select(id_col, vec_col)
    out_schema = T.StructType(
        list(narrow.schema.fields)
        + [T.StructField("cell", T.LongType(), False)]
    )

    def assign(pdf, M):
        Q = np.floor(M * 100).astype(np.int64)
        pdf = pdf.copy()
        # seed ids ascend with the column index, so argmax's
        # first-max tie rule IS "lowest seed id" — the oracle's
        # ROW_NUMBER (dot DESC, sid ASC)
        pdf["cell"] = sid[(Q @ S).argmax(axis=1)]
        return pdf

    return vector_batches(narrow, vec_col, assign, out_schema)


def _make_blocked_upper_keep(lhs_scale: int, rhs_scale: int,
                             target_elems: int = 32_000_000):
    """Build a generator fn yielding (row_start, keep2d) over ROW
    BLOCKS of the strict upper triangle of Q·Qᵀ, with the
    quantized-cosine flag d > 0 AND d²·lhs ≥ rhs·n_i·n_j evaluated
    2-D-vectorized per block — a 10⁵-vector cell never materializes
    the m×m gram matrix (≈80 GB) nor triu index arrays (5·10⁹
    entries); peak memory is one B×m block (B = target_elems/m rows ≈
    256 MB).  Returned as a NESTED function so cloudpickle serializes
    it by value into the applyInPandas closures (the pickling rule, see
    :func:`vector_batches`).

    EXACTNESS TIERS: |d| ≤ nmax (Cauchy-Schwarz), so every flag term
    is bounded by nmax²·max(scale).  Under 2^53 all values are exactly
    representable in float64 — the matmul runs as BLAS dgemm on the
    integer-VALUED float64 quantized vectors (multi-threaded, ~30×
    numpy's single-threaded int64 inner loop — the r9b q211 variance
    was that loop) and the comparisons stay bit-exact integers.  Under
    2^63, int64 (slow but exact).  Beyond, object ints — never a
    silent wraparound (property-tested contract)."""

    def blocked_upper_keep(Q, n):
        import numpy as np

        m = len(Q)
        bs = max(64, int(target_elems // max(m, 1)))
        nmax = int(n.max()) if m else 0
        bound = nmax * nmax * max(lhs_scale, rhs_scale)
        f64_exact = bound <= 2 ** 53
        i64_fits = bound <= np.iinfo(np.int64).max
        Qf = Q.astype(np.float64) if f64_exact else None
        nf = n.astype(np.float64) if f64_exact else None
        cols = np.arange(m)
        for s in range(0, max(m - 1, 0), bs):
            e = min(s + bs, m)
            mask = cols[None, :] > np.arange(s, e)[:, None]
            if f64_exact:
                Dblk = Qf[s:e] @ Qf.T  # exact int-valued f64 (≤ 2^53)
                keep = mask & (Dblk > 0) & (
                    Dblk * Dblk * float(lhs_scale)
                    >= float(rhs_scale) * nf[s:e, None] * nf[None, :])
            elif i64_fits:
                Dblk = Q[s:e] @ Q.T
                keep = mask & (Dblk > 0) & (
                    Dblk * Dblk * lhs_scale
                    >= rhs_scale * n[s:e, None] * n[None, :])
            else:  # exact unbounded ints
                d_o = (Q[s:e] @ Q.T).astype(object)
                n_o = n.astype(object)
                keep = mask & (d_o > 0) & (
                    d_o * d_o * lhs_scale
                    >= rhs_scale * n_o[s:e, None] * n_o[None, :])
                keep = keep.astype(bool)
            yield s, keep

    return blocked_upper_keep


def _make_cell_blocks(tau_bps: int, id_col: str, vec_col: str):
    """Build ``cell_blocks(pdf) -> (ids, blocks)``, the per-cell prep
    both SemDeDup outputs share: the cell's ids sorted ascending, and
    :func:`_make_blocked_upper_keep`'s flag blocks over its quantized
    vectors q = floor(100·x) (rows in id order, n = |q|²).

    cos_q ≥ tau_bps/10⁴ is  dot > 0  AND  dot²·10⁸ ≥ tau_bps²·na·nb;
    both scales are divided by g = gcd(tau_bps², 10⁸) so the integer
    products stay as small as the threshold allows.  Nested for the
    pickling rule (see :func:`vector_batches`)."""
    import math

    t2 = tau_bps * tau_bps
    g = math.gcd(t2, 10 ** 8)
    blocked_keep = _make_blocked_upper_keep((10 ** 8) // g, t2 // g)

    def cell_blocks(pdf):
        import numpy as np

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        Q = np.floor(
            np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64) * 100
        ).astype(np.int64)
        return ids[order], blocked_keep(Q, (Q * Q).sum(axis=1))

    return cell_blocks


def semantic_neardup_pairs(assigned: DataFrame, tau_bps: int = 3500,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Within-cell near-duplicate pairs (a < b) under the quantized
    cosine test  dot > 0  AND  dot²·10⁴ ≥ tau_bps²/10⁴ · |a|²·|b|²
    (i.e. cos_q ≥ tau_bps/10⁴) — exact integer arithmetic end-to-end.

    One ``applyInPandas`` matmul per cell: total work Σ|cell|² instead
    of n², the SemDeDup scale contract (cells from k-means in the
    paper; any fixed assignment — here argmax-over-seeds — gives the
    same shape).  Magnitudes: |q_i| ≤ 100·|x| keeps dot²·10⁴ and
    1225-style right sides far inside int64 for unit-scale embeddings.
    """
    cell_blocks = _make_cell_blocks(tau_bps, id_col, vec_col)

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "cell": pd.Series(dtype="int64"),
            "a": pd.Series(dtype="int64"),
            "b": pd.Series(dtype="int64"),
        })
        if len(pdf) < 2:
            return empty
        ids, blocks = cell_blocks(pdf)
        outs_a, outs_b = [], []
        for s, keep in blocks:
            if keep.any():
                vr, vc = np.nonzero(keep)  # surviving pairs only
                outs_a.append(ids[vr + s])
                outs_b.append(ids[vc])
        if not outs_a:
            return empty
        a = np.concatenate(outs_a)
        b = np.concatenate(outs_b)
        return pd.DataFrame({
            "cell": np.full(len(a), int(pdf["cell"].iloc[0]),
                            dtype="int64"),
            "a": a.astype("int64"),
            "b": b.astype("int64"),
        })

    return assigned.groupBy("cell").applyInPandas(
        cell_pairs, schema="cell long, a long, b long")


def semantic_dedup_report(assigned: DataFrame, tau_bps: int = 3500,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Per-cell SemDeDup report in ONE pass: (cell, n_vecs, n_pairs,
    n_dropped) computed inside the same per-cell numpy stage that
    scores the pairs — the multi-branch form (count cells, count
    pairs, join) re-executes the Arrow assignment subtree once per
    branch; this shape is scan → assign → one cell exchange → one
    grouped report, nothing reused, nothing recomputed.  Same flags as
    :func:`semantic_neardup_pairs` (kept for pipelines that need the
    pairs themselves); n_dropped counts the distinct higher-id members
    a keep-lowest-id policy would remove."""
    cell_blocks = _make_cell_blocks(tau_bps, id_col, vec_col)

    def cell_report(pdf):
        import numpy as np
        import pandas as pd

        cell = int(pdf["cell"].iloc[0])
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cell": [cell], "n_vecs": [len(pdf)],
                 "n_pairs": [0], "n_dropped": [0]})
        ids, blocks = cell_blocks(pdf)
        n_pairs = 0
        dropped = np.zeros(len(ids), dtype=bool)
        for _, keep in blocks:
            n_pairs += int(keep.sum())
            dropped |= keep.any(axis=0)
        return pd.DataFrame({
            "cell": [cell],
            "n_vecs": [len(ids)],
            "n_pairs": [n_pairs],
            "n_dropped": [int(dropped.sum())],
        })

    return assigned.groupBy("cell").applyInPandas(
        cell_report, schema="cell long, n_vecs long, n_pairs long, n_dropped long")


# ------------------------------------------------ Product quantization
# PQ (Jégou/Douze/Schmid 2011, "Product Quantization for Nearest
# Neighbor Search"): split each D-dim vector into M subvectors, encode
# every subvector as the id of its nearest codeword in a per-subspace
# codebook, and answer queries with the Asymmetric Distance Computation
# (ADC) — a per-query (M × K) lookup table of subspace distances summed
# over the stored codes.  The index stores M small ints per vector
# (here 8 codes for a 64-dim vector = 64× smaller than float32), which
# is what makes billion-scale ANN shippable.
#
# All arithmetic is integer-quantized q_i = floor(scale · double(x_i))
# with scale a POWER OF TWO, so the float→int step is exact in both
# engines (multiplying a float32 by 256 is lossless; floor is defined
# identically in numpy / Spark / DuckDB) and every squared distance /
# ADC sum is an exact int64 an external SQL oracle reproduces
# bit-for-bit regardless of summation order.

def pq_adc_eval(corpus: DataFrame,
                probes: list[tuple[int, list[float]]],
                codebook: list[list[float]],
                n_sub: int = 8,
                scale: int = 256,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Per-probe exact-L2 top-1 neighbor AND PQ-ADC top-1 neighbor in
    ONE corpus pass — the recall evaluation run before trusting a PQ
    index (q208's shape for the compression member of the ANN family).

    ``codebook``: K full-width vectors (metadata-sized, collected
    driver-side like the IVF centroids); codeword k of subspace m is
    ``codebook[k][m*d : (m+1)*d]`` — one shared codeword table sliced
    per subspace, the deterministic analogue of per-subspace k-means
    seeds (matches q94/q208's seed-vector centroid convention).

    Same sanctioned-Python shape as :func:`cosine_nn_arrow`: probes,
    codebook, and the per-probe ADC lookup tables broadcast in the
    task closure; each Arrow batch computes integer codes + both
    distance sides vectorized and emits ≤ (1 exact partial-argmin +
    10 ADC batch-partial top-10) = 11 rows per probe, so the shuffle
    carries O(batches × probes) rows at any corpus size.  Ties break
    toward the lowest neighbor id.

    Returns one row per probe:
    (qid, exact_nn, pq_nn, adc_d2, hit10) with adc_d2 the winning ADC
    distance (exact int64 — certifies the lookup-table arithmetic, not
    just the argmin) and hit10 whether the exact neighbor appears in
    the ADC top-10 (recall@10 — the metric PQ deployments actually
    report, since a 16-codeword ADC argmin is a shortlist generator,
    not a final ranking).
    """
    import numpy as np

    K = len(codebook)
    D = len(codebook[0])
    d = D // n_sub
    assert n_sub * d == D, (n_sub, D)

    def _q(mat) -> "np.ndarray":
        return np.floor(
            np.asarray(mat, dtype=np.float64) * scale).astype(np.int64)

    CB = _q([c for c in codebook])                    # K × D
    QP = _q([v for _, v in probes])                   # P × D
    qids = [int(q) for q, _ in probes]
    P = len(qids)
    # per-probe ADC lookup tables: LT[p, m, k] = ||q_sub - cb_k_sub||²
    LT = np.empty((P, n_sub, K), dtype=np.int64)
    for m in range(n_sub):
        sl = slice(m * d, (m + 1) * d)
        diff = QP[:, None, sl] - CB[None, :, sl]      # P × K × d
        LT[:, m, :] = (diff * diff).sum(axis=-1)
    SENT = np.iinfo(np.int64).max

    marange = np.arange(n_sub)

    def partial(pdf, M):
        import pandas as pd

        X = _q(M)  # B × D
        ids = pdf[id_col].to_numpy()
        B = len(ids)
        # PQ encode: codes[b, m] = argmin_k d²(sub, codeword) —
        # np.argmin takes the FIRST minimum, i.e. ties break
        # k-ascending, matching ROW_NUMBER (d2, k)
        codes = np.empty((B, n_sub), dtype=np.int64)
        for m in range(n_sub):
            sl = slice(m * d, (m + 1) * d)
            diff = X[:, None, sl] - CB[None, :, sl]  # B × K × d
            codes[:, m] = (diff * diff).sum(axis=-1).argmin(axis=1)
        rows = []
        for j, qid in enumerate(qids):
            ex = ((X - QP[j]) ** 2).sum(axis=1)      # B exact d²
            ex[ids == qid] = SENT                    # exclude self
            mn = ex.min()
            if mn != SENT:
                rows.append((qid, "x", int(mn),
                             int(ids[ex == mn].min())))
            adc = LT[j][marange[None, :], codes].sum(axis=1)
            adc[ids == qid] = SENT
            # batch-partial top-10 under the global (d2, nn)
            # lexicographic order — every row that could survive
            # the final rank-10 cut must be emitted
            order = np.lexsort((ids, adc))[:10]
            for i in order:
                if adc[i] == SENT:
                    break
                rows.append((qid, "a", int(adc[i]), int(ids[i])))
        return pd.DataFrame(rows, columns=["qid", "s", "d2", "nn"])

    from pyspark.sql.window import Window

    from tidb_gateway_spark.operators.cache import tracked_persist

    # persist the partials: three consumers (exact argmin, ADC top-10,
    # recall@10 membership) would otherwise re-run the corpus Arrow
    # kernel three times — the frame is O(batches × probes) rows, so
    # the persist is metadata-sized while the saved work is corpus-sized
    partials = tracked_persist(vector_batches(
        corpus.select(id_col, vec_col), vec_col, partial,
        "qid long, s string, d2 long, nn long"))
    # O(batches × probes) rows from here down — driver-small plans
    ex = (partials.filter(F.col("s") == "x")
          .groupBy("qid")
          .agg(F.min(F.struct(F.col("d2"), F.col("nn"))).alias("b"))
          .select("qid", F.col("b.nn").alias("exact_nn")))
    w = Window.partitionBy("qid").orderBy("d2", "nn")
    top10 = (partials.filter(F.col("s") == "a")
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 10))
    pq = top10.filter(F.col("rn") == 1).select(
        "qid", F.col("nn").alias("pq_nn"), F.col("d2").alias("adc_d2"))
    per = ex.join(pq, "qid")
    hit10 = (top10.join(ex, "qid")
             .groupBy("qid")
             .agg(F.max((F.col("nn") == F.col("exact_nn")).cast("long"))
                  .alias("hit10")))
    return per.join(hit10, "qid")


def _quant_int(mat, scale: int):
    """floor(scale·x) as int64 — float-exact when scale is a power of
    two (see queries/ann_compression module doc)."""
    import numpy as np

    return np.floor(
        np.asarray(mat, dtype=np.float64) * scale).astype(np.int64)


def ivfadc_meta(spark: SparkSession, embeddings_path: str,
                n_cells: int = 8, n_codes: int = 16,
                scale: int = 256) -> tuple[list[list[float]], "object"]:
    """Deterministic IVFADC metadata: coarse centroids (the ``n_cells``
    lowest-id vectors, q94's convention) and the RESIDUAL codebook (the
    integer residuals of the next ``n_codes`` vectors w.r.t. their own
    argmax-inner-product cell).  One metadata-sized collect."""
    import numpy as np

    rows = (spark.read.parquet(embeddings_path)
            .filter(F.col("vec_id") < n_cells + n_codes)
            .select("vec_id", "embedding").collect())
    by_id = {int(r["vec_id"]): list(r["embedding"])
             for r in rows}
    cents = [by_id[i] for i in range(n_cells)]
    C = np.asarray(cents, dtype=np.float64)
    QC = _quant_int(C, scale)
    src = np.asarray([by_id[n_cells + k] for k in range(n_codes)],
                     dtype=np.float64)
    own = (src @ C.T).argmax(axis=1)          # argmax IP, first max
    W = _quant_int(src, scale) - QC[own]      # n_codes × D int residuals
    return cents, W


def with_ivfadc_codes_arrow(df: DataFrame, centroids: list[list[float]],
                            codebook_residuals, n_sub: int = 8,
                            scale: int = 256, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """One fused Arrow pass: coarse cell (argmax float IP, q94's
    with_ivf_cell_arrow rule) + PQ codes of the INTEGER residual
    (floor(scale·v) − floor(scale·centroid)) against the residual
    codebook — the IVFADC encode (Jégou et al. 2011, the shape the
    reference relays to vector backends).  Emits (id, cell, code);
    ties break toward the lowest codeword index (np.argmin = first
    minimum, matching ROW_NUMBER (d2, k))."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    QC = _quant_int(C, scale)
    W = np.asarray(codebook_residuals, dtype=np.int64)
    K, D = W.shape
    d = D // n_sub
    assert n_sub * d == D, (n_sub, D)
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("code", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("cell", T.IntegerType(), False),
    ])

    def encode(pdf, M):
        import pandas as pd

        cells = (M @ C.T).argmax(axis=1)
        # _quant_int inlined (the pickling rule, see vector_batches)
        RES = np.floor(M * scale).astype(np.int64) - QC[cells]
        B = len(RES)
        codes = np.empty((B, n_sub), dtype=np.int32)
        for m in range(n_sub):
            sl = slice(m * d, (m + 1) * d)
            diff = RES[:, None, sl] - W[None, :, sl]
            codes[:, m] = (diff * diff).sum(axis=-1).argmin(axis=1)
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "code": list(codes),
            "cell": cells.astype("int32"),
        })

    return vector_batches(df.select(id_col, vec_col), vec_col, encode,
                          out_schema)


def ivfadc_index(spark: SparkSession, embeddings_path: str,
                 n_cells: int = 8, n_codes: int = 16, n_sub: int = 8,
                 scale: int = 256) -> DataFrame:
    """Read (building if absent/stale) the IVFADC index: (vec_id, code)
    parquet partitioned by coarse ``cell``.  8-byte codes instead of
    256-byte vectors — the scan a probe pays is nprobe/n_cells of the
    CODES, a ~64× byte reduction over scanning raw vectors; same
    materialization/staleness contract as :func:`ivf_index`."""
    from tidb_gateway_spark.session import ensure_session_confs
    from tidb_gateway_spark.sources.io import write_parquet_table

    src = os.path.abspath(embeddings_path)

    def build(path: str) -> None:
        corpus = spark.read.parquet(src)
        cents, W = ivfadc_meta(spark, embeddings_path, n_cells, n_codes,
                               scale)
        write_parquet_table(
            with_ivfadc_codes_arrow(corpus, cents, W, n_sub, scale),
            path, partition_by=["cell"])

    ensure_session_confs(spark)
    return spark.read.parquet(derived.companion(
        "ann_index", src, ("ivfadc", src, n_cells, n_codes, n_sub, scale),
        build))


def ivfadc_query(index: DataFrame, centroids: list[list[float]],
                 codebook_residuals, qid: int, qvec: list[float],
                 k: int = 3, nprobe: int = 2, n_sub: int = 8,
                 scale: int = 256, id_col: str = "vec_id") -> DataFrame:
    """ADC top-k for ONE probe over an IVFADC index — the serve path.

    Cell selection is a client-side n_cells×dim float matmul (q94's
    rule: ties toward the lower cell id); the per-(probe, cell) ADC
    lookup tables (n_sub × K ints each) are inlined as literal arrays,
    so the WHOLE query plan is JVM codegen: a ``cell IN (...)``
    partition-pruned scan of the integer codes, one ``aggregate``
    higher-order function summing LUT entries indexed by the stored
    code, then TakeOrderedAndProject for the top-k — no shuffle wider
    than k rows, no Python.  adc_d2 is exact int64 (certifies the
    table arithmetic, not just the ranking)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    QC = _quant_int(C, scale)
    W = np.asarray(codebook_residuals, dtype=np.int64)
    K, D = W.shape
    d = D // n_sub
    q = np.asarray(qvec, dtype=np.float64)
    probe_cells = top_cells(C @ q, nprobe)
    qi = _quant_int(q, scale)
    luts: dict[int, list[int]] = {}
    for c in probe_cells:
        qr = qi - QC[c]
        flat = []
        for m in range(n_sub):
            sl = slice(m * d, (m + 1) * d)
            diff = qr[sl][None, :] - W[:, sl]          # K × d
            flat.extend(int(x) for x in (diff * diff).sum(axis=-1))
        luts[c] = flat  # flattened m*K + k
    def arr(vals):
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"
    lut_expr = f"CASE cell WHEN {probe_cells[0]} THEN {arr(luts[probe_cells[0]])}"
    for c in probe_cells[1:]:
        lut_expr += f" WHEN {c} THEN {arr(luts[c])}"
    lut_expr += " END"
    adc = F.expr(
        f"aggregate(sequence(0, {n_sub - 1}), 0L, (acc, m) -> "
        f"acc + element_at({lut_expr}, m * {K} + element_at(code, m + 1) + 1))"
    )
    return (
        index.filter(F.col("cell").isin(probe_cells))
        .filter(F.col(id_col) != qid)
        .select(F.lit(qid).cast("long").alias("qid"),
                F.col(id_col).alias("nn"), adc.alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), F.asc("nn"))
        .limit(k)
    )

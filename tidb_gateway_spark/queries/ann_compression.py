"""Q269+: vector-compression members of the ANN family — product
quantization (PQ) recall evaluation.

The reference relays vector workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); this module declares the
compression-side audit every PQ deployment runs: encode the corpus
against per-subspace codebooks, answer probes via the ADC lookup-table
sum, and score recall@1 against exact L2 over the same quantized
vectors.

Scale design notes (100 TB):

* The codebook (K full-width vectors) and the probe set are
  metadata-sized driver collects — the same sanctioned class as the
  IVF centroids (q94/q208) and rank boundaries.  The per-probe ADC
  lookup tables (P × M × K ints, a few KB) broadcast inside the Arrow
  task closure.
* The corpus is scanned ONCE: each Arrow batch computes integer PQ
  codes + both distance sides vectorized (the sanctioned dense-linear-
  algebra Python stage, q75/q208's shape) and emits ≤ (1 exact +
  10 ADC-top-10) = 11·|probes| partial rows, so the one exchange
  carries O(batches × probes) rows at any corpus size — never codes,
  never vectors.
* All arithmetic is integer (floor(256·x) quantization; 256 is a power
  of two so the float32→int step is lossless in every engine), which is
  what lets a SQL oracle reproduce ADC sums bit-for-bit — float
  summation order would make the argmin engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.operators.similarity import (
    DDB_IVF_CELLS,
    IVF_CELLS,
    IVF_NPROBE,
    ddb_top_cells,
)
from tidb_gateway_spark.queries.registry import register
from tidb_gateway_spark.sources import derived

# ---------------------------------------------------------------- Q269
_Q269_K = 16          # codewords per subspace (codebook = vec_id < 16)
_Q269_M = 8           # subspaces over 64 dims -> 8-dim subvectors
_Q269_DSUB = 8
_Q269_SCALE = 256     # power of two: float32 * 256 is exact
_Q269_PROBES = (20, 30)


def _q269_oracle() -> str:
    lo, hi = _Q269_PROBES
    d = _Q269_DSUB
    # quantized DOUBLE[] (integer-valued; exact — see module doc)
    qv = ("list_transform(CAST(embedding AS DOUBLE[]), "
          f"x -> floor(x * {_Q269_SCALE}))")
    # squared L2 between two integer-valued DOUBLE lists via three dot
    # products — exact (all terms < 2^53)
    def d2(a: str, b: str) -> str:
        return (f"(list_dot_product({a}, {a}) "
                f"- 2 * list_dot_product({a}, {b}) "
                f"+ list_dot_product({b}, {b}))")

    return (
        f"WITH v AS (SELECT vec_id, {qv} AS e FROM embeddings), "
        f"ms AS (SELECT CAST(unnest(range({_Q269_M})) AS INT) AS m), "
        # per-(vector, subspace) subvector slices
        "vsub AS (SELECT vec_id, m, "
        f"e[m * {d} + 1 : m * {d} + {d}] AS se FROM v CROSS JOIN ms), "
        f"csub AS (SELECT m, vec_id AS k, se AS ce FROM vsub "
        f"WHERE vec_id < {_Q269_K}), "
        # PQ encode: nearest codeword per subspace, ties k-ascending
        "cd AS (SELECT s.vec_id, s.m, c.k, "
        + d2("s.se", "c.ce") + " AS d2 "
        "FROM vsub s JOIN csub c USING (m)), "
        "codes AS (SELECT vec_id, m, k FROM ("
        "SELECT vec_id, m, k, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM cd) "
        "WHERE rn = 1), "
        f"p AS (SELECT vec_id AS qid, e AS qe FROM v "
        f"WHERE vec_id >= {lo} AND vec_id < {hi}), "
        "psub AS (SELECT qid, m, "
        f"qe[m * {d} + 1 : m * {d} + {d}] AS se FROM p CROSS JOIN ms), "
        # per-probe ADC lookup table over (subspace, codeword)
        "lt AS (SELECT s.qid, c.m, c.k, "
        + d2("s.se", "c.ce") + " AS d2 "
        "FROM psub s JOIN csub c USING (m)), "
        "adc AS (SELECT lt.qid, codes.vec_id, SUM(lt.d2) AS adc "
        "FROM codes JOIN lt ON lt.m = codes.m AND lt.k = codes.k "
        "GROUP BY 1, 2), "
        "pqtop AS (SELECT qid, vec_id AS nn, adc, rn FROM ("
        "SELECT qid, vec_id, adc, ROW_NUMBER() OVER ("
        "PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM adc "
        "WHERE vec_id <> qid) WHERE rn <= 10), "
        "pq AS (SELECT qid, nn, adc FROM pqtop WHERE rn = 1), "
        "exact AS (SELECT qid, vec_id AS nn FROM ("
        "SELECT p.qid, x.vec_id, ROW_NUMBER() OVER ("
        "PARTITION BY p.qid ORDER BY " + d2("x.e", "p.qe") + ", x.vec_id"
        ") AS rn FROM v x CROSS JOIN p WHERE x.vec_id <> p.qid) "
        "WHERE rn = 1), "
        "h10 AS (SELECT e.qid, MAX(CASE WHEN t.nn = e.nn THEN 1 "
        "ELSE 0 END) AS hit10 FROM exact e "
        "JOIN pqtop t ON t.qid = e.qid GROUP BY 1) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, "
        "CAST(SUM(CASE WHEN e.nn = q.nn THEN 1 ELSE 0 END) AS BIGINT) "
        "AS hits, "
        "CAST(FLOOR(SUM(CASE WHEN e.nn = q.nn THEN 1 ELSE 0 END) "
        "* 10000.0 / COUNT(*)) AS BIGINT) AS recall_bps, "
        "CAST(SUM(h10.hit10) AS BIGINT) AS hits_at10, "
        "CAST(FLOOR(SUM(h10.hit10) * 10000.0 / COUNT(*)) AS BIGINT) "
        "AS recall10_bps, "
        "CAST(SUM(q.adc) AS BIGINT) AS sum_adc_d2 "
        "FROM exact e JOIN pq q USING (qid) JOIN h10 USING (qid)"
    )


@register(
    "q269_pq_adc_recall",
    _q269_oracle(),
    doc="Product-quantization recall evaluation (Jégou et al. 2011) — "
        "the compression member of the ANN family beside LSH buckets "
        "(q76), IVF (q94), int8 (q95), and the IVF recall audit "
        "(q208): the corpus is PQ-encoded against 16 codewords × 8 "
        "subspaces (codebook = the vec_id<16 seed vectors, the "
        "q94/q208 deterministic-centroid convention), 10 probes are "
        "answered both EXACTLY (integer L2 argmin over the full "
        "corpus) and via ADC lookup-table sums over the stored codes, "
        "and recall@1, recall@10 (ADC is a shortlist generator — @10 "
        "is the metric PQ deployments re-rank from), and the total "
        "winning ADC distance are reported — the audit run before "
        "shipping an index that stores 8 bytes/vector instead of 256. "
        "ONE Arrow corpus pass "
        "computes codes + both distance sides (batch-partial argmins, "
        "shuffle = O(batches × probes) rows); all arithmetic is "
        "integer-quantized (floor(256·x) — a power-of-two scale makes "
        "the quantization float-exact) so the SQL oracle reproduces "
        "every ADC sum bit-for-bit.",
    tags=("similarity", "llm", "ann", "governance"),
)
def q269(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import pq_adc_eval

    path = f"{sf_dir}/embeddings.parquet"
    e = load_table(spark, sf_dir, "embeddings")

    def meta():
        rows = (
            e.filter(
                (F.col("vec_id") < _Q269_K)
                | ((F.col("vec_id") >= _Q269_PROBES[0])
                   & (F.col("vec_id") < _Q269_PROBES[1])))
            .select("vec_id", "embedding").collect()
        )  # sanctioned collect: 16 codebook + 10 probe vectors
        by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
                 for r in rows}
        codebook = [by_id[k] for k in range(_Q269_K)]
        probes = [(q, by_id[q])
                  for q in range(_Q269_PROBES[0], _Q269_PROBES[1])]
        return probes, codebook

    probes, codebook = derived.memo("q269", path, meta)

    per = pq_adc_eval(
        e, probes, codebook,
        n_sub=_Q269_M, scale=_Q269_SCALE,
    )
    hit = (F.col("exact_nn") == F.col("pq_nn")).cast("long")
    return per.agg(
        F.count("*").alias("n_probes"),
        F.sum(hit).alias("hits"),
        F.floor(F.sum(hit) * 10000.0 / F.count("*"))
        .cast("bigint").alias("recall_bps"),
        F.sum("hit10").cast("bigint").alias("hits_at10"),
        F.floor(F.sum("hit10") * 10000.0 / F.count("*"))
        .cast("bigint").alias("recall10_bps"),
        F.sum("adc_d2").cast("bigint").alias("sum_adc_d2"),
    )


# ---------------------------------------------------------------- Q271
# coarse cells and probes: the IVF_CELLS seed centroids, IVF_NPROBE cells
# per probe (q94's rule)
_Q271_TOPK = 3
_Q271_PROBES = (40, 50)


def _q271_oracle() -> str:
    n_cells, K, m_sub, d, scale = (IVF_CELLS, _Q269_K, _Q269_M,
                                   _Q269_DSUB, _Q269_SCALE)
    lo, hi = _Q271_PROBES
    topk = _Q271_TOPK

    def d2(a: str, b: str) -> str:
        return (f"(list_dot_product({a},{a}) "
                f"- 2*list_dot_product({a},{b}) "
                f"+ list_dot_product({b},{b}))")

    return (
        # coarse assignment: argmax float IP, ties -> lower cid (q94)
        f"WITH {DDB_IVF_CELLS}, "
        f"vi AS (SELECT vec_id, list_transform(e, x -> floor(x*{scale})) "
        "AS ie FROM v), "
        f"cent AS (SELECT vec_id AS cid, ie AS ce FROM vi "
        f"WHERE vec_id < {n_cells}), "
        # integer residuals vs the assigned centroid
        "res AS (SELECT v.vec_id, a.cell, list_transform(range(64), "
        "i -> v.ie[CAST(i AS INT)+1] - c.ce[CAST(i AS INT)+1]) AS r "
        "FROM vi v JOIN cells a ON a.vec_id = v.vec_id "
        "JOIN cent c ON c.cid = a.cell), "
        f"ms AS (SELECT CAST(unnest(range({m_sub})) AS INT) AS m), "
        "rsub AS (SELECT vec_id, cell, m, "
        f"r[m*{d}+1 : m*{d}+{d}] AS sr FROM res CROSS JOIN ms), "
        # residual codebook: integer residuals of the next 16 vectors
        f"cb AS (SELECT m, CAST(vec_id - {n_cells} AS INT) AS k, sr AS w "
        f"FROM rsub WHERE vec_id >= {n_cells} "
        f"AND vec_id < {n_cells} + {K}), "
        "cd AS (SELECT s.vec_id, s.m, c.k, "
        + d2("s.sr", "c.w") + " AS d2 FROM rsub s JOIN cb c USING (m)), "
        "codes AS (SELECT vec_id, m, k FROM ("
        "SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m "
        "ORDER BY d2, k) AS rn FROM cd) WHERE rn = 1), "
        "p AS (SELECT vec_id AS qid, e AS qfe, ie AS qe FROM v "
        f"JOIN vi USING (vec_id) WHERE vec_id >= {lo} AND vec_id < {hi}), "
        # nprobe best cells per probe (same float-IP rule)
        f"{ddb_top_cells('pcell', 'p', qvec='qfe')}, "
        "qres AS (SELECT p.qid, pc.cid, list_transform(range(64), "
        "i -> p.qe[CAST(i AS INT)+1] - c.ce[CAST(i AS INT)+1]) AS qr "
        "FROM p JOIN pcell pc ON pc.qid = p.qid "
        "JOIN cent c ON c.cid = pc.cid), "
        "lt AS (SELECT q.qid, q.cid, c.m, c.k, "
        + d2(f"q.qr[c.m*{d}+1 : c.m*{d}+{d}]", "c.w")
        + " AS d2 FROM qres q CROSS JOIN cb c), "
        "adc AS (SELECT lt.qid, r.vec_id, CAST(SUM(lt.d2) AS BIGINT) "
        "AS adc_d2 FROM res r "
        "JOIN codes ON codes.vec_id = r.vec_id "
        "JOIN lt ON lt.cid = r.cell AND lt.m = codes.m "
        "AND lt.k = codes.k "
        "WHERE r.vec_id <> lt.qid GROUP BY 1, 2) "
        "SELECT qid, CAST(rn AS INT) AS rn, vec_id AS nn, adc_d2 FROM ("
        "SELECT qid, vec_id, adc_d2, ROW_NUMBER() OVER ("
        "PARTITION BY qid ORDER BY adc_d2, vec_id) AS rn FROM adc) "
        f"WHERE rn <= {topk} ORDER BY qid, rn"
    )


@register(
    "q271_ivfadc_search",
    _q271_oracle(),
    doc="IVFADC search (Jégou et al. 2011's deployed composition — "
        "IVF coarse cells + product-quantized RESIDUALS): q94's "
        "cell-partitioned index carries 8-byte PQ codes of the integer "
        "residual (floor(256·v) − floor(256·centroid)) instead of raw "
        "vectors; each of 10 probes selects its top-2 cells "
        "client-side (q94's argmax-IP rule), inlines its per-cell ADC "
        "lookup tables (8×16 ints) as literal arrays, and ranks "
        "candidates with ONE `aggregate` higher-order function over "
        "the stored codes — the whole serve plan is JVM codegen on a "
        "partition-pruned scan of codes (~64× fewer bytes than "
        "vectors), TakeOrderedAndProject per probe, no shuffle wider "
        "than top-k rows, no Python.  The index build is one fused "
        "Arrow pass (operators/similarity.py:with_ivfadc_codes_arrow)."
        "  Residual codebook = the integer residuals of vec_id 8..23 "
        "w.r.t. their own cells (deterministic, oracle-reproducible); "
        "all ADC arithmetic is integer-exact so the oracle matches "
        "bit-for-bit.  Completes the ANN family: LSH (q76), IVF "
        "(q94), int8 (q95), recall audit (q208), PQ-ADC eval (q269).",
    tags=("similarity", "llm", "ann"),
)
def q271(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from tidb_gateway_spark.operators.similarity import (
        ivfadc_index,
        ivfadc_meta,
        ivfadc_query,
    )

    path = f"{sf_dir}/embeddings.parquet"
    idx = ivfadc_index(spark, path, n_cells=IVF_CELLS,
                       n_codes=_Q269_K, n_sub=_Q269_M,
                       scale=_Q269_SCALE)

    def meta():
        cents, W = ivfadc_meta(spark, path, IVF_CELLS, _Q269_K,
                               _Q269_SCALE)
        lo, hi = _Q271_PROBES
        rows = (load_table(spark, sf_dir, "embeddings")
                .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
                .select("vec_id", "embedding").collect())
        probes = sorted((int(r["vec_id"]), list(r["embedding"]))
                        for r in rows)
        return cents, W, probes

    cents, W, probes = derived.memo("q271", path, meta)

    per = None
    for qid, qvec in probes:
        one = ivfadc_query(idx, cents, W, qid, qvec, k=_Q271_TOPK,
                           nprobe=IVF_NPROBE, n_sub=_Q269_M,
                           scale=_Q269_SCALE)
        per = one if per is None else per.unionAll(one)
    # |probes| × topk rows from here down — driver-small window
    w = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc("nn"))
    return (per.withColumn("rn", F.row_number().over(w).cast("int"))
            .select("qid", "rn", "nn", "adc_d2")
            .orderBy("qid", "rn"))

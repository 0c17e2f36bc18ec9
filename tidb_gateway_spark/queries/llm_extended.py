"""Q72–Q93: extended LLM-data-pipeline operators (driver-mandated
families beyond the declared Q60–Q66; SURVEY.md §2B-ext).

Each query is the declared check for an ``operators/`` transform; the
DuckDB oracle recomputes the identical deterministic signatures
(md5-keyed MinHash, hex-digit SimHash, strided fingerprints), so these
are full value-level cross-engine checks, not rows-only smoke tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.functions import stable_round
from tidb_gateway_spark.operators import dedup, text as text_ops
from tidb_gateway_spark.operators.dedup import (
    DDB_BANDS,
    DDB_CAND_CHAIN,
    DDB_SHINGLES,
    DDB_SIGS,
    DDB_SIMHASH_SIGS,
    ddb_cand,
    ddb_components,
    ddb_jaccard,
    ddb_near_dup,
    ddb_verified,
)
from tidb_gateway_spark.operators.localrel import local_rows_df
from tidb_gateway_spark.operators.multimodal import ddb_payload_byte
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.sampling import ddb_hash_bps
from tidb_gateway_spark.operators.similarity import (
    DDB_IVF_CELLS,
    IVF_CELLS,
    IVF_NPROBE,
    cosine_nn_arrow,
    ddb_top_cells,
    hyperplanes,
)
from tidb_gateway_spark.operators.text import DDB_QSCORE
from tidb_gateway_spark.queries.registry import register
from tidb_gateway_spark.sources import derived

# ---------------------------------------------------------------- Q72
_Q72_ORACLE = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, {ddb_cand()} "
    "SELECT a, b FROM cand ORDER BY a, b"
)


@register(
    "q72_minhash_lsh_candidates",
    _Q72_ORACLE,
    doc="MinHash(k=6) + LSH(3 bands × 2 rows) near-dup candidate pairs "
        "over 3-word shingle sets — operators/dedup.py:minhash_lsh_candidates. "
        "Scale path: the band equi-join replaces any O(n²) comparison.",
    tags=("dedup", "llm", "minhash"),
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(d).orderBy("a", "b")


# ---------------------------------------------------------------- Q73
_Q73_ORACLE = (
    f"WITH {DDB_SIMHASH_SIGS}, "
    "g AS (SELECT sh, COUNT(*) AS m FROM sh GROUP BY sh) "
    "SELECT COUNT(*) AS u, CAST(SUM(m) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS c FROM g"
)


@register(
    "q73_simhash_clusters",
    _Q73_ORACLE,
    doc="16-bit SimHash signatures (operators/dedup.py:simhash): distinct "
        "signatures u, docs n, collision buckets c.",
    tags=("dedup", "llm", "simhash"),
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = dedup.simhash(d)
    g = sh.groupBy("sh").agg(F.count("*").alias("m"))
    return g.agg(
        F.count("*").alias("u"),
        F.sum("m").alias("n"),
        F.sum(F.when(F.col("m") > 1, 1).otherwise(0)).alias("c"),
    )


# ---------------------------------------------------------------- Q74
_Q74_ORACLE = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, {DDB_CAND_CHAIN} "
    f"SELECT t.a, t.b, FLOOR(({ddb_jaccard()})*10000 + 0.5)/10000 AS jac "
    "FROM inter t JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
    f"WHERE {ddb_near_dup()} ORDER BY a, b"
)


@register(
    "q74_jaccard_verify",
    _Q74_ORACLE,
    doc="Exact shingle-set Jaccard ≥ 0.5 on the q72 LSH candidates "
        "(operators/dedup.py:near_dup_pairs) — verify stage of the "
        "candidate→verify near-dup pipeline; cost ∝ candidates.",
    tags=("dedup", "llm", "minhash"),
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        dedup.near_dup_pairs(d)
        .select("a", "b", stable_round(F.col("jac"), 4).alias("jac"))
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------- Q75
_Q75_ORACLE = (
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
    "pairs AS (SELECT a.vec_id AS qid, b.vec_id AS nn, "
    "list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cs "
    "FROM v a JOIN v b ON b.vec_id <> a.vec_id WHERE a.vec_id < 20), "
    "ranked AS (SELECT qid, nn, cs, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY cs DESC, nn) AS rn FROM pairs) "
    "SELECT qid, nn, FLOOR(cs*10000 + 0.5)/10000 AS cs FROM ranked WHERE rn = 1 ORDER BY qid"
)


@register(
    "q75_cosine_nearest_neighbor",
    _Q75_ORACLE,
    doc="Exact cosine nearest neighbor for the first 20 vectors "
        "(embedding-cosine near-dup primitive): broadcast the 20-row "
        "probe side, scan the corpus once, per-probe argmax as a "
        "max(struct) aggregate — partial-aggregable map-side, so each "
        "corpus partition reduces to ≤20 rows before the shuffle; no "
        "per-probe sort, no corpus-sized window partitions at 100 TB.",
    tags=("similarity", "llm"),
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # The probe set is metadata-sized (20 rows) — collected into the task
    # closure like rank.py's bucket boundaries, never row data.  Memoized
    # on the corpus file (derived.memo) so repeat queries skip the probe
    # job; a rewritten corpus recomputes.
    probes = derived.memo("q75", f"{sf_dir}/embeddings.parquet", lambda: [
        (r["vec_id"], list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < 20)
                  .select("vec_id", "embedding").collect()
    ])
    corpus = e.select(F.col("vec_id").alias("nn"),
                      F.col("embedding").alias("ce"))
    # Arrow-batched numpy scan with per-batch partial argmax (see
    # operators/similarity.py:cosine_nn_arrow): one BLAS matmul per
    # batch, ≤ n_probes rows emitted per batch, so the shuffle is
    # O(batches × probes) — same reduction shape as the previous JVM
    # max(struct) plan, ~20× faster on the dense arithmetic.
    best = cosine_nn_arrow(corpus, probes)
    return (
        best.select("qid", "nn", stable_round(F.col("cs"), 4).alias("cs"))
        .orderBy("qid")
    )


# ---------------------------------------------------------------- Q76
_PLANES = 4
_DIM = 64


def _ddb_plane_literal(plane: list[float]) -> str:
    return "[" + ",".join(str(v) for v in plane) + "]::DOUBLE[]"


def _q76_oracle() -> str:
    planes = hyperplanes(_PLANES, _DIM)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_ddb_plane_literal(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return (
        f"WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings), "
        "q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0) "
        "SELECT e.vec_id, "
        "FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))*10000 + 0.5)/10000 AS dp "
        "FROM b e CROSS JOIN q WHERE e.bucket = q.qb AND e.vec_id <> 0 "
        "ORDER BY dp DESC, e.vec_id LIMIT 3"
    )


@register(
    "q76_ann_lsh_bucket",
    _q76_oracle(),
    doc="ANN via random-hyperplane LSH (4 deterministic md5-seeded "
        "planes → 16 buckets) against a MATERIALIZED bucketed index: "
        "operators/similarity.py:ann_index builds (once, vectorized "
        "numpy bucketing) a parquet table partitioned by bucket; the "
        "query filters on its literal bucket id, which Catalyst turns "
        "into a PartitionFilter — the scan touches corpus/2^p rows, "
        "then exact dot-product rerank.  This is the 100 TB shape: the "
        "bucket id IS the index table's partition key, per-query cost "
        "is one partition, and the one-pass build amortizes like "
        "ANALYZE stats.  Index-less fallback: lsh_bucket_topk.",
    tags=("similarity", "llm", "ann"),
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import ann_index, ann_query

    idx = ann_index(spark, f"{sf_dir}/embeddings.parquet",
                    n_planes=_PLANES, dim=_DIM)
    # The probe is one indexed row here only because the fixture has no
    # external caller — a real deployment receives the query vector with
    # the request and runs zero probe jobs.  Fetch once per corpus and
    # memoize: 1-row metadata, same sanction as rank.py's boundary
    # scalars.
    def probe_row():
        qrow = (idx.filter(F.col("vec_id") == 0)
                .select("embedding", "bucket").head())
        return qrow["bucket"], list(qrow["embedding"])

    bucket, qvec = derived.memo("q76", f"{sf_dir}/embeddings.parquet",
                                probe_row)
    return ann_query(idx, bucket, qvec, k=3, exclude_id=0)


# ---------------------------------------------------------------- Q94
_Q94_ORACLE = (
    f"WITH {DDB_IVF_CELLS}, "
    "q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id = 0), "
    f"{ddb_top_cells('qcells', 'q')} "
    "SELECT x.vec_id, FLOOR(list_dot_product(x.e, q.qe)*10000 + 0.5)/10000 AS dp "
    "FROM cells x CROSS JOIN q "
    "WHERE x.cell IN (SELECT cid FROM qcells) AND x.vec_id <> 0 "
    "ORDER BY dp DESC, x.vec_id LIMIT 3"
)


@register(
    "q94_ivf_ann",
    _Q94_ORACLE,
    doc="IVF-partitioned ANN (the second ANN family from the brief, "
        "complementing hyperplane-LSH q76): vectors assigned to their "
        "argmax-inner-product coarse cell (deterministic seed "
        "centroids = the 8 lowest-id vectors, so the oracle reproduces "
        "the assignment), corpus MATERIALIZED as parquet partitioned "
        "by cell (operators/similarity.py:ivf_index), query probes its "
        "top-2 cells via a client-side 8x64 matmul and a `cell IN` "
        "literal filter -> partition pruning, exact rerank.  Recall "
        "grows with nprobe; scan cost = nprobe/n_cells of the corpus.",
    tags=("similarity", "llm", "ann"),
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_query,
    )

    path = f"{sf_dir}/embeddings.parquet"
    idx = ivf_index(spark, path, n_cells=IVF_CELLS)
    cents = derived.memo(
        "q94", path, lambda: ivf_centroids(spark, path, IVF_CELLS))
    # the probe is vec_id 0, which IS centroid 0 — no extra fetch
    return ivf_query(idx, cents, cents[0], k=3, nprobe=IVF_NPROBE,
                     exclude_id=0)


# ---------------------------------------------------------------- Q95
_Q95_ORACLE = (
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
    "s AS (SELECT vec_id, e, "
    "greatest(list_max(list_transform(e, x -> abs(x))) / 127.0, 1e-30) AS sc FROM v), "
    "qv AS (SELECT vec_id, sc, "
    "list_transform(e, x -> floor(x / sc + 0.5)) AS q FROM s), "
    "p AS (SELECT sc AS psc, q AS pq FROM qv WHERE vec_id = 0) "
    "SELECT x.vec_id, "
    "FLOOR((list_dot_product(x.q, p.pq) * x.sc * p.psc)*10000 + 0.5)/10000 AS adp "
    "FROM qv x CROSS JOIN p WHERE x.vec_id <> 0 "
    "ORDER BY adp DESC, x.vec_id LIMIT 5"
)


@register(
    "q95_int8_quantized_topk",
    _Q95_ORACLE,
    doc="Symmetric per-vector int8 quantization of the embedding column "
        "(operators/similarity.py:with_int8_quantized — 4x storage cut, "
        "the 100 TB embedding-store path) + top-5 by the dequantized "
        "approximate dot product against the vec_id=0 probe.  The codes "
        "are MATERIALIZED at ingest (similarity.py:int8_index, mtime-"
        "staleness like the ANN/IVF indexes) so the query touches only "
        "the tinyint codes + scales — ¼ the scan bytes, no per-query "
        "re-quantization of the float corpus.  The integer dot is EXACT "
        "in both engines (|q|<=127, 64-dim sums << 2^53), so only the "
        "two final scale multiplies touch float rounding — deterministic "
        "left-associated in both.",
    tags=("similarity", "llm", "quantization"),
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tidb_gateway_spark.operators.similarity import (
        int8_index,
        probe_dot,
        quantize_vector,
        topk,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    e = load_table(spark, sf_dir, "embeddings")

    def probe():
        row = e.filter(F.col("vec_id") == 0).select("embedding").head()
        return quantize_vector(list(row["embedding"]))

    psc, pq = derived.memo("q95", path, probe)
    qdf = int8_index(spark, path)
    adp = probe_dot("qvec", pq) * F.col("qscale") * F.lit(float(psc))
    return topk(qdf, "vec_id", adp, 5, exclude_id=0, name="adp")


# ---------------------------------------------------------------- Q77
_DDB_LANG_PRED = (
    "CASE "
    "WHEN (length(text) - length(replace(text,'e',''))) * 1.0 / length(text) >= 0.10 THEN 'en' "
    "WHEN (length(text) - length(replace(text,'a',''))) * 1.0 / length(text) >= 0.10 THEN 'es' "
    "WHEN (length(text) - length(replace(text,' ',''))) * 1.0 / length(text) >= 0.18 THEN 'fr' "
    "ELSE 'other' END"
)


@register(
    "q77_lang_id_heuristic",
    f"SELECT lang, {_DDB_LANG_PRED} AS pred, COUNT(*) AS n FROM documents "
    "GROUP BY 1, 2 ORDER BY lang, pred",
    doc="Language-ID heuristic (operators/text.py:lang_id) × labeled lang "
        "— confusion-matrix counts. Single scan, codegen-only.",
    tags=("text", "llm"),
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelism guard: three char counts per document run map-side in
    # the partial aggregate — spread them (operators/partitioning.py)
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return (
        d.groupBy(F.col("lang"), text_ops.lang_id(F.col("text")).alias("pred"))
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred")
    )


# ---------------------------------------------------------------- Q78
@register(
    "q78_quality_score_histogram",
    f"SELECT CAST(FLOOR(({DDB_QSCORE}) * 20) AS INT) AS bucket, COUNT(*) AS n "
    "FROM documents GROUP BY 1 ORDER BY bucket",
    doc="Quality-score histogram (operators/text.py:quality_score): "
        "length/space-density/word-length composite, bucketed at 0.05.",
    tags=("text", "llm"),
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelism guard: see q77
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    qs = text_ops.quality_score(F.col("text"), F.col("n_chars"))
    return (
        d.groupBy(F.floor(qs * 20).cast("int").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q79
@register(
    "q79_token_count_stats",
    "SELECT source, "
    f"CAST(SUM({text_ops.ddb_word_count()}) AS BIGINT) AS wt, "
    f"CAST(SUM(len(regexp_extract_all(text, '{text_ops.BPE_PATTERN}'))) AS BIGINT) AS bt "
    "FROM documents GROUP BY source ORDER BY source",
    doc="Token counting per source: whitespace tokens + BPE-ish regex "
        "tokens (operators/text.py:word_count/bpe_token_count).",
    tags=("text", "llm"),
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelism guard: split + regexp_count per document, map-side
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return (
        d.groupBy("source")
        .agg(
            F.sum(text_ops.word_count()).alias("wt"),
            F.sum(text_ops.bpe_token_count(F.col("text"))).alias("bt"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q80
_DDB_FP = (
    "list_aggregate(list_transform(range(1, greatest(1, length(text) - 15) + 1, 8), "
    "i -> md5(substr(text, i, 16))), 'min')"
)


@register(
    "q80_fingerprint_rolling_hash",
    f"WITH fps AS (SELECT {_DDB_FP} AS fp FROM documents), "
    "g AS (SELECT fp, COUNT(*) AS m FROM fps GROUP BY fp) "
    "SELECT COUNT(*) AS u, CAST(SUM(m) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS c FROM g",
    doc="Document fingerprinting via strided rolling-hash shingles "
        "(operators/text.py:fingerprint): distinct fingerprints u, docs "
        "n, collision buckets c.",
    tags=("text", "llm", "dedup"),
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelism guard: ~250 map-side md5 calls per document must not
    # single-thread on a one-row-group table (operators/partitioning.py)
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    g = (
        d.select(text_ops.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("m"))
    )
    return g.agg(
        F.count("*").alias("u"),
        F.sum("m").alias("n"),
        F.sum(F.when(F.col("m") > 1, 1).otherwise(0)).alias("c"),
    )


# ---------------------------------------------------------------- Q81
# Oracle recomputes the stub decode from md5 hex chars
# (operators/multimodal.py:ddb_payload_byte).
_Q81_ORACLE = (
    "WITH hx AS (SELECT md5(text) AS h FROM documents), "
    f"meta AS (SELECT CAST({ddb_payload_byte(0)} % 64 + 16 AS INT) AS width, "
    f"CAST({ddb_payload_byte(1)} % 64 + 16 AS INT) AS height, "
    f"(CASE {ddb_payload_byte(2)} % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' "
    "ELSE 'webp' END) AS fmt FROM hx) "
    "SELECT fmt, COUNT(*) AS n, FLOOR(AVG(width)*100 + 0.5)/100 AS aw, "
    "FLOOR(AVG(height)*100 + 0.5)/100 AS ah FROM meta GROUP BY fmt ORDER BY fmt"
)


@register(
    "q81_multimodal_decode_stub",
    _Q81_ORACLE,
    doc="Multimodal binary-column pipeline: synthetic payload bytes → "
        "Arrow-batched mapInPandas decode stub → metadata aggregate "
        "(operators/multimodal.py). The oracle recomputes the stub's "
        "byte arithmetic from md5 hex, so the whole mapInPandas path is "
        "value-checked, not just row-counted.",
    tags=("multimodal", "llm", "pandas_udf"),
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    decoded = multimodal.decode_metadata(multimodal.with_synthetic_binary(d))
    return (
        decoded.groupBy("fmt")
        .agg(
            F.count("*").alias("n"),
            stable_round(F.avg("width"), 2).alias("aw"),
            stable_round(F.avg("height"), 2).alias("ah"),
        )
        .orderBy("fmt")
    )


# ---------------------------------------------------------------- Q82
@register(
    "q82_deterministic_split",
    f"SELECT CASE WHEN {ddb_hash_bps('doc_id', 'split')} < 9000 "
    "THEN 'train' ELSE 'eval' END AS part, "
    "COUNT(*) AS n, COUNT(DISTINCT lang) AS nl FROM documents "
    "GROUP BY 1 ORDER BY part",
    doc="Deterministic 90/10 train-eval split by hashed doc_id "
        "(operators/sampling.py) — stable across partitionings and "
        "engines, unlike seed-based df.sample; the oracle recomputes the "
        "md5 bucket from hex arithmetic.",
    tags=("llm", "sampling"),
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    part = F.when(
        sampling.hash_bps(F.col("doc_id"), "split") < 9000, "train"
    ).otherwise("eval")
    return (
        d.groupBy(part.alias("part"))
        .agg(F.count("*").alias("n"), F.countDistinct("lang").alias("nl"))
        .orderBy("part")
    )


# ---------------------------------------------------------------- Q83
@register(
    "q83_hash_sample_per_stratum",
    "SELECT lang, COUNT(*) AS n FROM documents "
    f"WHERE {ddb_hash_bps('doc_id', 'sample')} < 2000 "
    "GROUP BY lang ORDER BY lang",
    doc="~20% deterministic hash sample, counted per language stratum "
        "(operators/sampling.py:hash_sample) — uniformity within strata "
        "falls out of hash independence.",
    tags=("llm", "sampling"),
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.hash_sample(d, "doc_id", 2000, "sample")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q84
@register(
    "q84_corpus_statistics",
    f"WITH toks AS ({text_ops.ddb_word_rows('doc_id')}) "
    "SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT w) AS vocab, "
    "FLOOR((CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)/1000000 AS ttr "
    "FROM toks",
    doc="Corpus statistics: token count, vocabulary size, type-token "
        "ratio — the dataset-card numbers for a training corpus.",
    tags=("llm", "text"),
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = text_ops.word_rows(d)
    return toks.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("w").alias("vocab"),
        stable_round(
            F.countDistinct("w").cast("double") / F.count("*"), 6
        ).alias("ttr"),
    )


# ---------------------------------------------------------------- Q85
@register(
    "q85_length_percentiles",
    "SELECT lang, CAST(quantile_cont(n_chars, 0.25) AS DOUBLE) AS p25, "
    "CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50, "
    "CAST(quantile_cont(n_chars, 0.75) AS DOUBLE) AS p75 "
    "FROM documents GROUP BY lang ORDER BY lang",
    doc="Exact length percentiles per language (Spark percentile ↔ "
        "DuckDB quantile_cont share linear interpolation semantics; "
        "probed bitwise-equal). At 100 TB use approx_percentile.",
    tags=("llm", "text", "agg"),
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.expr("CAST(percentile(n_chars, 0.25D) AS DOUBLE)").alias("p25"),
            F.expr("CAST(percentile(n_chars, 0.5D) AS DOUBLE)").alias("p50"),
            F.expr("CAST(percentile(n_chars, 0.75D) AS DOUBLE)").alias("p75"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q90
@register(
    "q90_incremental_dedup_anti_join",
    "WITH seen AS (SELECT md5(text) AS h FROM documents "
    f"WHERE {ddb_hash_bps('doc_id', 'sample')} < 5000) "
    "SELECT COUNT(*) AS novel, (SELECT COUNT(*) FROM documents) AS total FROM documents d "
    "WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = md5(d.text))",
    doc="Incremental dedup: new-batch documents anti-joined against a "
        "prior snapshot's content hashes (the daily-ingest shape — the "
        "'snapshot' here is a deterministic half-sample). The anti join "
        "shuffles 16-byte hashes only.",
    tags=("dedup", "llm"),
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    seen = sampling.hash_sample(d, "doc_id", 5000, "sample").select(
        F.md5("text").alias("h")
    )
    novel = (
        d.select("doc_id", F.md5("text").alias("h"))
        .join(seen, "h", "left_anti")
        .agg(F.count("*").alias("novel"))
    )
    total = d.agg(F.count("*").alias("total"))
    return novel.crossJoin(total)


# ---------------------------------------------------------------- Q91
@register(
    "q91_contamination_check",
    f"WITH {DDB_SHINGLES}, "
    "bench AS (SELECT DISTINCT w FROM shingles WHERE doc_id < 10), "
    "hits AS (SELECT DISTINCT s.doc_id FROM shingles s JOIN bench b ON s.w = b.w "
    "WHERE s.doc_id >= 10) "
    "SELECT COUNT(*) AS contaminated FROM hits",
    doc="Eval-contamination detection: corpus documents sharing any "
        "3-word shingle with a benchmark set (doc_id < 10) via semi-join "
        "on shingles — the standard decontamination pass before "
        "training; cost ∝ shingles, never pairwise.",
    tags=("dedup", "llm", "text"),
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    shingles = dedup.doc_shingles(d)
    bench = shingles.filter(F.col("doc_id") < 10).select("w").distinct()
    return (
        shingles.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "w", "left_semi")
        .select("doc_id")
        .distinct()
        .agg(F.count("*").alias("contaminated"))
    )


# ---------------------------------------------------------------- Q92
_PII_PATTERNS = {
    "email": "[a-z0-9._]+@[a-z0-9]+[.][a-z]+",
    "longnum": "[0-9]{6,}",
    "url": "https?://[^ ]+",
}


@register(
    "q92_pii_pattern_scan",
    "SELECT "
    + ", ".join(
        f"CAST(SUM(CASE WHEN regexp_matches(text, '{pat}') THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, pat in _PII_PATTERNS.items()
    )
    + ", COUNT(*) AS total FROM documents",
    doc="Safety/PII pattern scan: documents matching email/long-number/"
        "URL regexes (the pre-training filter pass). Single scan, all "
        "patterns evaluated per row inside codegen.",
    tags=("text", "llm"),
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelism guard: three regex scans per document run map-side in
    # the partial aggregate — spread them (operators/partitioning.py)
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    aggs = [
        F.sum(F.when(F.col("text").rlike(pat), 1).otherwise(0)).alias(name)
        for name, pat in _PII_PATTERNS.items()
    ]
    return d.agg(*aggs, F.count("*").alias("total"))


# ---------------------------------------------------------------- Q93
_ND_PLANES, _ND_TAU = 6, 0.35


def _q93_oracle() -> str:
    planes = hyperplanes(_ND_PLANES, _DIM)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_ddb_plane_literal(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cs = (
        "list_dot_product(x.e, y.e) / "
        "(sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))"
    )
    return (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
        f"b AS (SELECT vec_id, e, {bucket} AS bucket FROM v) "
        f"SELECT x.vec_id AS a, y.vec_id AS b, "
        f"FLOOR(({cs})*10000 + 0.5)/10000 AS cs "
        "FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id "
        f"WHERE {cs} >= {_ND_TAU} ORDER BY a, b"
    )


@register(
    "q93_embedding_neardup_pairs",
    _q93_oracle(),
    doc="Embedding-cosine near-duplicate pairs (cos >= 0.35) via "
        "hyperplane-LSH buckets: all-pairs scoring only within a "
        "bucket (one numpy matmul per bucket via applyInPandas), so "
        "work is sum(bucket^2) ~ n^2/2^p, never corpus-wide O(n^2) — "
        "operators/similarity.py:embedding_neardup_pairs.  Completes "
        "the dedup family: exact (q60), MinHash+LSH (q72), SimHash "
        "(q73), n-gram Jaccard (q74), embedding-cosine (this).",
    tags=("dedup", "similarity", "llm", "ann"),
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import embedding_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(e, tau=_ND_TAU, n_planes=_ND_PLANES, dim=_DIM)
    return (
        pairs.select("a", "b", stable_round(F.col("cs"), 4).alias("cs"))
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------- Q96
_PACK_BUDGET = 2048

_Q96_ORACLE = (
    f"WITH t AS (SELECT lang, doc_id, {text_ops.ddb_word_count()} AS tok "
    "FROM documents), "
    "c AS (SELECT lang, doc_id, tok, "
    "COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) "
    f"SELECT lang, CAST(cum // {_PACK_BUDGET} AS BIGINT) AS pack_id, "
    "COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS pack_tokens "
    "FROM c GROUP BY 1, 2 ORDER BY lang, pack_id"
)


@register(
    "q96_sequence_packing",
    _Q96_ORACLE,
    doc="Sequence packing for training (operators/packing.py): "
        "contiguous next-fit assignment of documents to fixed "
        f"{_PACK_BUDGET}-token context windows per language shard via "
        "an exclusive prefix sum of token counts; output is the "
        "per-pack utilization audit (doc count, token total).  One "
        "window shuffle on the shard key, integer-exact bucketing.",
    tags=("llm", "packing", "window"),
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.packing import pack_sequences, pack_stats

    d = load_table(spark, sf_dir, "documents").withColumn(
        "tok", text_ops.word_count()
    )
    packed = pack_sequences(d, "doc_id", "tok", _PACK_BUDGET, ("lang",))
    return pack_stats(packed, "tok", ("lang",))


# ---------------------------------------------------------------- Q97
# Downsample the over-represented languages toward a flatter mix (the
# documents fixture is ~39% en); zh/de kept in full via the default.
_MIX_RATES = {"en": 4000, "fr": 8000, "es": 8000}

_Q97_ORACLE = (
    "WITH r(rl, bps) AS (VALUES "
    + ", ".join(f"('{k}', {v})" for k, v in sorted(_MIX_RATES.items()))
    + "), k AS (SELECT d.lang, CASE WHEN "
    + ddb_hash_bps("doc_id", "mix")
    + " < COALESCE(r.bps, 10000) THEN 1 ELSE 0 END AS keep "
    "FROM documents d LEFT JOIN r ON d.lang = r.rl) "
    "SELECT lang, CAST(SUM(keep) AS BIGINT) AS kept, COUNT(*) AS total "
    "FROM k GROUP BY lang ORDER BY lang"
)


@register(
    "q97_mixture_resample",
    _Q97_ORACLE,
    doc="Domain-mixture resampling (operators/sampling.py:"
        "mixture_keep/mixture_resample): deterministically downsample "
        "each language stratum to its target rate (en 40%, fr/es 80%, "
        "rest full) by hashed doc_id — the data-recipe mixing step.  "
        "Keep decision is a pure row function (no seed drift across "
        "partitionings); the kept-vs-total audit aggregates the "
        "decision in ONE partial-aggregated scan — no second scan, "
        "no join.",
    tags=("llm", "sampling"),
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    keep = sampling.mixture_keep(F.col("doc_id"), F.col("lang"), _MIX_RATES)
    return (
        d.groupBy("lang")
        .agg(
            F.sum(keep.cast("int")).cast("bigint").alias("kept"),
            F.count("*").alias("total"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- Q98
_Q98_ORACLE = (
    f"WITH t AS (SELECT {text_ops.ddb_word_count()} AS n, "
    f"len(list_distinct({text_ops.ddb_words()})) AS u FROM documents) "
    "SELECT CAST(((n - u) * 10) // n AS INT) AS bucket, COUNT(*) AS n_docs "
    "FROM t WHERE n > 0 GROUP BY 1 ORDER BY bucket"
)


@register(
    "q98_word_repetition_filter",
    _Q98_ORACLE,
    doc="Gopher-style repetition filter (operators/text.py:"
        "word_repetition_bucket): duplicate-word fraction per document "
        "bucketed to deciles by integer arithmetic (bit-identical "
        "cross-engine), histogrammed.  High buckets are the "
        "boilerplate/keyword-stuffing documents a pre-training quality "
        "pass drops.  Codegen'd array ops, no explode; one "
        "partial-aggregated scan.",
    tags=("llm", "text", "quality"),
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelism guard: split + array_distinct per document, map-side.
    # n/u are UNCONDITIONAL projection columns rather than
    # text_ops.word_repetition_bucket's single when()-guarded
    # expression: Spark's codegen subexpression elimination skips
    # conditional branches, so the guarded form evaluated split() three
    # times per row (measured: no gain from the HOF-free rewrite until
    # this restructure).  The blank-doc guard becomes the Filter.
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    toks = text_ops.words()
    per = d.select(
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("u"),
    ).filter(F.col("n") > 0)
    bucket = F.floor((F.col("n") - F.col("u")) * 10 / F.col("n")).cast("int")
    return (
        per.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q99
_Q99_ORACLE = (
    f"WITH tok AS ({text_ops.ddb_word_rows('doc_id')}), "
    "tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2), "
    "dfreq AS (SELECT w, COUNT(*) AS dfc FROM tf GROUP BY 1), "
    "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
    "s AS (SELECT t.doc_id, t.w AS term, "
    "FLOOR(t.tf * ln(n_docs / dfc) * 10000 + 0.5)/10000 AS tfidf "
    "FROM tf t JOIN dfreq USING (w) CROSS JOIN n WHERE t.doc_id < 20), "
    "r AS (SELECT doc_id, term, tfidf, ROW_NUMBER() OVER ("
    "PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM s) "
    "SELECT doc_id, term, tfidf FROM r WHERE rn <= 3 "
    "ORDER BY doc_id, tfidf DESC, term"
)


@register(
    "q99_tfidf_top_terms",
    _Q99_ORACLE,
    doc="TF-IDF keyword extraction (operators/corpus.py:"
        "tfidf_top_terms): top-3 characteristic terms per document for "
        "a doc_id slice, scored tf * ln(N/df) over full-corpus "
        "document frequencies.  The TF branch filters to the slice "
        "BEFORE counting; df/N cover the corpus; both derive from one "
        "tokenize subtree (ReuseExchange).  Vocabulary-sized shuffles "
        "only; corpus scalars ride a 1-row broadcast, no collect.",
    tags=("llm", "text", "corpus"),
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.corpus import tfidf_top_terms

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return tfidf_top_terms(d, F.col("doc_id") < 20, k=3)


# ---------------------------------------------------------------- Q100
_Q100_ORACLE = (
    f"WITH wl AS (SELECT {text_ops.ddb_words()} AS l FROM documents), "
    "uni AS (SELECT UNNEST(l) AS w FROM wl), "
    "cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1), "
    "cb AS (SELECT b, COUNT(*) AS cxy FROM (SELECT UNNEST("
    "list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS b "
    "FROM wl WHERE len(l) >= 2) GROUP BY 1 HAVING COUNT(*) >= 5), "
    "tot AS (SELECT (SELECT CAST(SUM(c) AS DOUBLE) FROM cu) AS u_tot, "
    "(SELECT CAST(SUM(len(l) - 1) AS DOUBLE) FROM wl WHERE len(l) >= 1) "
    "AS b_tot), "
    "s AS (SELECT cb.b AS bigram, cb.cxy AS n, "
    "FLOOR(ln((cb.cxy / tot.b_tot) / "
    "((cx.c / tot.u_tot) * (cy.c / tot.u_tot))) * 10000 + 0.5)/10000 "
    "AS pmi FROM cb CROSS JOIN tot "
    "JOIN cu cx ON cx.w = string_split(cb.b, ' ')[1] "
    "JOIN cu cy ON cy.w = string_split(cb.b, ' ')[2]) "
    "SELECT bigram, CAST(n AS BIGINT) AS n, pmi FROM s "
    "ORDER BY pmi DESC, bigram LIMIT 20"
)


@register(
    "q100_pmi_collocations",
    _Q100_ORACLE,
    doc="PMI collocation detection (operators/corpus.py:pmi_bigrams): "
        "top-20 bigrams by pointwise mutual information with a "
        "support floor of 5 — fixed-phrase/boilerplate signal for "
        "corpus curation.  Bigrams built JVM-side from the token "
        "array (slice + arrays_zip, codegen'd, no positional "
        "self-join); unigram lookups join the vocabulary-sized count "
        "table; totals ride a 1-row broadcast.  Rounded-PMI ranking "
        "with bigram tie-break keeps the cut cross-engine stable.",
    tags=("llm", "text", "corpus"),
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.corpus import pmi_bigrams

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return pmi_bigrams(d, min_count=5, k=20)


# ---------------------------------------------------------------- Q101
_Q101_ORACLE = (
    f"WITH RECURSIVE {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    f"{DDB_CAND_CHAIN}, {ddb_verified()}, {ddb_components('ver', 'cl')} "
    "SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"
)


@register(
    "q101_dedup_clusters",
    _Q101_ORACLE,
    doc="Transitive closure of the verified near-dup pairs "
        "(operators/dedup.py:connected_components): every doc in a "
        "q74-verified pair labeled with the MIN doc_id of its "
        "connected component — the cluster map keep-one-per-group "
        "dedup consumes.  Iterative min-label propagation with "
        "pointer jumping (O(log d) rounds), per-round state is a "
        "(node,label) long-pair table; the DuckDB oracle recomputes "
        "the closure with a recursive CTE.",
    tags=("dedup", "llm", "graph"),
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ver = dedup.near_dup_pairs(d).select("a", "b")
    return dedup.connected_components(ver).orderBy("doc_id")


# ---------------------------------------------------------------- Q130
_Q130_ORACLE = (
    f"WITH {DDB_SIMHASH_SIGS}, "
    "q AS (SELECT doc_id, ("
    + DDB_QSCORE +
    ") AS q FROM documents), "
    "r AS (SELECT s.sh, s.doc_id, q.q, "
    "ROW_NUMBER() OVER (PARTITION BY s.sh ORDER BY q.q DESC, s.doc_id) AS rn, "
    "COUNT(*) OVER (PARTITION BY s.sh) AS m "
    "FROM sh s JOIN q ON q.doc_id = s.doc_id) "
    "SELECT COUNT(*) AS clusters, CAST(SUM(m) AS BIGINT) AS n, "
    "CAST(SUM(doc_id) AS BIGINT) AS ck, "
    "CAST(SUM(CAST(FLOOR(q*10000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum "
    "FROM r WHERE rn = 1"
)


@register(
    "q130_canonical_doc_per_cluster",
    _Q130_ORACLE,
    doc="Canonical-document selection per near-dup cluster — the KEEP "
        "side of dedup: within each 16-bit SimHash signature group "
        "(q73's clustering), keep the highest-quality document "
        "(operators/text.py:quality_score, doc_id tiebreak). The argmax "
        "is a max(struct(q, -doc_id)) AGGREGATE — one partial-combined "
        "shuffle keyed by signature, never a per-group sort or window "
        "over the corpus. Declared output is the cluster/doc counts "
        "plus canonical-id and integerized-quality checksums (the "
        "canonical SET, verified order-independently). Both engines "
        "compute quality from the same integers, so the double argmax "
        "ordering is bit-identical cross-engine.",
    tags=("dedup", "llm", "quality"),
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    sh = dedup.simhash(d)
    q = d.select(
        "doc_id",
        text_ops.quality_score(F.col("text"), F.col("n_chars")).alias("q"),
    )
    per = (
        sh.join(q, "doc_id")
        .groupBy("sh")
        .agg(
            F.count("*").alias("m"),
            F.max(
                F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))
            ).alias("b"),
        )
    )
    return per.agg(
        F.count("*").alias("clusters"),
        F.sum("m").alias("n"),
        F.sum(-F.col("b.nid")).alias("ck"),
        F.sum(
            F.floor(F.col("b.q") * 10000 + 0.5).cast("long")
        ).alias("qsum"),
    )


# ---------------------------------------------------------------- Q142
_Q142_ORACLE = (
    "WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings), "
    "per AS (SELECT label, "
    "len(list_filter(e, x -> x > 0)) * 1.0 / len(e) AS posfrac, "
    "list_sum(list_transform(e, x -> abs(x))) AS l1, "
    "(CASE WHEN len(list_filter(e, x -> abs(x) > 1)) = 0 "
    "THEN 1 ELSE 0 END) AS bounded, "
    "(CASE WHEN len(list_filter(e, x -> x > 0.25)) > 0 "
    "THEN 1 ELSE 0 END) AS hot FROM v) "
    "SELECT label, COUNT(*) AS n, "
    "FLOOR(AVG(posfrac)*10000 + 0.5)/10000 AS pf, "
    "FLOOR(AVG(l1)*10000 + 0.5)/10000 AS al1, "
    "CAST(SUM(bounded) AS BIGINT) AS nb, CAST(SUM(hot) AS BIGINT) AS nh "
    "FROM per GROUP BY label ORDER BY label"
)


@register(
    "q142_hof_vector_stats",
    _Q142_ORACLE,
    doc="Higher-order-function family over array<float> vectors "
        "(transform/filter/aggregate/forall/exists — the Spark "
        "primitives every custom vector op composes from): per-label "
        "positive-dim fraction, L1 norm, bounded-ness (forall |x|≤1) "
        "and hot-dim (exists x>0.25) counts. Elements are cast "
        "float→double BEFORE reduction (exact) and each row reduces in "
        "array order, so per-row values are bit-identical cross-engine. "
        "One scan, one |labels|-row aggregate; HOFs run on the JVM "
        "inside the scan stage (no Python worker round-trip).",
    tags=("similarity", "hof", "llm"),
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    per = e.select(
        "label",
        (F.size(F.filter(ed, lambda x: x > 0))
         / F.size(ed)).alias("posfrac"),
        F.aggregate(
            ed, F.lit(0.0), lambda a, x: a + F.abs(x)).alias("l1"),
        F.forall(ed, lambda x: F.abs(x) <= 1).cast("long").alias("bounded"),
        F.exists(ed, lambda x: x > 0.25).cast("long").alias("hot"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            stable_round(F.avg("posfrac"), 4).alias("pf"),
            stable_round(F.avg("l1"), 4).alias("al1"),
            F.sum("bounded").alias("nb"),
            F.sum("hot").alias("nh"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------- Q143
@register(
    "q143_approx_percentile_bounds",
    "SELECT FLOOR(quantile_cont(o_totalprice, 0.5)*100 + 0.5)/100 "
    "AS p50, "
    "FLOOR(quantile_cont(o_totalprice, 0.95)*100 + 0.5)/100 AS p95, "
    "TRUE AS ok50, TRUE AS ok95 FROM orders",
    doc="Approximate percentiles (Greenwald-Khanna sketch, "
        "percentile_approx) certified by ERROR BOUND like q129's HLL: "
        "sketch internals are engine-specific, so the declared output "
        "is the exact interpolated percentiles plus booleans asserting "
        "the approx lands within 1% relative error (accuracy=10000 → "
        "rank error ≤ n/10000; deterministic per dataset, not flaky). "
        "At 100 TB the sketch is THE percentile path: fixed-size "
        "mergeable state per partition vs a global sort.",
    tags=("agg", "approx", "percentile"),
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # ARRAY forms: percentile(col, array(...)) builds ONE per-partition
    # counts map / ONE GK sketch serving both quantiles — the separate
    # per-quantile aggregates each rebuilt that state (r7 measured at
    # sf1: exact 1.14 s → 0.60 s, approx 0.30 s → 0.18 s).
    a = o.agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.95))").alias("ex"),
        F.expr(
            "percentile_approx(o_totalprice, array(0.5, 0.95), 10000)"
        ).alias("ap"),
    ).select(
        F.col("ex")[0].alias("e50"), F.col("ex")[1].alias("e95"),
        F.col("ap")[0].alias("a50"), F.col("ap")[1].alias("a95"),
    )

    def ok(approx, exact):
        return (F.abs(F.col(approx) - F.col(exact))
                / F.col(exact) <= F.lit(0.01))

    return a.select(
        stable_round(F.col("e50"), 2).alias("p50"),
        stable_round(F.col("e95"), 2).alias("p95"),
        ok("a50", "e50").alias("ok50"),
        ok("a95", "e95").alias("ok95"),
    )


# ---------------------------------------------------------------- Q150
_Q150_ORACLE = (
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings), "
    "q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 20), "
    "c AS (SELECT vec_id, e FROM v), "
    "dp AS (SELECT q.qid, c.vec_id, "
    "list_dot_product(q.qe, c.e) AS df, "
    "list_dot_product(q.qe[1:16], c.e[1:16]) AS dt "
    "FROM q JOIN c ON c.vec_id <> q.qid), "
    "rf AS (SELECT qid, vec_id, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY df DESC, vec_id) AS r FROM dp), "
    "rt AS (SELECT qid, vec_id, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY dt DESC, vec_id) AS r FROM dp) "
    "SELECT rf.qid, rf.vec_id AS nn_full, rt.vec_id AS nn_trunc, "
    "(rf.vec_id = rt.vec_id) AS agree "
    "FROM rf JOIN rt ON rt.qid = rf.qid AND rt.r = 1 "
    "WHERE rf.r = 1 ORDER BY rf.qid"
)


@register(
    "q150_matryoshka_truncation_eval",
    _Q150_ORACLE,
    doc="Matryoshka-embedding evaluation: for each probe, the exact "
        "top-1 neighbor under the FULL 64-dim inner product vs under "
        "the first-16-dims TRUNCATION — the retrieval-quality check "
        "run before shipping truncated embeddings (4× storage/FLOPs "
        "cut). Both dots come from ONE corpus scan (zip_with+aggregate "
        "per row, float→double cast, array-order reduction — "
        "bit-identical cross-engine); per-probe argmax is the same "
        "max(struct) aggregate as q75, never a global sort. At 100 TB "
        "the probe side broadcasts and the corpus partitions the scan.",
    tags=("similarity", "llm", "ann", "matryoshka"),
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.similarity import matryoshka_nn_pairs

    e = load_table(spark, sf_dir, "embeddings")
    probes = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < 20)
        .select("vec_id", "embedding").collect()
    ]  # sanctioned collect: ≤20 probe vectors (metadata-sized)
    return matryoshka_nn_pairs(e, probes, trunc_dims=16).orderBy("qid")


# ---------------------------------------------------------------- Q155
_K_ANON = 5


@register(
    "q155_k_anonymity_audit",
    "WITH qi AS (SELECT lang, source, "
    "CAST(n_chars // 100 AS BIGINT) AS len_bucket, COUNT(*) AS m "
    "FROM documents GROUP BY 1, 2, 3) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS combos, "
    f"CAST(SUM(CASE WHEN m < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS risky_combos, "
    f"CAST(SUM(CASE WHEN m < {_K_ANON} THEN m ELSE 0 END) AS BIGINT) "
    "AS risky_docs, "
    "CAST(MIN(m) AS BIGINT) AS min_group FROM qi",
    doc="k-anonymity audit over quasi-identifiers (the privacy-release "
        "gate beside q92's direct-PII scan): documents grouped by the "
        "(lang, source, length-bucket) quasi-identifier tuple; any "
        "combination with fewer than k=5 members could re-identify its "
        "documents and is counted as risky. One partial-combined "
        "groupBy (shuffle carries one row per combo) + a metadata-"
        "sized summary — the audit costs one scan at any corpus size.",
    tags=("privacy", "llm", "quality"),
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    qi = (
        d.groupBy(
            "lang", "source",
            F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("len_bucket"),
        )
        .agg(F.count("*").alias("m"))
    )
    risky = F.col("m") < _K_ANON
    return qi.agg(
        F.count("*").alias("combos"),
        F.sum(risky.cast("long")).alias("risky_combos"),
        F.sum(F.when(risky, F.col("m")).otherwise(0)).alias("risky_docs"),
        F.min("m").alias("min_group"),
    )


# ---------------------------------------------------------------- Q208
# probe vec_ids [lo, hi) — disjoint from the IVF_CELLS seed centroids
_Q208_PROBES = (20, 30)

_Q208_ORACLE = (
    f"WITH {DDB_IVF_CELLS}, "
    "p AS (SELECT vec_id AS qid, e AS qe FROM v "
    f"WHERE vec_id >= {_Q208_PROBES[0]} AND vec_id < {_Q208_PROBES[1]}), "
    # exact NN per probe (dot product, ties vec-ascending)
    "exact AS (SELECT qid, vec_id AS nn FROM ("
    "SELECT p.qid, v.vec_id, ROW_NUMBER() OVER (PARTITION BY p.qid "
    "ORDER BY list_dot_product(v.e, p.qe) DESC, v.vec_id) AS rn "
    "FROM v CROSS JOIN p WHERE v.vec_id <> p.qid) WHERE rn = 1), "
    # per-probe probed cells (top-nprobe centroids)
    f"{ddb_top_cells('qc', 'p')}, "
    # IVF answer: argmax within probed cells only
    "ivf AS (SELECT qid, vec_id AS nn FROM ("
    "SELECT p.qid, x.vec_id, ROW_NUMBER() OVER (PARTITION BY p.qid "
    "ORDER BY list_dot_product(x.e, p.qe) DESC, x.vec_id) AS rn "
    "FROM cells x JOIN qc ON x.cell = qc.cid "
    "JOIN p ON p.qid = qc.qid WHERE x.vec_id <> p.qid) WHERE rn = 1) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, "
    "CAST(SUM(CASE WHEN e.nn = i.nn THEN 1 ELSE 0 END) AS BIGINT) "
    "AS hits, "
    "CAST(FLOOR(SUM(CASE WHEN e.nn = i.nn THEN 1 ELSE 0 END) * 10000.0 "
    "/ COUNT(*)) AS BIGINT) AS recall_bps "
    "FROM exact e JOIN ivf i USING (qid)"
)


@register(
    "q208_ann_recall_eval",
    _Q208_ORACLE,
    doc="ANN index quality evaluation — recall@1 of the IVF index "
        "(q94's machinery) against exact search, the audit every ANN "
        "deployment runs before trusting its index: 10 probe vectors "
        "answered BOTH ways — exact argmax over the full corpus, and "
        "IVF argmax over the nprobe=2 probed cells of the "
        "MATERIALIZED partition-pruned index — and scored by whether "
        "the ids agree.  Both argmaxes are max(struct(dp, -vec_id)) "
        "partial aggregates (each corpus partition reduces to "
        "≤|probes| rows before any exchange, the q75 shape — no "
        "corpus-sized window partitions); probes and probed-cell ids "
        "are metadata-sized broadcasts.  At 100 TB the eval runs "
        "exactly like this over a probe sample: cost = one full scan "
        "(the exact side — the price of ground truth) + nprobe/cells "
        "of a scan (the IVF side).",
    tags=("similarity", "llm", "ann", "governance"),
)
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from tidb_gateway_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        top_cells,
    )

    path = f"{sf_dir}/embeddings.parquet"
    e = load_table(spark, sf_dir, "embeddings")
    idx = ivf_index(spark, path, n_cells=IVF_CELLS)

    def probe_meta():
        cents = ivf_centroids(spark, path, IVF_CELLS)
        probes = [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in e.filter(
                (F.col("vec_id") >= _Q208_PROBES[0])
                & (F.col("vec_id") < _Q208_PROBES[1]))
            .select("vec_id", "embedding").collect()
        ]
        C = np.array(cents, dtype=np.float64)
        qcells = []
        for qid, qe in probes:
            s = C @ np.array(qe, dtype=np.float64)
            for cid in top_cells(s, IVF_NPROBE):
                qcells.append((qid, cid))
        return probes, qcells

    probes, qcells = derived.memo("q208", path, probe_meta)

    # Both argmaxes ride the q75 Arrow path (metric="dot": IVF's inner
    # product): one BLAS matmul per Arrow batch, ≤|probes| rows out per
    # batch, self-match excluded inside the kernel.  The JVM
    # zip_with-aggregate form measured 10.7 s at sf10 vs ~1 s here —
    # dense linear algebra is the sanctioned Python stage.
    corpus = e.select(F.col("vec_id").alias("nn"),
                      F.col("embedding").alias("ce"))
    exact = cosine_nn_arrow(corpus, probes, metric="dot").select("qid", "nn")

    # IVF side: ALL probes ride ONE partition-pruned scan of the union
    # of their probed cells, with each probe's candidate set enforced by
    # the per-probe cell mask inside the Arrow kernel — one matmul pass,
    # one shuffle (the per-probe-job form ran 10 separate Arrow jobs:
    # 6.2 → ~1.5 s at sf1).
    qmap: dict[int, list[int]] = {}
    for qid, cid in qcells:
        qmap.setdefault(qid, []).append(cid)
    all_cells = sorted({c for cs in qmap.values() for c in cs})
    cand = idx.filter(F.col("cell").isin(all_cells)).select(
        F.col("vec_id").alias("nn"), F.col("embedding").alias("ce"),
        "cell")
    ivf = cosine_nn_arrow(
        cand, probes, metric="dot", cell_col="cell", probe_cells=qmap,
    ).select("qid", "nn")

    j = exact.join(ivf.withColumnRenamed("nn", "ivf_nn"), "qid")
    hit = (F.col("nn") == F.col("ivf_nn")).cast("long")
    return j.agg(
        F.count("*").alias("n_probes"),
        F.sum(hit).alias("hits"),
        F.floor(F.sum(hit) * 10000.0 / F.count("*"))
        .cast("bigint").alias("recall_bps"),
    )


# ---------------------------------------------------------------- Q209
_Q209_D = 0.85       # damping
_Q209_ITERS = 5      # statically unrolled power iterations
_Q209_TOPK = 10


def _q209_oracle() -> str:
    its = []
    for k in range(1, _Q209_ITERS + 1):
        its.append(
            f"it{k} AS (SELECT e.dst AS node, "
            f"(SELECT {1 - _Q209_D:.2f}/nn FROM n) + {_Q209_D}*"
            f"SUM(p.pr/d.dg) AS pr FROM edges e "
            f"JOIN it{k - 1} p ON p.node = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
    return (
        f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
        # AS MATERIALIZED: the edges CTE is referenced by every
        # iteration; without the hint DuckDB inlines the whole
        # MinHash pipeline into each reference and spilled >70 GB at
        # sf1 (the engine side needs no hint — each iteration is one
        # stage over the same lineage)
        f"{ddb_cand(materialized=True)}, "
        "edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM cand "
        "UNION ALL SELECT b, a FROM cand), "
        "deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS dg "
        "FROM edges GROUP BY src), "
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM deg), "
        "it0 AS (SELECT src AS node, 1.0/nn AS pr FROM deg, n), "
        + ", ".join(its) + " "
        f"SELECT node AS doc_id, FLOOR(pr*1e9 + 0.5)/1e9 AS pr "
        f"FROM it{_Q209_ITERS} "
        "ORDER BY FLOOR(pr*1e9 + 0.5)/1e9 DESC, node "
        f"LIMIT {_Q209_TOPK}"
    )


# Edge-row threshold below which the power iteration runs driver-side
# (the q101 union-find hybrid pattern): 2 M edge rows × 16 B is
# metadata-scale, and five numpy scatter-add rounds beat five Spark
# stages by ~10× at fixture sizes.  Above it, the distributed unrolled
# loop takes over (same math, certified equal by
# tests/test_operators.py::test_q209_distributed_path_matches_driver).
_Q209_DRIVER_EDGES = 2_000_000


def _q209_rank_distributed(edges, deg, ncnt) -> DataFrame:
    """Unrolled distributed power iteration (the >threshold path):
    each round is ONE node-keyed join+aggregate shuffle over the
    persisted graph."""
    r = (
        deg.crossJoin(F.broadcast(ncnt))
        .select(F.col("src").alias("node"),
                (F.lit(1.0) / F.col("nn")).alias("pr"))
    )
    for _ in range(_Q209_ITERS):
        contrib = (
            edges.join(r, edges["src"] == r["node"])
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("dg")).alias("c"))
        )
        r = (
            contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(ncnt))
            .select(
                F.col("dst").alias("node"),
                (F.lit(1 - _Q209_D) / F.col("nn")
                 + F.lit(_Q209_D) * F.col("s")).alias("pr"),
            )
        )
    return r


def _q209_rank_driver(spark: SparkSession, edge_pairs) -> DataFrame:
    """Driver-side power iteration for sub-threshold graphs: numpy
    scatter-add over the collected (sorted — collect order is not
    deterministic) edge list of (src, dst) pairs.  Summation-order
    float deltas vs the oracle are ~1e-15 relative — nine orders under
    the 1e-9 quantum."""
    import numpy as np

    pairs = sorted((s, t) for s, t in edge_pairs)
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[a] for a, _ in pairs], dtype=np.int64)
    dst = np.array([idx[b] for _, b in pairs], dtype=np.int64)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    for _ in range(_Q209_ITERS):
        out = np.zeros(n)
        np.add.at(out, dst, pr[src] / deg[src])
        pr = (1 - _Q209_D) / n + _Q209_D * out
    rows = [(int(nodes[i]), float(pr[i])) for i in range(n)]
    return local_rows_df(spark, rows, "doc_id bigint, pr double")


@register(
    "q209_neardup_pagerank",
    _q209_oracle(),
    doc="PageRank centrality over the near-duplicate candidate graph — "
        "the iterative-algorithm slot, made hash-certifiable by STATIC "
        "UNROLLING: nodes are documents with ≥1 MinHash-LSH candidate "
        "edge (q72's machinery, symmetrized), and five power "
        "iterations r' = (1−d)/N + d·Σ r/deg run as five unrolled "
        "join+aggregate stages — each iteration is ONE shuffle keyed "
        "on the node id, the plan depth grows linearly with "
        "iterations, and both engines execute the same bounded "
        "recursion so the result value-hashes (rank quantized 1e-9; "
        "float-sum ulps are ~1e-15 relative, nine orders below the "
        "quantum).  The most-central documents are the hubs of "
        "near-dup families — the ones whose removal dedups the most "
        "pairs, which is why dedup pipelines rank them.  HYBRID "
        "execution like q101's union-find: below 2 M edge rows the "
        "iteration runs driver-side (numpy scatter-add over the "
        "collected, sorted edge list — metadata-scale), above it the "
        "distributed unrolled loop takes over; the branches are "
        "certified equal (tests/test_operators.py).  The persisted "
        "edge list is graph-sized, never corpus-sized — without the "
        "persist every consumer re-ran the LSH pipeline (6.7 s "
        "first-cut → 0.95 s at sf1 = 0.71× DuckDB, whose oracle "
        "needs matching AS MATERIALIZED hints or it spills >70 GB "
        "inlining the pipeline per iteration).  At 100 TB the "
        "distributed shape iterates to convergence with per-round "
        "checkpoints instead of unrolling; edges carry (src, dst) "
        "ids only.",
    tags=("llm", "dedup", "graph", "iterative"),
)
def q209(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist, untrack

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # Persist the CANDIDATE PAIRS, not the symmetrized edge union:
    # persisting after unionAll meant the union's two branches each
    # re-ran the whole shingle→minhash→band pipeline during the
    # materializing action (2× pipeline cost — measured 3.9 s vs 2.2 s
    # for one pass at sf1).  The pair set is |candidate pairs| × 16 B —
    # graph-sized, never corpus-sized; every edge consumer (driver
    # collect, or both union branches of the distributed loop) now
    # reads the cache (the q114 diamond lesson; DuckDB needed the same
    # via AS MATERIALIZED).
    cand = tracked_persist(dedup.minhash_lsh_candidates(d))

    if cand.count() * 2 <= _Q209_DRIVER_EDGES:
        # symmetrize driver-side: the pair list is already collected
        pairs = [(r["a"], r["b"]) for r in cand.collect()]
        r = _q209_rank_driver(
            spark, pairs + [(b, a) for a, b in pairs])
        r = r.withColumnRenamed("doc_id", "node")
        # the driver branch has fully consumed the pair set — drop
        # the cache entry now instead of at session end
        untrack(cand)
    else:
        edges = cand.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionAll(
            cand.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        deg = edges.groupBy("src").agg(
            F.count("*").cast("double").alias("dg"))
        ncnt = deg.agg(F.count("*").cast("double").alias("nn"))
        r = _q209_rank_distributed(edges, deg, ncnt)

    prq = F.floor(F.col("pr") * 1e9 + 0.5) / 1e9
    return (
        r.select(F.col("node").alias("doc_id"), prq.alias("pr"))
        .orderBy(F.desc("pr"), "doc_id")
        .limit(_Q209_TOPK)
    )

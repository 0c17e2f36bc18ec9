"""Q210–Q213: pipeline-audit operators — the governance reports a
large-scale training-data curation run produces AFTER its dedup passes:
cross-document repeated-passage rates, semantic (embedding-space) dedup,
sketch-calibration evidence, and near-dup provenance across sources.

The reference relays these workloads as opaque SQL to its backends
(/root/reference/gateway/relay.go:47-66); each is declared here as a
DataFrame plan with a DuckDB oracle twin.

Scale design notes (100 TB):

* q210 (repeated passages) shuffles only md5 chunk hashes — never
  chunk text — through ONE chunk-hash exchange: an explicit
  repartition(h) satisfies the distinct AND the shared-count window
  (subset clustering), so the flag is computed in place with no
  aggregate+join-back diamond (the r10 rework; the old groupBy+join
  form re-executed the chunk+md5 chain twice and paid two extra
  h-exchanges).  This is RefinedWeb's line-dedup shape with
  fixed-width 8-token chunks standing in for lines (the fixture corpus
  has no line structure); chunk-hash cardinality grows with the corpus
  so the exchange spreads evenly.
* q211 (SemDeDup) is the Abbas-et-al. semantic-dedup contract: cell
  assignment is one Arrow/numpy int64 matmul per batch against a
  metadata-sized seed table, and all-pairs scoring happens only WITHIN
  a cell (Σ|cell|² ≪ n²).  Integer-quantized dots make the flags
  engine-reproducible — float dot sums are order-dependent, integer
  dots are not.
* q212 (MinHash calibration) audits the sketch the q72/q74 pipeline
  trusts: per signature-match count, how far the estimated Jaccard
  (matches/k) sits from the exact shingle-set Jaccard — computed only
  on the candidate set, all integer bps.  This is the measurement that
  justifies a chosen (k, bands) operating point before a 100 TB run.
* q213 (provenance matrix) joins the verified near-dup pairs back to
  their sources — dimension-sized output, candidate-sized shuffles;
  the matrix is what tells a curation run WHICH crawls/feeds overlap.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_gateway_spark.catalog import load_table
from tidb_gateway_spark.operators import dedup
from tidb_gateway_spark.operators import similarity
from tidb_gateway_spark.operators.dedup import (
    DDB_BANDS,
    DDB_CAND_CHAIN,
    DDB_SHINGLES,
    DDB_SIGS,
    DDB_SIMHASH_FLIPS,
    DDB_SIMHASH_SIGS,
)
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.queries.registry import register


def word_list() -> Column:
    """``wlist``: the whitespace-split tokens of ``text``, an empty
    array for blank text — the token array the passage and substring
    families (q210, q261, q264, q268) chunk and gram over."""
    t = F.trim(F.col("text"))
    return (F.when(t != "", F.split(t, " +"))
            .otherwise(F.expr("CAST(array() AS array<string>)"))
            .alias("wlist"))


# ---------------------------------------------------------------- Q210
_Q210_W = 8  # chunk width in tokens

# DuckDB: non-overlapping 8-token chunks; docs shorter than one chunk
# contribute no chunk rows (but still count in n_docs).
_Q210_ORACLE = (
    "WITH wl AS (SELECT doc_id, source, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS wl "
    "FROM documents), "
    "ch AS (SELECT doc_id, source, "
    f"UNNEST(list_transform(range(0, CAST(floor(len(wl) / {_Q210_W}) AS INT)), "
    f"i -> array_to_string(wl[i * {_Q210_W} + 1 : i * {_Q210_W} + {_Q210_W}], ' '))) "
    f"AS chunk FROM wl WHERE len(wl) >= {_Q210_W}), "
    "cd AS (SELECT DISTINCT doc_id, source, md5(chunk) AS h FROM ch), "
    "sh AS (SELECT h FROM cd GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2), "
    "fl AS (SELECT cd.doc_id, cd.source, "
    "CASE WHEN sh.h IS NULL THEN 0 ELSE 1 END AS f "
    "FROM cd LEFT JOIN sh ON sh.h = cd.h), "
    "rep AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS chunk_rows, "
    "CAST(SUM(f) AS BIGINT) AS shared_chunk_rows, "
    "CAST(COUNT(DISTINCT CASE WHEN f = 1 THEN doc_id END) AS BIGINT) "
    "AS docs_flagged FROM fl GROUP BY source), "
    "ds AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY source) "
    "SELECT ds.source, ds.n_docs, "
    "COALESCE(rep.docs_flagged, 0) AS docs_flagged, "
    "COALESCE(rep.chunk_rows, 0) AS chunk_rows, "
    "COALESCE(rep.shared_chunk_rows, 0) AS shared_chunk_rows, "
    "CAST(CASE WHEN COALESCE(rep.chunk_rows, 0) = 0 THEN 0 ELSE "
    "FLOOR(rep.shared_chunk_rows * 10000.0 / rep.chunk_rows) END AS BIGINT) "
    "AS shared_bps "
    "FROM ds LEFT JOIN rep USING (source) ORDER BY source"
)

# Spark: same chunking as a codegen'd SQL expression over the HOF-free
# token list (transform/sequence matches dedup._shingle_array_sql's
# idiom; ~n/8 chunks per doc, far lighter than the 3-gram shingling).
_Q210_CHUNKS_SQL = (
    f"CASE WHEN size(wlist) >= {_Q210_W} THEN "
    f"transform(sequence(0, CAST(floor(size(wlist) / {_Q210_W}) AS INT) - 1), "
    f"i -> concat_ws(' ', slice(wlist, i * {_Q210_W} + 1, {_Q210_W}))) "
    "ELSE CAST(array() AS array<string>) END"
)


@register(
    "q210_repeated_passage_audit",
    _Q210_ORACLE,
    doc="Cross-document repeated-passage audit (RefinedWeb line-dedup "
        "shape with fixed 8-token chunks as the passage unit): chunk "
        "each doc non-overlapping, md5 the chunks, a chunk is SHARED "
        "when ≥2 distinct docs carry it; per-source report of docs "
        "touched and shared-chunk share in integer bps.  ONE explicit "
        "h-exchange serves the distinct and the shared-count window "
        "(subset clustering — the r10 rework; the old groupBy+join "
        "form re-ran the chunk chain twice); it carries 32-char "
        "hashes only — never passage text — so the shuffle stays "
        "body-free at corpus scale.",
    tags=("llm", "dedup", "governance"),
)
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # ONE explicit h-exchange for the whole hash path: hash-partitioning
    # on h alone satisfies the ClusteredDistribution of the (doc, src,
    # h) distinct (subset clustering) AND the shared-count window, so
    # neither plans its own shuffle — and the window computes the flag
    # in place, with no aggregate+join-back diamond (the old form
    # re-executed the chunk+md5 chain for each consumer and paid two
    # extra h-exchanges).  Rows within one h are distinct doc_ids
    # (doc_id → source is functional), so count(*) over the h
    # partition equals the oracle's COUNT(DISTINCT doc_id).
    from pyspark.sql import Window

    cd = (
        d.select("doc_id", "source", word_list())
        .select("doc_id", "source",
                F.explode(F.expr(_Q210_CHUNKS_SQL)).alias("chunk"))
        .select("doc_id", "source", F.md5("chunk").alias("h"))
        .repartition("h")
        .distinct()
    )
    fl = cd.select(
        "doc_id", "source",
        (F.count("*").over(Window.partitionBy("h")) >= 2)
        .cast("int").alias("f"),
    )
    rep = fl.groupBy("source").agg(
        F.count("*").alias("chunk_rows"),
        F.sum("f").alias("shared_chunk_rows"),
        F.countDistinct(
            F.when(F.col("f") == 1, F.col("doc_id"))).alias("docs_flagged"),
    )
    ds = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        ds.join(rep, "source", "left")
        .select(
            "source", "n_docs",
            F.coalesce("docs_flagged", F.lit(0)).alias("docs_flagged"),
            F.coalesce("chunk_rows", F.lit(0)).alias("chunk_rows"),
            F.coalesce(
                "shared_chunk_rows", F.lit(0)).alias("shared_chunk_rows"),
            F.when(F.coalesce("chunk_rows", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.floor(
                F.col("shared_chunk_rows") * 10000.0 / F.col("chunk_rows")))
            .cast("bigint").alias("shared_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q211
_Q211_SEEDS = 8
_Q211_TAU_BPS = 3500  # same τ = 0.35 operating point as q93's float path
_T2 = _Q211_TAU_BPS * _Q211_TAU_BPS
_G = math.gcd(_T2, 10 ** 8)
_LHS = (10 ** 8) // _G  # multiplies dot²   (400 for τ = 0.35)
_RHS = _T2 // _G        # multiplies na·nb  (49  for τ = 0.35)

_Q211_QV = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT))"
_Q211_DOT = "CAST(list_sum(list_transform(list_zip({a}, {b}), t -> t[1] * t[2])) AS BIGINT)"

_Q211_ORACLE = (
    f"WITH v AS (SELECT vec_id, {_Q211_QV} AS qv FROM embeddings), "
    f"s AS (SELECT vec_id AS sid, qv AS sv FROM v ORDER BY vec_id LIMIT {_Q211_SEEDS}), "
    "d AS (SELECT v.vec_id, s.sid, "
    + _Q211_DOT.format(a="v.qv", b="s.sv") + " AS dot FROM v CROSS JOIN s), "
    "cell AS (SELECT vec_id, sid AS cell FROM ("
    "SELECT vec_id, sid, ROW_NUMBER() OVER (PARTITION BY vec_id "
    "ORDER BY dot DESC, sid) AS rk FROM d) WHERE rk = 1), "
    "vc AS (SELECT v.vec_id, c.cell, v.qv, "
    "CAST(list_sum(list_transform(v.qv, x -> x * x)) AS BIGINT) AS nrm "
    "FROM v JOIN cell c USING (vec_id)), "
    "p0 AS (SELECT a.cell, a.vec_id AS a, b.vec_id AS b, "
    + _Q211_DOT.format(a="a.qv", b="b.qv") + " AS dot, "
    "a.nrm * b.nrm AS nn FROM vc a JOIN vc b "
    "ON a.cell = b.cell AND a.vec_id < b.vec_id), "
    f"p AS (SELECT cell, a, b FROM p0 WHERE dot > 0 "
    f"AND dot * dot * {_LHS} >= {_RHS} * nn), "
    "rep AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_pairs, "
    "CAST(COUNT(DISTINCT b) AS BIGINT) AS n_dropped FROM p GROUP BY cell), "
    "cnt AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs "
    "FROM vc GROUP BY cell) "
    "SELECT cnt.cell, cnt.n_vecs, COALESCE(rep.n_pairs, 0) AS n_pairs, "
    "COALESCE(rep.n_dropped, 0) AS n_dropped "
    "FROM cnt LEFT JOIN rep USING (cell) ORDER BY cell"
)


@register(
    "q211_semantic_dedup_cells",
    _Q211_ORACLE,
    doc="SemDeDup (Abbas et al. 2023) over the embeddings table: "
        "integer-quantized cell assignment (argmax dot against the 8 "
        "lowest-id seed vectors — operators/similarity.semantic_cells, "
        "one Arrow int64 matmul per batch) and within-cell near-dup "
        "pairs under the exact integer cosine test cos_q ≥ 0.35 "
        "(semantic_neardup_pairs).  Per-cell report: vectors, flagged "
        "pairs, and vectors a keep-lowest-id policy would drop.  "
        "Σ|cell|² work instead of n² — the paper's scale contract.",
    tags=("llm", "similarity", "dedup"),
)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings"))
    seeds = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.select("vec_id", "embedding")
        .orderBy("vec_id").limit(_Q211_SEEDS).collect()
    ]  # metadata-sized, like the IVF centroids
    assigned = similarity.semantic_cells(e, seeds)
    # one-pass per-cell report: the multi-branch count/pairs/join form
    # re-executed the Arrow assignment subtree once per branch
    return (
        similarity.semantic_dedup_report(assigned, tau_bps=_Q211_TAU_BPS)
        .orderBy("cell")
    )


# ---------------------------------------------------------------- Q212
_Q212_MATCHES = " + ".join(
    f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
    for j in range(dedup.K)
)

_Q212_ORACLE = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b "
    "FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv "
    "AND x.doc_id < y.doc_id), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id), "
    "inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM cand c "
    "JOIN shingles wa ON wa.doc_id = c.a "
    "JOIN shingles wb ON wb.doc_id = c.b AND wb.w = wa.w GROUP BY c.a, c.b), "
    f"m AS (SELECT c.a, c.b, {_Q212_MATCHES} AS matches "
    "FROM cand c JOIN sigs sa ON sa.doc_id = c.a "
    "JOIN sigs sb ON sb.doc_id = c.b), "
    "j AS (SELECT m.matches, "
    f"CAST(FLOOR(m.matches * 10000.0 / {dedup.K}) AS BIGINT) AS est_bps, "
    "CAST(FLOOR(COALESCE(i.i, 0) * 10000.0 / "
    "(sa.sz + sb.sz - COALESCE(i.i, 0))) AS BIGINT) AS jac_bps "
    "FROM m LEFT JOIN inter i ON i.a = m.a AND i.b = m.b "
    "JOIN sizes sa ON sa.doc_id = m.a JOIN sizes sb ON sb.doc_id = m.b) "
    "SELECT CAST(matches AS INT) AS matches, est_bps, "
    "CAST(COUNT(*) AS BIGINT) AS n_pairs, "
    "CAST(SUM(jac_bps) AS BIGINT) AS sum_jac_bps, "
    "CAST(MAX(ABS(est_bps - jac_bps)) AS BIGINT) AS max_abs_err_bps "
    "FROM j GROUP BY matches, est_bps ORDER BY matches"
)


@register(
    "q212_minhash_calibration",
    _Q212_ORACLE,
    doc="MinHash sketch calibration audit on the q72 candidate set: "
        "per signature-match count (0..6 of the shared single-digest "
        "slices — operators/dedup.minhash_signatures), the estimated "
        "Jaccard matches/k vs the exact shingle-set Jaccard "
        "(row-local array_intersect), as integer bps with the worst "
        "absolute error per bucket.  Cost ∝ candidates — the sketch "
        "audits itself without touching non-candidate pairs; this is "
        "the evidence for a (k, bands) operating point before a "
        "100 TB dedup run.",
    tags=("llm", "dedup", "minhash", "governance"),
)
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_gateway_spark.operators.cache import tracked_persist

    d = load_table(spark, sf_dir, "documents")
    # sigs feeds FOUR consumers (both band self-join branches, sa, sb)
    # and arrs two (aa, ab): column pruning specializes each subtree
    # copy, so unpersisted they each re-ran the shingle→minhash
    # pipeline (the q100/q214 diamond lesson).  Both are |docs|-sized
    # (k ints / shingle-digest arrays), never corpus-sized.
    sigs = tracked_persist(dedup.minhash_signatures(dedup.doc_shingles(d)))
    cand = dedup.band_pairs(dedup.lsh_bands(sigs))
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(dedup.K)])
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(dedup.K)])
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(dedup.K)
    )
    arrs = tracked_persist(dedup.doc_shingle_arrays(d))
    aa = arrs.select(F.col("doc_id").alias("a"), F.col("sharr").alias("sa"))
    ab = arrs.select(F.col("doc_id").alias("b"), F.col("sharr").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    u = (F.size("sa") + F.size("sb")).cast("bigint") - i
    j = (
        cand.join(sa, "a").join(sb, "b")
        .select("a", "b", matches.alias("matches"))
        .join(aa, "a").join(ab, "b")
        .select(
            "matches",
            F.floor(F.col("matches") * 10000.0 / dedup.K)
            .cast("bigint").alias("est_bps"),
            F.floor(i * 10000.0 / u).cast("bigint").alias("jac_bps"),
        )
    )
    return (
        j.groupBy(F.col("matches").cast("int").alias("matches"), "est_bps")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("jac_bps").alias("sum_jac_bps"),
            F.max(F.abs(F.col("est_bps") - F.col("jac_bps")))
            .alias("max_abs_err_bps"),
        )
        .orderBy("matches")
    )


# ---------------------------------------------------------------- Q213
_Q213_ORACLE = (
    f"WITH {DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
    f"{DDB_CAND_CHAIN}, "
    "ver AS (SELECT t.a, t.b FROM inter t "
    "JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
    "WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5), "
    "lab AS (SELECT LEAST(da.source, db.source) AS source_lo, "
    "GREATEST(da.source, db.source) AS source_hi "
    "FROM ver JOIN documents da ON da.doc_id = ver.a "
    "JOIN documents db ON db.doc_id = ver.b) "
    "SELECT source_lo, source_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs "
    "FROM lab GROUP BY source_lo, source_hi ORDER BY source_lo, source_hi"
)


@register(
    "q213_neardup_provenance_matrix",
    _Q213_ORACLE,
    doc="Near-duplicate provenance matrix: the verified near-dup pairs "
        "(q72 LSH candidates → exact Jaccard ≥ 0.5, the q74 contract) "
        "joined back to each member's source, reported as an unordered "
        "source-pair overlap matrix (LEAST/GREATEST canonicalization). "
        "Dimension-sized output over candidate-sized shuffles — the "
        "report that tells a curation run WHICH crawls/feeds duplicate "
        "each other before it weights or drops them.",
    tags=("llm", "dedup", "governance"),
)
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ver = dedup.near_dup_pairs(d)
    src = d.select("doc_id", "source")
    lab = (
        ver.join(src.select(F.col("doc_id").alias("a"),
                            F.col("source").alias("src_a")), "a")
        .join(src.select(F.col("doc_id").alias("b"),
                         F.col("source").alias("src_b")), "b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
    )
    return (
        lab.groupBy("source_lo", "source_hi")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


# ---------------------------------------------------------------- Q234
# Prediction: SimHash multiprobe pairs (Hamming <= 1, q114's operator);
# truth: MinHash-LSH candidates verified at exact Jaccard >= 0.5 (q74).
def _q234_oracle() -> str:
    truth = (
        f"{DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
        f"{DDB_CAND_CHAIN}, "
        "truth AS (SELECT t.a, t.b FROM inter t "
        "JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
        "WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5)"
    )
    pred = (
        f"{DDB_SIMHASH_SIGS}, "
        f"probes AS (SELECT doc_id, UNNEST(list_append({DDB_SIMHASH_FLIPS}, "
        "sh)) AS p FROM sh), "
        "pred AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b "
        "FROM probes x JOIN sh y ON x.p = y.sh AND x.doc_id < y.doc_id)"
    )
    return (
        f"WITH {truth}, {pred}, "
        "m AS (SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth, "
        "CAST((SELECT COUNT(*) FROM pred) AS BIGINT) AS n_pred, "
        "CAST((SELECT COUNT(*) FROM truth t JOIN pred p "
        "ON p.a = t.a AND p.b = t.b) AS BIGINT) AS tp) "
        "SELECT n_truth, n_pred, tp, "
        "FLOOR((CAST(tp AS DOUBLE) / n_pred)*1e6 + 0.5)/1e6 AS precision_, "
        "FLOOR((CAST(tp AS DOUBLE) / n_truth)*1e6 + 0.5)/1e6 AS recall_ "
        "FROM m"
    )


@register(
    "q234_sketch_agreement_audit",
    _q234_oracle(),
    doc="Sketch cross-validation: SimHash multiprobe pairs (Hamming "
        "<= 1, the q114 operator) scored as a PREDICTOR of the "
        "MinHash-verified truth set (LSH candidates at exact Jaccard "
        ">= 0.5, the q74 chain) - pairwise precision/recall.  This is "
        "the measurement that picks WHICH sketch gates a 100 TB dedup "
        "run: both pair sets are graph-sized (band-join / probe-join "
        "outputs, never corpus^2), the intersection is one join on "
        "(a, b), and the verdict is a 1-row aggregate.  Counts are "
        "exact integers; precision/recall are single exact-int "
        "divisions, bit-identical cross-engine.",
    tags=("dedup", "llm", "audit"),
)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    truth = dedup.near_dup_pairs(d).select("a", "b")
    pred = dedup.simhash_multiprobe_pairs(d).select("a", "b")
    # ONE full-outer join + ONE aggregate computes all three counts —
    # the three-aggregate form (n_truth, n_pred, tp as separate
    # branches) re-executed the whole minhash-verify chain twice and
    # the simhash chain twice (11.3 s → 3.4 s at sf0.1)
    j = (
        truth.withColumn("t", F.lit(1))
        .join(pred.withColumn("p", F.lit(1)), ["a", "b"], "full_outer")
    )
    from tidb_gateway_spark.functions import stable_round

    counts = j.agg(
        F.sum("t").cast("bigint").alias("n_truth"),
        F.sum("p").cast("bigint").alias("n_pred"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("tp"),
    )
    return counts.select(
        "n_truth", "n_pred", "tp",
        stable_round(
            F.col("tp").cast("double") / F.col("n_pred"), 6)
        .alias("precision_"),
        stable_round(
            F.col("tp").cast("double") / F.col("n_truth"), 6)
        .alias("recall_"),
    )


# ---------------------------------------------------------------- Q235
def _q235_oracle() -> str:
    near = (
        f"{DDB_SHINGLES}, {DDB_SIGS}, {DDB_BANDS}, "
        f"{DDB_CAND_CHAIN}, "
        "ver AS (SELECT t.a, t.b FROM inter t "
        "JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
        "WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5), "
        "edges AS (SELECT a AS u, b AS v FROM ver UNION SELECT b, a FROM ver), "
        "walk(n, m) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
        "UNION SELECT e.u, w.m FROM edges e JOIN walk w ON w.n = e.v), "
        "cl AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM walk GROUP BY n)"
    )
    return (
        f"WITH RECURSIVE {near}, "
        "ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) "
        "SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_raw, "
        "CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_exact, "
        "CAST(SUM(CASE WHEN e.doc_id IS NOT NULL AND "
        "(cl.doc_id IS NULL OR cl.cluster_id = d.doc_id) THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_final "
        "FROM documents d LEFT JOIN ex e ON e.doc_id = d.doc_id "
        "LEFT JOIN cl ON cl.doc_id = d.doc_id "
        "GROUP BY d.source ORDER BY d.source"
    )


@register(
    "q235_dedup_waterfall",
    _q235_oracle(),
    doc="Per-source dedup waterfall: raw doc count -> exact-dedup "
        "survivors (min doc_id per md5(text)) -> near-dup canonical "
        "survivors (docs that are their connected-component canonical "
        "or unclustered, intersected with the exact stage) - the "
        "marginal-removal report every curation run publishes per "
        "crawl/feed.  The exact stage shuffles only (md5, doc_id); "
        "the near stage reuses the q72/q74/q101 candidate-verify-CC "
        "machinery (graph-sized); survivor flags come back as two "
        "doc_id equi-joins and ONE per-source aggregate.  Cluster "
        "canonicals always survive the exact stage (the cluster min "
        "is its own text-hash group's min), so the stage order is "
        "well-defined.",
    tags=("dedup", "llm", "audit"),
)
def q235(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ex = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("ex_keep"))
    )
    ver = dedup.near_dup_pairs(d).select("a", "b")
    cl = dedup.connected_components(ver)
    flags = (
        d.select("doc_id", "source")
        .join(ex, "doc_id", "left")
        .join(cl, "doc_id", "left")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            F.sum(F.when(F.col("ex_keep").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_exact"),
            F.sum(F.when(
                F.col("ex_keep").isNotNull()
                & (F.col("cluster_id").isNull()
                   | (F.col("cluster_id") == F.col("doc_id"))), 1)
                .otherwise(0))
            .cast("bigint").alias("n_final"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q261
_Q261_K = 8  # minimum duplicated-substring length, in tokens

# DuckDB twin: recompute the whole chain from raw text — stride-1
# K-token gram digests, global duplicate detection, per-doc maximal
# interval merge (gaps-and-islands), per-source report.  Both engines
# key duplicate detection on substr(md5(gram), 1, 16) — the IDENTICAL
# function, so even a digest collision (2^-64-class) reproduces
# identically cross-engine (the q210 convention).
_Q261_ORACLE = (
    "WITH wl AS (SELECT doc_id, source, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS wl "
    "FROM documents), "
    "g AS (SELECT doc_id, CAST(u.i AS INT) AS pos, "
    "substr(md5(array_to_string("
    f"wl[CAST(u.i + 1 AS INT):CAST(u.i + {_Q261_K} AS INT)], ' ')), "
    "1, 16) AS gh "
    f"FROM wl, UNNEST(range(0, len(wl) - {_Q261_K - 1})) AS u(i) "
    f"WHERE len(wl) >= {_Q261_K}), "
    "dup AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, "
    "COUNT(*) OVER (PARTITION BY gh) AS c FROM g) WHERE c >= 2), "
    "brk AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER "
    f"(PARTITION BY doc_id ORDER BY pos) > {_Q261_K} THEN 1 ELSE 0 END "
    "AS b FROM dup), "
    "isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id "
    "ORDER BY pos) AS island FROM brk), "
    "sp AS (SELECT doc_id, island, MIN(pos) AS st, "
    f"MAX(pos) + {_Q261_K} - 1 AS en FROM isl GROUP BY 1, 2), "
    "per AS (SELECT doc_id, COUNT(*) AS n_spans, "
    "SUM(en - st + 1) AS dup_tokens FROM sp GROUP BY 1), "
    "pj AS (SELECT d.source, p.n_spans, p.dup_tokens "
    "FROM per p JOIN documents d USING (doc_id)), "
    "fs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_flagged, "
    "CAST(SUM(n_spans) AS BIGINT) AS n_spans, "
    "CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens FROM pj GROUP BY 1), "
    "tot AS (SELECT source, CAST(SUM(len(wl)) AS BIGINT) AS tok_total "
    "FROM wl GROUP BY 1) "
    "SELECT tot.source, COALESCE(fs.docs_flagged, 0) AS docs_flagged, "
    "COALESCE(fs.n_spans, 0) AS n_spans, "
    "COALESCE(fs.dup_tokens, 0) AS dup_tokens, tot.tok_total, "
    "CAST((COALESCE(fs.dup_tokens, 0) * 10000) // tot.tok_total "
    "AS BIGINT) AS dup_bps "
    "FROM tot LEFT JOIN fs USING (source) ORDER BY tot.source"
)


def _q261_wl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, wlist) token-array frame shared by the
    substring-dedup family (q261 audit, q264 apply)."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", "source", word_list())


# Hot-gram skew guard (VERDICT r11 directive 6): a pathologically
# repeated K-gram concentrates one window partition of the gh-exchange.
# The guard is a cheap deterministic doc-sample diagnostic; past the
# threshold the detection switches to run-compressed (gh, doc, pos-run)
# rows whose volume is bounded by the number of DISTINCT-gram runs,
# not occurrences.  ~5e7 occurrences of one gram is where a single
# sorted window partition stops being acceptable on one executor.
_Q261_HOT_THRESHOLD = 50_000_000
_Q261_HOT_SAMPLE_MOD = 64  # diagnose on a deterministic 1/64 doc sample

# stride-1 K-gram digests with 0-based token offset; the transform
# index / posexplode index IS the gram's start offset (matches the
# oracle's u.i)
_Q261_GRAMS_SQL = (
    f"CASE WHEN size(wlist) >= {_Q261_K} THEN "
    f"transform(sequence(1, size(wlist) - {_Q261_K - 1}), i -> "
    f"substring(md5(concat_ws(' ', slice(wlist, i, {_Q261_K}))), "
    "1, 16)) ELSE CAST(array() AS array<string>) END"
)


def _q261_hot_gram_detected(
    wl: DataFrame,
    threshold: int = _Q261_HOT_THRESHOLD,
    sample_mod: int = _Q261_HOT_SAMPLE_MOD,
) -> bool:
    """q138-shape skew diagnostic on the gram key, over a deterministic
    1/sample_mod doc sample (hash-selected — reproducible across runs
    and engines, never time- or RNG-seeded): True when any single gram
    digest's sampled occurrence count implies ~threshold global
    occurrences.  Cost: one partial-aggregated pass over the sample's
    grams, collecting a single row."""
    from tidb_gateway_spark.operators.sampling import hash_bps

    sample = wl.filter(hash_bps(F.col("doc_id"), "q261hot")
                       % sample_mod == 0)
    top = (
        sample.select(F.explode(F.expr(_Q261_GRAMS_SQL)).alias("gh"))
        .groupBy("gh").count()
        .agg(F.max("count").alias("mx"))
        .collect()
    )
    mx = top[0]["mx"] or 0
    return mx >= max(threshold // sample_mod, 2)


def _q261_dup_positions(
    wl: DataFrame, hot_guard: bool | None = None
) -> DataFrame:
    """(doc_id, pos) of every stride-1 K-gram that repeats ANYWHERE in
    the corpus — the shared detection chain of q261/q264.  One gram
    posexplode, ONE explicit gh-exchange whose count window flags
    duplicates in place (q210 shape — the gram stream is computed once
    and never re-shuffled).

    ``hot_guard``: None = auto (run the sampled skew diagnostic and
    switch when it trips); True/False force the path.  The guarded
    path compresses each doc's consecutive equal-gram stretches into
    (gh, pos-run) rows SCAN-SIDE before the exchange, so a gram
    repeated R times consecutively in one doc ships as ONE row of
    run-length R instead of R rows; the global count becomes
    sum(run_len) over gh and flagged runs re-expand to positions via
    sequence().  Output is identical by construction — only the
    exchange's row distribution changes."""
    from pyspark.sql import Window

    if hot_guard is None:
        hot_guard = _q261_hot_gram_detected(wl)
    if not hot_guard:
        g = (
            wl.select("doc_id", F.posexplode(F.expr(_Q261_GRAMS_SQL))
                      .alias("pos", "gh"))
            .repartition("gh")
        )
        return (
            g.select(
                "doc_id", "pos",
                F.count("*").over(Window.partitionBy("gh")).alias("c"),
            )
            .filter(F.col("c") >= 2)
            .select("doc_id", "pos")
        )
    # guarded: run-compress per doc scan-side.  starts = indices where
    # the gram differs from its predecessor; run j spans
    # [starts[j], nextstart[j]) — zip starts with its shift-by-one
    # (tail + total length) to get lengths without a second pass.
    gs = F.expr(_Q261_GRAMS_SQL)
    starts_sql = (
        "filter(sequence(0, size(gs) - 1), "
        "i -> i = 0 OR element_at(gs, i + 1) != element_at(gs, i))"
    )
    runs_sql = (
        "zip_with(starts, "
        "concat(slice(starts, 2, size(starts) - 1), "
        "array(size(gs))), "
        "(s, nxt) -> struct(element_at(gs, s + 1) AS gh, "
        "s AS st, nxt - s AS len))"
    )
    r = (
        wl.select("doc_id", gs.alias("gs"))
        .filter(F.size("gs") > 0)
        .select("doc_id", "gs", F.expr(starts_sql).alias("starts"))
        .select("doc_id", F.explode(F.expr(runs_sql)).alias("run"))
        .select("doc_id", "run.gh", "run.st", "run.len")
        .repartition("gh")
    )
    flagged_runs = (
        r.select(
            "doc_id", "st", "len",
            F.sum("len").over(Window.partitionBy("gh")).alias("c"),
        )
        .filter(F.col("c") >= 2)
    )
    return flagged_runs.select(
        "doc_id",
        F.explode(F.expr("sequence(st, st + len - 1)")).alias("pos"),
    )


def _q261_spans(dup: DataFrame) -> DataFrame:
    """(doc_id, st, en) maximal merged duplicate intervals from the
    flagged gram starts — gaps-and-islands over (doc_id, pos):
    intervals [pos, pos+K-1] merge when overlapping OR adjacent
    (gap <= K).  Shared by q261 (audit) and q264 (apply) so their
    span sets are identical by construction."""
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.select(
        "doc_id", "pos",
        F.sum(
            F.when(F.col("pos") - F.lag("pos").over(wd) > _Q261_K, 1)
            .otherwise(0)
        ).over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("st"),
        (F.max("pos") + _Q261_K - 1).alias("en"),
    )


@register(
    "q261_exact_substring_dedup",
    _Q261_ORACLE,
    doc="Exact substring-level duplication audit — the published "
        "training-data dedup standard (Lee et al. 2022, 'Deduplicating "
        "Training Data Makes Language Models Better': exact duplicated "
        "substrings of >= k tokens at ARBITRARY offsets), which q210's "
        "fixed non-overlapping chunks only approximate.  The suffix-"
        "array construction becomes three DataFrame stages: (1) "
        "stride-1 K-token gram digests with their token offset "
        "(substr(md5, 1, 16) — the same function both engines compute, "
        "so duplicate detection is bit-identical cross-engine); (2) "
        "global duplicate grams via ONE explicit gh-exchange whose "
        "count window flags repeats in place (the q210 shape — no "
        "aggregate+join-back diamond, and a duplicated substring of "
        "length L >= K marks all L-K+1 overlapping grams, giving "
        "contiguous flagged offsets); (3) per-doc maximal-interval "
        "merge (gaps-and-islands: break when the offset gap exceeds K, "
        "running-sum island ids, min/max per island) over the FLAGGED "
        "rows only — the second exchange carries (doc_id, pos) ints "
        "for duplicated positions, a small fraction of the corpus.  "
        "Per-source report: flagged docs, merged spans, duplicated "
        "tokens, and dup_bps by exact integer division.  100 TB: both "
        "corpus-scale exchanges carry digests/ints (never text); the "
        "gram stream is evaluated ONCE (the window form was chosen "
        "over groupBy+join-back precisely to avoid re-shingling); a "
        "pathologically hot gram key would concentrate one window "
        "partition, so the chain is GUARDED (r12): a deterministic "
        "sampled (gh, count) diagnostic runs first, and past "
        "~5e7 occurrences of one gram the detection switches to "
        "scan-side run-compressed (gh, doc, pos-run) rows — identical "
        "output, exchange volume bounded by runs not occurrences "
        "(_q261_dup_positions; equivalence pinned on a synthetic "
        "hot-gram fixture).",
    tags=("llm", "dedup", "governance", "text"),
)
def q261(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    wl = _q261_wl(spark, sf_dir)
    dup = _q261_dup_positions(wl)
    spans = _q261_spans(dup)
    per = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("en") - F.col("st") + 1).alias("dup_tokens"),
    )
    fs = (
        per.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs_flagged"),
            F.sum("n_spans").cast("bigint").alias("n_spans"),
            F.sum("dup_tokens").cast("bigint").alias("dup_tokens"),
        )
    )
    tot = wl.groupBy("source").agg(
        F.sum(F.size("wlist")).cast("bigint").alias("tok_total"))
    return (
        tot.join(fs, "source", "left")
        .select(
            "source",
            F.coalesce("docs_flagged", F.lit(0)).alias("docs_flagged"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            "tok_total",
            (F.coalesce("dup_tokens", F.lit(0)) * 10000)
            .cast("bigint").alias("numer"),
        )
        .select(
            "source", "docs_flagged", "n_spans", "dup_tokens",
            "tok_total",
            F.expr("CAST(numer DIV tok_total AS BIGINT)")
            .alias("dup_bps"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q264
# DuckDB twin: recompute detection (q261's chain) + the interval-cover
# sweep from raw text.  Coverage is computed by the same +1/-1 event
# running sum both engines use, so the kept-token set is identical by
# construction.
_Q264_ORACLE = (
    "WITH wl AS (SELECT doc_id, source, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS wl "
    "FROM documents), "
    "g AS (SELECT doc_id, CAST(u.i AS INT) AS pos, "
    "substr(md5(array_to_string("
    f"wl[CAST(u.i + 1 AS INT):CAST(u.i + {_Q261_K} AS INT)], ' ')), "
    "1, 16) AS gh "
    f"FROM wl, UNNEST(range(0, len(wl) - {_Q261_K - 1})) AS u(i) "
    f"WHERE len(wl) >= {_Q261_K}), "
    "dup AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, "
    "COUNT(*) OVER (PARTITION BY gh) AS c FROM g) WHERE c >= 2), "
    "ev AS (SELECT doc_id, pos AS at, 0 AS kind, 1 AS delta, "
    "CAST(0 AS BIGINT) AS L FROM dup "
    f"UNION ALL SELECT doc_id, pos + {_Q261_K} AS at, 0 AS kind, "
    "-1 AS delta, CAST(0 AS BIGINT) AS L FROM dup "
    "UNION ALL SELECT doc_id, CAST(u.i AS INT) AS at, 1 AS kind, "
    "0 AS delta, CAST(len(wl[CAST(u.i + 1 AS INT)]) AS BIGINT) AS L "
    "FROM wl, UNNEST(range(0, len(wl))) AS u(i)), "
    "cov AS (SELECT doc_id, kind, L, SUM(delta) OVER "
    "(PARTITION BY doc_id ORDER BY at, kind) AS c FROM ev), "
    "tk AS (SELECT doc_id, L, (c > 0) AS covered FROM cov "
    "WHERE kind = 1), "
    "per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tok_b, "
    "CAST(SUM(CASE WHEN covered THEN 0 ELSE 1 END) AS BIGINT) AS tok_a, "
    "CAST(SUM(CASE WHEN covered THEN 0 ELSE L END) AS BIGINT) "
    "AS chars_a FROM tk GROUP BY 1), "
    "pj AS (SELECT d.source, p.* FROM per p "
    "JOIN documents d USING (doc_id)) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(tok_b) AS BIGINT) AS tok_before, "
    "CAST(SUM(tok_a) AS BIGINT) AS tok_after, "
    "CAST(SUM(chars_a) AS BIGINT) AS chars_after, "
    "CAST((SUM(tok_b - tok_a) * 10000) // SUM(tok_b) AS BIGINT) "
    "AS removed_bps "
    "FROM pj GROUP BY 1 ORDER BY source"
)


@register(
    "q264_exact_substring_dedup_apply",
    _Q264_ORACLE,
    doc="Exact substring-level dedup APPLY — the transformation q261's "
        "audit gates: remove every token covered by a duplicated "
        "substring of >= K tokens (the RefinedWeb/Lee-et-al. apply "
        "step) and certify the cleaned corpus by per-source token and "
        "character totals.  Detection reuses q261's chain "
        "(_q261_dup_positions — one gh-exchange, digests only) and "
        "its merged maximal spans (_q261_spans); the r11 form then "
        "paid a SECOND full token pass (posexplode of every doc's "
        "wlist into +1/-1 sweep events plus a corpus-sized doc-keyed "
        "window sort — 1.87x DuckDB at sf10).  r12 fuses it: covered "
        "TOKEN counts come straight from the spans (sum(en-st+1), "
        "pure ints), and covered CHAR sums come from broadcasting the "
        "per-doc span lists (flagged docs only — ints) back into the "
        "ONE stats scan, where a slice-aggregate higher-order "
        "function sums token lengths inside each span map-side.  No "
        "token ever explodes outside the gram chain, no doc-keyed "
        "corpus window exists, and token TEXT never shuffles (the "
        "span join is a broadcast; the only hash exchanges carry gh "
        "digests, span ints, and the per-source partials).  Certified "
        "invariant: removed_bps here == q261's dup_bps per source "
        "(union of [p, p+K-1] == the merged maximal intervals), "
        "pinned by test.  100 TB: the broadcast carries one "
        "(st, en) list per FLAGGED doc — metadata-scale next to the "
        "corpus; past broadcast capacity the same plan degrades "
        "gracefully to a bloom-filtered semi-join feeding a "
        "flagged-docs-only sweep (false positives are benign — an "
        "unflagged doc has no spans and contributes zero cover).",
    tags=("llm", "dedup", "governance", "text"),
)
def q264(spark: SparkSession, sf_dir: str) -> DataFrame:
    wl = _q261_wl(spark, sf_dir)
    dup = _q261_dup_positions(wl)
    spans_pd = (
        _q261_spans(dup)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("st", "en")).alias("spans"),
            F.sum(F.col("en") - F.col("st") + 1).alias("cov_tok"),
        )
    )
    # one stats scan: per-doc totals are scan-side HOF aggregates; the
    # covered-char sum evaluates each broadcast span against the doc's
    # own wlist (slice + length fold) before anything shuffles
    cov_chars = F.when(
        F.col("spans").isNotNull(),
        F.expr(
            "aggregate(spans, CAST(0 AS BIGINT), (acc, s) -> acc + "
            "aggregate(slice(wlist, s.st + 1, s.en - s.st + 1), "
            "CAST(0 AS BIGINT), (a, x) -> a + length(x)))"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    j = wl.join(F.broadcast(spans_pd), "doc_id", "left").select(
        "source",
        F.size("wlist").cast("bigint").alias("tok_b"),
        F.expr(
            "aggregate(wlist, CAST(0 AS BIGINT), "
            "(a, x) -> a + length(x))"
        ).alias("chars_tot"),
        F.coalesce("cov_tok", F.lit(0)).cast("bigint").alias("cov_tok"),
        cov_chars.alias("cov_chars"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tok_b").cast("bigint").alias("tok_before"),
            (F.sum("tok_b") - F.sum("cov_tok")).cast("bigint")
            .alias("tok_after"),
            (F.sum("chars_tot") - F.sum("cov_chars")).cast("bigint")
            .alias("chars_after"),
            F.expr(
                "CAST((SUM(cov_tok) * 10000) DIV SUM(tok_b) "
                "AS BIGINT)"
            ).alias("removed_bps"),
        )
        .orderBy("source")
    )
